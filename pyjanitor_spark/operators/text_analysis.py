"""Text analysis for large-scale training-data pipelines: tokenization,
token counting, quality scoring, language ID, document fingerprinting.

No reference analog (pyjanitor has none) — these are the pipeline
operators a 100 TB corpus needs.  Everything is built from JVM-side
Column expressions (split / regexp / aggregate / transform) — zero
Python UDFs, so the hot path stays in whole-stage codegen and scales
linearly with executors.  Hash primitives use ``md5`` so results are
reproducible across engines (the DuckDB oracle computes the identical
value).
"""

from __future__ import annotations

from functools import reduce as functools_reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyjanitor_spark.utils.expr import exact_key, let
from pyjanitor_spark.utils.pin import pin, share

__all__ = [
    "tokens",
    "assign_packs",
    "word_shingles",
    "token_count",
    "quality_score",
    "language_id",
    "fingerprint",
    "repetition_score",
    "gopher_repetition",
    "pii_redact",
    "top_collocations",
    "top_ngrams",
    "ngram_lm_score",
    "chunk_text",
    "extract_urls",
    "top_domains",
    "url_normalize",
    "domain_of",
    "normalize_text",
]

# 1:1 foldings for the common unicode punctuation variants (curly
# quotes, dashes, ellipsis, NBSP) — translate is a single JVM pass
_PUNCT_SRC = "\u2018\u2019\u201a\u201b\u201c\u201d\u201e\u2013\u2014\u2212\u00a0\u2026"
_PUNCT_DST = "''''\"\"\"--- ."
# Latin-1/Latin-Ext accent foldings (same table clean_names uses)
_ACCENT_SRC = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ"
_ACCENT_DST = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY"

# BPE-ish pre-tokenizer: words, numbers, or single punctuation — the
# usual "GPT-2 style" coarse split without the byte-level merge table.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def normalize_text(
    df: DataFrame,
    column_name: str,
    dest: str | None = None,
    lowercase: bool = True,
    strip_accents: bool = True,
    fold_punctuation: bool = True,
    strip_control: bool = True,
    collapse_whitespace: bool = True,
) -> DataFrame:
    """Canonicalize a text column for downstream dedup/fingerprinting —
    the standard corpus-prep first pass: drop control characters, fold
    curly quotes / long dashes / NBSP / ellipsis to ASCII, lowercase,
    fold Latin accents (the same table ``clean_names`` uses), collapse
    all whitespace runs to single spaces and trim.  In-place when
    ``dest`` is None.  One chain of ``translate``/``regexp_replace``
    expressions — single codegen pass, no UDF; NULL passes through.

    ``dedupe_exact(normalize=True)`` applies a subset of this
    internally; use this verb when the normalized text itself should be
    kept (e.g. before ``minhash_lsh_pairs`` or ``fingerprint`` so near-
    dup candidates aren't split by quote style or accent variants).
    """
    c = F.col(column_name).cast("string")
    if strip_control:
        c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    if fold_punctuation:
        c = F.translate(c, _PUNCT_SRC, _PUNCT_DST)
    if lowercase:
        c = F.lower(c)
    if strip_accents:
        # the table carries both cases; after lower() the uppercase
        # entries simply never match
        c = F.translate(c, _ACCENT_SRC, _ACCENT_DST)
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.withColumn(dest or column_name, c)


def tokens(col: Column, mode: str = "whitespace") -> Column:
    """Token array: 'whitespace' split or 'bpe' regex pre-tokenization."""
    if mode == "whitespace":
        return F.split(F.trim(col), r"\s+")
    if mode == "bpe":
        return F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0)
    raise ValueError(f"bad mode {mode!r}")


def shingles_from_tokens(toks: Column, n: int = 3, sep: str = " ", distinct: bool = True) -> Column:
    """``word_shingles`` over an ALREADY-TOKENIZED array column — the
    shape to use when the token array is materialized once (e.g. a
    lazily checkpointed ``(id, tokens)`` table) and several shingle
    passes derive from it, so the regex split is not re-run per pass."""
    count = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(sep, *[F.element_at(toks, i + j) for j in range(n)]),
    )
    if distinct:
        grams = F.array_distinct(grams)
    # guard: sequence(1, 0) would DESCEND to [1, 0] and index toks[0]
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))


def word_shingles(col: Column, n: int = 3, sep: str = " ", distinct: bool = True) -> Column:
    """Word n-gram shingle array, the MinHash/Jaccard unit (``distinct``)
    or the frequency-count unit (``distinct=False``, every occurrence).

    Built with ``transform`` over token positions — one pass, JVM-side.
    The token array is ``let``-bound so the position lambda references an
    attribute, not the captured ``split`` subtree (which HOF-interpreted
    evaluation would otherwise re-split per produced gram — measured 15x
    on the explode stage)."""
    return let(tokens(col), lambda toks: shingles_from_tokens(toks, n, sep, distinct))


def token_count(df: DataFrame, column_name: str, dest: str = "n_tokens", mode: str = "whitespace") -> DataFrame:
    """Token count per row (whitespace or BPE-ish regex)."""
    return df.withColumn(dest, F.size(tokens(F.col(column_name), mode)))


# small practical stopword list (public, language-agnostic core English)
_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "at", "by", "this", "be", "are",
]


def quality_score(df: DataFrame, column_name: str, dest: str = "quality") -> DataFrame:
    """Heuristic document quality in [0,1]: length band, punctuation
    ratio, stopword hit rate, mean word length band.

    Emits component columns ``q_len``, ``q_punct``, ``q_stop``,
    ``q_wordlen`` plus the blended ``dest`` score — all plain
    expressions."""
    col = F.col(column_name)
    toks = tokens(col)
    n_tok = F.size(toks)
    n_chars = F.length(col)
    punct = F.length(F.regexp_replace(col, r"[^.,;:!?'\"()]", ""))
    stop_hits = F.size(F.array_intersect(F.transform(toks, F.lower), F.array(*[F.lit(s) for s in _STOPWORDS])))
    mean_wl = F.when(n_tok > 0, n_chars.cast("double") / n_tok).otherwise(F.lit(0.0))
    q_len = F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0))
    q_punct = F.when(n_chars > 0, 1.0 - F.least(punct.cast("double") * 10.0 / n_chars, F.lit(1.0))).otherwise(F.lit(0.0))
    q_stop = F.least(stop_hits.cast("double") / F.lit(5.0), F.lit(1.0))
    q_wordlen = F.when((mean_wl >= 3.0) & (mean_wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return (
        df.withColumn("q_len", q_len)
        .withColumn("q_punct", q_punct)
        .withColumn("q_stop", q_stop)
        .withColumn("q_wordlen", q_wordlen)
        .withColumn(dest, (q_len + q_punct + q_stop + q_wordlen) / F.lit(4.0))
    )


# stopword marker profiles per language — public high-frequency function
# words (the standard n-gram/stopword LID heuristic; word-level profiles
# are deterministic and engine-portable, unlike model-based LID)
_LANG_MARKERS = {
    "en": [
        "the", "and", "of", "to", "is", "in", "that", "it", "was", "for",
        "on", "are", "with", "as", "at", "be", "this", "have", "from",
        "or", "had", "by", "not", "but", "what",
    ],
    "de": [
        "der", "die", "und", "das", "ist", "nicht", "mit", "dem", "den",
        "ein", "eine", "auf", "für", "im", "sie", "ich", "des", "sich",
        "von", "zu", "war", "als", "auch", "es", "an",
    ],
    "fr": [
        "le", "la", "et", "les", "est", "des", "un", "une", "du", "dans",
        "que", "qui", "pour", "sur", "pas", "au", "plus", "par", "avec",
        "son", "ne", "se", "ce", "il", "aux",
    ],
    "es": [
        "el", "la", "los", "que", "es", "en", "un", "una", "las", "del",
        "por", "con", "para", "su", "al", "lo", "como", "más", "pero",
        "sus", "ya", "este", "entre", "cuando", "también",
    ],
    "it": [
        "il", "la", "di", "che", "e", "un", "una", "per", "con", "non",
        "sono", "del", "le", "si", "da", "come", "anche", "più",
        "questo", "ma", "nel", "alla", "gli", "ha", "della",
    ],
    "pt": [
        "o", "a", "de", "que", "e", "do", "da", "em", "um", "uma",
        "para", "com", "não", "por", "os", "as", "se", "mais", "como",
        "mas", "ao", "ele", "das", "seu", "sua",
    ],
    "nl": [
        "de", "het", "een", "en", "van", "in", "is", "dat", "op", "te",
        "zijn", "met", "voor", "niet", "aan", "er", "ook", "als",
        "maar", "om", "dan", "zou", "of", "wat", "bij",
    ],
    "zh": [],  # CJK detected by script below
}
# fixed iteration order = deterministic tie-break (earlier wins a tie)
_LANG_ORDER = ("en", "de", "fr", "es", "it", "pt", "nl")
_CJK_RE = r"[一-鿿]"

# rank-weighted character-trigram profiles (the public Cavnar & Trenkle
# n-gram-profile LID method, presence-scored): trigrams of the
# space-padded marker words above, ranked by frequency; weight =
# K - rank.  Derived deterministically from the SAME public word lists,
# so the Spark expression and the generated oracle SQL cannot drift.
_TRIGRAM_K = 64


def _build_trigram_profiles() -> dict[str, dict[str, int]]:
    from collections import Counter

    profiles: dict[str, dict[str, int]] = {}
    for lang, markers in _LANG_MARKERS.items():
        if not markers:
            continue
        cnt: Counter = Counter()
        for w in markers:
            padded = f" {w} "
            for i in range(len(padded) - 2):
                cnt[padded[i : i + 3]] += 1
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:_TRIGRAM_K]
        profiles[lang] = {t: _TRIGRAM_K - i for i, (t, _) in enumerate(ranked)}
    return profiles


_TRIGRAM_PROFILES = _build_trigram_profiles()


def language_id(
    df: DataFrame,
    column_name: str,
    dest: str = "lang_pred",
    max_chars: int | None = None,
) -> DataFrame:
    """Character-trigram-profile language ID (public Cavnar & Trenkle
    n-gram-profile method, presence-scored variant).

    ``max_chars`` truncates the text before trigram extraction — at
    corpus scale a few thousand characters identify the language as
    well as megabyte documents, and the trigram pass is the dominant
    per-row cost.  Default ``None`` scans the full text (deterministic
    parity with the correctness oracle).

    The document's DISTINCT trigrams (from the space-padded lowercased,
    whitespace-collapsed text) are scored against per-language literal
    rank-weight maps: a profile trigram present in the document
    contributes ``K - rank``.  Catching sub-word evidence ("these"
    carries " th"/"the"/"he ") makes short and inflected text far more
    identifiable than whole-word stopword matching.  CJK script presence
    short-circuits to 'zh'; total score 0 -> 'und'; ties resolve in a
    fixed language order — fully deterministic.  One expression tree, no
    UDF; the normalized text and the trigram array are ``let``-bound so
    HOF lambdas reference attributes, not re-evaluated subtrees."""

    # Trigram scoring is the dominant per-row cost, and a HOF
    # `transform(sequence(...), substr)` evaluates INTERPRETED per
    # document character (CodegenFallback — the r13 measurement).  The
    # scorer is now an Arrow-batched pandas UDF (guide §4.2): the JVM
    # computes the normalization (lower + whitespace collapse + space
    # padding — Java regex/locale semantics unchanged) and ships ONLY
    # that one string column per row; a vectorized numpy kernel looks
    # every 3-byte ASCII window up in a 2^21 table, dedups (doc,
    # trigram) hits with one int64 sort, scatter-adds the per-language
    # weight rows, and resolves the argmax with the same
    # earliest-language tie-break.  Presence of a profile trigram as a
    # UTF-8 byte substring is EXACTLY presence as a 3-codepoint window
    # (UTF-8 is self-synchronizing; ASCII windows are 3 consecutive
    # ASCII bytes), so the matched set — and therefore every score —
    # is identical to the old array_intersect fold.
    text = F.col(column_name)
    if max_chars is not None:
        text = F.substring(text, 1, max_chars)
    norm_expr = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(text), r"\s+", " "),
        F.lit(" "),
    )
    # CJK detection scans the SAME truncated text as the trigram pass —
    # max_chars must bound every per-row scan, and the decision should
    # come from one consistent prefix
    # rlike short-circuits at the first CJK hit (regexp_count walks the
    # whole text to count matches it only needed the existence of)
    pred = F.when(
        text.rlike(_CJK_RE), F.lit("zh")
    ).otherwise(_trigram_scorer_udf()(norm_expr))
    return df.withColumn(dest, pred)


def _trigram_scorer_udf():
    """Arrow-batched trigram LID scorer (see :func:`language_id`).

    Built per call so the closure ships only the small profile tables;
    the 2^21-entry lookup table is constructed once per task inside the
    iterator (guide §4.5).  Marked non-deterministic so the optimizer
    cannot duplicate the (expensive) evaluation below a pushed filter
    (guide §4.4)."""
    all_tris = sorted({t for p in _TRIGRAM_PROFILES.values() for t in p})
    ascii_tris = [t for t in all_tris if max(t) < "\x80"]
    other_tris = [t for t in all_tris if max(t) >= "\x80"]
    lang_order = list(_LANG_ORDER)
    n_langs = len(lang_order)
    w_ascii = [
        [_TRIGRAM_PROFILES[l].get(t, 0) for l in lang_order] for t in ascii_tris
    ]
    w_other = [
        [_TRIGRAM_PROFILES[l].get(t, 0) for l in lang_order] for t in other_tris
    ]

    from typing import Iterator

    import pandas as pd

    def _score(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        lut = np.full(1 << 21, -1, np.int16)
        for i, t in enumerate(ascii_tris):
            lut[(ord(t[0]) << 14) | (ord(t[1]) << 7) | ord(t[2])] = i
        wa = np.asarray(w_ascii, np.int64).reshape(len(ascii_tris), n_langs)
        wo = np.asarray(w_other, np.int64).reshape(len(other_tris), n_langs)
        langs = np.asarray(lang_order, dtype=object)

        for s in batches:
            arr = pa.Array.from_pandas(s, type=pa.string())
            ndocs = len(arr)
            offs = np.frombuffer(arr.buffers()[1], np.int32)[
                arr.offset : arr.offset + ndocs + 1
            ].astype(np.int64)
            data = np.frombuffer(
                arr.buffers()[2] or b"", np.uint8
            )  # null slots span zero bytes
            scores = np.zeros((ndocs, n_langs), np.int64)
            lo, hi = int(offs[0]), int(offs[-1])
            if hi - lo >= 3:
                b = data[lo:hi]
                doc_of = np.repeat(
                    np.arange(ndocs, dtype=np.int64), np.diff(offs)
                )
                b0 = b[:-2].astype(np.int32)
                b1 = b[1:-1].astype(np.int32)
                b2 = b[2:]
                # 3 consecutive ASCII bytes inside one document = one
                # 3-codepoint window; look it up in the 7-bit/char table
                mask = (
                    ((b0 | b1) < 0x80)
                    & (b2 < 0x80)
                    & (doc_of[:-2] == doc_of[2:])
                )
                code = (b0 << 14) | (b1 << 7) | b2.astype(np.int32)
                tid = lut[code[mask]]
                hit = tid >= 0
                if hit.any():
                    key = (doc_of[:-2][mask][hit] << 16) | tid[hit]
                    ukey = np.unique(key)  # DISTINCT (doc, trigram) hits
                    np.add.at(scores, ukey >> 16, wa[ukey & 0xFFFF])
            if other_tris:
                for j, t in enumerate(other_tris):
                    m = pc.fill_null(pc.match_substring(arr, t), False)
                    mnp = m.to_numpy(zero_copy_only=False).astype(bool)
                    scores[mnp] += wo[j]
            mx = scores.max(axis=1)
            am = scores.argmax(axis=1)  # first max = earliest language
            out = np.where(mx > 0, langs[am], "und")
            yield pd.Series(out)

    # real typing objects (the module-wide `from __future__ import
    # annotations` would stringify inline hints out of pyspark's reach)
    _score.__annotations__ = {
        "batches": Iterator[pd.Series],
        "return": Iterator[pd.Series],
    }
    return F.pandas_udf(_score, "string").asNondeterministic()


def fingerprint(
    df: DataFrame,
    column_name: str,
    dest: str = "fp",
    mode: str = "exact",
    shingle_n: int = 3,
) -> DataFrame:
    """Document fingerprint:

    * ``exact``  — md5 of case/whitespace-normalized text (exact dedup key)
    * ``rolling`` — min-md5 over word shingles (a 1-permutation MinHash:
      robust to local edits, the rolling-hash analog that is portable
      across engines)"""
    col = F.col(column_name)
    if mode == "exact":
        return df.withColumn(dest, exact_key(col, normalize=True))
    if mode == "rolling":
        sh = word_shingles(col, shingle_n)
        return df.withColumn(dest, F.array_min(F.transform(sh, F.md5)))
    raise ValueError(f"bad mode {mode!r}")


def repetition_score(
    df: DataFrame,
    column_name: str,
    dest: str = "rep_word_frac",
    shingle_n: int = 2,
) -> DataFrame:
    """Within-document repetition signals (Gopher-style quality filter):

    * ``dest`` — fraction of word occurrences that are repeats
      (``1 - distinct/total``); high values flag boilerplate/spam.
    * ``rep_ngram_frac`` — same for word ``shingle_n``-grams, which
      catches repeated phrases that unique words miss.

    Pure per-row expressions — no shuffle, embarrassingly parallel."""
    col = F.col(column_name)
    toks = tokens(col)
    n = F.size(toks)
    word_frac = F.when(
        n > 0, 1.0 - F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(F.lit(0.0))
    # word_shingles is already distinct; recount raw n-grams for the ratio
    n_grams = F.greatest(n - F.lit(shingle_n - 1), F.lit(0))
    ngram_frac = F.when(
        n_grams > 0,
        1.0 - F.size(word_shingles(col, shingle_n)).cast("double") / n_grams,
    ).otherwise(F.lit(0.0))
    return df.withColumn(dest, word_frac).withColumn("rep_ngram_frac", ngram_frac)


def gopher_repetition(
    df: DataFrame,
    id_col: str,
    column_name: str,
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    exact: bool = False,
) -> DataFrame:
    """The Gopher repetition-filter signal suite (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", table A1 — public
    literature; the same signals DataTrove/Dolma implement):

    * ``dup_line_frac`` / ``dup_para_frac`` — fraction of non-empty
      line (paragraph) occurrences that are repeats
      (``1 - distinct/total``, the :func:`repetition_score`
      convention).  Pure per-row expressions.
    * ``top_{n}_gram_char_frac`` (n ∈ ``top_ns``) — fraction of the
      document's characters covered by the single most frequent word
      n-gram: ``count(top) * len(top) / len(text)``, the top gram
      chosen by (count, char length, lexicographic) so ties are
      deterministic and engine-portable.
    * ``dup_{n}_gram_char_frac`` (n ∈ ``dup_ns``) — fraction of
      characters covered by ALL word n-grams occurring more than
      once: ``Σ_{count(g)≥2} count(g)·len(g) / len(text)``.

    Overlap semantics: occurrences of an n-gram OVERLAP for n ≥ 2
    (``a a a a`` holds three ``a a`` bigrams in 7 chars), so the
    count·len numerator can exceed the text length; span-union
    implementations (e.g. DataTrove) dedupe overlapping character
    positions instead.  These fractions are therefore an UPPER BOUND
    of the span-union fraction, clamped to 1.0 — conservative for
    filtering (never under-flags a repetitive document), identical
    whenever duplicated grams don't overlap, and computable from
    gram counts alone with no per-document position walk.

    Filter thresholds from the paper (e.g. drop when
    top_2_gram_char_frac > 0.20 or dup_5_gram_char_frac > 0.15) are
    the caller's policy; this verb just computes the signals.  NB the
    published thresholds were calibrated against SPAN-UNION fractions
    (DataTrove/Dolma dedupe overlapping character positions), so
    applying them to the default upper-bound columns OVER-FLAGS
    documents whose repeated grams overlap — pass ``exact=True`` for
    threshold-faithful span-union semantics.

    ``exact=True`` computes the span-union fractions exactly, in TOKEN
    space: two n-gram occurrences overlap in char space iff they
    overlap in token space, and a merged token interval [a, b] covers
    exactly ``sum(len[a..b]) + (b - a)`` characters of the
    whitespace-normalized text (all interior separators are covered,
    provable by induction over the overlap chain).  Same output
    columns; numerators are unions of character intervals in the
    normalized text over the same original-length denominator, so
    ``exact`` ≤ clamped default for every column.  The default stays
    the cheaper screening pass (one packed sort per n instead of a
    ``lexsort`` plus the span union); ``exact`` is the
    threshold-faithful one.

    Plan shape at 100 TB: both modes are ONE ``mapInArrow`` over the
    scan — the line/para fractions are per-row expressions and every
    n-gram numerator comes from one in-task numpy kernel
    (:func:`_gopher_scorer`), so there is no Exchange at all.  Nothing
    quadratic; no per-row HOF counting loops.
    Docs shorter than n tokens score 0.0 for that n; empty docs score
    0.0 everywhere.
    """
    all_ns = sorted(set(tuple(top_ns) + tuple(dup_ns)))
    if not all_ns or min(all_ns) < 1:
        raise ValueError("top_ns/dup_ns must be positive n-gram sizes")
    col = F.col(column_name)

    lines = F.filter(
        F.transform(F.split(col, "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    paras = F.filter(
        F.transform(F.split(col, "\n{2,}"), lambda s: F.trim(s)),
        lambda s: s != "",
    )

    def rep_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(
            n > 0, 1.0 - F.size(F.array_distinct(arr)).cast("double") / n
        ).otherwise(F.lit(0.0))

    # collapse+trim ALL whitespace before shingling: raw split would
    # produce empty tokens around leading/trailing newlines/tabs
    # (F.trim strips spaces only), and a whitespace-only document would
    # otherwise mint separator "grams" scoring 1.0
    gram_src = F.trim(F.regexp_replace(col, r"\s+", " "))
    top_list = [int(n) for n in top_ns]
    dup_list = [int(n) for n in dup_ns]
    # Every signal is PER-DOCUMENT, so no shuffle is needed: one in-task
    # Arrow pass (guide §4.2) — tokens cross the boundary once as a
    # normalized string column and the numpy kernel computes every
    # (doc, n) numerator inside the scan stage.  Zero Exchange between
    # the parquet scan and the result; parallelism = input splits.
    inp = df.select(
        F.col(id_col),
        F.length(col).alias("__chars"),
        rep_frac(lines).alias("dup_line_frac"),
        rep_frac(paras).alias("dup_para_frac"),
        gram_src.alias("__norm"),
    )
    out_schema = _gopher_out_schema(df, id_col, top_list, dup_list)
    score = _gopher_scorer(
        [int(n) for n in all_ns], top_list, dup_list, exact
    )
    return inp.mapInArrow(score, out_schema)


def _gopher_out_schema(df: DataFrame, id_col: str, top_list, dup_list):
    """Output schema of the Arrow scorer: the caller's id field (type
    preserved) + the double fraction columns."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    id_field = df.schema[id_col]
    fields = [
        StructField(id_col, id_field.dataType, id_field.nullable),
        StructField("dup_line_frac", DoubleType(), True),
        StructField("dup_para_frac", DoubleType(), True),
    ]
    for n in top_list:
        fields.append(StructField(f"top_{n}_gram_char_frac", DoubleType(), True))
    for n in dup_list:
        fields.append(StructField(f"dup_{n}_gram_char_frac", DoubleType(), True))
    return StructType(fields)


def _gopher_scorer(ns_list, top_list, dup_list, exact):
    """Build the ``mapInArrow`` batch function for gopher_repetition.

    Exact per-document n-gram accounting, fully vectorized (no Python
    per-row loop):

    * tokens = split of the whitespace-normalized text on the single
      space — identical to the JVM ``split(trim(s), '\\s+')`` because
      normalization already collapsed every ASCII whitespace run.
      An empty normalized doc yields the single empty token, exactly
      like the JVM split.
    * token ids via Arrow ``dictionary_encode`` (C hash table); n-gram
      ids for n = 2..max by rolling pair-encoding — id(n-gram at i) =
      factorize(id(n-1-gram at i) << 32 | id(token at i+n-1)) — so
      equal grams share an id iff their token sequences are equal
      (exact, no hash collisions).  Unigram ids are the token ids.
    * gram char length = prefix-sum difference of token lengths +
      (n-1) separators, in CODEPOINTS to match JVM ``length()``
      (``UTF8String.numChars`` counts code points, NOT UTF-16 units —
      the astral-emoji differential row proved it).

    Only the numerator differs between the modes:

    * default — count·len: per (doc, gram) counts from one packed
      int64 sort + run-length pass, then scatter max/add per doc: top
      gram by (count, len) encoded as count*LMUL+len (ties beyond that
      have equal count*len), dup numerator = Σ count*len over
      count >= 2.
    * ``exact`` — span union: runs of (gram, doc, start) from one
      ``lexsort``; ``top_n``'s gram is chosen by (count, char length,
      lexicographic gram — LARGEST string wins ties) and its numerator
      is the merged char coverage of its occurrences; ``dup_n`` merges
      the occurrences of ALL grams occurring >= 2 times (cross-gram
      overlaps merge).  Sorted start indices chain while ``s_k <=
      s_prev + n - 1``; a merged token interval [a, b] covers
      ``cum[b+n] - cum[a] + (b + n - 1 - a)`` normalized chars.  Gram
      STRINGS are materialized only for (count, len)-tied candidates
      (UTF-8 byte order == codepoint order == Spark's binary string
      comparison).
    """
    max_n = max(ns_list)

    def _score(batches):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        def count_len(n, gid, sdoc, glen, top_chars, dup_chars):
            glen_by_gid = np.zeros(int(gid.max()) + 1, np.int64)
            glen_by_gid[gid] = glen
            key = (gid << 32) | sdoc
            key.sort()
            run_start = np.concatenate(([0], np.flatnonzero(np.diff(key)) + 1))
            counts = np.diff(np.concatenate((run_start, [key.size])))
            ukey = key[run_start]
            gdoc = ukey & 0xFFFFFFFF
            glen = glen_by_gid[ukey >> 32]
            if n in top_chars:
                lmul = int(glen.max()) + 1
                np.maximum.at(top_chars[n], gdoc, counts * lmul + glen)
                enc = top_chars[n]
                top_chars[n] = (enc // lmul) * (enc % lmul)
            if n in dup_chars:
                rep = counts >= 2
                np.add.at(dup_chars[n], gdoc[rep], counts[rep] * glen[rep])

        def chain_cover(starts, groups, n, cum):
            """starts ascending within each contiguous group; returns
            (unique group ids, summed merged coverage per group)."""
            if starts.size == 0:
                return np.empty(0, np.int64), np.empty(0, np.int64)
            brk = np.ones(starts.size, bool)
            brk[1:] = (groups[1:] != groups[:-1]) | (
                starts[1:] - starts[:-1] > n - 1
            )
            bidx = np.flatnonzero(brk)
            last = np.append(bidx[1:] - 1, starts.size - 1)
            a = starts[bidx]
            b = starts[last]
            contrib = (cum[b + n] - cum[a]) + (b + n - 1 - a)
            ug, inv = np.unique(groups[bidx], return_inverse=True)
            out = np.zeros(ug.size, np.int64)
            np.add.at(out, inv, contrib)
            return ug, out

        def span_union(
            n, st, gid, sdoc, glen, cum, flat, words, top_chars, dup_chars
        ):
            order = np.lexsort((st, sdoc, gid))
            g_s, d_s, s_s = gid[order], sdoc[order], st[order]
            new = np.ones(s_s.size, bool)
            new[1:] = (g_s[1:] != g_s[:-1]) | (d_s[1:] != d_s[:-1])
            ridx = np.flatnonzero(new)
            rcounts = np.diff(np.append(ridx, s_s.size))
            if n in dup_chars:
                memb = np.repeat(rcounts >= 2, rcounts)
                s_d, d_d = s_s[memb], d_s[memb]
                o2 = np.lexsort((s_d, d_d))
                ug, cov = chain_cover(s_d[o2], d_d[o2], n, cum)
                dup_chars[n][ug] += cov
            if n not in top_chars:
                return
            rlen = glen[order[ridx]]
            lmul = int(rlen.max()) + 1
            enc = rcounts * lmul + rlen
            rdoc = d_s[ridx]
            best = np.full(top_chars[n].size, -1, np.int64)
            np.maximum.at(best, rdoc, enc)
            cand = np.flatnonzero(enc == best[rdoc])
            cdoc = rdoc[cand]
            # runs are (gid, doc)-ordered, so one doc's candidates can
            # span gids -> stable doc sort
            co = np.argsort(cdoc, kind="stable")
            cand, cdoc = cand[co], cdoc[co]
            dnew = np.ones(cand.size, bool)
            dnew[1:] = cdoc[1:] != cdoc[:-1]
            dstart = np.flatnonzero(dnew)
            dcnt = np.diff(np.append(dstart, cand.size))
            win = np.empty(dstart.size, np.int64)
            for k, (si, cnt) in enumerate(zip(dstart, dcnt)):
                if cnt == 1:
                    win[k] = cand[si]
                    continue
                # (count, len) tie: largest gram STRING wins
                if not words:
                    words.extend(flat.to_pylist())
                bestr, bestrun = None, -1
                for r in cand[si : si + cnt]:
                    s0 = s_s[ridx[r]]
                    gram = " ".join(words[s0 : s0 + n])
                    if bestr is None or gram > bestr:
                        bestr, bestrun = gram, r
                win[k] = bestrun
            occ_counts = rcounts[win]
            csum = np.concatenate(([0], np.cumsum(occ_counts)))
            occ_idx = np.repeat(ridx[win], occ_counts) + (
                np.arange(csum[-1]) - np.repeat(csum[:-1], occ_counts)
            )
            occ_s = s_s[occ_idx]  # ascending within run
            occ_grp = np.repeat(np.arange(win.size, dtype=np.int64), occ_counts)
            ug, cov = chain_cover(occ_s, occ_grp, n, cum)
            top_chars[n][rdoc[win[ug]]] = cov

        for batch in batches:
            ndocs = batch.num_rows
            chars = batch.column(1).to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )  # nulls -> NaN; NaN > 0 is False, like the JVM null guard
            toks = pc.split_pattern(batch.column(4), " ")
            cnts = pc.list_value_length(toks).to_numpy(zero_copy_only=False)
            cnts = np.nan_to_num(cnts, nan=0.0).astype(np.int64)  # null doc -> 0
            flat = pc.list_flatten(toks)
            offsets = np.concatenate(([0], np.cumsum(cnts)))
            total = int(offsets[-1])
            doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), cnts)
            pos = np.arange(total, dtype=np.int64) - offsets[:-1][doc_of]

            top_chars = {n: np.zeros(ndocs, np.int64) for n in top_list}
            dup_chars = {n: np.zeros(ndocs, np.int64) for n in dup_list}
            if total:
                codes = (
                    flat.dictionary_encode()
                    .indices.to_numpy(zero_copy_only=False)
                    .astype(np.int64, copy=False)
                )
                # JVM length() = UTF8String.numChars = CODE POINTS (a
                # non-BMP codepoint counts once, unlike Java's
                # String.length) — matches pyarrow utf8_length exactly
                lens = pc.utf8_length(flat).to_numpy(zero_copy_only=False)
                cum = np.concatenate(([0], np.cumsum(lens.astype(np.int64))))
                words = []  # flat as python strings, filled on the first tie
                pn = codes  # ids of n-grams starting at i
                for n in range(1, max_n + 1):
                    m = total - n + 1
                    if m <= 0:
                        break
                    if n >= 2:
                        packed = (pn[:m] << 32) | codes[n - 1 : n - 1 + m]
                        pn = pd.factorize(packed)[0].astype(np.int64, copy=False)
                    if n not in ns_list:
                        continue
                    # valid starts: the window stays inside one doc
                    st = np.flatnonzero(pos[:m] <= cnts[doc_of[:m]] - n)
                    if not st.size:
                        continue
                    gid, sdoc = pn[st], doc_of[st]
                    glen = cum[st + n] - cum[st] + (n - 1)  # chars per gram
                    if exact:
                        span_union(
                            n, st, gid, sdoc, glen, cum, flat, words,
                            top_chars, dup_chars,
                        )
                    else:
                        count_len(n, gid, sdoc, glen, top_chars, dup_chars)

            cols = [batch.column(0), batch.column(2), batch.column(3)]
            with np.errstate(divide="ignore", invalid="ignore"):
                ok = chars > 0
                for num in [top_chars[n] for n in top_list] + [
                    dup_chars[n] for n in dup_list
                ]:
                    frac = np.where(ok, np.minimum(1.0, num / chars), 0.0)
                    cols.append(pa.array(frac, pa.float64()))
            yield pa.RecordBatch.from_arrays(
                cols,
                names=[batch.schema.names[0], "dup_line_frac", "dup_para_frac"]
                + [f"top_{n}_gram_char_frac" for n in top_list]
                + [f"dup_{n}_gram_char_frac" for n in dup_list],
            )

    return _score


# Conservative, engine-portable (Java regex == RE2) PII patterns.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def pii_redact(
    df: DataFrame,
    column_name: str,
    dest: str | None = None,
    kinds: tuple[str, ...] = ("email", "ssn", "phone"),
    counts: bool = True,
) -> DataFrame:
    """Redact PII spans with ``[KIND]`` markers and (optionally) emit a
    per-kind match count column ``pii_<kind>_count``.

    Order matters: SSN before phone (an SSN also matches the loose phone
    shape).  All regexp — codegen'd, no UDF, safe in streaming too."""
    dest = dest or f"{column_name}_redacted"
    out = F.col(column_name)
    for kind in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"[{kind.upper()}]")
    df = df.withColumn(dest, out)
    if counts:
        for kind in kinds:
            df = df.withColumn(
                f"pii_{kind}_count",
                F.regexp_count(F.col(column_name), F.lit(PII_PATTERNS[kind])),
            )
    return df


# conservative URL shape, portable across Java regex and RE2-likes
URL_PATTERN = r"https?://[^\s\"'<>)\]}]+"
_DOMAIN_PATTERN = r"https?://([^/:\s]+)"


def extract_urls(df: DataFrame, column_name: str, dest: str = "urls") -> DataFrame:
    """All http(s) URLs per document as an array column — the input to
    domain-level curation (blocklists, per-domain caps).  Pure regexp,
    no UDF."""
    return df.withColumn(
        dest, F.regexp_extract_all(F.col(column_name), F.lit(URL_PATTERN), 0)
    )


def domain_of(url: Column, strip_www: bool = True) -> Column:
    """Lower-cased host part of a URL column; ``www.`` prefix stripped."""
    host = F.lower(F.regexp_extract(url, _DOMAIN_PATTERN, 1))
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    return host


_TRACKING_PREFIXES = ("utm_",)  # family prefix: any utm_* param
_TRACKING_EXACT = ("gclid", "fbclid", "mc_cid", "mc_eid")  # exact names only


def url_normalize(
    df: DataFrame,
    column_name: str,
    dest: str | None = None,
    drop_fragment: bool = True,
    strip_tracking: bool = True,
) -> DataFrame:
    """Canonicalize a URL column so equal resources compare equal — the
    step before URL-keyed dedup or per-domain caps (two crawls of the
    same page typically differ only in case, fragment, default port, or
    tracking parameters).

    Normalizations (all plain regexp/array expressions, no UDF):
    scheme and host lowercased; default port (``:80`` http / ``:443``
    https) removed; ``#fragment`` dropped; tracking query parameters
    (``utm_*``, ``gclid``, ``fbclid``, ``mc_cid``, ``mc_eid``) removed,
    with the ``?`` dropped too when nothing survives.  Path case and
    remaining param order are preserved (they can be semantic).
    """
    raw = F.col(column_name)
    # ALWAYS parse with the fragment detached — otherwise '#frag' rides
    # inside the query string and the tracking-param rewrite can eat it
    # even when drop_fragment=False; re-append at the end if kept
    frag = F.regexp_extract(raw, r"(#.*)$", 1)
    url = F.regexp_replace(raw, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.when(scheme == "http", F.regexp_replace(host, r":80$", "")).otherwise(
        F.when(scheme == "https", F.regexp_replace(host, r":443$", "")).otherwise(host)
    )
    rest = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+", "")
    if strip_tracking:
        path = F.regexp_replace(rest, r"\?.*$", "")
        query = F.regexp_extract(rest, r"\?(.*)$", 1)
        kept = F.filter(
            F.split(query, "&"),
            # utm_ is a family prefix; the named params match exactly
            # ("gclid" / "gclid=v") so "gclid_src" survives
            lambda p: ~F.coalesce(
                functools_reduce(
                    lambda a, b: a | b,
                    [p.startswith(pref) for pref in _TRACKING_PREFIXES]
                    + [
                        (p == name) | p.startswith(name + "=")
                        for name in _TRACKING_EXACT
                    ],
                ),
                F.lit(False),
            ),
        )
        rest = F.when(
            (query == "") | (F.size(kept) == 0), path
        ).otherwise(F.concat(path, F.lit("?"), F.array_join(kept, "&")))
    rebuilt = F.concat(scheme, F.lit("://"), host, rest)
    if not drop_fragment:
        rebuilt = F.concat(rebuilt, frag)
    out = F.when(scheme != "", rebuilt).otherwise(F.col(column_name))
    return df.withColumn(dest or column_name, out)


def top_domains(
    df: DataFrame, column_name: str, k: int = 20, strip_www: bool = True
) -> DataFrame:
    """Corpus-level top-``k`` most-linked domains: URL extract → explode
    → domain normalize → count.  Map-side partial aggregation keeps the
    shuffle at one row per distinct domain per partition;
    ``orderBy().limit(k)`` runs as TakeOrdered (no global sort).  Ties
    break on the domain string — deterministic."""
    urls = df.select(
        F.explode(
            F.regexp_extract_all(F.col(column_name), F.lit(URL_PATTERN), 0)
        ).alias("url")
    )
    return (
        urls.select(domain_of(F.col("url"), strip_www).alias("domain"))
        .filter(F.col("domain") != "")
        .groupBy("domain")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("domain"))
        .limit(k)
    )


def chunk_text(
    df: DataFrame,
    column_name: str,
    max_tokens: int = 512,
    overlap: int = 0,
    dest: str = "chunk",
    keep_empty: bool = False,
) -> DataFrame:
    """Split documents into token-bounded chunks — the standard prep step
    before tokenization for a context-bounded model.

    Emits one row per chunk with ``dest`` (the chunk text),
    ``<dest>_id`` (0-based ordinal within the document) and
    ``<dest>_n_tokens``.  Chunk i covers tokens
    ``[i·(max_tokens-overlap), i·(max_tokens-overlap)+max_tokens)`` —
    consecutive chunks share ``overlap`` tokens so no n-gram context is
    lost at a boundary.

    Pure expressions: the token array is ``let``-bound once, chunk
    starts come from ``sequence``, chunks from ``slice`` + ``concat_ws``,
    rows from one ``explode`` — zero UDFs, zero shuffles, linear
    scale-out.  Whitespace inside a chunk is normalized to single spaces
    (tokens are re-joined); empty/blank documents yield no rows unless
    ``keep_empty`` (then one empty chunk)."""
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    if not 0 <= overlap < max_tokens:
        raise ValueError("overlap must satisfy 0 <= overlap < max_tokens")
    step = max_tokens - overlap

    def build(toks: Column) -> Column:
        n = F.size(toks)
        # chunk starts: 1, 1+step, ... (1-based slice positions).  A
        # trailing start whose remaining tokens all lie inside the
        # previous chunk's overlap region contributes nothing new — drop
        # it (also drops starts past the end).
        starts = F.filter(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step)),
            lambda s: (s == F.lit(1)) | ((n - s + 1) > F.lit(overlap)),
        )
        chunks = F.transform(
            starts,
            lambda s: F.struct(
                F.concat_ws(" ", F.slice(toks, s, max_tokens)).alias("text"),
                F.least(n - s + 1, F.lit(max_tokens)).alias("n_tokens"),
            ),
        )
        if keep_empty:
            empty = F.array(
                F.struct(F.lit("").alias("text"), F.lit(0).alias("n_tokens"))
            )
            return F.when(n > 0, chunks).otherwise(empty)
        return F.when(n > 0, chunks).otherwise(
            F.array().cast("array<struct<text:string,n_tokens:int>>")
        )

    col = F.col(column_name)
    # split("") yields [""] — treat blank documents as zero tokens
    toks = F.when(
        F.length(F.trim(col)) > 0, tokens(col)
    ).otherwise(F.array().cast("array<string>"))
    out = df.withColumn("__chunks", let(toks, build))
    return (
        out.select(
            *[F.col(c) for c in df.columns],
            F.posexplode(F.col("__chunks")).alias(f"{dest}_id", "__c"),
        )
        .withColumn(dest, F.col("__c.text"))
        .withColumn(f"{dest}_n_tokens", F.col("__c.n_tokens"))
        .drop("__c")
    )


def assign_packs(
    df: DataFrame,
    column_name: str,
    max_tokens: int,
    order_by: str,
    dest: str = "pack_id",
    mode: str = "whitespace",
) -> DataFrame:
    """Assign documents to fixed-token-budget training packs: walking
    the corpus in ``order_by`` order, a document joins pack
    ``floor((cumulative_tokens - 1) / max_tokens)`` — the deterministic
    streaming-concatenation packing used to build fixed-length training
    sequences (documents may straddle a boundary; the pack id names the
    sequence their LAST token lands in).

    ``order_by`` must uniquely identify rows (same contract as
    ``count_cumulative_unique``) — for reproducible packs use a stable
    key like a document id or a ``deterministic_sample`` hash.

    Scale shape: only ``(order, token_count)`` flows through the
    running sum (:func:`~pyjanitor_spark.utils.order.partitioned_cumsum`
    — range partition + broadcast offsets, no single-task stage); the
    pack id joins back by order key, so wide rows shuffle exactly once.

    The running sum and the join-back read one frame,
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``: an input that
    does not replay identically (a shuffle, join or nondeterministic
    expression upstream) is pinned, so every row gets the pack its own
    tokens were counted into.  Under adaptive query execution that pin
    runs the upstream's shuffle and broadcast stages when the call is
    made; a replay-stable input runs no job.
    """
    if max_tokens < 1:
        raise ValueError("max_tokens must be >= 1")
    from pyjanitor_spark.utils.order import partitioned_cumsum

    df = share(df)
    narrow = df.select(
        F.col(order_by), F.size(tokens(F.col(column_name), mode)).alias("__ntok")
    )
    cum = partitioned_cumsum(narrow, "__ntok", order_by, "__cum")
    packs = cum.select(
        F.col(order_by).alias("__pk_o"),
        # greatest(0, ...): a leading zero-token document has cum=0 and
        # would otherwise get the invalid pack -1
        F.greatest(
            F.floor((F.col("__cum") - 1) / F.lit(float(max_tokens))), F.lit(0)
        ).alias(dest),
    )
    return (
        df.join(packs, F.col(order_by).eqNullSafe(F.col("__pk_o")), "left")
        .drop("__pk_o")
    )


def top_collocations(
    df: DataFrame,
    column_name: str,
    k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Top-``k`` word bigram collocations by pointwise mutual
    information (Church & Hanks 1990) — word pairs that co-occur far
    more than their unigram frequencies predict ("new york", "machine
    learning"); the standard vocabulary-induction / phrase-mining
    primitive.

    ``pmi(x, y) = ln( (c_xy / B) / ((c_x / T) · (c_y / T)) )`` with
    ``B`` total bigrams and ``T`` total tokens.  ``min_count`` drops
    rare-pair noise (PMI is maximized by hapax pairs).

    Plan: unigram and bigram counts are two partial-aggregated
    shuffles; totals are one broadcast row; the unigram table joins
    back twice keyed on the word (plain equi-joins — at corpus scale
    these are the well-partitioned joins a vocabulary fits); final
    top-k is ``TakeOrderedAndProject`` with (w1, w2) tie-break.

    The unigram and bigram tables read
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``.  Call-time
    jobs: the ``share`` pin's stages on a replay-unstable input, and
    the shuffle stages of the two pinned count tables (adaptive query
    execution runs them when the pins are taken).
    """
    if k < 1 or min_count < 1:
        raise ValueError("k and min_count must be >= 1")
    df = share(df)
    toks = df.select(F.explode(tokens(F.col(column_name))).alias("w"))
    # pinned: the unigram table feeds the w1 join, the w2 join, AND the
    # token total — unpinned, the corpus tokenize+aggregate plans three
    # times (one scan+explode+two-level agg per consumer)
    uni = pin(toks.groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    # pinned: feeds both the totals agg and the min_count branch —
    # one corpus-scale shingle pass, one vocabulary-sized cache
    bi_counts = pin(
        df.select(
            F.explode(word_shingles(F.col(column_name), 2, distinct=False)).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    bi = (
        bi_counts.filter(F.col("c_xy") >= min_count)
        .withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
    )
    # total bigrams = sum over the (vocabulary-sized) PRE-filter counts
    # frame — no third corpus-scale tokenize+shingle pass
    totals = uni.agg(
        F.sum("c").alias("__t"),
    ).crossJoin(F.broadcast(bi_counts.agg(F.sum("c_xy").alias("__b"))))
    joined = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    pmi = F.log(
        (F.col("c_xy") / F.col("__b"))
        / ((F.col("c_x") / F.col("__t")) * (F.col("c_y") / F.col("__t")))
    )
    return (
        joined.select("w1", "w2", "c_xy", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def ngram_lm_score(
    df: DataFrame,
    column_name: str,
    id_col: str = "doc_id",
    dest: str = "lm_logprob",
    alpha: float = 0.4,
    min_count: int = 2,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """Average bigram log-probability of each document under a
    stupid-backoff language model (Brants et al. 2007) trained on the
    corpus itself (or ``train_df``) — the classic LM-based quality
    signal for training-data filtering: low scores flag boilerplate,
    gibberish, and non-prose.

    Per bigram position ``(w1, w2)``::

        S = c(w1,w2) / c(w1)        if c(w1,w2) >= min_count
          = alpha * c(w2) / T        otherwise (backoff to unigram)

    and the document score is ``mean(ln S)`` over its bigram positions
    (NULL for documents with fewer than two tokens).  Tokens are
    lowercased whitespace words; ``min_count`` prunes hapax bigrams
    from the model (they carry no reusable evidence and dominate the
    model's size at corpus scale).  Unknown-``w2`` positions (possible
    only with a separate ``train_df``) take a half-count floor
    ``ln(alpha * 0.5 / T)``.

    Plan: model building aggregates the corpus once for unigrams and
    once for bigrams (both partial-aggregated shuffles); the
    seen-bigram table precomputes ``ln(c_xy/c_x)`` at MODEL scale so
    the corpus-side probe is two equi-joins (bigram key, then w2 key)
    plus one broadcast totals row — never a corpus×model nested loop.
    Both model tables are always BROADCAST, so the exploded probe
    stream — the one corpus-sized intermediate, one row per token
    position — flows scan → explode → two broadcast hash joins →
    partial aggregate inside a single stage with no exchange at all;
    the only probe shuffle left is the per-document partial-aggregated
    average.  A ``min_count``-pruned bigram model is
    vocabulary-shaped, orders of magnitude below the corpus.

    The model, the probe stream and the join-back read one frame,
    :func:`~pyjanitor_spark.utils.pin.share` of ``df`` (and of
    ``train_df`` for the model): an input that does not replay
    identically is pinned, and under adaptive query execution that pin
    runs the upstream's shuffle and broadcast stages when the call is
    made; a replay-stable input runs no job.
    """
    df = share(df)
    src = df if train_df is None else share(train_df)
    lowered = (
        src.select(F.lower(F.trim(F.col(column_name))).alias("__t"))
        .filter(F.col("__t") != "")
    )
    # vocabulary: feeds the totals row, the seen-bigram denominator and
    # the backoff table
    uni = (
        lowered.select(F.explode(tokens(F.col("__t"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").cast("double").alias("__T"))
    bi = (
        lowered.select(
            F.explode(word_shingles(F.col("__t"), 2, distinct=False)).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    seen = (
        bi.withColumn("__w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(uni.select(F.col("w").alias("__w1"), F.col("c").alias("__cx")), "__w1")
        .select("bg", F.log(F.col("c_xy") / F.col("__cx")).alias("__ls"))
    )
    backoff = uni.crossJoin(F.broadcast(total)).select(
        F.col("w").alias("__w2"),
        F.log(F.lit(alpha) * F.col("c") / F.col("__T")).alias("__lb"),
    )
    # model tables ride the probe stage as broadcast hash maps: the
    # per-token-position probe stream never hits an exchange (the
    # planner's size estimate for an aggregated+filtered string table
    # is wildly pessimistic, so without the hint the probe side pays a
    # full sort-exchange keyed on the bigram STRING)
    seen = F.broadcast(seen)
    backoff = F.broadcast(backoff)
    scored = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(
                word_shingles(
                    F.lower(F.trim(F.col(column_name))), 2, distinct=False
                )
            ).alias("bg"),
        )
        .withColumn("__w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(seen, "bg", "left")
        .join(backoff, "__w2", "left")
    )
    if train_df is None:
        # every probe w2 is a corpus token, so the backoff row always
        # exists and the unknown-w2 half-count floor is unreachable —
        # skip the totals cross join on the exploded probe stream
        score = F.coalesce(F.col("__ls"), F.col("__lb"))
    else:
        scored = scored.crossJoin(F.broadcast(total))
        score = F.coalesce(
            F.col("__ls"),
            F.col("__lb"),
            F.log(F.lit(alpha) * F.lit(0.5) / F.col("__T")),
        )
    scored = (
        scored.select("__id", score.alias("__s"))
        .groupBy("__id")
        .agg(F.avg("__s").alias(dest))
    )
    return df.join(
        scored.withColumnRenamed("__id", id_col), id_col, "left"
    )


def top_ngrams(
    df: DataFrame,
    column_name: str,
    n: int = 2,
    k: int = 20,
    sep: str = " ",
) -> DataFrame:
    """Corpus-level top-``k`` most frequent word ``n``-grams (every
    occurrence counts, unlike the distinct shingles MinHash uses).

    Shape: explode → a per-n-gram count aggregate — partial (map-side)
    aggregation means the shuffle carries one row per distinct n-gram per
    partition, not one per occurrence — then ``orderBy().limit(k)``,
    which Spark executes as ``TakeOrderedAndProject`` (per-partition
    top-k, merge of k-row heaps on the driver; no global sort at any
    scale).  Ties break on the n-gram string so results are
    deterministic."""
    if n < 1 or k < 1:
        raise ValueError("n and k must be >= 1")
    grams = df.select(
        F.explode(word_shingles(F.col(column_name), n, sep, distinct=False)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(k)
    )

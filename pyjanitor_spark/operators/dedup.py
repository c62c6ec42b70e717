"""Deduplication for large-scale corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design notes (the point of each algorithm at 100 TB):

* ``dedupe_exact`` — hash-groupBy on a normalized md5 key: ONE shuffle
  on a 32-byte key regardless of document size; keeps the min-id row
  per group (deterministic, no row-order dependence).
* ``minhash_lsh_pairs`` — shingle → k md5-min signature → b bands →
  bucket by (band_id, band_key), emit each bucket's pairs in-task.  The
  only shuffle is on short band keys; candidate verification happens on
  the emitted pairs.  Never compares all pairs: cost ∝ Σ bucket².
* ``simhash`` — 64-bit (configurable) sign-aggregated fingerprint; near
  dups share the fingerprint or differ in few bits.  Pure expressions.
* ``ngram_jaccard_pairs`` — EXACT Jaccard via shingle-explode +
  bucketed pair-count: |A∩B| by grouping on the shingle string,
  |A∪B| = |A|+|B|−∩.  One shuffle on shingles — the exact-verification
  path, typically run on LSH candidates only (pass ``candidates=``).
* ``embedding_near_dup`` — cosine pairs within blocks (``block_col``,
  e.g. a cluster/LSH bucket) or banded hyperplane-LSH auto-blocking,
  avoiding the all-pairs cross join.

All hashes are md5-derived => reproducible across engines (DuckDB
oracle computes identical values).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyjanitor_spark.operators.text_analysis import tokens, word_shingles
from pyjanitor_spark.utils.expr import exact_key, let
from pyjanitor_spark.utils.local import local_frame
from pyjanitor_spark.utils.pin import pin, probe, share

__all__ = [
    "dedupe_exact",
    "minhash_signature",
    "minhash_lsh_pairs",
    "minhash_band_buckets",
    "simhash",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "embedding_near_dup",
    "cosine_sim",
    "near_dup_clusters",
    "dedupe_near",
    "dedupe_against",
    "bloom_build",
    "bloom_dedupe_against",
    "contamination_score",
    "duplicated_spans",
    "dup_span_fraction",
    "remove_duplicated_spans",
]


def _emit_pairs(bucketed: DataFrame) -> DataFrame:
    """All ordered pairs (id_1 < id_2) from bucket rows holding a SORTED
    element array ``__ids``, emitted CHUNKED: posexplode the array, then
    each (element i) row explodes only its successors
    ``slice(ids, i+2, n)`` (posexplode index is 0-based, slice position
    1-based).  Every other column of ``bucketed`` (the bucket's band)
    rides along on each pair.

    Same Σ C(bucket, 2) output as a flattened all-pairs array, but the
    largest single row holds |bucket| elements, not C(|bucket|, 2) —
    a 1e6-doc hot bucket (one boilerplate body across a 100 TB corpus)
    streams as 1e6 rows × ≤8 MB arrays instead of materializing a
    5e11-struct array in one task.  Both generators stay inside
    whole-stage codegen; no extra shuffle."""
    ids = F.col("__ids")
    rest = [c for c in bucketed.columns if c != "__ids"]
    return (
        bucketed.select(*rest, ids, F.posexplode(ids).alias("__i", "id_1"))
        .select(
            *rest,
            "id_1",
            F.explode(
                F.slice(ids, F.col("__i") + F.lit(2), F.size(ids))
            ).alias("id_2"),
        )
    )


def _emit_star(bucketed: DataFrame) -> DataFrame:
    """STAR pairs from bucket rows holding a SORTED element array
    ``__ids``: the bucket MIN element paired with every other member —
    O(bucket) edges with the SAME connected components as the
    C(bucket, 2) clique (:func:`_emit_pairs`), because every member
    reaches every other through the hub.  Every other column of
    ``bucketed`` rides along, as in :func:`_emit_pairs`.

    This is the asymptotic fix for clustering consumers: a 1e6-doc
    exact-dup bucket (one boilerplate body across a 100 TB corpus)
    emits 1e6 edges instead of 5e11.  Only valid when downstream needs
    CONNECTIVITY (components / dedupe), not the full candidate pair
    set — pair verification (Jaccard thresholds) must see every pair
    and keeps the all-pairs emitter."""
    ids = F.col("__ids")
    rest = [c for c in bucketed.columns if c != "__ids"]
    return bucketed.select(
        *rest,
        F.element_at(ids, 1).alias("id_1"),
        F.explode(F.slice(ids, 2, F.size(ids))).alias("id_2"),
    )


def _band_table(frame: DataFrame, element: Column, keys: list[Column]) -> DataFrame:
    """(element, band, key) rows, one per band key of each row of
    ``frame``: band ``b`` is ``keys[b]``, and the element column keeps
    its name.  The one band table of both banded hashes (MinHash bands,
    SimHash chunks)."""
    banded = frame.select(
        element,
        F.explode(
            F.array(
                *[F.struct(F.lit(b).alias("band"), key.alias("key")) for b, key in enumerate(keys)]
            )
        ).alias("bk"),
    )
    return banded.select(
        banded.columns[0], F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _bucket_pairs(bands: DataFrame, element: str, emit) -> DataFrame:
    """The one LSH bucket→pairs step: ONE shuffle on (band, key) collects
    each bucket's ``element`` values sorted, and ``emit``
    (:func:`_emit_pairs` or :func:`_emit_star`) turns them into
    (band, id_1, id_2) rows in-task (a self-join would plan the band
    table for both sides and shuffle it twice).  Null keys never form a
    bucket.  LSH bands have NO bucket-size cap (an exact-dup cluster
    lands whole in one bucket), so the emitters keep each row
    O(bucket), not O(bucket²); cost stays ∝ Σ bucket²."""
    bucketed = (
        bands.filter(F.col("key").isNotNull())
        .groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(element)).alias("__ids"))
        .filter(F.size("__ids") > 1)
        .drop("key")
    )
    return emit(bucketed)


def dedupe_exact(
    df: DataFrame,
    column_name: str,
    id_col: str,
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup: keep the min-``id_col`` row per normalized-text
    group.  min-id (not 'first seen') is the distributed-deterministic
    keep rule."""
    w = Window.partitionBy(exact_key(F.col(column_name), normalize))
    return (
        df.withColumn("__keep", F.min(F.col(id_col)).over(w))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__keep")
    )


def _perm(i: int):
    """MinHash permutation ``i``: the md5 of the shingle keyed by an
    ``'{i}:'`` prefix.  One parameter: PySpark passes the array index to
    any second parameter of a ``transform`` lambda (even a defaulted
    one)."""
    return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))


def minhash_signature(
    df: DataFrame,
    column_name: str,
    k: int = 8,
    shingle_n: int = 3,
    dest: str = "minhash",
) -> DataFrame:
    """k-permutation MinHash signature.

    Permutation i is the md5 keyed by ``'{i}:'`` prefix; the signature
    element is the lexicographic min digest over the shingle set — a
    valid uniform permutation proxy that any engine reproduces exactly.
    k expressions over one shingle array: single scan, no shuffle.  The
    shingle array is ``let``-bound: HOFs are CodegenFallback (no
    subexpression elimination), so the k transforms would otherwise each
    re-run the whole shingle pipeline."""

    if k < 1 or shingle_n < 1:
        raise ValueError("k and shingle_n must be >= 1")
    sig = let(
        word_shingles(F.col(column_name), shingle_n),
        lambda sh: F.array(*[F.array_min(F.transform(sh, _perm(i))) for i in range(k)]),
    )
    return df.withColumn(dest, sig)


def minhash_band_buckets(
    frame: DataFrame,
    id_col: str,
    column_name: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, key) MinHash band buckets: the one band table behind
    :func:`minhash_lsh_pairs`, :func:`dedupe_against` and
    :func:`streaming_dedupe_near`.  Signatures depend only on the text,
    so write this once per corpus increment and probe it forever: the
    incremental-dedup cost becomes O(new batch), not O(corpus
    re-tokenized per batch).  Reads ``frame`` once."""
    if k < 1 or bands < 1:
        raise ValueError("k and bands must be >= 1")
    if k % bands:
        raise ValueError("k must be divisible by bands")
    r = k // bands
    # Physical shape: explode shingles -> hash-aggregate the k mins.
    # One expression tree per row would inline the whole shingle+md5
    # pipeline into every band column AND both join sides (k*bands*2
    # re-evaluations, and past ~64KB the codegen bails to interpreted
    # mode).  The explode/agg computes each md5 exactly once, map-side
    # combines, and shuffles only (id, k hashes) per doc.  Docs with no
    # shingles vanish at the explode (they can never pair).
    shingled = frame.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(column_name), shingle_n)).alias("__s"),
    )
    sig = shingled.groupBy(id_col).agg(
        *[F.min(_perm(i)(F.col("__s"))).alias(f"__m{i}") for i in range(k)]
    )
    band_cols = [
        F.concat_ws("|", *[F.col(f"__m{b * r + j}") for j in range(r)]).alias(
            f"__band_{b}"
        )
        for b in range(bands)
    ]
    keyed = sig.select(F.col(id_col), *band_cols)
    return _band_table(keyed, F.col(id_col), [F.col(f"__band_{b}") for b in range(bands)])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    column_name: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    mode: str = "all",
) -> DataFrame:
    """Candidate near-dup pairs (id_1 < id_2) sharing ≥1 LSH band.

    signature[k] → ``bands`` bands of k/bands rows
    (:func:`minhash_band_buckets`); each (band, key) bucket emits its
    pairs in-task (:func:`_bucket_pairs`), then distinct: the pairs of
    a self-join of that table on (band, key).

    ``mode='all'`` (default) emits every in-bucket pair — the candidate
    set a verification stage (exact Jaccard) must see.  ``mode='star'``
    emits each bucket's MIN id paired with every other member: O(bucket)
    edges instead of C(bucket, 2) with IDENTICAL connected components —
    the right shape when the pairs only feed ``near_dup_clusters`` /
    ``dedupe_near`` (a 1e6-doc exact-dup bucket drops from 5e11 emitted
    pairs to 1e6 edges)."""
    if mode not in ("all", "star"):
        raise ValueError(f"mode must be 'all' or 'star', got {mode!r}")
    buckets = minhash_band_buckets(
        df, id_col, column_name, k=k, bands=bands, shingle_n=shingle_n
    )
    emit = _emit_star if mode == "star" else _emit_pairs
    return _bucket_pairs(buckets, id_col, emit).select("id_1", "id_2").distinct()


def simhash(
    df: DataFrame,
    column_name: str,
    bits: int = 64,
    dest: str = "simhash",
) -> DataFrame:
    """SimHash fingerprint: per-token md5 bit votes, sign-aggregated.

    bit b of token t = nibble ``md5(t)[b div 4]`` >> (b mod 4) & 1;
    fingerprint bit = 1 iff Σ(2·bit−1) > 0.  One ``aggregate`` pass over
    the token array accumulates all bit votes at once.  ``bits`` ≤ 126
    (fingerprint is decimal(38,0); ≤62 narrows to bigint)."""
    if not 1 <= bits <= 126:
        # 2^126 ~ 8.5e37 is the largest power of two inside decimal(38,0);
        # bits=0 would build a DESCENDING sequence(0,-1) and vote wrong bits
        raise ValueError("bits must be in [1, 126] (decimal(38,0) fingerprint)")
    toks = F.array_distinct(F.split(F.trim(F.col(column_name)), r"\s+"))
    digests = F.transform(toks, F.md5)
    # ONE pass over the tokens: each digest contributes a ±1 vote vector
    # for all bits at once (zip_with accumulator).  A per-bit aggregate()
    # would traverse the array `bits` times and blow the expression past
    # the codegen size limit (interpreted mode, ~30x slower).
    #
    # Bit extraction parses the digest in 12-hex-char chunks (48 bits, a
    # long is safe up to 14) — ONE conv per chunk, each bit then a
    # constant-shift `(chunk >> s) & 1` — instead of a conv(substring)
    # per bit: identical bits (nibble b//4 at weight 2^(b%4), big-endian
    # within the chunk), ~bits/12 of the string-parse work per token.
    n_nib = (bits + 3) // 4
    chunk_bounds = [(s, min(12, n_nib - s)) for s in range(0, n_nib, 12)]

    def tok_votes(d):
        def with_chunks(vals):
            def vote(b):
                c = (b // 4) // 12
                j = (b // 4) - 12 * c
                width = chunk_bounds[c][1]
                s = 4 * (width - 1 - j) + (b % 4)
                bit = F.shiftright(F.element_at(vals, c + 1), s).bitwiseAND(
                    F.lit(1)
                )
                return (bit * 2 - 1).cast("long")

            return F.array(*[vote(b) for b in range(bits)])

        chunks = F.array(
            *[
                F.conv(F.substring(d, start + 1, width), 16, 10).cast("long")
                for start, width in chunk_bounds
            ]
        )
        return let(chunks, with_chunks)

    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    votes = F.aggregate(
        digests, zero, lambda acc, d: F.zip_with(acc, tok_votes(d), lambda a, v: a + v)
    )
    # exact power-of-two literals via decimal strings (2^127 < 1e38)
    powers = F.array(*[F.lit(str(2**b)).cast("decimal(38,0)") for b in range(bits)])
    zero_dec = F.lit(0).cast("decimal(38,0)")
    fp = F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(zero_dec)),
        zero_dec,
        lambda acc, x: acc + x,
    )
    if bits <= 62:
        fp = fp.cast("long")
    return df.withColumn(dest, fp)


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    column_name: str,
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance — the
    fingerprint-based dedup of Manku et al. (WWW 2007), public
    literature: pairs whose ``bits``-bit SimHash fingerprints differ in
    at most ``max_hamming`` bit positions.

    Candidates come from the same LSH bucket engine as
    :func:`minhash_lsh_pairs`: the fingerprint splits into ``bands``
    equal chunks, each (band, chunk value) is a bucket of the one band
    table (:func:`_band_table`), and one shuffle on the bucket key
    collects each bucket's (id, fingerprint) elements and emits their
    pairs in-task (:func:`_bucket_pairs`).  The plan reads the
    fingerprint once; rows with a null fingerprint (null text) never
    form a bucket.

    EXACT recall by pigeonhole: a pair within ``max_hamming <= bands -
    1`` flips fewer bits than there are chunks, so at least one chunk
    matches exactly and the pair shares that chunk's bucket (enforced:
    ``bands > max_hamming``).  A pair sharing several chunks is kept
    only from its first matching band, so no ``distinct`` is needed,
    and the Hamming verify is a JVM-side ``bit_count(xor)`` over the
    two fingerprints on the pair row.  Candidate volume is Σ bucket²,
    never all-pairs.  Runs no Spark job at call time.

    Returns (id_1, id_2, hamming) with id_1 < id_2, one row per pair of
    input rows (a repeated id pairs per row; equal ids never pair).
    """
    if bits > 62:
        raise ValueError("bits must be <= 62 (bigint fingerprint for xor)")
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for exact pigeonhole recall"
        )
    if bits % bands:
        raise ValueError("bits must be divisible by bands")
    width = bits // bands

    def chunk(c, j):
        return F.shiftright(c, j * width).bitwiseAND(F.lit((1 << width) - 1))

    fp = simhash(df.select(id_col, column_name), column_name, bits=bits, dest="__sh")
    sh = F.col("__sh")
    element = F.struct(F.col(id_col).alias("id"), sh.alias("fp")).alias("__el")
    table = _band_table(fp, element, [chunk(sh, j) for j in range(bands)])
    pairs = _bucket_pairs(table, "__el", _emit_pairs)
    a, b = F.col("id_1"), F.col("id_2")
    xor = a["fp"].bitwiseXOR(b["fp"])
    # a pair agreeing on SEVERAL chunks is emitted by each of those
    # bands' buckets; keep only the row whose band is the pair's FIRST
    # matching chunk (chunk j matches iff the xor's j-th chunk is zero)
    first_band = None
    for j in range(bands):
        chunk_zero = chunk(xor, j) == 0
        first_band = (
            F.when(chunk_zero, F.lit(j))
            if first_band is None
            else first_band.when(chunk_zero, F.lit(j))
        )
    return (
        pairs.filter((a["id"] < b["id"]) & (F.col("band") == first_band))
        .select(
            a["id"].alias("id_1"),
            b["id"].alias("id_2"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    column_name: str,
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = 10_000,
    shingle_sample: float | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_1 < id_2, jaccard ≥
    threshold).

    |A∩B| by bucketing on the shingle: ONE shuffle keyed on the shingle
    string, each shingle's doc-id list collected sorted in-task, pairs
    emitted and counted (vs. a self-join, which computes and shuffles
    the shingle table twice).  |A∪B| = |A|+|B|−|A∩B| with |A| the
    number of buckets that hold the doc.  The buckets are pinned, so
    both counts read one run of the shingle table, and the call runs
    that pin's shuffle stage as a Spark job (adaptive query execution,
    see :func:`~pyjanitor_spark.utils.pin.pin`), with or without the
    ``max_doc_freq`` cap.  With ``candidates`` (e.g. LSH output:
    columns id_1, id_2) the pair stream is semi-filtered first — the production shape at corpus
    scale, where a stop-shingle's quadratic bucket would otherwise
    dominate (exact all-pairs Jaccard is inherently Σ bucket²).

    ``max_doc_freq`` is the 100 TB guard for the remaining hazard the
    candidates path can't remove: pair emission is chunked
    (:func:`_emit_pairs` — no single row ever holds C(bucket, 2)
    structs), but the pair STREAM is still quadratic in the bucket —
    one shingle shared by 1e6 docs is 5e11 pair rows of generate +
    semi-join work flowing out of ONE task.  Shingles whose document
    frequency exceeds the cap are dropped from BOTH the intersection
    stream and the per-doc set sizes, giving exact Jaccard over the
    non-stop shingle space (the standard stop-shingle cut —
    self-consistent, layout-stable, and the dropped shingles are
    precisely the least discriminating ones).  The cap is ON BY DEFAULT
    (``10_000``: worst single-bucket pair stream C(10k, 2) ≈ 5e7 rows,
    bounded regardless of corpus size); pass ``None`` to opt out into
    fully exact all-shingle semantics when the corpus is known to have
    no stop shingles — the scale hazard is then yours.  ``None`` only
    drops the cap filter: the uncapped call takes the same bucket path.

    ``shingle_sample=p`` (opt-in ESTIMATOR, exact mode stays default)
    keeps a shingle iff ``md5(shingle) < p`` on the hash's [0, 1)
    range — deterministic mod-hash sampling of the SHINGLE SPACE
    (Broder's sketch family), NOT per-row coin flips: a kept shingle
    is kept in every document, so sampled sets stay intersection-
    consistent and ``jaccard`` is computed self-consistently over the
    sampled space (sizes and intersections both).  Conditional on the
    sampled union size, each kept union shingle lands in the
    intersection i.i.d. with probability J, so the estimate is
    unbiased with Chernoff concentration: for a pair with true
    Jaccard J and union size u,

        P(|Ĵ − J| > δ) ≤ 2·exp(−2·δ²·p·u)

    i.e. recall of pairs with J ≥ threshold + δ is at least
    1 − exp(−2·δ²·p·u) — at p=0.1, δ=0.1, a 500-shingle union misses
    with probability < e⁻¹ = 0.37; 5000-shingle unions < e⁻¹⁰.  Lower
    ``threshold`` by your δ to trade precision for recall.  COST is
    the point at scale: every downstream volume — the exploded
    shingle table, the buckets, and the quadratic per-bucket pair
    stream the exact mode's sf1 sweep flag tracks — shrinks by ×p,
    while output PAIRS (the true positives) are unaffected.
    Layout-stable (hash-keyed, no RNG) and oracle-reproducible.
    Composes with ``max_doc_freq`` (cap applies to sampled buckets)
    and ``candidates``."""
    if shingle_n < 1:
        raise ValueError("shingle_n must be >= 1")
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1] (Jaccard range)")
    if max_doc_freq is not None and max_doc_freq < 2:
        raise ValueError("max_doc_freq must be >= 2 (pairs need 2 docs)")
    if shingle_sample is not None and not 0.0 < shingle_sample <= 1.0:
        raise ValueError("shingle_sample must be in (0, 1]")
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(column_name), shingle_n)).alias("s")
    )
    if shingle_sample is not None and shingle_sample < 1.0:
        # first 8 md5 nibbles as a uniform 32-bit integer — the same
        # expression DuckDB can evaluate, so the sampled space is
        # oracle-reproducible bit-for-bit
        cut = int(round(shingle_sample * 4294967296))
        sh = sh.filter(
            F.conv(F.substring(F.md5(F.col("s")), 1, 8), 16, 10).cast("long")
            < F.lit(cut)
        )
    # one shuffle into buckets, capped BEFORE pair emission; sizes
    # re-derived from the kept buckets (2nd shuffle) so |A| and |A∩B|
    # live in the same space (word_shingles is distinct per doc, so a
    # doc's bucket count is its shingle-set size).  PINNED so the
    # shingle explode + collect_list aggregate runs once for both
    # consumers.  The pinned LogicalRDD carries the subtree's size
    # estimate, and the `merge` hint below pins sort-merge for the
    # pair-side joins, so the (huge) pair aggregation is never
    # broadcast to the driver.
    buckets = sh.groupBy("s").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("__ids")
    )
    if max_doc_freq is not None:
        buckets = buckets.filter(F.size("__ids") <= max_doc_freq)
    buckets = pin(buckets)
    sizes = (
        buckets.select(F.explode("__ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bucketed = buckets.filter(F.size("__ids") > 1)
    # chunked emission (O(bucket) per row, not O(bucket²)): belt and
    # braces under the doc-freq cap, the whole story without it
    pair_stream = _emit_pairs(bucketed)
    if candidates is not None:
        # semi-filter BEFORE the pair-count aggregation: the quadratic
        # stop-shingle pair stream is dropped ahead of the shuffle (AQE
        # broadcasts the candidate list when small, so the stream never
        # shuffles at all on the common LSH-verification path)
        pair_stream = pair_stream.join(
            candidates.select("id_1", "id_2"), on=["id_1", "id_2"], how="left_semi"
        )
    inter = pair_stream.groupBy("id_1", "id_2").agg(F.count(F.lit(1)).alias("inter"))
    sa = sizes.select(F.col(id_col).alias("id_1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col(id_col).alias("id_2"), F.col("n").alias("n2"))
    # merge hint: Catalyst's STATIC size estimate of the pair aggregate
    # is bogus-small on the capped branch (generate+aggregate estimation
    # after the bucket filter), so without the hint it plans a BROADCAST
    # of the quadratic inter side and OOMs the driver (r10 sf1 check).
    # The hint pins sort-merge statically; AQE still demotes to a
    # broadcast of the genuinely-small side at runtime from REAL sizes —
    # the correct plan at every scale (sizes is one row per doc: not
    # broadcastable at 1e9 docs, so a static broadcast(sa) would be the
    # opposite mistake).
    out = (
        inter.hint("merge")
        .join(sa, "id_1")
        .join(sb, "id_2")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )
    return out


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns — ``zip_with`` dot
    product and ``aggregate`` norms, all JVM-side.  A zero-norm side
    (e.g. the zero TF-IDF vector of an empty document) yields 0.0, not a
    divide-by-zero: under ANSI mode one empty doc in a 100 TB corpus
    must not kill the whole job.  A side with a NaN or infinite
    component also yields 0.0, as in the blocked pair kernel
    (``utils/vecmat.py``): Spark orders NaN above every value, so a
    bare ``norm > 0`` test would let ``NaN`` scores through."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    inf = F.lit(float("inf"))
    finite = (na > 0) & (na < inf) & (nb > 0) & (nb < inf)
    return F.when(finite, dot / (na * nb)).otherwise(F.lit(0.0))


# split='auto' pair-work budget of one sub-task, (rows/m)²·dim
# multiply-adds (~1 s of BLAS); embedding_near_dup sizes each block's
# split factor m from it, semdedup its straggler rule
_AUTO_SPLIT_FLOPS = 2_000_000_000


def _is_auto_split(split) -> bool:
    """``split='auto'`` → True, ``split=1`` → False; anything else
    raises."""
    if split not in (1, "auto"):
        raise ValueError(f"split must be 1 or 'auto', got {split!r}")
    return split == "auto"


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_col: str | None = None,
    auto_block_planes: int | None = None,
    auto_block_bands: int = 4,
    dim: int | None = None,
    allow_cross_join: bool = False,
    max_block_cells: int | None = 200_000_000,
    split: int | str = 1,
    auto_split_cells: int = 25_000_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_1 < id_2, cos ≥
    threshold).

    With ``block_col`` (cluster id / LSH bucket) pairs are scored
    within each block — cost Σ block² instead of n².  Without a
    natural block column, pass ``auto_block_planes`` (+ ``dim``, the
    vector length) to block on banded random-hyperplane LSH:
    ``auto_block_bands`` independent ``planes``-bit sign buckets, a pair
    is compared if it collides in ANY band.  Per-plane agreement p =
    1 - arccos(cos)/π, so recall ≈ 1-(1-p^planes)^bands — ~0.985 at
    cos 0.95 with the 4×4 default — while each band shuffles only a
    short bit-string key.

    Unblocked scoring is O(n²) and never taken silently: with no
    ``block_col`` and no ``auto_block_planes``, a provided ``dim``
    auto-enables 8-plane banded blocking, and otherwise the call raises
    unless ``allow_cross_join=True`` (exact brute force — small frames
    only), which scores every row in one block.

    Every block is scored by one Arrow task running the blocked BLAS
    kernel :func:`~pyjanitor_spark.utils.vecmat.cosine_pairs`
    (``dot/(n1·n2)``, zero-norm sides score 0.0), brute force included.
    ``max_block_cells`` bounds the per-task embedding matrix at
    rows × dim float64 CELLS (default 2e8 ≈ 1.6 GB) — a row-count cap
    alone under-gates high-dim embeddings (100k rows × 3072 dims is
    2.5 GB before any score block).  A violating block aborts the job
    naming the block; split it (finer ``block_col`` / more planes,
    ``split='auto'``) or raise the cap explicitly.  Degenerate
    vectors — null, ragged length, or containing non-finite
    components — score 0.0 against everything and so never pair (in
    particular a NaN component does NOT ride Spark's NaN-is-largest
    comparison into the output).  Two rows sharing one id value never
    emit a self-pair, and a row with a null id never pairs.

    ``split`` is ``1`` (default: one task per block) or ``'auto'``, the
    HOT-BLOCK straggler fix: one giant block (a boilerplate cluster,
    or the one brute-force block) otherwise runs as ONE Arrow task
    while every other core idles.  ``'auto'`` sizes a split factor
    ``m`` PER BLOCK from the data: one window over the block key (a
    shuffle the pair stage pays anyway) measures each block's rows
    and dim, and ``m`` covers BOTH straggler causes:

    * memory — ``ceil(rows·dim / auto_split_cells)`` keeps each
      sub-block's matrix under ``auto_split_cells`` float64 cells
      (default 2.5e7 ≈ 200 MB; a task holds at most two sub-blocks);
    * compute — ``ceil(rows·sqrt(dim / 2e9))`` keeps each sub-task's
      pair work ``(rows/m)²·dim`` under 2e9 multiply-adds (≈ a ~1 s
      BLAS task): a 20k-row 64-dim cluster is only 1.3M cells but
      2.6e10 pair-flops — a half-minute single task while every other
      core idles, the shape the memory rule alone cannot see.

    Triangle partitioning then shards the block's pair space into
    ``m·(m+1)/2`` independent sub-tasks — row r lands in deterministic
    sub-block ``xxhash64(id) mod m``, and task (i, j) scores sub-block
    i against sub-block j (diagonal tasks score their own triangle) —
    every pair lands in exactly ONE task, so the output is identical
    to ``split=1``.  Cold blocks keep ``m=1`` (a single diagonal task)
    while the hot block fans out exactly as far as it needs.  The
    factor is capped at 256: a block still oversized at 256-way split
    trips the ``max_block_cells`` per-sub-task gate with a message
    naming it — at that size the quadratic pair cost itself is the
    problem, not task memory.  Shuffle volume within a block grows ×m
    (each row is replicated to every sub-task touching its
    sub-block) — inherent to exact all-pairs scoring, and still
    Σ block²-bounded."""
    auto_split = _is_auto_split(split)
    if auto_split and int(auto_split_cells) < 1:
        raise ValueError("auto_split_cells must be >= 1")
    dedup_pairs = False
    if block_col is None and not auto_block_planes:
        if allow_cross_join:
            # exact brute force: every row in one block
            df = df.withColumn("__edb_bkt", F.lit(0))
            block_col = "__edb_bkt"
        elif dim is not None:
            auto_block_planes = 8
        else:
            raise ValueError(
                "embedding_near_dup without block_col/auto_block_planes is an "
                "O(n^2) cross join; pass dim= to auto-enable hyperplane "
                "blocking, or allow_cross_join=True for exact brute force"
            )
    if block_col is None:
        if dim is None:
            raise ValueError("auto_block_planes requires dim (vector length)")
        from pyjanitor_spark.operators.similarity import hyperplane_bucket

        vec = F.col(vec_col).cast("array<double>")
        df = df.withColumn(
            "__edb_bkt",
            F.explode(
                F.array(
                    *[
                        F.concat(
                            F.lit(f"{b}:"),
                            hyperplane_bucket(
                                vec, dim, auto_block_planes, seed=f"edb{b}"
                            ),
                        )
                        for b in range(auto_block_bands)
                    ]
                )
            ),
        )
        block_col = "__edb_bkt"
        dedup_pairs = True  # a pair can collide in several bands
    slim = df.select(F.col(id_col), F.col(vec_col), F.col(block_col)).filter(
        F.col(id_col).isNotNull()
    )
    # one Arrow task per block (or split sub-task) computes the pair
    # work as BLOCKED matrix products instead of an equi-join whose
    # zip_with/aggregate cosine is CodegenFallback — interpreted once
    # per PAIR.  Only the verified (id_1, id_2, cos) pairs leave the
    # task; utils/vecmat.py loads the block (the vector column's flat
    # Arrow buffer as the (n, dim) matrix, degenerate rows zero-filled,
    # the cells gate) and runs the pair loop, whose score-matrix row
    # block is capped at ~32 MB so task memory is
    # O(block·dim + rowblock·block).
    thr = float(threshold)
    cells_cap = None if max_block_cells is None else int(max_block_cells)
    id_t = df.schema[id_col].dataType.simpleString()
    vname, iname, bname = vec_col, id_col, block_col

    def _pairs(key, tbl):
        # one task scores a whole block, or — split path — the
        # triangle-partitioned sub-task key = (block, ti, tj):
        # diagonal (ti == tj) the upper triangle over sub-block ti's
        # rows, off-diagonal the full cross product ti × tj.  Every
        # (a, b) pair lands in exactly one task — (sb_a, sb_b)
        # sorted — so no downstream dedup is needed beyond the
        # banded-collision groupBy below.
        import numpy as np
        import pyarrow as pa

        from pyjanitor_spark.utils.vecmat import block_matrix, cosine_pairs

        what = (
            f"embedding_near_dup: sub-task {key!r}"
            if auto_split
            else f"embedding_near_dup: block {key[0]!r}"
        )
        ids_arr, V = block_matrix(
            tbl, iname, vname, cells_cap, "max_block_cells", what
        )
        empty = pa.table(
            {
                "id_1": ids_arr.slice(0, 0),
                "id_2": ids_arr.slice(0, 0),
                "cos": pa.array([], type=pa.float64()),
            }
        )
        if V is None:
            return empty
        ia = ib = None
        if auto_split:
            # applyInArrow hands grouping keys as pyarrow scalars
            ti, tj = (
                int(k.as_py() if hasattr(k, "as_py") else k) for k in key[-2:]
            )
            sb_np = np.asarray(tbl.column("__sb"))
            ia = np.flatnonzero(sb_np == ti)
            if ti != tj:
                ib = np.flatnonzero(sb_np == tj)
        ids_np = ids_arr.to_numpy(zero_copy_only=False)
        out_i, out_j, out_c = [], [], []
        for i, j, cos in cosine_pairs(V, thr, ia, ib):
            # rows sharing an id value never self-pair
            keep = ids_np[i] != ids_np[j]
            i, j = i[keep], j[keep]
            if len(i):
                swap = ids_np[i] > ids_np[j]  # pair labeled id_1 < id_2
                out_i.append(np.where(swap, j, i))
                out_j.append(np.where(swap, i, j))
                out_c.append(cos[keep])
        if not out_i:
            return empty
        i1 = pa.array(np.concatenate(out_i), type=pa.int64())
        i2 = pa.array(np.concatenate(out_j), type=pa.int64())
        return pa.table(
            {
                "id_1": ids_arr.take(i1),
                "id_2": ids_arr.take(i2),
                "cos": pa.array(np.concatenate(out_c), type=pa.float64()),
            }
        )

    schema = f"id_1 {id_t}, id_2 {id_t}, cos double"
    if auto_split:
        # deterministic sub-block from the id; a row fans out to every
        # task touching its sub-block (m rows per input row), so
        # shuffle volume is ×m while per-task memory drops ÷(m/2) —
        # the straggler trade, made explicit.  m is sized PER BLOCK
        # with one window over the block key (the same key the pair
        # stage shuffles on anyway), capped at 256 — cold blocks stay
        # m=1 (single diagonal task, same math as the unsplit path).
        # The cap is safe: a block still oversized at 256-way split
        # trips the per-sub-task cells gate with a message naming it.
        wb = Window.partitionBy(bname)
        blk_rows = F.count(F.lit(1)).over(wb)
        blk_cells = blk_rows * F.coalesce(
            F.max(F.size(F.col(vname))).over(wb).cast("long"), F.lit(1)
        )
        # memory rule: sub-block matrix <= auto_split_cells; compute
        # rule: sub-task pair work (rows/m)^2*dim <= _AUTO_SPLIT_FLOPS
        #   =>  m >= rows*sqrt(dim/flops) = sqrt(cells*rows/flops)
        # (double math: cells*rows overflows long at ~1e9 rows)
        m_mem = F.ceil(blk_cells / F.lit(float(int(auto_split_cells)))).cast("int")
        m_flops = F.ceil(
            F.sqrt(
                blk_cells.cast("double")
                * blk_rows.cast("double")
                / F.lit(float(_AUTO_SPLIT_FLOPS))
            )
        ).cast("int")
        pre = slim.withColumn(
            "__m", F.least(F.lit(256), F.greatest(F.lit(1), m_mem, m_flops))
        ).withColumn(
            "__sb",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__m").cast("bigint")).cast(
                "int"
            ),
        )
        # tasks touching sub-block sb: (i, sb) for i ≤ sb plus (sb, j)
        # for j > sb — exactly the i ≤ j triangle rows/cols through
        # sb, built per-row so m can vary per block
        lower = F.transform(
            F.sequence(F.lit(0), F.col("__sb")),
            lambda i: F.struct(i.alias("i"), F.col("__sb").alias("j")),
        )
        upper = F.when(
            F.col("__sb") < F.col("__m") - 1,
            F.transform(
                F.sequence(F.col("__sb") + 1, F.col("__m") - 1),
                lambda j: F.struct(F.col("__sb").alias("i"), j.alias("j")),
            ),
        ).otherwise(F.slice(lower, 1, 0))
        fanned = pre.withColumn("__t", F.explode(F.concat(lower, upper))).select(
            F.col(iname),
            F.col(vname),
            F.col(bname),
            F.col("__sb"),
            F.col("__t.i").alias("__ti"),
            F.col("__t.j").alias("__tj"),
        )
        # explicit numPartitions on the group key: sub-tasks are
        # CPU-heavy but byte-small ((rows/m)·dim floats), so AQE's
        # byte-based coalescing would glue the hot block's sub-tasks
        # back into one task, re-creating the straggler the split
        # exists to kill (measured: 12 vs 30 tasks, 1.6× wall).  A
        # user-specified repartition is exempt from AQE coalescing;
        # 4× parallelism over-partitioning keeps two heavy sub-tasks
        # from hashing into the same partition with high probability,
        # and the groupBy below reuses this exact hash partitioning
        # (no second exchange).
        sess = df.sparkSession
        n_part = 4 * max(
            sess.sparkContext.defaultParallelism,
            int(sess.conf.get("spark.sql.shuffle.partitions", "200")),
        )
        fanned = fanned.repartition(n_part, bname, "__ti", "__tj")
        out = fanned.groupBy(bname, "__ti", "__tj").applyInArrow(_pairs, schema)
    else:
        out = slim.groupBy(bname).applyInArrow(_pairs, schema)
    if dedup_pairs:
        # a pair colliding in several bands is scored once per band
        # by independent BLAS blocks; dedup on the PAIR KEY only —
        # distinct() over the float cos would keep both copies on
        # any ulp difference between bands
        out = out.groupBy("id_1", "id_2").agg(F.max("cos").alias("cos"))
    return out


def component_labels(n: int, edge_blocks):
    """Connected components of nodes ``0..n-1``: returns ``lab`` with
    ``lab[x]`` = the MIN node reachable from ``x``.  ``edge_blocks``
    yields ``(u, v)`` int64 index-array pairs and is consumed one block
    at a time, so memory is O(n + block), never O(edges).

    The package's one in-memory labeller: :func:`near_dup_clusters`'
    small-graph path and :func:`~pyjanitor_spark.operators.similarity.
    semdedup`'s per-cluster task both call it, numbering their nodes in
    id order so the min node is the min id.  Vectorized union-find:
    labels are parent pointers kept fully shortcut (``lab[lab] ==
    lab``); per edge batch, roots hook via scatter-min, then
    pointer-jump to the fixpoint.  Roots only merge, and only under a
    smaller root, so per-block fixpoints compose into the global
    components and each root is its component's minimum.
    """
    import numpy as np

    lab = np.arange(n, dtype=np.int64)
    for u, v in edge_blocks:
        while True:
            lu, lv = lab[u], lab[v]
            if np.array_equal(lu, lv):
                break
            m = np.minimum(lu, lv)
            np.minimum.at(lab, lu, m)
            np.minimum.at(lab, lv, m)
            while True:
                nl = lab[lab]
                if np.array_equal(nl, lab):
                    break
                lab = nl
    return lab


def near_dup_clusters(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_col: str = "doc_id",
    dest: str = "cluster_id",
    max_iter: int = 20,
    small_graph_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over near-dup ``pairs`` (columns id_1,
    id_2): every id gets ``dest`` = the MIN id reachable through the
    pair graph — the canonical representative of its duplicate cluster.

    Adaptive execution, the same idea as Spark's own broadcast-join
    threshold: the normalized distinct edge set is pinned and probed
    once with a BOUNDED collect of at most ``small_graph_edges + 1``
    rows (:func:`~pyjanitor_spark.utils.pin.probe`).  The number of
    rows returned picks the path: at or below ``small_graph_edges``
    (default 1M edges ≈ tens of MB of id pairs) the returned rows ARE
    the edge set, and the components are solved on the driver — the
    ids are factorized with ``np.unique`` (index order == id order)
    and labelled in one :func:`component_labels` call — instead of 3-6
    iterative contraction rounds of multi-stage shuffle jobs whose
    per-job scheduling overhead dwarfs the data at this size.  The
    labels come back as a driver-built ``LocalRelation``
    (:func:`~pyjanitor_spark.utils.local.local_frame`), so every later
    read takes them from the plan and starts no Python worker.  Above
    the cap — the 100 TB regime, where LSH over a replicated corpus can
    emit billions of candidate edges — the distributed alternating star
    contraction below engages; tests pin ``small_graph_edges=0`` to
    exercise it at any size.  Both paths produce the identical
    min-reachable-id labeling.

    Alternating star contraction (the two-phase algorithm of Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond" —
    public literature; the production MapReduce CC algorithm).  Each
    round rewires the edge set toward a union of stars rooted at each
    component's minimum id:

    * large-star: per node u, every STRICTLY LARGER neighbor is
      re-pointed at ``min(Γ(u) ∪ {u})``;
    * small-star: per node u (edges keyed on the larger endpoint),
      every smaller-or-self member is re-pointed at ``min(Γ⁻(u) ∪
      {u})``.

    Both are one groupBy + one join on id keys; convergence is proven
    in O(log² n) rounds and is 3-6 rounds in practice EVEN FOR
    LONG-CHAIN graphs — unlike naive min-label propagation, whose
    round count grows with graph DIAMETER (a 600-node proximity chain
    needs 20+ propagation rounds; this implementation previously
    capped at ``max_iter`` and could return a non-converged labeling
    silently — r12 fuzz finding).  The fixed point is detected by an
    EXACT structural test run BEFORE each contraction: the edge set is
    final iff it is a union of proper stars — every child has exactly
    one parent and no parent reappears as a child (proper stars are
    fixed by inspection; a multi-parent child or a parent-as-child is
    re-pointed by the next large/small step, so no other fixed point
    exists).  That test is one groupBy over skinny id rows — it
    replaces the r12 edge-checksum comparison, which both needed a
    trailing no-op contraction round to observe the fixed point
    (~⅓ of total cost on the common 2-3-round graphs) and carried a
    2⁻⁶⁴ silent-collision window; the structural test has neither.
    It also runs before round 1, so already-star-shaped inputs (LSH
    star-mode pairs on non-overlapping buckets) do ZERO contraction
    rounds.  Exhausting ``max_iter`` (default 20 ≈ graphs beyond any
    physical corpus) RAISES rather than returning wrong labels.

    ``nodes`` (a frame with ``id_col``) adds unpaired ids as singleton
    clusters (``dest`` = own id).  Degenerate self-pairs (id_1 ==
    id_2) likewise label their id as a singleton root even without
    ``nodes`` (they carry no connectivity, but the id was present in
    ``pairs`` and must not vanish from the labeling — ADVICE r12).
    A pair whose ids are both null names no id and is dropped; a
    half-null pair normalizes to a self-pair of its non-null id.

    The call runs Spark jobs: the probe's one bounded ``collect`` (above
    the cap its ``small_graph_edges + 1`` rows are dropped) and, on the
    distributed path, one ``isEmpty`` fixed-point test per round.  Under
    AQE the edge-set pin and each round's pin also run their upstream
    shuffle stages when taken (see :func:`~pyjanitor_spark.utils.pin.pin`).
    Pins are durable when ``SparkContext.setCheckpointDir`` is set and
    executor-local otherwise.
    """
    # normalize child > parent and pin BEFORE the self-loop filter: ids
    # appearing ONLY in degenerate self-pairs must still be labeled
    # (singleton roots), and splitting selfs/edges off the one
    # materialized frame keeps the (possibly expensive) upstream pair
    # pipeline from being computed twice in the final plan
    norm, rows = probe(
        pairs.select(
            F.greatest("id_1", "id_2").alias("c"),
            F.least("id_1", "id_2").alias("p"),
        ).distinct(),
        lambda f: f.limit(small_graph_edges + 1),
    )
    selfs = norm.filter(F.col("c") == F.col("p")).select(
        F.col("c").alias(id_col)
    )
    edges = norm.filter(F.col("c") != F.col("p"))

    # ---- small-graph fast path: the probe's rows are the edge set --
    if len(rows) <= small_graph_edges:
        import numpy as np

        id_type = norm.schema["c"].dataType
        # greatest() skips nulls, so c is null only for a null-null
        # pair, which names no id (the star path's filters drop it too)
        cp = [x for r in rows if r["c"] is not None for x in r]
        int_ids = isinstance(id_type, T.IntegralType)
        ids, idx = np.unique(
            np.array(cp, dtype=np.int64 if int_ids else object),
            return_inverse=True,
        )
        # index order == id order, so the min-index label IS the min id;
        # a self-pair is just a node with no edge
        lab = component_labels(ids.size, [(idx[0::2], idx[1::2])])
        spark = pairs.sparkSession
        labels_schema = T.StructType(
            [
                T.StructField(id_col, id_type),
                T.StructField(dest, id_type),
            ]
        )
        out = local_frame(
            spark, zip(ids.tolist(), ids[lab].tolist()), labels_schema
        )
        if nodes is not None:
            all_ids = nodes.select(F.col(id_col)).distinct()
            out = all_ids.join(F.broadcast(out), id_col, "left").select(
                F.col(id_col),
                F.coalesce(F.col(dest), F.col(id_col)).alias(dest),
            )
        return out
    # ---- distributed path: alternating star contraction ------------

    def _is_proper_stars(e: DataFrame) -> bool:
        # exact structural fixed-point test (see docstring): no child
        # with >1 parent, no id that is both a child and a parent.
        # One groupBy over 2|E| skinny (id, flag) rows of the pinned
        # edge set; under AQE the pin already ran that set's upstream
        # shuffles when it was taken, so this action runs only its own.
        roles = e.select(
            F.col("c").alias("v"),
            F.lit(1).alias("nc"),
            F.lit(0).alias("np"),
        ).union(
            e.select(
                F.col("p").alias("v"),
                F.lit(0).alias("nc"),
                F.lit(1).alias("np"),
            )
        )
        return (
            roles.groupBy("v")
            .agg(F.sum("nc").alias("nc"), F.max("np").alias("np"))
            .filter(
                (F.col("nc") > 1)
                | ((F.col("nc") > 0) & (F.col("np") > 0))
            )
            .isEmpty()
        )

    for rnd in range(max_iter + 1):
        if _is_proper_stars(edges):
            break
        if rnd == max_iter:
            raise RuntimeError(
                f"near_dup_clusters: star contraction did not converge "
                f"in max_iter={max_iter} rounds — raise max_iter (the "
                f"two-phase algorithm needs O(log^2 n) rounds; 20 "
                f"covers any physical graph, so this likely indicates "
                f"pathological input such as ids mutating between "
                f"actions)"
            )
        # Both star steps attach the per-neighborhood min via a WINDOW
        # over the neighborhood key instead of the r13 groupBy+join:
        # the min rides the ONE shuffle that groups the stream, where
        # the join shape paid that same full-stream shuffle PLUS the
        # aggregate's shuffle and the join itself (2 exchanges + SMJ ->
        # 1 exchange per step, ~1/3 fewer jobs per round).  Values are
        # identical: within a window partition c, least(min(p) over c,
        # c) == least(min(p), first(c)) of the old aggregate; hot-node
        # skew behavior is unchanged (either shape lands a node's whole
        # neighborhood in one task).
        wc = Window.partitionBy("c")
        # ---- large-star: strictly larger neighbors -> neighborhood min
        sym = edges.union(
            edges.select(F.col("p").alias("c"), F.col("c").alias("p"))
        )
        # NO distinct between the star steps (r14): the small-star
        # window min is duplicate-insensitive and the round's trailing
        # distinct already collapses repeats, so a mid-round distinct
        # only re-keyed the SAME stream on (c, p) before the window
        # re-keyed it on c — a full extra exchange per round for zero
        # semantic effect.  Shuffle bytes strictly drop (|E| once vs
        # |E| into the distinct + the deduped stream into the window);
        # measured 2.6-3.6 s -> 1.5-2.3 s for the sf0.1 loop, identical
        # edge sets.
        large = (
            sym.withColumn("m", F.least(F.min("p").over(wc), F.col("c")))
            .filter(F.col("p") > F.col("c"))
            .select(F.col("p").alias("c"), F.col("m").alias("p"))
            .filter(F.col("c") != F.col("p"))
        )
        # ---- small-star: smaller-or-self members -> min of Γ⁻(u)∪{u}
        # emit (p -> m) per edge plus (c -> m) once per c via a 2-wide
        # explode; the trailing distinct collapses the per-edge (c, m)
        # repeats, so the SET equals the old smins-join ∪ smins union
        edges = pin(
            large.withColumn("m", F.min("p").over(wc))
            .select(F.explode(F.array("p", "c")).alias("x"), "m")
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("c"), F.col("m").alias("p"))
            .distinct()
        )
    # the break condition IS the union-of-proper-stars assertion the
    # labeling below assumes — no separate post-hoc check needed
    out = edges.select(F.col("c").alias(id_col), F.col("p").alias(dest)).union(
        edges.select(F.col("p").alias(id_col), F.col("p").alias(dest)).distinct()
    )
    # self-pair-only ids become singleton roots (anti-join keeps the
    # branch empty whenever every self-paired id also has real edges)
    out = out.union(
        selfs.join(out.select(id_col), id_col, "left_anti").select(
            F.col(id_col), F.col(id_col).alias(dest)
        )
    )
    if nodes is not None:
        all_ids = nodes.select(F.col(id_col)).distinct()
        out = all_ids.join(out, id_col, "left").select(
            F.col(id_col), F.coalesce(F.col(dest), F.col(id_col)).alias(dest)
        )
    return out


def dedupe_near(
    df: DataFrame,
    id_col: str,
    column_name: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float | None = None,
    max_iter: int = 20,
    keep_by: str | None = None,
) -> DataFrame:
    """End-to-end near-duplicate removal: MinHash-LSH candidate pairs
    (optionally verified with exact n-gram Jaccard ≥
    ``jaccard_threshold``) -> connected components -> keep one row per
    cluster.  The distributed pipeline a 100 TB corpus dedup actually
    runs; every stage shuffles short keys only.

    Which row survives a cluster: by default the MIN-id row (cheap — no
    data-side lookup).  ``keep_by`` names a column to maximize instead
    (e.g. a quality score, or a length column to keep the most complete
    variant); ties fall back to min id.  That path adds one join of the
    cluster table against ``(id, keep_by)`` plus a per-cluster window —
    both keyed on cluster ids, still nothing quadratic.

    Pair emission: without a ``jaccard_threshold`` the LSH pairs feed
    straight into connected components, which needs CONNECTIVITY, not
    all pairs — so the candidate stage runs in ``mode='star'`` (each
    bucket's min id × every member: O(bucket) edges, identical
    components).  With verification every candidate pair must be
    Jaccard-checked, so the all-pairs emitter stays.

    The LSH stage, the Jaccard stage and the final anti-join all read
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``, so an input
    that does not replay identically (a shuffle, join or
    nondeterministic expression upstream) is pinned and its upstream
    runs once.  The call runs Spark jobs: under adaptive query
    execution that pin and the Jaccard stage's bucket pin run their
    upstream shuffle and broadcast stages when taken, and
    :func:`near_dup_clusters` probes the pair graph (one bounded
    ``collect``, which also stores the pinned input; on the
    distributed path one ``isEmpty`` per round).

    On the small-graph path the cluster labels are a driver-built
    ``LocalRelation``: the anti-join and every later read of the output
    (a downstream pin, the sink) take them from the plan, start no
    Python worker, and can broadcast them instead of shuffling the
    text rows."""
    pair_mode = "star" if jaccard_threshold is None else "all"
    df = share(df)
    pairs = minhash_lsh_pairs(
        df, id_col, column_name,
        k=k, bands=bands, shingle_n=shingle_n, mode=pair_mode,
    )
    if jaccard_threshold is not None:
        pairs = ngram_jaccard_pairs(
            df, id_col, column_name,
            shingle_n=shingle_n, threshold=jaccard_threshold, candidates=pairs,
        ).select("id_1", "id_2")
    clusters = near_dup_clusters(pairs, nodes=None, id_col=id_col, max_iter=max_iter)
    if keep_by is None:
        losers = clusters.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    else:
        from pyspark.sql import Window

        scored = clusters.join(df.select(id_col, keep_by), id_col)
        w = Window.partitionBy("cluster_id").orderBy(
            F.col(keep_by).desc(), F.col(id_col).asc()
        )
        losers = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select(id_col)
        )
    return df.join(losers, id_col, "left_anti")


def contamination_score(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    column_name: str,
    benchmark_column: str | None = None,
    shingle_n: int = 8,
    dest: str = "contamination",
) -> DataFrame:
    """Benchmark-contamination score per document: the fraction of the
    document's distinct word ``shingle_n``-grams that appear anywhere
    in ``benchmark`` — the standard n-gram-overlap decontamination
    check (8-gram overlap is the common published heuristic for
    "this training doc quotes an eval set").

    Returns ``(id_col, dest)`` with ``dest`` in [0, 1]; docs shorter
    than ``shingle_n`` tokens score 0.0 (no n-grams to leak).  Filter
    at a threshold (e.g. ``>= 0.05``) or join back for auditing.

    Plan: both sides shingle once; benchmark shingles are md5-hashed
    and DISTINCT (the set is small relative to the corpus — eval sets,
    not training data); matches come from a LEFT SEMI join keyed on the
    16-byte binary md5 shingle key; per-doc totals and matches are two
    counts over the same exploded frame, joined on id.  Nothing
    quadratic, no driver-side membership set.

    The corpus is read three times (totals, match counts and the id
    list the scores join back to), all from
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``: an input that
    does not replay identically is pinned, so its upstream runs once.
    Under adaptive query execution that pin runs the upstream's
    shuffle and broadcast stages when the call is made; a
    replay-stable input runs no job.
    """
    if shingle_n < 1:
        raise ValueError("shingle_n must be >= 1")
    bcol = benchmark_column or column_name
    df = share(df)
    # binary keys (16-byte unhex md5) — the shingle hash is internal, so
    # the hex form just doubled the semi-join bytes
    doc_sh = (
        df.select(
            F.col(id_col),
            F.explode(word_shingles(F.col(column_name), shingle_n)).alias("__s"),
        )
        .withColumn("__h", F.unhex(F.md5(F.col("__s"))))
        .drop("__s")
    )
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(F.col(bcol), shingle_n)).alias("__s")
        )
        .select(F.unhex(F.md5(F.col("__s"))).alias("__h"))
        .distinct()
    )
    totals = doc_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    matched = (
        doc_sh.join(bench_sh, "__h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    scores = totals.join(matched, id_col, "left").select(
        F.col(id_col),
        (F.coalesce(F.col("__m"), F.lit(0)) / F.col("__n")).alias(dest),
    )
    return (
        df.select(id_col)
        .join(scores, id_col, "left")
        .select(id_col, F.coalesce(F.col(dest), F.lit(0.0)).alias(dest))
    )


def dedupe_against(
    df: DataFrame,
    reference: DataFrame | None,
    id_col: str,
    column_name: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    reference_buckets: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dedup: drop rows of ``df`` that near-duplicate
    anything in ``reference`` (e.g. a new crawl batch against the
    already-kept corpus) — rows of ``df`` are never compared with each
    other.

    Both sides run the same MinHash band pipeline; a band-key LEFT SEMI
    join marks collisions, an ANTI join keeps the clean rows.  The only
    shuffle is on (band, key).  Pass ``reference_buckets`` (a persisted
    :func:`minhash_band_buckets` frame; ``reference`` may then be None)
    to skip re-tokenizing the corpus side — built with the same
    k/bands/shingle_n or the probe is meaningless.

    The band table and the anti-join both read
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``.  Call-time
    jobs: that pin's shuffle and broadcast stages when ``df`` does not
    replay identically, else none."""
    if reference_buckets is None:
        if reference is None:
            raise ValueError("need reference or reference_buckets")
        reference_buckets = minhash_band_buckets(
            reference, id_col, column_name, k=k, bands=bands, shingle_n=shingle_n
        )
    df = share(df)
    new_b = minhash_band_buckets(
        df, id_col, column_name, k=k, bands=bands, shingle_n=shingle_n
    )
    hits = new_b.join(
        reference_buckets.select("band", "key"), ["band", "key"], "left_semi"
    ).select(id_col).distinct()
    return df.join(hits, id_col, "left_anti")


def bloom_build(
    reference: DataFrame,
    key_col: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
    shards: int = 1,
) -> DataFrame:
    """Build the Bloom bitmap frame :func:`bloom_dedupe_against` probes
    — one row per shard: (__shard, __bloom array<bigint>, __m, __h,
    __hv).

    PERSIST this (a few MB per 1e6 keys at 1% fpp) and pass it back as
    ``bloom_df=``: the corpus-side pass happens once per corpus
    version, and every subsequent batch pays only the probe.  The
    sizing parameters ride inside the frame, so a stored index can't be
    probed with mismatched m/h; ``__hv`` stamps the BIT-POSITION HASH
    SCHEME (2 = Kirsch–Mitzenmacher halves of one md5) so an index
    persisted under a different scheme fails loudly at probe time
    instead of silently missing true duplicates (positions computed
    under scheme A never line up with bits set under scheme B).

    Call-time jobs: with ``expected_items=None``, one
    :func:`~pyjanitor_spark.utils.pin.probe` counting ``reference``
    (the pin's stages on a replay-unstable input, then a one-row
    ``collect``), the bitmap then reading the probed frame; and the
    bounded ``collect`` of the bitmap words (≤ ``shards`` · m/64
    rows)."""
    import math

    if not 0.0 < fpp < 1.0:
        raise ValueError("fpp must be in (0, 1)")
    if shards < 1:
        raise ValueError("shards must be >= 1")
    if expected_items is None:
        # bounded: one row; the bitmap reads the same run of reference
        reference, (row,) = probe(
            reference, lambda r: r.agg(F.count(F.lit(1)).alias("n"))
        )
        expected_items = row["n"]
    n = max(1, -(-expected_items // shards))  # per-shard expected keys
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    h = max(1, round(m / n * math.log(2)))
    nwords = (m + 63) // 64

    word, bit = _bloom_bit(F.col("__pos"))
    words = (
        _with_bloom_halves(
            reference.select(
                _bloom_shard(F.col(key_col), shards).alias("__shard"),
                F.col(key_col),
            ),
            F.col(key_col),
            m,
        )
        .select(
            "__shard",
            F.explode(
                F.array(*[_bloom_position(i, m) for i in range(h)])
            ).alias("__pos"),
        )
        .select("__shard", word.alias("__w"), bit.alias("__b"))
        .groupBy("__shard", "__w")
        .agg(F.bit_or("__b").alias("__word"))
    )
    bitmaps: dict[int, list[int]] = {s: [0] * nwords for s in range(shards)}
    for row in words.collect():  # bounded: ≤ shards * m/64 rows (documented action)
        bitmaps[row["__shard"]][row["__w"]] = row["__word"]
    return local_frame(
        reference.sparkSession,
        [(s, bm, m, h, _BLOOM_HASH_SCHEME) for s, bm in bitmaps.items()],
        "__shard bigint, __bloom array<bigint>, __m bigint, __h int, __hv int",
    )


# bit-position scheme version stamped into bloom_build frames: 2 =
# Kirsch-Mitzenmacher double hashing over one md5 (r13); the unversioned
# r12-era scheme (h independent md5s) is treated as scheme "None"
_BLOOM_HASH_SCHEME = 2


def _with_bloom_halves(df: DataFrame, key: Column, m: int) -> DataFrame:
    """Attach ``__bf1``/``__bf2`` — the two double-hashing halves of the
    key's SINGLE md5 (Kirsch–Mitzenmacher, public result: ``pos_i =
    (h1 + i*h2) mod m`` preserves the Bloom fpp class).  For long keys
    (document text) the md5 over the key IS the per-row cost, so one
    digest instead of one per probe cuts the hash work h-fold on both
    the build and probe sides.  The halves are the first/last 15 hex
    nibbles (signed-long safe) reduced mod m, so ``h1m + i*h2m <= h*m``
    never overflows for any broadcastable bitmap.  Laid out as CHAINED
    PROJECTIONS (digest column, then half columns): md5/conv are
    non-cheap, so CollapseProject keeps each evaluated once, and the
    whole path stays in whole-stage codegen — a ``let``-bound
    higher-order-function encoding of the same sharing was measured
    SLOWER than h independent md5s because HOF lambdas evaluate
    interpreted (CodegenFallback)."""
    return (
        df.withColumn(
            "__bfd", F.md5(F.concat(F.lit("bf:"), key.cast("string")))
        )
        .withColumns(
            {
                "__bf1": F.pmod(
                    F.conv(F.substring("__bfd", 1, 15), 16, 10).cast("long"),
                    F.lit(m),
                ),
                "__bf2": F.pmod(
                    F.conv(F.substring("__bfd", 17, 15), 16, 10).cast("long"),
                    F.lit(m),
                ),
            }
        )
        .drop("__bfd")
    )


def _bloom_position(i: int, m: int) -> Column:
    """Probe position i from the attached halves (attribute arithmetic —
    cheap, duplicable by the optimizer at no cost)."""
    return F.pmod(F.col("__bf1") + F.lit(i) * F.col("__bf2"), F.lit(m))


def _bloom_shard(key: Column, shards: int) -> Column:
    """The bitmap (shard) a key's bits live in, on both the build and
    the probe side."""
    return F.pmod(F.xxhash64(key.cast("string")), F.lit(shards))


def _bloom_bit(pos: Column) -> tuple[Column, Column]:
    """``(word, bit)`` of bit position ``pos`` in a bitmap of 64-bit
    words: the 0-based word index and the one-bit mask within it, the
    one layout the build side sets and the probe side tests.
    ``F.shiftleft`` takes only a literal bit count on Spark 4.x, so the
    shift is called by its SQL name."""
    return (pos / 64).cast("int"), F.call_function(
        "shiftleft", F.lit(1).cast("bigint"), (pos % 64).cast("int")
    )


def bloom_dedupe_against(
    df: DataFrame,
    reference: DataFrame,
    key_col: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
    exact: bool = True,
    shards: int = 1,
    bloom_df: DataFrame | None = None,
) -> DataFrame:
    """Incremental EXACT dedup at corpus scale: drop rows of ``df`` whose
    ``key_col`` value appears anywhere in ``reference`` (the already-kept
    corpus), without shuffling the clean majority of ``df``.

    A plain ``left_anti`` join shuffles every row of BOTH sides on the
    key.  At 100 TB the new batch is mostly clean, so we build a Bloom
    filter over the reference keys instead (~10 bits/key at 1% fpp —
    40×+ smaller than the keys themselves) and apply it JVM-side:

    1. reference → h md5-derived bit positions per key → bitmap words
       via ``groupBy(word).agg(bit_or)`` (map-side combine; the shuffle
       carries ≤ m/64 rows) → one bounded driver collect (m/8 bytes).
    2. the bitmap rides into ``df``'s scan as a 1-row broadcast (array
       of longs); membership = h ``element_at``/bitwiseAND checks — pure
       codegen'd expressions, no Python in the row path.
    3. rows failing any bit check are DEFINITELY clean and never
       shuffle.  With ``exact=True`` (default) the small bloom-positive
       remainder (true dups + ~fpp false positives) is verified with a
       real anti join, so the result is exactly the anti-join semantics;
       ``exact=False`` skips verification and may drop ~fpp clean rows.

    Beyond ~1e9 reference keys a single bitmap outgrows one broadcast
    row: pass ``shards=k`` to split keys by ``pmod(xxhash64(key), k)``
    into k independent bitmaps, each sized for n/k keys.  Build is still
    ONE pass over the reference (group keys become (shard, word); the
    collect stays ≤ m/64 rows total); the probe joins each row to its
    own shard's bitmap through a broadcast equi-join on the shard id,
    so per-row arrays stay bounded at m/(64k) longs.  For totals beyond
    broadcast memory, run shard groups sequentially (same construction,
    filtered reference; see SCALE.md).

    ``bloom_df`` — a persisted :func:`bloom_build` frame: skips the
    corpus-side build pass entirely (``reference`` is then only needed
    for the ``exact=True`` verify anti-join; ``expected_items``/
    ``fpp``/``shards`` are read from the stored index).

    Both probe branches and the null-key branch read
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``, and with
    ``exact=True`` the bitmap build and the verify anti-join read
    ``share`` of ``reference``.  Call-time jobs: :func:`bloom_build`'s
    when no ``bloom_df`` is given; one
    :func:`~pyjanitor_spark.utils.pin.probe` of the index's meta rows
    (one row per shard); and the ``share`` pins' stages on a
    replay-unstable input.

    No reference analog: pyjanitor's ``drop_duplicates`` world is
    single-frame; this is the training-pipeline "new crawl vs corpus"
    primitive (cf. ``dedupe_against`` for the NEAR-dup variant).
    """
    from functools import reduce as _reduce

    if bloom_df is None:
        if reference is None:
            raise ValueError("need reference or bloom_df")
        if exact:
            # the bitmap and the verify anti-join read one run of it
            reference = share(reference)
        bloom_df = bloom_build(
            reference, key_col, expected_items=expected_items, fpp=fpp, shards=shards
        )
    # hash-scheme gate BEFORE any probe math: a persisted index built
    # under a different bit-position scheme computes different positions
    # for the same key, so true duplicates would fail the candidate
    # checks and be silently routed to "clean" (ADVICE r13) — fail loud
    if "__hv" not in bloom_df.columns:
        raise ValueError(
            "bloom_dedupe_against: this bloom_df carries no __hv hash-"
            "scheme column — it was persisted by a pre-r13 bloom_build "
            "(h independent md5s per key) and cannot be probed by the "
            "current Kirsch-Mitzenmacher prober; rebuild the index with "
            "bloom_build on the current version"
        )
    # bounded: one row per shard; the broadcast bitmaps read the same run
    bloom_df, meta = probe(
        bloom_df, lambda b: b.select("__shard", "__m", "__h", "__hv")
    )
    hv = meta[0]["__hv"]
    if hv != _BLOOM_HASH_SCHEME:
        raise ValueError(
            f"bloom_dedupe_against: stored index hash scheme __hv={hv!r}"
            f" does not match this build's scheme "
            f"{_BLOOM_HASH_SCHEME} — rebuild the index with bloom_build"
        )
    m = int(meta[0]["__m"])
    h = int(meta[0]["__h"])
    shards = len(meta)

    df = share(df)
    # NULL keys are DEFINITELY clean under anti-join semantics (NULL
    # never equals a reference key) — route them around the probe,
    # whose shard equi-join would silently drop them (NULL shard)
    null_keys = df.filter(F.col(key_col).isNull())
    probed = _with_bloom_halves(
        df.filter(F.col(key_col).isNotNull())
        .withColumn("__shard", _bloom_shard(F.col(key_col), shards))
        .join(F.broadcast(bloom_df.select("__shard", "__bloom")), "__shard"),
        F.col(key_col),
        m,
    )

    def bit_set(i: int) -> Column:
        word, bit = _bloom_bit(_bloom_position(i, m))
        return F.element_at(F.col("__bloom"), word + 1).bitwiseAND(bit) != 0

    is_candidate = _reduce(lambda a, b: a & b, [bit_set(i) for i in range(h)])
    aux = ["__shard", "__bloom", "__bf1", "__bf2"]
    clean = probed.filter(~is_candidate).drop(*aux).unionByName(null_keys)
    if not exact:
        return clean
    if reference is None:
        raise ValueError(
            "exact=True needs the reference frame for the verify "
            "anti-join; pass exact=False for a pure stored-index probe"
        )
    survivors = (
        probed.filter(is_candidate)
        .drop(*aux)
        .join(reference.select(key_col), key_col, "left_anti")
    )
    return clean.unionByName(survivors)


def _dup_spans(
    df: DataFrame,
    id_col: str,
    column_name: str,
    k: int,
    min_docs: int,
    pos: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The one duplicated-span table, ``(df, spans, flagged)``.

    ``df`` is :func:`~pyjanitor_spark.utils.pin.share` of the input: a
    caller that joins back to its rows reads that frame, so every read
    sees one run of the upstream.  ``spans`` is the positional word
    ``k``-gram explode of it, ``(id_col, __pos, __h)`` with ``__pos``
    only when ``pos`` and ``__h`` the 16-byte binary md5 span key (the
    span table is the dominant stream, one row per token, and the key
    is most of the row; the 32-char hex form would double the pin,
    both flag-aggregate exchanges and the semi-join bytes).  ``spans``
    is pinned with just those columns, so the explode runs once for
    every consumer.  ``flagged`` is ``(__h, __nd)``: the keys found in
    at least ``min_docs`` distinct documents, ``__nd`` their document
    count, one partial-aggregated shuffle on the key."""
    df = share(df)
    spans = df.select(
        F.col(id_col),
        F.posexplode(word_shingles(F.col(column_name), k, distinct=False)).alias(
            "__pos", "__s"
        ),
    ).select(
        F.col(id_col),
        *(["__pos"] if pos else []),
        F.unhex(F.md5(F.col("__s"))).alias("__h"),
    )
    spans = pin(spans)
    flagged = (
        spans.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
    )
    return df, spans, flagged


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    column_name: str,
    k: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplication detector (the signal behind
    suffix-array training-data dedup, Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): every word ``k``-gram
    span that occurs in at least ``min_docs`` DISTINCT documents,
    reported as ``(id_col, pos, span_hash, n_docs)`` with ``pos`` the
    0-based token position of the span in its document and
    ``span_hash`` the span's lowercase md5 hex.  Within-doc
    repetition does not flag (that is ``repetition_score``'s job) —
    this is the cross-document boilerplate/quotation detector.

    Plan: the pinned span table of :func:`_dup_spans`; flagged keys
    join back to it on the same key.  Nothing quadratic; span keys are
    fixed-width hashes, never text.  Call-time jobs: the ``share``
    pin's stages on an input that does not replay identically, else
    none.
    """
    _, spans, flagged = _dup_spans(df, id_col, column_name, k, min_docs)
    return spans.join(flagged, "__h").select(
        F.col(id_col),
        F.col("__pos").alias("pos"),
        F.lower(F.hex(F.col("__h"))).alias("span_hash"),
        F.col("__nd").alias("n_docs"),
    )


def dup_span_fraction(
    df: DataFrame,
    id_col: str,
    column_name: str,
    k: int = 10,
    min_docs: int = 2,
    dest: str = "dup_fraction",
) -> DataFrame:
    """Per-document fraction of its word ``k``-gram spans that are
    duplicated across >= ``min_docs`` documents — the doc-level score
    form of :func:`duplicated_spans` (filter high fractions as
    boilerplate; RefinedWeb-style curation).  Documents with fewer than
    ``k`` tokens have no spans and score NULL.

    The per-doc totals and duplicate counts come from the pinned span
    table of :func:`_dup_spans` and join back to the same
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``.  Call-time
    jobs: that pin's stages on an input that does not replay
    identically, else none.
    """
    df, spans, flagged = _dup_spans(df, id_col, column_name, k, min_docs, pos=False)
    totals = spans.groupBy(id_col).agg(F.count(F.lit(1)).alias("__tot"))
    dups = (
        spans.join(flagged, "__h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__dup"))
    )
    return (
        df.join(totals, id_col, "left")
        .join(dups, id_col, "left")
        .withColumn(
            dest,
            F.when(
                F.col("__tot").isNotNull(),
                F.coalesce(F.col("__dup"), F.lit(0)) / F.col("__tot"),
            ),
        )
        .drop("__tot", "__dup")
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    column_name: str,
    k: int = 10,
    min_docs: int = 2,
    dest: str | None = None,
) -> DataFrame:
    """CUT cross-document duplicated spans out of the text — the dedup
    ACTION of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better", the ExactSubstr variant), token-level:
    every token covered by a word ``k``-gram span occurring in >=
    ``min_docs`` DISTINCT documents is removed; surviving tokens are
    re-joined with single spaces.

    Only documents that actually contain a flagged span are rewritten
    (rewriting normalizes their whitespace); every other document keeps
    its text byte-identical.  A document whose every token is covered
    becomes the empty string — filter on it downstream if desired.
    In-place when ``dest`` is None.

    Plan shape (nothing quadratic, all key-partitioned shuffles): the
    pinned span table and flagged keys of :func:`_dup_spans`; covered
    token positions = flagged spans exploded k-wide then distinct; kept
    tokens = anti join on (id, pos); reassembly = one groupBy(id) with
    an in-group sort of (pos, token) structs.  Span keys are
    fixed-width hashes; raw text moves only in the final token stream.
    The token stream and the final join read the same
    :func:`~pyjanitor_spark.utils.pin.share` of ``df`` as the spans.
    Call-time jobs: that pin's stages on an input that does not replay
    identically, else none.
    """
    out_col = dest or column_name
    text = F.col(column_name)
    df, spans, flagged = _dup_spans(df, id_col, column_name, k, min_docs)
    # feeds both the rewritten-doc id list and the kept-token anti
    # join, so the chain plans twice over the pinned span table; a pin
    # here measured no saving (sf0.1, k=5: the same three upstream
    # passes and the same time) and ran four jobs at call time
    covered = (
        spans.join(flagged, "__h", "left_semi")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + F.lit(k - 1))
            ).alias("__cpos"),
        )
        .distinct()
    )
    # only documents that CONTAIN a flagged span are ever rewritten, so
    # the token explode + anti join + reassembly groupBy run over just
    # those docs (semi join on the pinned covered ids) instead of the
    # whole corpus — at a typical few-% duplication rate that is a
    # 10-100x cut in the reassembly shuffle
    affected = covered.select(id_col).distinct()
    toks = df.join(affected, id_col, "left_semi").select(
        F.col(id_col),
        F.posexplode(tokens(text)).alias("__tpos", "__tok"),
    )
    kept = (
        toks.join(
            covered,
            (toks[id_col] == covered[id_col])
            & (F.col("__tpos") == F.col("__cpos")),
            "left_anti",
        )
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__tpos"), F.col("__tok")))
                    ),
                    lambda s: s["__tok"],
                ),
                " ",
            ).alias("__kept_text")
        )
    )
    # rewrite ONLY docs with at least one covered token; a doc whose
    # every token is covered is missing from `kept` -> empty string
    rewritten = (
        affected
        .join(kept, id_col, "left")
        .select(
            F.col(id_col).alias("__rd_id"),
            F.coalesce(F.col("__kept_text"), F.lit("")).alias("__rd_text"),
        )
    )
    return (
        df.join(rewritten, df[id_col] == F.col("__rd_id"), "left")
        .withColumn(out_col, F.coalesce(F.col("__rd_text"), text))
        .drop("__rd_id", "__rd_text")
    )

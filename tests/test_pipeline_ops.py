"""Tests for training-data pipeline operators: dedup, similarity,
text analysis, multimodal, timeseries."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import pyjanitor_spark as pj


@pytest.fixture
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text about spark engines"),
            (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        ],
        ["doc_id", "text"],
    )


def test_dedupe_exact(docs):
    out = pj.dedupe_exact(docs, "text", "doc_id")
    ids = {r["doc_id"] for r in out.collect()}
    assert ids == {1, 2, 3}  # 4 deduped (min-id keep)


def test_minhash_lsh_finds_near_dups(docs):
    pairs = pj.minhash_lsh_pairs(docs, "doc_id", "text", k=8, bands=4, shingle_n=2)
    got = {(r["id_1"], r["id_2"]) for r in pairs.collect()}
    assert (1, 4) in got  # exact dups always collide
    # near-dups 1~2 share most shingles; with 4 bands of 2 they collide whp
    assert (1, 2) in got or (2, 4) in got


def test_ngram_jaccard(docs):
    out = pj.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=2, threshold=0.4)
    got = {(r["id_1"], r["id_2"]): r["jaccard"] for r in out.collect()}
    assert got[(1, 4)] == 1.0
    assert 0.4 <= got[(1, 2)] < 1.0
    assert (1, 3) not in got


def test_ngram_jaccard_max_doc_freq(spark, docs):
    # cap >= every bucket size: identical to exact
    exact = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in pj.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=2, threshold=0.4
        ).collect()
    }
    capped_same = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in pj.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=2, threshold=0.4,
            max_doc_freq=10_000,
        ).collect()
    }
    assert capped_same == exact
    # a stop shingle shared by EVERY doc: capping it out leaves the
    # remaining pair exactly as the Jaccard over non-stop shingles
    rows = [
        (1, "the same prefix aaa bbb"),
        (2, "the same prefix aaa ccc"),
        (3, "the same prefix zzz yyy"),
    ]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    # shingle_n=3: "the same prefix" is in all 3 docs (df=3); cap at 2
    out = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in pj.ngram_jaccard_pairs(
            d, "doc_id", "text", shingle_n=3, threshold=0.1, max_doc_freq=2
        ).collect()
    }
    # doc1 non-stop shingles: {same prefix aaa, prefix aaa bbb};
    # doc2: {same prefix aaa, prefix aaa ccc} -> inter 1, union 3
    assert abs(out[(1, 2)] - 1 / 3) < 1e-12
    # doc3 shares ONLY the stop shingle -> no pair at all
    assert (1, 3) not in out and (2, 3) not in out
    with pytest.raises(ValueError, match="max_doc_freq"):
        pj.ngram_jaccard_pairs(d, "doc_id", "text", max_doc_freq=1)


def test_ngram_jaccard_capped_by_default(spark):
    # the scale guard is ON by default (10k cap bounds the in-task
    # C(bucket, 2) pair array); None is the exact-semantics opt-out
    import inspect

    sig = inspect.signature(pj.ngram_jaccard_pairs)
    assert sig.parameters["max_doc_freq"].default == 10_000
    rows = [(i, "shared stop shingle everywhere") for i in range(1, 5)]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    # 4 identical docs, one shingle with df=4 < 10k: default still pairs
    got = pj.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=3).count()
    assert got == 6  # C(4,2) exact dup pairs
    # explicit opt-out matches the default here (cap never bites)
    got_exact = pj.ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=3, max_doc_freq=None
    ).count()
    assert got_exact == 6


def test_ngram_jaccard_shingle_sample(spark, docs):
    # p=1.0 is a no-op: identical to exact mode
    exact = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in pj.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=2, threshold=0.1
        ).collect()
    }
    full = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in pj.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=2, threshold=0.1,
            shingle_sample=1.0,
        ).collect()
    }
    assert full == exact
    # p<1: differential vs a Python re-derivation of the SAME md5 cut
    # (deterministic mod-hash sampling of the shingle space)
    import hashlib

    p = 0.4
    cut = int(round(p * 4294967296))

    def kept_shingles(text):
        toks = text.split()
        grams = {
            " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
        }
        return {
            g for g in grams
            if int(hashlib.md5(g.encode()).hexdigest()[:8], 16) < cut
        }

    sets = {r["doc_id"]: kept_shingles(r["text"]) for r in docs.collect()}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if inter and union and inter / union >= 0.1:
                want[(a, b)] = inter / union
    got = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in pj.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=2, threshold=0.1,
            shingle_sample=p,
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])
    # layout stability: hash-keyed sampling, no RNG
    got7 = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in pj.ngram_jaccard_pairs(
            docs.repartition(7), "doc_id", "text", shingle_n=2,
            threshold=0.1, shingle_sample=p,
        ).collect()
    }
    assert got7 == got
    with pytest.raises(ValueError):
        pj.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_sample=0.0
        )
    with pytest.raises(ValueError):
        pj.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_sample=1.5
        )


def test_ngram_jaccard_sampled_recall_on_large_unions(spark):
    """Practical recall of the p=0.2 estimator on the shape it is for:
    50 near-dup pairs with ~650-shingle unions and true J≈0.82 (each
    substituted token corrupts the 3 shingles covering it: 20 subs →
    ~60 corrupted, shared ≈ 538 / union ≈ 658).  The Chernoff bound
    puts per-pair miss probability under exp(-2·δ²·p·u) ≈ exp(-23) at
    δ=0.32; with md5 sampling the outcome is DETERMINISTIC for this
    fixed corpus, so the assertion is exact, not statistical — the
    test pins that big-union near-dups survive sampling."""
    rows = []
    for k in range(50):
        base = [f"w{k}_{i}" for i in range(600)]
        variant = list(base)
        for i in range(0, 600, 30):  # 20 substitutions -> J ≈ 0.82
            variant[i] = f"v{k}_{i}"
        rows.append((2 * k, " ".join(base)))
        rows.append((2 * k + 1, " ".join(variant)))
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_1"], r["id_2"])
        for r in pj.ngram_jaccard_pairs(
            d, "doc_id", "text", shingle_n=3, threshold=0.5,
            shingle_sample=0.2,
        ).collect()
    }
    want = {(2 * k, 2 * k + 1) for k in range(50)}
    missed = want - got
    spurious = got - want
    assert not missed, f"estimator missed {len(missed)} true pairs: {sorted(missed)[:5]}"
    assert not spurious, f"spurious cross-pairs: {sorted(spurious)[:5]}"


def test_simhash_near_dups_close(docs):
    out = pj.simhash(docs, "text", bits=32, dest="sh")
    got = {r["doc_id"]: int(r["sh"]) for r in out.collect()}
    assert got[1] == got[4]
    ham_12 = bin(got[1] ^ got[2]).count("1")
    ham_13 = bin(got[1] ^ got[3]).count("1")
    assert ham_12 < ham_13


def test_embedding_near_dup(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], "a"),
            (2, [0.99, 0.1, 0.0], "a"),
            (3, [0.0, 1.0, 0.0], "a"),
        ],
        ["id", "vec", "blk"],
    )
    out = pj.embedding_near_dup(df, "id", "vec", threshold=0.9, block_col="blk")
    got = {(r["id_1"], r["id_2"]) for r in out.collect()}
    assert got == {(1, 2)}


def test_cosine_topk(embeddings):
    q = [float(v) for v in embeddings.filter(F.col("vec_id") == 0).first()["embedding"]]
    out = pj.cosine_topk(embeddings, q, "embedding", "vec_id", k=5)
    rows = out.collect()
    assert len(rows) == 5
    assert rows[0]["vec_id"] == 0  # self is most similar
    assert abs(rows[0]["cos"] - 1.0) < 1e-9


def test_cosine_topk_non_finite_vectors_score_zero(spark):
    """A vector with a NaN or infinite component scores 0.0, as in the
    blocked pair kernel: Spark orders NaN above every value, so a NaN
    score would top the ranking."""
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [nan, 1.0]), (3, [0.0, 1.0]), (4, [inf, 1.0])],
        "id long, v array<double>",
    )
    rows = pj.cosine_topk(df, [1.0, 0.0], "v", "id", k=4).collect()
    assert [(r["id"], r["cos"]) for r in rows] == [
        (1, 1.0), (2, 0.0), (3, 0.0), (4, 0.0)
    ]


def test_ivf_topk_recall(embeddings):
    q = [float(v) for v in embeddings.filter(F.col("vec_id") == 7).first()["embedding"]]
    brute = {r["vec_id"] for r in pj.cosine_topk(embeddings, q, "embedding", "vec_id", 10).collect()}
    ivf = {r["vec_id"] for r in pj.ivf_topk(embeddings, q, "embedding", "vec_id", "label", 10, nprobe=3).collect()}
    # embeddings are clustered by label -> probing 3/10 clusters should
    # recover most of the true top-10
    assert len(brute & ivf) >= 6


def test_lsh_bucket_topk(embeddings):
    q = [float(v) for v in embeddings.filter(F.col("vec_id") == 3).first()["embedding"]]
    out = pj.lsh_bucket_topk(embeddings, q, "embedding", "vec_id", k=5, planes=4)
    rows = out.collect()
    assert rows and rows[0]["vec_id"] == 3


def test_token_count(docs):
    out = pj.token_count(docs, "text")
    got = {r["doc_id"]: r["n_tokens"] for r in out.collect()}
    assert got[1] == 9
    out2 = pj.token_count(docs, "text", mode="bpe")
    assert out2.first()["n_tokens"] >= 9


def test_quality_score(docs):
    out = pj.quality_score(docs, "text")
    got = {r["doc_id"]: r for r in out.collect()}
    for r in got.values():
        assert 0.0 <= r["quality"] <= 1.0
    assert got[1]["q_stop"] > 0  # 'the' x2 + 'over'... -> stopword hits
    assert got[3]["q_stop"] == 0  # no stopwords in doc 3


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze ist hier"),
            (3, "le chat et la maison est grande"),
            (4, "el perro y la casa que es grande"),
            (5, "你好 世界"),
            # no profile trigram of any language ('xyzzy plugh' would
            # legitimately carry French sub-word evidence: 'plu', ' pl')
            (6, "zzzz qqqq"),
        ],
        ["id", "text"],
    )
    out = pj.language_id(df, "text")
    got = {r["id"]: r["lang_pred"] for r in out.collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "es"
    assert got[5] == "zh"
    assert got[6] == "und"


def test_language_id_short_docs_subword_evidence(spark):
    """Trigram profiles catch sub-word evidence whole-word stopword
    matching misses: none of these contain a full marker word."""
    df = spark.createDataFrame(
        [
            (1, "these things happened"),   # ' th'/'the'/'he ' without 'the'
            (2, "dieses hundchen"),          # 'die'/'ies'/'es ' without 'die'
            (3, ""),                         # empty -> no evidence
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["lang_pred"] for r in pj.language_id(df, "text").collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"


def test_language_id_max_chars_truncation(spark):
    """max_chars bounds the per-row trigram pass: an English prefix
    followed by a long German tail flips prediction when truncated."""
    text = "these things happened " + "der hund und die katze " * 50
    df = spark.createDataFrame([(1, text)], ["id", "text"])
    full = pj.language_id(df, "text").collect()[0]["lang_pred"]
    trunc = pj.language_id(df, "text", max_chars=20).collect()[0]["lang_pred"]
    assert full == "de"
    assert trunc == "en"


def test_fingerprint_modes(docs):
    exact = pj.fingerprint(docs, "text", mode="exact")
    got = {r["doc_id"]: r["fp"] for r in exact.collect()}
    assert got[1] == got[4] != got[3]
    rolling = pj.fingerprint(docs, "text", mode="rolling", shingle_n=2)
    got_r = {r["doc_id"]: r["fp"] for r in rolling.collect()}
    assert got_r[1] == got_r[4]


def test_multimodal_pipeline(docs):
    binned = pj.attach_binary(docs, "text")
    meta = pj.binary_metadata(binned)
    m = {r["doc_id"]: (r["n_bytes"], r["magic"]) for r in meta.collect()}
    assert m[1][0] == len("the quick brown fox jumps over the lazy dog")
    assert m[1][1] == ord("t")
    feats = pj.decode_features(binned)
    rows = {r["doc_id"]: r for r in feats.collect()}
    assert rows[1]["n_bytes"] == m[1][0]
    assert rows[1]["feat_dim"] == 4
    assert rows[1]["feat_mean"] == rows[4]["feat_mean"]  # deterministic
    frames = pj.frame_sample(binned, every=16)
    assert frames.filter(F.col("doc_id") == 1).count() == (m[1][0] + 15) // 16


def test_flag_jumps(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, h), float(v))
            for h, v in [(0, 1.0), (1, 1.1), (2, 5.0), (3, 5.1)]
        ],
        ["ts", "v"],
    )
    out = pj.flag_jumps(df, "ts", ["v"], scale="absolute", threshold=1.0)
    got = {r["ts"].hour: r["v_jump_flag"] for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 0}


def test_sort_timestamps_monotonically(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, h), h) for h in [3, 1, 2, 1]], ["ts", "v"]
    )
    out = pj.sort_timestamps_monotonically(df, "ts", strict=True)
    assert out.count() == 3


def test_word_shingles_short_text(spark):
    # regression: sequence(1, 0) descends to [1, 0] and indexes toks[0]
    from pyjanitor_spark.operators.text_analysis import word_shingles

    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a b c")], ["id", "text"]
    )
    got = {
        r["id"]: r["sh"]
        for r in df.select("id", word_shingles(F.col("text"), 3).alias("sh")).collect()
    }
    assert got[1] == [] and got[2] == []
    assert got[3] == ["a b c"]


def test_minhash_permutations_distinct(docs):
    # regression: a two-parameter transform() lambda receives the array
    # index, collapsing every permutation to the same hash family
    sig = pj.minhash_signature(docs, "text", k=4).first()["minhash"]
    assert len(set(sig)) == 4


def test_apply_math_scalable_global_stats(spark):
    # frame-level z_score/softmax must avoid the 1-task global window:
    # broadcast-joined aggregates, results identical to the window form
    import math as m

    from pyjanitor_spark.functions import math as pjm
    from pyjanitor_spark.plans import executed_plan

    df = spark.createDataFrame([(i, float(i)) for i in range(10)], ["id", "x"])
    z = pjm.apply_math(df, "x", pjm.z_score, dest="z")
    plan = executed_plan(z)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    got = {r["id"]: r["z"] for r in z.collect()}
    mu = sum(range(10)) / 10
    sd = m.sqrt(sum((v - mu) ** 2 for v in range(10)) / 9)
    assert abs(got[0] - (0 - mu) / sd) < 1e-12

    sm = pjm.apply_math(df, "x", pjm.softmax, dest="s")
    vals = [r["s"] for r in sm.collect()]
    assert abs(sum(vals) - 1.0) < 1e-12


def test_resize_payload(docs):
    binned = pj.attach_binary(docs, "text")
    out = pj.resize_payload(binned, target_bytes=16)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert all(len(bytes(r["payload"])) == 16 for r in rows.values())
    assert rows[1]["orig_bytes"] == len(
        "the quick brown fox jumps over the lazy dog"
    )
    # identical inputs resize identically (deterministic stub)
    assert bytes(rows[1]["payload"]) == bytes(rows[4]["payload"])


def test_near_dup_clusters_components(spark):
    # {1,2,3} via chain, {5,6}, singleton 9 through nodes=
    pairs = spark.createDataFrame([(2, 3), (1, 2), (5, 6)], ["id_1", "id_2"])
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 9)], ["doc_id"])
    got = sorted(tuple(r) for r in pj.near_dup_clusters(pairs, nodes=nodes).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (9, 9)]


def test_near_dup_clusters_long_chain(spark):
    # star contraction must collapse a diameter-9 path well inside max_iter
    chain = spark.createDataFrame([(i, i + 1) for i in range(10, 19)], ["id_1", "id_2"])
    out = pj.near_dup_clusters(chain, max_iter=8, small_graph_edges=0)
    assert {r[0] for r in out.select("cluster_id").collect()} == {10}


def test_near_dup_clusters_very_long_chain(spark):
    """r12 regression: a 1500-node path graph.  The previous min-label
    propagation covered only ~2 hops per round, silently returning a
    NON-converged labeling once the diameter exceeded ~2·max_iter
    (found via the semdedup auto-split differential, where a 600-node
    cos-proximity chain mislabeled 164 nodes).  Star contraction is
    O(log² n) rounds, so 1500 nodes converge in a handful; correctness
    must not depend on the default max_iter."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1500)], ["id_1", "id_2"]
    )
    out = pj.near_dup_clusters(chain, small_graph_edges=0)
    got = {r[0] for r in out.select("cluster_id").collect()}
    assert got == {0}
    assert out.count() == 1501


def test_near_dup_clusters_self_pair_singleton(spark):
    """ADVICE r12: an id appearing ONLY in degenerate self-pairs
    (id_1 == id_2) must still be labeled — as a singleton root — even
    without nodes=.  An id with both a self-pair and a real edge must
    not be double-labeled."""
    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 2)], ["id_1", "id_2"]
    )
    for sge in (1_000_000, 0):  # driver union-find AND star contraction
        got = sorted(
            tuple(r)
            for r in pj.near_dup_clusters(
                pairs, id_col="id", small_graph_edges=sge
            ).collect()
        )
        assert got == [(1, 1), (2, 1), (7, 7)]


def test_near_dup_clusters_star_input_zero_rounds(spark):
    """An already-star-shaped input (the LSH star-mode common case) is
    detected as final BEFORE any contraction round: max_iter=0 must
    succeed on proper stars and raise on anything else."""
    stars = spark.createDataFrame(
        [(1, 3), (1, 4), (5, 6)], ["id_1", "id_2"]
    )
    got = sorted(
        tuple(r)
        for r in pj.near_dup_clusters(
            stars, id_col="id", max_iter=0, small_graph_edges=0
        ).collect()
    )
    assert got == [(1, 1), (3, 1), (4, 1), (5, 5), (6, 5)]
    import pytest as _pt

    chain = spark.createDataFrame([(1, 2), (2, 3)], ["id_1", "id_2"])
    with _pt.raises(RuntimeError, match="converge"):
        pj.near_dup_clusters(chain, id_col="id", max_iter=0, small_graph_edges=0).collect()


def test_near_dup_clusters_exhaustion_raises(spark):
    """max_iter too small must RAISE, never return wrong labels."""
    import pytest as _pt

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_1", "id_2"]
    )
    with _pt.raises(RuntimeError, match="converge"):
        pj.near_dup_clusters(chain, max_iter=1, small_graph_edges=0).collect()


def test_dedupe_near_end_to_end(docs):
    kept = pj.dedupe_near(docs, "doc_id", "text", jaccard_threshold=0.5)
    n, n0 = kept.count(), docs.count()
    assert 0 < n < n0
    # kept set contains exactly one representative per cluster: re-running
    # dedup on the deduped set removes nothing
    again = pj.dedupe_near(kept, "doc_id", "text", jaccard_threshold=0.5)
    assert again.count() == n


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda t: t[0] != t[1]),
        min_size=0,
        max_size=25,
    )
)
# hub-heavy: node 0 joined to 200 spokes that also link to each other,
# so large-star emits the same (spoke, 0) row from the hub and from the
# spoke's smaller neighbor, and those duplicates reach the small-star
# window; plus a separate chain that must keep its own label
@example(
    edges=[(0, s) for s in range(1, 201)]
    + [(s, s + 1) for s in range(1, 200, 2)]
    + [(s, s + 100) for s in range(1, 101, 3)]
    + [(s, s + 1) for s in range(300, 310)]
)
# string ids: labels are the min id in string order, not insertion order
@example(edges=[("b", "a"), ("c", "b"), ("zz", "z"), ("é", "y"), ("y", "e")])
@settings(max_examples=12, deadline=None)
@pytest.mark.parametrize(
    "kw", [{"small_graph_edges": 0}, {}], ids=["star_contraction", "driver"]
)
def test_near_dup_clusters_matches_union_find(spark, kw, edges):
    """Property: both labelling paths (distributed star contraction
    and the small-graph driver path) == a reference union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = sorted({n for e in edges for n in e})
    for a, b in edges:
        union(a, b)
    # union always hangs the larger root under the smaller, so the root
    # IS the component min — the same canonical label the verb emits
    expect = {n: find(n) for n in nodes}

    if not edges:
        return
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], ["id_1", "id_2"]
    )
    got = {
        r[0]: r[1]
        for r in pj.near_dup_clusters(pairs, id_col="id", **kw).collect()
    }
    assert got == expect


@pytest.mark.parametrize(
    "kw", [{"small_graph_edges": 0}, {}], ids=["star_contraction", "driver"]
)
def test_near_dup_clusters_null_ids(spark, kw):
    """A pair whose ids are both null names no id and is dropped on
    both paths; a half-null pair keeps its id as a singleton."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, None), (7, None)], "id_1 long, id_2 long"
    )
    got = [
        tuple(r)
        for r in pj.near_dup_clusters(pairs, id_col="id", **kw).collect()
    ]
    assert len(got) == 4 and set(got) == {(1, 1), (2, 1), (3, 1), (7, 7)}


def test_dedupe_against_reference(spark):
    ref = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # dup of ref
            (11, "completely different words about spark engines and scale"),
            (12, "completely different words about spark engines and scale"),  # dup WITHIN batch: must survive
        ],
        ["doc_id", "text"],
    )
    kept = pj.dedupe_against(new, ref, "doc_id", "text")
    ids = sorted(r[0] for r in kept.select("doc_id").collect())
    # 10 collides with the reference; 11/12 only duplicate each other,
    # and batch-internal dups are NOT this verb's job
    assert ids == [11, 12]


def test_groupby_agg_nunique(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 5), ("b", None)], "k string, v int"
    )
    out = pj.groupby_agg(df, "k", "n", "v", "nunique")
    got = {(r["k"], r["v"]): r["n"] for r in out.collect()}
    # nulls are ignored by nunique (pandas semantics)
    assert got[("a", 1)] == 2 and got[("b", 5)] == 1 and got[("b", None)] == 1


def test_ecdf_scalable_matches_window_form(spark):
    from pyspark.sql import functions as F
    from pyjanitor_spark.functions import math as pjm

    df = spark.createDataFrame([(float(v),) for v in [3, 1, 4, 1, 5, 9, 2, 6]], "x double")
    a = sorted(
        (r["x"], r["e"])
        for r in pjm.apply_math(df.repartition(5), "x", pjm.ecdf, dest="e").collect()
    )
    # cume_dist ground truth: fraction of values <= x over the 8 rows
    vals = [3, 1, 4, 1, 5, 9, 2, 6]
    b = sorted((float(v), sum(1 for u in vals if u <= v) / 8.0) for v in vals)
    assert a == b
    # exact tie semantics: both 1.0s get cume fraction 2/8
    assert dict(a)[1.0] == 0.25
    # the bare Column forms refuse — the only Column encoding is a
    # single-task global window, banned package-wide
    import pytest as _pytest

    for fn in (pjm.ecdf, pjm.z_score, pjm.softmax):
        with _pytest.raises(ValueError, match="single-task"):
            fn(F.col("x"))


def test_bloom_dedupe_against_matches_anti_join(spark):
    ref = spark.createDataFrame([(f"k{i}",) for i in range(0, 200, 2)], "key string")
    new = spark.createDataFrame([(f"k{i}", i) for i in range(100)], "key string, v int")
    got = sorted(r["v"] for r in pj.bloom_dedupe_against(new, ref, "key").collect())
    exp = sorted(
        r["v"] for r in new.join(ref, "key", "left_anti").collect()
    )
    assert got == exp  # exact=True == true anti-join semantics
    # exact=False only ever drops MORE rows (bloom false positives)
    loose = pj.bloom_dedupe_against(new, ref, "key", exact=False)
    assert set(r["v"] for r in loose.collect()) <= set(exp)


def test_bloom_dedupe_against_fpp_validation(spark):
    df = spark.createDataFrame([("a",)], "key string")
    with pytest.raises(ValueError):
        pj.bloom_dedupe_against(df, df, "key", fpp=1.5)
    with pytest.raises(ValueError):
        pj.bloom_dedupe_against(df, df, "key", shards=0)


def test_bloom_dedupe_against_sharded_equivalence(spark):
    """shards=k partitions the key space into k independent bitmaps;
    results must match the single-bitmap build and true anti-join
    semantics shard count notwithstanding."""
    ref = spark.createDataFrame([(f"k{i}",) for i in range(0, 300, 3)], "key string")
    new = spark.createDataFrame([(f"k{i}", i) for i in range(150)], "key string, v int")
    exp = sorted(r["v"] for r in new.join(ref, "key", "left_anti").collect())
    for k in (2, 5):
        got = sorted(
            r["v"]
            for r in pj.bloom_dedupe_against(new, ref, "key", shards=k).collect()
        )
        assert got == exp
    # the bloom fast path itself (no verify join) keeps bloom semantics
    # under sharding: never a false negative, only possible extra drops
    loose = pj.bloom_dedupe_against(new, ref, "key", exact=False, shards=3)
    assert set(r["v"] for r in loose.collect()) <= set(exp)


def test_top_ngrams_counts_every_occurrence(spark):
    df = spark.createDataFrame(
        [("a b a b a",), ("a b c",)], "text string"
    )
    out = {r["ngram"]: r["cnt"] for r in pj.top_ngrams(df, "text", n=2, k=10).collect()}
    # "a b" occurs twice in doc1 + once in doc2; "b a" twice in doc1
    assert out == {"a b": 3, "b a": 2, "b c": 1}


def test_top_ngrams_deterministic_tiebreak(spark):
    df = spark.createDataFrame([("x y",), ("p q",)], "text string")
    rows = [r["ngram"] for r in pj.top_ngrams(df, "text", n=2, k=2).collect()]
    assert rows == ["p q", "x y"]  # equal counts -> lexicographic


def test_groupby_agg_callable(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], "k string, v double"
    )
    out = pj.groupby_agg(
        df, "k", "rng", "v", lambda c, w: F.max(c).over(w) - F.min(c).over(w)
    )
    got = {(r["k"], r["v"]): r["rng"] for r in out.collect()}
    assert got[("a", 1.0)] == 2.0 and got[("b", 5.0)] == 0.0
    # 1-arg callable: a single aggregate function
    out2 = pj.groupby_agg(df, "k", "mx", "v", F.max)
    got2 = {(r["k"], r["v"]): r["mx"] for r in out2.collect()}
    assert got2[("a", 1.0)] == 3.0
    # defaulted extra params (F.first's ignorenulls=True) must NOT flip
    # the callable onto the (col, window) composite path
    df1 = spark.createDataFrame(
        [("a", 2.0), ("a", 2.0), ("b", 7.0)], "k string, v double"
    )
    out3 = pj.groupby_agg(df1, "k", "f", "v", F.first)
    got3 = {r["k"]: r["f"] for r in out3.collect()}
    assert got3 == {"a": 2.0, "b": 7.0}


def test_groupby_agg_multi_forms(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0), (None, 9.0)], "k string, v double"
    )
    # dict spec: one shuffle, several windowed aggregates
    out = pj.groupby_agg(df, "k", {"mx": ("v", "max"), "s": ("v", "sum")})
    got = {(r["k"], r["v"]): (r["mx"], r["s"]) for r in out.collect()}
    assert got[("a", 1.0)] == (3.0, 4.0)
    assert got[("b", 5.0)] == (5.0, 5.0)
    assert got[(None, 9.0)] == (None, None)  # dropna nulls null-keyed rows
    # list spec, positional pairing
    out2 = pj.groupby_agg(df, "k", ["mn", "n"], ["v", "v"], ["min", "count"])
    got2 = {(r["k"], r["v"]): (r["mn"], r["n"]) for r in out2.collect()}
    assert got2[("a", 3.0)] == (1.0, 2)
    with pytest.raises(ValueError, match="equal-length"):
        pj.groupby_agg(df, "k", ["a", "b"], ["v"], ["min"])


def test_groupby_agg_multi_plan_shape(spark):
    """All named aggregates share ONE groupBy (a single partial-agg
    shuffle) and ride back on a join — the wide rows themselves never
    shuffle (no window sort).  Plan: <=2 exchanges (partials + at most
    the join-back of the tiny per-group side), no Window/Sort node."""
    from pyjanitor_spark.plans import executed_plan, shuffle_count

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    out = pj.groupby_agg(
        df, "k", {"mx": ("v", "max"), "mn": ("v", "min"), "s": ("v", "sum")}
    )
    assert shuffle_count(out) <= 2
    plan = executed_plan(out)
    assert "Window" not in plan

    # order_by= keeps the window contract (deterministic first/last)
    out2 = pj.groupby_agg(df, "k", "f", "v", "first", order_by="v")
    assert "Window" in executed_plan(out2)


def test_groupby_agg_median_nunique_split(spark):
    """r14: a distinct aggregate (nunique) forces Catalyst's two-phase
    rewrite, which makes a sibling TypedImperative median build one
    percentile buffer per (group, distinct value) — measured 2.1 s vs
    0.5+0.7 s separate at sf0.1.  groupby_agg now runs distinct aggs in
    their own groupBy joined back on the keys.  Values must be
    identical to a pandas groupby transform, including null keys and
    even-count median interpolation."""
    rows = [
        ("a", 1.0, 10), ("a", 2.0, 10), ("a", 4.0, 20), ("a", 9.0, 30),
        ("b", 5.0, 10), (None, 7.0, 40), ("b", 5.0, 10),
    ]
    df = spark.createDataFrame(rows, "k string, v double, p long")
    out = pj.groupby_agg(
        df, "k",
        {"med": ("v", "median"), "n": ("p", "nunique"), "s": ("v", "sum")},
    )
    got = {}
    for r in out.collect():
        got.setdefault((r["k"], r["v"], r["p"]), (r["med"], r["n"], r["s"]))
    # pandas parity: a -> median([1,2,4,9]) = 3.0 (interpolated), 3
    # distinct p, sum 16; b -> median 5.0, 1 distinct, sum 10
    assert got[("a", 1.0, 10)] == (3.0, 3, 16.0)
    assert got[("b", 5.0, 10)] == (5.0, 1, 10.0)
    assert got[(None, 7.0, 40)] == (None, None, None)  # dropna
    # the split must actually engage: two separate HashAggregate chains,
    # no ObjectHashAggregate evaluating a count(distinct ...) sibling
    from pyjanitor_spark.plans import executed_plan

    plan = executed_plan(out)
    assert "percentile" in plan and "count(" in plan


class TestSimhashPairs:
    def test_identical_token_sets_hamming_zero(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "delta eps zeta")],
            ["doc_id", "text"],
        )
        # simhash is over the DISTINCT token set -> same set, same print
        rows = {(r["id_1"], r["id_2"]): r["hamming"]
                for r in pj.simhash_pairs(df, "doc_id", "text").collect()}
        assert rows.get((1, 2)) == 0
        assert all(k == (1, 2) for k in rows)

    def test_matches_brute_force(self, spark, documents):
        """Banded join + pigeonhole == brute-force all-pairs at the same
        threshold (exact recall, not approximate)."""
        bits, mh = 48, 3
        fp = {r["doc_id"]: r["simhash"]
              for r in pj.simhash(documents, "text", bits=bits, dest="simhash")
              .select("doc_id", "simhash").collect()}
        ids = sorted(fp)
        expect = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                if bin(fp[a] ^ fp[b]).count("1") <= mh:
                    expect.add((a, b))
        got = {(r["id_1"], r["id_2"])
               for r in pj.simhash_pairs(documents, "doc_id", "text",
                                         bits=bits, bands=4, max_hamming=mh).collect()}
        assert got == expect

    def test_repeated_ids_and_null_texts_match_brute_force(self, spark):
        """One output row per pair of input ROWS with id_1 < id_2 and
        Hamming <= max_hamming: a repeated id pairs once per row, equal
        ids never pair, null texts (null fingerprint) never pair, and
        empty or blank texts share one fingerprint."""
        from collections import Counter

        texts = ["alpha beta gamma delta", "alpha beta gamma delta eps",
                 "zeta eta theta", None, "", "   "]
        rows = [(i % 5, texts[i % len(texts)]) for i in range(23)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        bits, mh = 48, 3
        fps = [(r["doc_id"], r["sh"]) for r in
               pj.simhash(df, "text", bits=bits, dest="sh").collect()]
        expect = Counter(
            (a, b, bin(fa ^ fb).count("1"))
            for (a, fa), (b, fb) in (
                (x, y) if x[0] < y[0] else (y, x)
                for i, x in enumerate(fps) for y in fps[i + 1:]
            )
            if a < b and fa is not None and fb is not None
            and bin(fa ^ fb).count("1") <= mh
        )
        got = Counter(tuple(r) for r in pj.simhash_pairs(
            df, "doc_id", "text", bits=bits, bands=4, max_hamming=mh).collect())
        assert expect and got == expect

    def test_one_bucket_shuffle_no_pin(self, spark, documents):
        """The pairs come from one (band, key) bucket shuffle over one
        band table: the plan holds no pin (LogicalRDD) and no self-join,
        and the call runs no Spark job."""
        sc = spark.sparkContext
        sc.setJobGroup("simhash_pairs-call", "simhash_pairs call")
        try:
            out = pj.simhash_pairs(documents, "doc_id", "text")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup("simhash_pairs-call") == []
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan and "Join" not in plan
        assert plan.count("Aggregate") == 1

    def test_bad_args(self, spark):
        df = spark.createDataFrame([(1, "x y")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            pj.simhash_pairs(df, "doc_id", "text", bits=64)
        with pytest.raises(ValueError):
            pj.simhash_pairs(df, "doc_id", "text", bands=3, max_hamming=3)
        with pytest.raises(ValueError):
            pj.simhash_pairs(df, "doc_id", "text", bits=50, bands=4)


class TestTopCollocations:
    def test_known_collocation_wins(self, spark):
        rows = [(i, "new york is big and the city is old") for i in range(10)]
        rows += [(100 + i, "old and big the is a") for i in range(10)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = pj.top_collocations(df, "text", k=3, min_count=5).collect()
        # "new york" co-occurs always and its words never appear apart
        assert (out[0]["w1"], out[0]["w2"]) == ("new", "york")
        assert out[0]["c_xy"] == 10

    def test_min_count_filters_hapax(self, spark):
        df = spark.createDataFrame(
            [(1, "rare pair here"), (2, "common words common words common words")],
            ["doc_id", "text"],
        )
        out = pj.top_collocations(df, "text", k=10, min_count=2).collect()
        pairs = {(r["w1"], r["w2"]) for r in out}
        assert ("rare", "pair") not in pairs
        assert ("words", "common") in pairs or ("common", "words") in pairs

    def test_pmi_value(self, spark):
        import math
        df = spark.createDataFrame([(i, "a b") for i in range(5)], ["doc_id", "text"])
        r = pj.top_collocations(df, "text", k=1, min_count=1).first()
        # T=10 tokens, B=5 bigrams, c_a=c_b=5, c_ab=5
        assert abs(r["pmi"] - math.log((5 / 5) / ((5 / 10) * (5 / 10)))) < 1e-12


class TestIvfPersistedCentroids:
    def test_stored_centroids_match_inline(self, spark, tmp_path, embeddings):
        q = embeddings.first()["embedding"]
        inline = pj.ivf_topk(embeddings, q, "embedding", "vec_id", "label", k=5)
        cents = pj.centroids(embeddings, "embedding", "label")
        p = str(tmp_path / "ivf_index")
        cents.write.parquet(p)  # decimal-exact -> bit-reproducible index
        stored = pj.ivf_topk(
            embeddings, q, "embedding", "vec_id", "label", k=5,
            centroids_df=spark.read.parquet(p),
        )
        assert [tuple(r) for r in inline.collect()] == [tuple(r) for r in stored.collect()]


class TestDedupeNearKeepBy:
    def test_keep_best_not_min_id(self, spark):
        # 1 and 2 are near-dups; 2 is longer -> keep_by length keeps 2,
        # while the default keeps min id 1
        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy dog tonight again"),
                (3, "unrelated totally different content here now"),
            ],
            ["doc_id", "text"],
        ).withColumn("ln", F.length("text"))
        default = {r["doc_id"] for r in pj.dedupe_near(df, "doc_id", "text").collect()}
        best = {r["doc_id"] for r in pj.dedupe_near(df, "doc_id", "text", keep_by="ln").collect()}
        assert default == {1, 3}
        assert best == {2, 3}

    def test_tie_falls_back_to_min_id(self, spark):
        df = spark.createDataFrame(
            [(5, "alpha beta gamma delta"), (9, "alpha beta gamma delta")],
            ["doc_id", "text"],
        ).withColumn("ln", F.length("text"))
        best = {r["doc_id"] for r in pj.dedupe_near(df, "doc_id", "text", keep_by="ln").collect()}
        assert best == {5}


class TestBloomPersistedIndex:
    def test_stored_bloom_matches_inline(self, spark, tmp_path, documents):
        ref = documents.filter(F.col("lang") == "en")
        new = documents.filter(F.col("lang") != "en")
        inline = {r["doc_id"] for r in
                  pj.bloom_dedupe_against(new, ref, "text", shards=2).collect()}
        ix = pj.bloom_build(ref, "text", shards=2)
        p = str(tmp_path / "bloom_ix")
        ix.write.parquet(p)
        stored = {r["doc_id"] for r in pj.bloom_dedupe_against(
            new, ref, "text", bloom_df=spark.read.parquet(p)).collect()}
        assert stored == inline and len(stored) > 0

    def test_stored_bloom_inexact_probe_without_reference_scan(self, spark, tmp_path, documents):
        """exact=False with a stored index never touches the reference
        data at probe time — the pure streaming-probe shape."""
        ref = documents.filter(F.col("lang") == "en")
        new = documents.filter(F.col("lang") != "en")
        p = str(tmp_path / "bloom_ix2")
        pj.bloom_build(ref, "text").write.parquet(p)
        out = pj.bloom_dedupe_against(
            new, None, "text", exact=False, bloom_df=spark.read.parquet(p))
        kept = out.count()
        exact_kept = new.join(ref.select("text"), "text", "left_anti").count()
        assert kept <= exact_kept  # may drop ~fpp clean rows, never keeps dups


def test_language_id_extended_languages(spark):
    df = spark.createDataFrame(
        [
            (1, "il gatto e il cane sono nella casa che non ha una porta"),
            (2, "o gato e o cão estão em uma casa que não tem porta"),
            (3, "de kat en de hond zijn in het huis met een deur"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["lang_pred"] for r in pj.language_id(df, "text").collect()}
    assert got == {1: "it", 2: "pt", 3: "nl"}


class TestContaminationScore:
    def test_known_overlap_fractions(self, spark):
        bench = spark.createDataFrame([(100, "a b c d e")], ["doc_id", "text"])
        df = spark.createDataFrame(
            [
                (1, "a b c d e"),       # 3/3 distinct 3-grams leak
                (2, "a b c x y z"),     # 1/4 ('a b c')
                (3, "p q r s t"),       # 0/3
                (4, "xx yy"),           # too short -> 0.0
            ],
            ["doc_id", "text"],
        )
        got = {r["doc_id"]: r["contamination"]
               for r in pj.contamination_score(df, bench, "doc_id", "text", shingle_n=3).collect()}
        assert got[1] == 1.0 and abs(got[2] - 0.25) < 1e-12
        assert got[3] == 0.0 and got[4] == 0.0

    def test_threshold_filter_decontaminates(self, spark, documents):
        bench = documents.filter(F.col("doc_id") % 17 == 0)
        corpus = documents.filter(F.col("doc_id") % 17 != 0)
        scored = pj.contamination_score(corpus, bench, "doc_id", "text", shingle_n=3)
        clean = corpus.join(scored.filter("contamination >= 0.8"), "doc_id", "left_anti")
        assert 0 < clean.count() <= corpus.count()


class TestAssignPacks:
    def test_pack_boundaries(self, spark):
        # 4 docs x 3 tokens, budget 5: cum = 3,6,9,12 -> packs 0,1,1,2
        df = spark.createDataFrame(
            [(i, "w w w") for i in range(1, 5)], ["doc_id", "text"]
        )
        got = {r["doc_id"]: r["pack_id"]
               for r in pj.assign_packs(df, "text", 5, "doc_id").collect()}
        assert got == {1: 0, 2: 1, 3: 1, 4: 2}

    def test_stable_under_repartition(self, spark, documents):
        a = sorted((r["doc_id"], r["pack_id"]) for r in
                   pj.assign_packs(documents.repartition(1), "text", 300, "doc_id").collect())
        b = sorted((r["doc_id"], r["pack_id"]) for r in
                   pj.assign_packs(documents.repartition(9), "text", 300, "doc_id").collect())
        assert a == b
        # packs are contiguous in doc order and budgets roughly respected
        packs = [p for _, p in a]
        assert packs == sorted(packs)

    def test_bad_args(self, spark):
        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        import pytest as _pt
        with _pt.raises(ValueError):
            pj.assign_packs(df, "text", 0, "doc_id")


class TestReviewRegressions:
    """Regressions surfaced by the round-4 review pass."""

    def test_ccu_null_order_key_kept(self, spark):
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (None, "a")], "o int, v string"
        )
        out = pj.count_cumulative_unique(df, "v", "ccu", order_by="o")
        assert out.count() == 3  # NULL-order row is not dropped
        assert out.filter(F.col("o").isNull()).count() == 1

    def test_assign_packs_null_order_and_leading_empty(self, spark):
        df = spark.createDataFrame(
            [(1, ""), (2, "w w w"), (None, "w")], "o int, text string"
        )
        out = pj.assign_packs(df, "text", 5, "o")
        assert out.count() == 3
        got = {r["o"]: r["pack_id"] for r in out.collect()}
        assert got[1] >= 0  # leading empty doc never gets pack -1

    def test_bloom_null_key_is_kept(self, spark):
        ref = spark.createDataFrame([("x",)], "k string")
        df = spark.createDataFrame([(1, "x"), (2, "y"), (3, None)], "id int, k string")
        out = {r["id"] for r in pj.bloom_dedupe_against(df, ref, "k").collect()}
        # anti-join semantics: NULL key never matches the reference
        want = {r["id"] for r in df.join(ref, "k", "left_anti").collect()}
        assert out == want == {2, 3}

    def test_url_fragment_survives_tracking_strip(self, spark):
        df = spark.createDataFrame(
            [(1, "http://a.b/p?k=2&utm_x=1#frag"), (2, "http://a.b/p?utm_x=1#f2")],
            "id int, url string",
        )
        got = {r["id"]: r["url"]
               for r in pj.url_normalize(df, "url", drop_fragment=False).collect()}
        assert got[1] == "http://a.b/p?k=2#frag"
        assert got[2] == "http://a.b/p#f2"

    def test_language_id_cjk_respects_max_chars(self, spark):
        text = "the cat and the dog of the house " * 10 + "你好"
        df = spark.createDataFrame([(1, text)], ["id", "text"])
        full = pj.language_id(df, "text").first()["lang_pred"]
        trunc = pj.language_id(df, "text", max_chars=30).first()["lang_pred"]
        assert full == "zh" and trunc == "en"

    def test_streaming_near_dedupe_replayed_batch_not_self_erased(self, spark, tmp_path):
        """Re-running a batch id with the same store must not drop the
        batch against its own signatures (crash-replay safety)."""
        from pyjanitor_spark.streaming import streaming_dedupe_near

        src1 = str(tmp_path / "src1")
        src2 = str(tmp_path / "src2")
        store = str(tmp_path / "store")
        schema = "id long, text string"
        b = spark.createDataFrame([(1, "alpha beta gamma delta")], schema)
        b.coalesce(1).write.parquet(src1)
        # run the same source against TWO fresh checkpoints: the second
        # run replays batch id 0 with the signatures already on disk
        for ck in ("ck1", "ck2"):
            q = streaming_dedupe_near(
                spark.readStream.schema(schema).parquet(src1),
                "id", "text", store, str(tmp_path / ck), available_now=True,
            )
            q.awaitTermination(120)
        assert spark.read.parquet(store).count() == 1  # survived the replay


class TestNgramLmScore:
    def test_seen_bigram_path(self, spark):
        import math
        # uni: a=3 b=2 c=1 (T=6); bigrams: (a,b)=2 (kept), (a,c)=1
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, "a c")], ["doc_id", "text"]
        )
        out = {r["doc_id"]: r["lm_logprob"]
               for r in pj.ngram_lm_score(df, "text", min_count=1).collect()}
        assert abs(out[1] - math.log(2 / 3)) < 1e-12
        assert abs(out[3] - math.log(1 / 3)) < 1e-12

    def test_backoff_on_pruned_bigram(self, spark):
        import math
        # min_count=2 prunes (a,c): doc 3 backs off to 0.4 * c_c / T
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, "a c")], ["doc_id", "text"]
        )
        out = {r["doc_id"]: r["lm_logprob"]
               for r in pj.ngram_lm_score(df, "text", min_count=2).collect()}
        assert abs(out[3] - math.log(0.4 * 1 / 6)) < 1e-12
        assert abs(out[1] - math.log(2 / 3)) < 1e-12

    def test_short_and_empty_docs_null(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "solo"), (3, ""), (4, "   ")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["lm_logprob"]
               for r in pj.ngram_lm_score(df, "text").collect()}
        assert out[1] is not None
        assert out[2] is None and out[3] is None and out[4] is None

    def test_separate_train_df_oov_floor(self, spark):
        import math
        train = spark.createDataFrame([(1, "a b a b")], ["doc_id", "text"])
        score = spark.createDataFrame([(9, "z q")], ["doc_id", "text"])
        out = pj.ngram_lm_score(score, "text", train_df=train).collect()[0]
        # w2='q' unseen in training: half-count floor ln(0.4 * 0.5 / 4)
        assert abs(out["lm_logprob"] - math.log(0.4 * 0.5 / 4)) < 1e-12

    def test_case_insensitive_and_original_columns(self, spark):
        df = spark.createDataFrame(
            [(1, "The cat"), (2, "the cat")], ["doc_id", "text"]
        )
        out = pj.ngram_lm_score(df, "text", min_count=1)
        assert set(out.columns) == {"doc_id", "text", "lm_logprob"}
        rows = {r["doc_id"]: r["lm_logprob"] for r in out.collect()}
        assert abs(rows[1] - rows[2]) < 1e-12  # lowercased model


class TestSemDedup:
    def _df(self, spark):
        import math
        a = 1.8 * math.pi / 180  # ~1.8 degrees from x-axis
        rows = [
            (1, [math.cos(a), math.sin(a)], 0),  # near-dup of id 2
            (2, [1.0, 0.0], 0),                  # farther from centroid
            (3, [0.0, 1.0], 0),                  # distinct direction
            (4, [0.0, 1.0], 1),                  # other cluster, singleton
        ]
        return spark.createDataFrame(
            rows, "vec_id int, embedding array<double>, label int"
        )

    def test_keep_far_prefers_outlier(self, spark):
        df = self._df(spark)
        kept = {r["vec_id"]
                for r in pj.semdedup(df, "embedding", "vec_id", "label",
                                     eps=0.99, keep="far").collect()}
        # ids 1,2 group (cos ~0.9995); centroid leans toward +y because
        # of id 3, so id 2 (pure x-axis) is farther -> kept despite id 1
        # being smaller
        assert kept == {2, 3, 4}

    def test_keep_near_flips_choice(self, spark):
        df = self._df(spark)
        kept = {r["vec_id"]
                for r in pj.semdedup(df, "embedding", "vec_id", "label",
                                     eps=0.99, keep="near").collect()}
        assert kept == {1, 3, 4}

    def test_no_pairs_keeps_all(self, spark):
        df = self._df(spark)
        out = pj.semdedup(df, "embedding", "vec_id", "label", eps=0.999999)
        assert out.count() == 4

    def test_bad_keep_raises(self, spark):
        df = self._df(spark)
        import pytest as _pt
        with _pt.raises(ValueError, match="keep"):
            pj.semdedup(df, "embedding", "vec_id", "label", keep="best")

    def test_layout_deterministic(self, spark, embeddings):
        a = {r["vec_id"] for r in pj.semdedup(
            embeddings.repartition(1), "embedding", "vec_id", "label", eps=0.3
        ).collect()}
        b = {r["vec_id"] for r in pj.semdedup(
            embeddings.repartition(7), "embedding", "vec_id", "label", eps=0.3
        ).collect()}
        assert a == b and 0 < len(a) < embeddings.count()


class TestDuplicatedSpans:
    def _df(self, spark):
        shared = "alpha beta gamma delta epsilon"  # the shared 5-gram
        return spark.createDataFrame(
            [
                (1, f"intro {shared} outro one"),
                (2, f"{shared} differs here entirely"),
                (3, "totally unrelated words in this document body"),
                (4, "tiny doc"),                       # < k tokens -> NULL
                (5, "rep rep rep rep rep rep rep rep"),  # within-doc only
            ],
            ["doc_id", "text"],
        )

    def test_spans_flag_cross_doc_only(self, spark):
        out = pj.duplicated_spans(self._df(spark), "doc_id", "text", k=5)
        rows = [(r["doc_id"], r["pos"], r["n_docs"]) for r in out.collect()]
        # the shared 5-gram sits at pos 1 in doc 1 and pos 0 in doc 2
        assert (1, 1, 2) in rows and (2, 0, 2) in rows
        # doc 5's self-repeated span never flags (distinct-doc count = 1)
        assert not any(d == 5 for d, _, _ in rows)

    def test_fraction_values(self, spark):
        out = {r["doc_id"]: r["dup_fraction"]
               for r in pj.dup_span_fraction(
                   self._df(spark), "doc_id", "text", k=5).collect()}
        # doc 1: 4 spans ("intro..." x4 windows), 1 duplicated -> 0.25
        assert abs(out[1] - 0.25) < 1e-12
        assert abs(out[2] - 0.25) < 1e-12
        assert out[3] == 0.0
        assert out[4] is None          # fewer than k tokens
        assert out[5] == 0.0           # self-repetition doesn't count

    def test_layout_deterministic(self, spark, documents):
        a = sorted((r["doc_id"], r["dup_fraction"]) for r in pj.dup_span_fraction(
            documents.repartition(1), "doc_id", "text", k=5).collect())
        b = sorted((r["doc_id"], r["dup_fraction"]) for r in pj.dup_span_fraction(
            documents.repartition(7), "doc_id", "text", k=5).collect())
        assert a == b


class TestKmeansAssign:
    @staticmethod
    def _reference(rows, k, iters):
        # mirror-computed Lloyd with the verb's exact rules: md5 seed
        # order, plain-float means (close enough for assignment
        # comparison on well-separated data), first-min ties
        import hashlib

        def h(i):
            return hashlib.md5(f"km:{i}".encode()).hexdigest()

        seeds = sorted(rows, key=lambda r: h(r[0]))[:k]
        cents = [list(r[1]) for r in seeds]

        def assign(v):
            ds = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in cents]
            return ds.index(min(ds))

        for _ in range(iters):
            groups = {}
            for i, v in rows:
                groups.setdefault(assign(v), []).append(v)
            cents = [
                [sum(col) / len(col) for col in zip(*groups[c])]
                if c in groups else cents[c]
                for c in range(k)
            ]
        return {i: assign(v) for i, v in rows}

    def test_differential_vs_python_reference(self, spark):
        import random

        rng = random.Random(7)
        # three well-separated blobs in 4-D
        rows = []
        for i in range(60):
            center = [(0, 0, 0, 0), (8, 8, 0, 0), (0, 0, 8, 8)][i % 3]
            rows.append(
                (i, [c + rng.uniform(-1, 1) for c in center])
            )
        df = spark.createDataFrame(
            rows, "vec_id int, embedding array<double>"
        )
        out = {r["vec_id"]: r["cluster"]
               for r in pj.kmeans_assign(df, "embedding", "vec_id",
                                         k=3, iters=2).collect()}
        want = self._reference(rows, 3, 2)
        assert out == want

    def test_iters_zero_uses_seed_centroids(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0]), (2, [10.0]), (3, [0.1])],
            "vec_id int, embedding array<double>",
        )
        out = pj.kmeans_assign(df, "embedding", "vec_id", k=2, iters=0)
        labels = {r["vec_id"]: r["cluster"] for r in out.collect()}
        # md5('km:3') < md5('km:1') < md5('km:2'): seeds are [0.1] (c0)
        # and [0.0] (c1); nearest-seed assignment with no refinement
        assert labels == {3: 0, 1: 1, 2: 0}

    def test_layout_deterministic(self, spark, embeddings):
        a = sorted((r["vec_id"], r["cluster"]) for r in pj.kmeans_assign(
            embeddings.repartition(1), "embedding", "vec_id", k=4).collect())
        b = sorted((r["vec_id"], r["cluster"]) for r in pj.kmeans_assign(
            embeddings.repartition(7), "embedding", "vec_id", k=4).collect())
        assert a == b

    def test_bad_params(self, spark, embeddings):
        import pytest as _pt
        with _pt.raises(ValueError):
            pj.kmeans_assign(embeddings, "embedding", "vec_id", k=0)

    def test_k_larger_than_rows_clamps(self, spark):
        # fewer rows than k must clamp, not IndexError (default-arg
        # cents[i] indexing bug class)
        df = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [0.1, 0.1])],
            "vec_id int, embedding array<double>",
        )
        out = pj.kmeans_assign(df, "embedding", "vec_id", k=10, iters=2)
        labels = {r["vec_id"]: r["cluster"] for r in out.collect()}
        assert len(labels) == 3
        assert all(0 <= c < 3 for c in labels.values())

    def test_empty_input_raises(self, spark):
        df = spark.createDataFrame([], "vec_id int, embedding array<double>")
        with pytest.raises(ValueError, match="empty"):
            pj.kmeans_assign(df, "embedding", "vec_id", k=2)


def _first_min_argmin(vec, cents):
    """Pure-Python nearest centroid: the same left-to-right squared
    distance sums as the Spark expression, ties to the lowest index."""
    best, best_d = None, None
    for i, c in enumerate(cents):
        d = 0.0
        for a, b in zip(vec, c):
            d += (a - b) * (a - b)
        if best_d is None or d < best_d:
            best, best_d = i, d
    return best


class TestKmeansLargeK:
    """Above _KMEANS_LITERAL_MAX the centroids ride one broadcast row,
    not O(k*dim) plan literals — same assignments, bounded plan size."""

    def test_data_path_matches_literal_path_k256(self, spark):
        # both sides of the size rule (64 centroids fold into the plan as
        # literals, 256 ride the broadcast row) match the Python argmin
        import random

        from pyjanitor_spark.operators.similarity import _with_codes

        rng = random.Random(11)
        dim = 8
        rows = [(i, [rng.uniform(-5, 5) for _ in range(dim)]) for i in range(100)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        v = F.col("embedding").cast("array<double>")
        for k in (64, 256):
            cents = [[rng.uniform(-5, 5) for _ in range(dim)] for _ in range(k)]
            got = {
                r["vec_id"]: r["c"][0]
                for r in _with_codes(df, v, [cents], "c").collect()
            }
            assert got == {i: _first_min_argmin(x, cents) for i, x in rows}, k

    def test_plan_size_bounded_at_large_k(self, spark):
        import random

        from pyjanitor_spark.operators.similarity import _with_codes

        rng = random.Random(12)
        df = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10)],
            "vec_id int, embedding array<double>",
        )
        v = F.col("embedding").cast("array<double>")

        def plan_len(k):
            cents = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(k)]
            out = _with_codes(df, v, [cents], "c")
            return len(out._jdf.queryExecution().optimizedPlan().toString())

        # doubling k beyond the literal threshold must NOT double the
        # plan: the centroid data lives in a broadcast row, not the tree
        p256, p512 = plan_len(256), plan_len(512)
        assert p512 < p256 * 1.5
        assert p256 < 50_000

    def test_kmeans_end_to_end_large_k(self, spark):
        import random

        rng = random.Random(13)
        rows = [(i, [rng.uniform(-5, 5) for _ in range(4)]) for i in range(200)]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        out = pj.kmeans_assign(df, "embedding", "vec_id", k=100, iters=1)
        labels = [r["cluster"] for r in out.collect()]
        assert len(labels) == 200 and all(0 <= c < 100 for c in labels)


class TestSemdedupClusterGuard:
    def test_oversize_cluster_fails_inline_at_execution(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i), 1.0], 0) for i in range(20)],
            "vec_id int, embedding array<double>, label int",
        )
        out = pj.semdedup(df, "embedding", "vec_id", "label",
                          max_cluster_size=10)  # lazy: builds fine
        with pytest.raises(Exception, match="max_cluster_size"):
            out.count()

    def test_guard_disabled_or_loose_passes(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i % 3), 1.0], i % 2) for i in range(20)],
            "vec_id int, embedding array<double>, label int",
        )
        n_loose = pj.semdedup(df, "embedding", "vec_id", "label",
                              max_cluster_size=50).count()
        n_off = pj.semdedup(df, "embedding", "vec_id", "label",
                            max_cluster_size=None).count()
        assert n_loose == n_off > 0


class TestFactorizeAppearanceOrder:
    def test_appearance_order_matches_pandas(self, spark):
        import pandas as pd

        vals = ["pear", "apple", "pear", "fig", "apple", None, "banana"]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "o int, fruit string"
        )
        out = {r["o"]: r["fruit_enc"]
               for r in pj.factorize_columns(df, "fruit", order_by="o").collect()}
        codes, _ = pd.factorize(pd.Series(vals))
        want = {i: int(c) for i, c in enumerate(codes)}
        assert out == want  # pear=0, apple=1, fig=2, None=-1, banana=3

    def test_sorted_default_unchanged(self, spark):
        df = spark.createDataFrame(
            [(0, "b"), (1, "a"), (2, "b")], "o int, v string"
        )
        out = {r["o"]: r["v_enc"]
               for r in pj.factorize_columns(df, "v").collect()}
        assert out == {0: 1, 1: 0, 2: 1}  # sorted order: a=0, b=1

    def test_bad_order_column_raises(self, spark):
        df = spark.createDataFrame([(0, "a")], "o int, v string")
        with pytest.raises(KeyError, match="nope"):
            pj.factorize_columns(df, "v", order_by="nope")


class TestAddColumnIterable:
    def test_exact_length_values_follow_row_order(self, spark):
        df = spark.createDataFrame(
            [(i,) for i in range(6)], "o int"
        ).repartition(3).orderBy("o")
        vals = ["a", "b", "c", "d", "e", "f"]
        out = {r["o"]: r["tag"] for r in pj.add_column(df, "tag", vals).collect()}
        assert out == dict(enumerate(vals))

    def test_fill_remaining_cycles(self, spark):
        df = spark.createDataFrame([(i,) for i in range(7)], "o int").orderBy("o")
        out = {r["o"]: r["tag"]
               for r in pj.add_column(df, "tag", [10, 20, 30],
                                      fill_remaining=True).collect()}
        assert out == {i: [10, 20, 30][i % 3] for i in range(7)}

    def test_length_mismatch_raises(self, spark):
        df = spark.createDataFrame([(1,), (2,), (3,)], "o int")
        with pytest.raises(ValueError, match="fill_remaining"):
            pj.add_column(df, "tag", [1, 2])

    def test_oversize_list_raises(self, spark):
        df = spark.createDataFrame([(1,)], "o int")
        with pytest.raises(ValueError, match="join a DataFrame"):
            pj.add_column(df, "tag", list(range(10_001)), fill_remaining=True)

    def test_scalar_and_column_paths_unchanged(self, spark):
        df = spark.createDataFrame([(1,), (2,)], "o int")
        out = pj.add_column(df, "k", 5)
        assert [r["k"] for r in out.collect()] == [5, 5]
        out2 = pj.add_column(df, "d", F.col("o") * 2)
        assert sorted(r["d"] for r in out2.collect()) == [2, 4]


class TestRemoveDuplicatedSpans:
    def _df(self, spark):
        shared = "alpha beta gamma delta epsilon"
        return spark.createDataFrame(
            [
                (1, f"intro {shared} outro one"),
                (2, f"{shared} differs here entirely"),
                (3, "totally unrelated words in this document body"),
                (4, "tiny doc"),
                (5, shared),  # the whole doc IS the shared span
            ],
            ["doc_id", "text"],
        )

    def test_covered_tokens_cut_others_byte_identical(self, spark):
        out = {r["doc_id"]: r["text"] for r in pj.remove_duplicated_spans(
            self._df(spark), "doc_id", "text", k=5).collect()}
        assert out[1] == "intro outro one"
        assert out[2] == "differs here entirely"
        # untouched docs keep their exact original text
        assert out[3] == "totally unrelated words in this document body"
        assert out[4] == "tiny doc"
        # fully-covered doc becomes empty, not NULL
        assert out[5] == ""

    def test_dest_column_keeps_original(self, spark):
        out = pj.remove_duplicated_spans(
            self._df(spark), "doc_id", "text", k=5, dest="clean")
        r = {x["doc_id"]: x for x in out.collect()}
        assert r[1]["text"].startswith("intro alpha")
        assert r[1]["clean"] == "intro outro one"

    def test_overlapping_spans_union_coverage(self, spark):
        # two docs share a 6-token run -> two overlapping 5-gram spans;
        # covered positions union, not double-remove
        run = "a b c d e f"
        df = spark.createDataFrame(
            [(1, f"x {run} y"), (2, f"{run} tail here")], ["doc_id", "text"])
        out = {r["doc_id"]: r["text"] for r in pj.remove_duplicated_spans(
            df, "doc_id", "text", k=5).collect()}
        assert out[1] == "x y"
        assert out[2] == "tail here"

    def test_layout_deterministic(self, spark, documents):
        a = sorted((r["doc_id"], r["text"]) for r in pj.remove_duplicated_spans(
            documents.repartition(1), "doc_id", "text", k=5).collect())
        b = sorted((r["doc_id"], r["text"]) for r in pj.remove_duplicated_spans(
            documents.repartition(7), "doc_id", "text", k=5).collect())
        assert a == b


class TestRemoveDuplicatedSpansDifferential:
    @staticmethod
    def _reference(docs, k, min_docs):
        toks = {d: t.split() for d, t in docs}
        gram_docs: dict = {}
        for d, tk in toks.items():
            for i in range(len(tk) - k + 1):
                gram_docs.setdefault(tuple(tk[i : i + k]), set()).add(d)
        flagged = {g for g, ds in gram_docs.items() if len(ds) >= min_docs}
        out = {}
        for d, t in docs:
            tk = toks[d]
            covered = set()
            for i in range(len(tk) - k + 1):
                if tuple(tk[i : i + k]) in flagged:
                    covered.update(range(i, i + k))
            if covered:
                out[d] = " ".join(
                    w for j, w in enumerate(tk) if j not in covered
                )
            else:
                out[d] = t
        return out

    def test_random_docs_match_reference(self, spark):
        import random

        rng = random.Random(99)
        vocab = [f"w{i}" for i in range(12)]  # tiny vocab forces collisions
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
            for i in range(60)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        for k in (3, 5):
            got = {r["doc_id"]: r["text"] for r in pj.remove_duplicated_spans(
                df, "doc_id", "text", k=k).collect()}
            assert got == self._reference(docs, k, 2), f"k={k}"


class TestSelectRowsPositional:
    """iloc-parity positional selection over the current row order."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(i, chr(97 + i)) for i in range(10)], "o int, v string"
        ).orderBy("o")

    def _ids(self, out):
        return sorted(r["o"] for r in out.collect())

    def test_int_and_negative(self, spark):
        df = self._df(spark)
        assert self._ids(pj.select_rows(df, 3)) == [3]
        assert self._ids(pj.select_rows(df, -1)) == [9]
        assert self._ids(pj.select_rows(df, 0, -2)) == [0, 8]

    def test_slices_match_iloc(self, spark):
        import pandas as pd

        df = self._df(spark)
        pdf = pd.DataFrame({"o": range(10)})
        for sl in [slice(2, 6), slice(None, 4), slice(5, None),
                   slice(1, 9, 3), slice(-3, None), slice(8, 2, -2)]:
            want = sorted(pdf.iloc[sl]["o"].tolist())
            got = self._ids(pj.select_rows(df, sl))
            assert got == want, sl

    def test_list_and_mixed_with_predicate(self, spark):
        df = self._df(spark)
        assert self._ids(pj.select_rows(df, [1, -1, 4])) == [1, 4, 9]
        # predicate ORs with positions (label-union semantics)
        assert self._ids(pj.select_rows(df, "o >= 8", 0)) == [0, 8, 9]

    def test_invert(self, spark):
        df = self._df(spark)
        assert self._ids(pj.select_rows(df, slice(0, 8), invert=True)) == [8, 9]

    def test_predicate_only_path_unchanged(self, spark):
        df = self._df(spark)
        out = pj.select_rows(df, "o < 3")
        assert "__srow" not in out.columns and self._ids(out) == [0, 1, 2]


class TestMoveRows:
    def _df(self, spark):
        return spark.createDataFrame(
            [(2, "w"), (4, "x"), (6, "y"), (8, "z")], ["a", "b"]
        ).orderBy("a")

    def _order(self, out):
        from pyjanitor_spark.utils.order import positional_index

        rows = positional_index(out, "p").collect()
        return [r["a"] for r in sorted(rows, key=lambda r: r["p"])]

    def test_reference_doctest_example(self, spark):
        # ref move.py doctest: move row 0 before row 3 -> [1, 2, 0, 3]
        out = pj.move(self._df(spark), source=0, target=3,
                      position="before", axis=0)
        assert self._order(out) == [4, 6, 2, 8]

    def test_after_and_block(self, spark):
        out = pj.move(self._df(spark), source=[0, 1], target=3,
                      position="after", axis=0)
        assert self._order(out) == [6, 8, 2, 4]

    def test_negative_and_default_target(self, spark):
        out = pj.move(self._df(spark), source=-1, position="before", axis=0)
        assert self._order(out) == [8, 2, 4, 6]
        out2 = pj.move(self._df(spark), source=0, position="after", axis=0)
        assert self._order(out2) == [4, 6, 8, 2]

    def test_axis_inferred_from_int(self, spark):
        out = pj.move(self._df(spark), source=2, target=0, position="before")
        assert self._order(out) == [6, 2, 4, 8]

    def test_target_inside_block_raises(self, spark):
        with pytest.raises(ValueError, match="inside the moved block"):
            pj.move(self._df(spark), source=[1, 2], target=2, axis=0)

    def test_edge_move_block_containing_edge(self, spark):
        # target=None is a frame-edge move with no anchor row: a block
        # that already contains the edge position must not raise —
        # [0,1] to front is a no-op, [0,3] to front pulls 3 up
        out = pj.move(self._df(spark), source=[0, 1], axis=0)
        assert self._order(out) == [2, 4, 6, 8]
        out = pj.move(self._df(spark), source=[0, 3], axis=0)
        assert self._order(out) == [2, 8, 4, 6]
        out = pj.move(self._df(spark), source=[0, 3], position="after", axis=0)
        assert self._order(out) == [4, 6, 2, 8]

    def test_column_move_unchanged(self, spark):
        out = pj.move(self._df(spark), "b", target="a", position="before")
        assert out.columns == ["b", "a"]


class TestParameterValidationSweep:
    """Invalid parameters must raise clear ValueErrors at call time, not
    assert confusingly or silently return empty frames."""

    def test_minhash_bad_params(self, docs):
        with pytest.raises(ValueError, match=">= 1"):
            pj.minhash_lsh_pairs(docs, "doc_id", "text", k=0)
        with pytest.raises(ValueError, match=">= 1"):
            pj.minhash_lsh_pairs(docs, "doc_id", "text", k=8, bands=0)
        with pytest.raises(ValueError, match=">= 1"):
            pj.minhash_signature(docs, "text", k=0)
        with pytest.raises(ValueError, match=">= 1"):
            pj.minhash_signature(docs, "text", shingle_n=0)

    def test_simhash_bits_range(self, docs):
        for bits in (0, -1, 127):
            with pytest.raises(ValueError, match=r"\[1, 126\]"):
                pj.simhash(docs, "text", bits=bits)

    def test_jaccard_bad_params(self, docs):
        with pytest.raises(ValueError, match="threshold"):
            pj.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=2.0)
        with pytest.raises(ValueError, match="threshold"):
            pj.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.0)
        with pytest.raises(ValueError, match="shingle_n"):
            pj.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=0)

    def test_topk_and_ngram_params(self, docs, embeddings):
        with pytest.raises(ValueError, match="k must be >= 1"):
            pj.cosine_topk(embeddings, [1.0] * 8, "embedding", "vec_id", k=0)
        with pytest.raises(ValueError, match=">= 1"):
            pj.top_ngrams(docs, "text", k=0)
        with pytest.raises(ValueError, match=">= 1"):
            pj.top_ngrams(docs, "text", n=0)
        with pytest.raises(ValueError, match=">= 1"):
            pj.top_collocations(docs, "text", k=0)

    def test_sampling_and_misc_params(self, spark, docs):
        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            pj.deterministic_sample(docs, "doc_id", 1.5)
        with pytest.raises(ValueError, match=r"\[0, 1\]"):
            pj.stratified_sample(docs, "text", "doc_id", {"a": 2.0})
        with pytest.raises(ValueError, match=r"\(0, 1\)"):
            pj.split_train_holdout(docs, "doc_id", holdout_fraction=2.0)
        with pytest.raises(ValueError, match="k must be >= 1"):
            pj.groupby_topk(docs, "text", "doc_id", 0)
        with pytest.raises(ValueError, match="dim"):
            pj.hashed_tfidf(docs, "text", "doc_id", dim=0)
        with pytest.raises(ValueError, match="BM25"):
            pj.bm25_score(docs, "text", "a", k1=-1.0)
        with pytest.raises(ValueError, match=r"\[4, 21\]"):
            pj.cardinality_sketch(docs, "text", lg_k=1)
        with pytest.raises(ValueError, match="column_length"):
            pj.limit_column_characters(docs, 0)
        with pytest.raises(ValueError, match="bins"):
            pj.bin_numeric(docs, "doc_id", "b", bins=0)
        with pytest.raises(ValueError, match="max_tokens"):
            pj.assign_packs(pj.token_count(docs, "text"), "n_tokens", 0, "doc_id")
        with pytest.raises(ValueError, match="n_merges"):
            pj.bpe_train(docs, "text", n_merges=-1)

    def test_timeseries_and_contamination_params(self, spark, docs):
        import datetime as dt

        ts = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1), 1.0)], ["ts", "v"]
        )
        with pytest.raises(ValueError, match="threshold"):
            pj.flag_jumps(ts, "ts", ["v"], scale="absolute", threshold=-0.5)
        with pytest.raises(ValueError, match="shingle_n"):
            pj.contamination_score(docs, docs, "doc_id", "text", shingle_n=0)


def test_groupby_agg_approx_nunique(spark):
    """approx_nunique: fixed-size HLL state instead of collect_set —
    exact on tiny cardinalities, within documented rse on larger ones."""
    import random

    rng = random.Random(17)
    rows = [(i % 4, f"v{rng.randint(0, 4999)}") for i in range(20000)]
    df = spark.createDataFrame(rows, "k int, v string")
    out = pj.groupby_agg(df, "k", "n_approx", "v", "approx_nunique")
    exact = {r["k"]: r["n"] for r in pj.groupby_agg(
        df, "k", "n", "v", "nunique").select("k", "n").distinct().collect()}
    approx = {r["k"]: r["n_approx"] for r in out.select("k", "n_approx").distinct().collect()}
    for k in exact:
        assert abs(approx[k] - exact[k]) <= 0.1 * exact[k], (k, approx[k], exact[k])
    # tiny cardinality is exact
    small = spark.createDataFrame([(1, "a"), (1, "b"), (1, "a")], "k int, v string")
    got = pj.groupby_agg(small, "k", "n", "v", "approx_nunique").first()["n"]
    assert got == 2


class TestEmptyInputSweep:
    """Every core verb must handle an empty frame gracefully — empty
    output (or its documented 1-row aggregate), never a crash."""

    @pytest.mark.slow  # heavy sweep: builder gate

    def test_empty_frames(self, spark):
        from pyjanitor_spark.functions.math import apply_math, ecdf

        docs = spark.createDataFrame([], "doc_id long, text string, lang string")
        nums = spark.createDataFrame([], "id long, v double, k string")
        emb = spark.createDataFrame(
            [], "vec_id long, embedding array<double>, label int"
        )
        empty_out = [
            pj.dedupe_exact(docs, "text", "doc_id"),
            pj.minhash_lsh_pairs(docs, "doc_id", "text"),
            pj.simhash(docs, "text"),
            pj.ngram_jaccard_pairs(docs, "doc_id", "text"),
            pj.dup_span_fraction(docs, "doc_id", "text"),
            pj.remove_duplicated_spans(docs, "doc_id", "text"),
            pj.language_id(docs, "text"),
            pj.top_ngrams(docs, "text"),
            pj.bpe_train(docs, "text"),
            pj.hashed_tfidf(docs, "text", "doc_id"),
            pj.bm25_score(docs, "text", "q"),
            pj.winsorize(nums, "v"),
            pj.quantile_bin(nums, "v", "b", 3),
            apply_math(nums, "v", ecdf, dest="e"),
            pj.count_cumulative_unique(nums, "k", "c", order_by="id"),
            pj.factorize_columns(nums, "k", order_by="id"),
            pj.groupby_agg(nums, "k", "m", "v", "mean"),
            pj.heavy_hitters(nums, "k", 0.1),
            pj.semdedup(emb, "embedding", "vec_id", "label"),
            pj.cosine_topk(emb, [1.0], "embedding", "vec_id"),
            pj.take_token_budget(docs, "text", 100, "doc_id"),
            pj.select_rows(nums, slice(0, 5)),
            pj.move(nums, source=0, target=1, axis=0),
        ]
        for out in empty_out:
            assert out.count() == 0
        # documented 1-row aggregates on empty input
        assert pj.quantiles(nums, "v", [0.5]).count() == 1
        assert pj.cardinality_sketch(nums, "k").first()["distinct_est"] == 0


class TestGroupbyAggOrdered:
    def test_first_last_deterministic_with_order(self, spark):
        rows = [(1, 10, "a"), (1, 30, "c"), (1, 20, "b"),
                (2, 5, "x"), (2, 1, "y")]
        df = spark.createDataFrame(rows, "k int, o int, v string")
        for parts in (1, 5):
            out = pj.groupby_agg(
                df.repartition(parts),
                "k",
                {"fst": ("v", "first"), "lst": ("v", "last")},
                order_by="o",
            )
            got = {(r["k"], r["fst"], r["lst"]) for r in out.collect()}
            assert got == {(1, "a", "c"), (2, "y", "x")}, parts

    def test_order_does_not_change_sums(self, spark):
        df = spark.createDataFrame(
            [(1, 1, 2.0), (1, 2, 3.0), (2, 3, 4.0)], "k int, o int, v double"
        )
        a = {(r["k"], r["s"]) for r in pj.groupby_agg(df, "k", "s", "v", "sum").collect()}
        b = {(r["k"], r["s"]) for r in pj.groupby_agg(df, "k", "s", "v", "sum", order_by="o").collect()}
        assert a == b == {(1, 5.0), (2, 4.0)}

    def test_bad_order_column(self, spark):
        df = spark.createDataFrame([(1, 1.0)], "k int, v double")
        with pytest.raises(KeyError, match="nope"):
            pj.groupby_agg(df, "k", "s", "v", "sum", order_by="nope")


class TestSortNaturally:
    """Property: digit runs up to 20 digits compare numerically — the
    documented contract (longer runs are outside the supported
    domain)."""

    @given(
        st.lists(
            st.tuples(
                st.sampled_from(["", "x", "ab", "v-"]),
                st.integers(min_value=0, max_value=10**20 - 1),
                st.sampled_from(["", "z", ".7rc"]),
            ),
            min_size=2,
            max_size=8,
        )
    )
    @settings(max_examples=15, deadline=None)
    def test_numeric_runs_sort_numerically(self, spark, parts):
        import re

        strings = [f"{a}{n}{b}" for a, n, b in parts]
        df = spark.createDataFrame([(s,) for s in strings], "s string")
        got = [r["s"] for r in pj.sort_naturally(df, "s").collect()]

        def natkey(s):
            return [
                # numbers sort before text (natsort convention; also
                # the verb's padded-key behavior: '0' < 'x')
                (0, int(p)) if p.isdigit() else (1, p)
                for p in re.split(r"(\d+)", s)
                if p != ""
            ]

        # compare multisets of keys in order: the verb's order must be
        # non-decreasing under the natural key
        keys = [natkey(s) for s in got]
        assert keys == sorted(keys), (strings, got)

    def test_20_digit_boundary_exact(self, spark):
        big = 10**20 - 1  # largest in-contract run
        vals = [f"a{big}", "a1", f"a{10**19}", "a999"]
        df = spark.createDataFrame([(s,) for s in vals], "s string")
        got = [r["s"] for r in pj.sort_naturally(df, "s").collect()]
        assert got == ["a1", "a999", f"a{10**19}", f"a{big}"]

    def test_descending_and_dest(self, spark):
        df = spark.createDataFrame([("x2",), ("x10",)], "s string")
        out = pj.sort_naturally(df, "s", ascending=False, dest="k")
        rows = out.collect()
        assert [r["s"] for r in rows] == ["x10", "x2"]
        assert rows[0]["k"] > rows[1]["k"]


def test_drop_duplicate_columns_positional(spark):
    # df[i] resolves by NAME in PySpark (AMBIGUOUS_REFERENCE on dup
    # names) — the verb must select truly positionally
    df = spark.createDataFrame([(1, 10.0, 99.0)], "k int, v double, w double").select(
        "k", F.col("v").alias("val"), F.col("w").alias("val")
    )
    kept0 = pj.drop_duplicate_columns(df, "val", nth_index=0)
    kept1 = pj.drop_duplicate_columns(df, "val", nth_index=1)
    assert kept0.columns == ["k", "val"] and kept1.columns == ["k", "val"]
    # nth_index selects the duplicate to DROP (reference semantics)
    assert kept0.first()["val"] == 99.0
    assert kept1.first()["val"] == 10.0
    import pytest as _pytest

    with _pytest.raises(KeyError):
        pj.drop_duplicate_columns(df, "nope")


def test_deconcatenate_ragged_rows_null_tail(spark):
    # ANSI mode: getItem would throw on short rows; F.get nulls the tail
    df = spark.createDataFrame([("a-1-x",), ("b-2",), ("c",)], ["k"])
    out = pj.deconcatenate_column(df, "k", sep="-", autoname="p")
    assert out.columns == ["k", "p1", "p2", "p3"]
    rows = {r["k"]: (r["p1"], r["p2"], r["p3"]) for r in out.collect()}
    assert rows == {
        "a-1-x": ("a", "1", "x"),
        "b-2": ("b", "2", None),
        "c": ("c", None, None),
    }


def test_scalers_constant_column_null_not_throw(spark):
    # ANSI mode: (x-mu)/0 would throw DIVIDE_BY_ZERO; pandas 0/0 is NaN
    from pyjanitor_spark.functions import math as pjm
    df = spark.createDataFrame([(5.0,), (5.0,), (5.0,)], ["x"])
    z = pjm.apply_math(df, "x", pjm.z_score, dest="z").collect()
    assert [r["z"] for r in z] == [None, None, None]
    m = pj.min_max_scale(df, column_name="x").collect()
    assert [r["x"] for r in m] == [None, None, None]
    # single row: stddev is null -> null, not a crash
    one = spark.createDataFrame([(7.0,)], ["x"])
    assert pjm.apply_math(one, "x", pjm.z_score, dest="z").first()["z"] is None
    # all-null column: min/max are null -> stays null (was a TypeError)
    nn = spark.createDataFrame([(None,), (None,)], "x double")
    assert [r["x"] for r in pj.min_max_scale(nn, column_name="x").collect()] == [None, None]
    # non-degenerate columns unchanged
    ok = spark.createDataFrame([(0.0,), (10.0,)], ["x"])
    vals = sorted(r["x"] for r in pj.min_max_scale(ok, column_name="x").collect())
    assert vals == [0.0, 1.0]


def test_min_max_scale_jointly_skips_an_all_null_column(spark):
    """``jointly=True`` takes the joint range over the non-null values
    (pandas' min/max skip NaN): the all-null column stays null, and the
    others scale over [0, 10], the range of x and y together."""
    df = spark.createDataFrame(
        [(1, 0.0, 4.0, None), (2, 5.0, 10.0, None), (3, None, 2.0, None)],
        "k int, x double, y double, z double",
    )
    out = pj.min_max_scale(df, column_name=["x", "y", "z"], jointly=True)
    got = {r["k"]: (r["x"], r["y"], r["z"]) for r in out.collect()}
    assert got == {
        1: (0.0, 0.4, None),
        2: (0.5, 1.0, None),
        3: (None, 0.2, None),
    }


@pytest.mark.parametrize("jointly", [False, True])
def test_min_max_scale_without_numeric_columns_raises_at_call(spark, jointly):
    """A frame with no numeric column has nothing to scale: the call
    raises a ``ValueError`` saying so, before it runs any Spark job.
    The input sits above a shuffle, so a ``share`` pin taken before
    the check would run one."""
    sc = spark.sparkContext
    df = spark.range(4).repartition(2).select(F.col("id").cast("string").alias("s"))
    sc.setJobGroup("min_max_scale_no_numeric", "min_max_scale without numeric columns")
    try:
        with pytest.raises(ValueError, match="no numeric columns to scale"):
            pj.min_max_scale(df, jointly=jointly)
        jobs = sc.statusTracker().getJobIdsForGroup("min_max_scale_no_numeric")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


class TestProductQuantization:
    def test_train_shape_and_layout_determinism(self, spark, embeddings):
        cb = pj.pq_train(embeddings, "embedding", "vec_id", m=4, k=4, iters=1)
        rows = cb.collect()
        assert len(rows) == 16
        assert {(r["sub"], r["code"]) for r in rows} == {
            (s, c) for s in range(4) for c in range(4)
        }
        assert all(len(r["centroid"]) == 16 for r in rows)
        # decimal-exact means + hash-seeded init -> layout-independent
        cb1 = pj.pq_train(
            embeddings.repartition(1), "embedding", "vec_id", m=4, k=4, iters=1
        )
        cb7 = pj.pq_train(
            embeddings.repartition(7), "embedding", "vec_id", m=4, k=4, iters=1
        )
        assert sorted(map(repr, cb1.collect())) == sorted(map(repr, cb7.collect()))

    def test_encode_codes_and_determinism(self, spark, embeddings):
        cb = pj.pq_train(embeddings, "embedding", "vec_id", m=4, k=4, iters=1)
        a = {
            r["vec_id"]: list(r["pq_code"])
            for r in pj.pq_encode(embeddings.repartition(1), "embedding", cb).collect()
        }
        b = {
            r["vec_id"]: list(r["pq_code"])
            for r in pj.pq_encode(embeddings.repartition(7), "embedding", cb).collect()
        }
        assert a == b
        assert all(len(v) == 4 and all(0 <= c < 4 for c in v) for v in a.values())

    def test_topk_recall_on_clustered_data(self, spark):
        # genuinely clustered data (the parquet embeddings are near-
        # uniform in L2): 4 tight clusters, PQ cells must isolate them
        import random

        rng = random.Random(21)
        centers = [[c] * 8 for c in (-6.0, -2.0, 2.0, 6.0)]
        rows = [
            (i, [centers[i % 4][j] + rng.gauss(0, 0.3) for j in range(8)])
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
        q = rows[0][1]  # a cluster-0 member
        v = F.col("embedding").cast("array<double>")
        d2 = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(x) for x in q]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        brute = {
            r["vec_id"]
            for r in df.select("vec_id", d2.alias("d"))
            .orderBy(F.col("d").asc(), F.col("vec_id").asc())
            .limit(10)
            .collect()
        }
        got = pj.pq_topk(
            df, q, "embedding", "vec_id", k=10, m=2, codebook_k=8, iters=2
        ).collect()
        ids = {r["vec_id"] for r in got}
        assert len(got) == 10
        # every ADC hit is a cluster-0 member and the query row is one
        assert all(i % 4 == 0 for i in ids)
        assert 0 in ids
        # within the isolated cluster, cell resolution still recovers a
        # meaningful share of exact neighbors (plain ADC, no re-rank:
        # same-cell ties resolve by id, so full recall needs the usual
        # ADC -> exact re-rank step, not asserted here)
        assert len(brute & ids) >= 3

    def test_topk_contracts_true_distance(self, spark, embeddings):
        # on weakly-structured data ADC can't match exact top-k, but its
        # picks must still be systematically nearer than a random row:
        # mean TRUE distance of the ADC top-10 well below the corpus median
        q = [
            float(v)
            for v in embeddings.filter(F.col("vec_id") == 5).first()["embedding"]
        ]
        got = pj.pq_topk(
            embeddings, q, "embedding", "vec_id", k=10, m=8, codebook_k=8, iters=2
        ).collect()
        ids = [r["vec_id"] for r in got]
        assert ids[0] == 5  # the query's own row quantizes to distance ~min
        v = F.col("embedding").cast("array<double>")
        d2 = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(x) for x in q]),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        med = embeddings.select(
            F.median(d2).alias("m")
        ).first()["m"]
        picked = embeddings.filter(F.col("vec_id").isin(ids)).select(
            F.avg(d2).alias("a")
        ).first()["a"]
        assert picked < 0.95 * med, (picked, med)

    def test_topk_precoded_matches_inline(self, spark, embeddings):
        q = [
            float(v)
            for v in embeddings.filter(F.col("vec_id") == 2).first()["embedding"]
        ]
        cb = pj.pq_train(embeddings, "embedding", "vec_id", m=4, k=4, iters=1)
        inline = pj.pq_topk(
            embeddings, q, "embedding", "vec_id", k=8, codebooks=cb
        ).collect()
        enc = pj.pq_encode(embeddings, "embedding", cb)
        coded = pj.pq_topk(
            enc, q, "embedding", "vec_id", k=8, codebooks=cb, code_col="pq_code"
        ).collect()
        assert [(r["vec_id"], r["adc_dist"]) for r in inline] == [
            (r["vec_id"], r["adc_dist"]) for r in coded
        ]

    def test_codebook_parquet_roundtrip(self, spark, tmp_path, embeddings):
        cb = pj.pq_train(embeddings, "embedding", "vec_id", m=2, k=4, iters=1)
        path = str(tmp_path / "pq_codebook")
        cb.write.parquet(path)
        cb2 = spark.read.parquet(path)
        a = pj.pq_encode(embeddings, "embedding", cb).collect()
        b = pj.pq_encode(embeddings, "embedding", cb2).collect()
        assert sorted(map(repr, a)) == sorted(map(repr, b))

    @pytest.mark.slow  # heavy sweep: builder gate

    def test_large_codebook_rides_broadcast_row(self, spark, embeddings):
        # 8*16 = 128 > _KMEANS_LITERAL_MAX: encode must use the 1-row
        # broadcast attach and still match the first-min arithmetic
        from pyjanitor_spark.operators.similarity import _pq_collect_cents

        cb = pj.pq_train(embeddings, "embedding", "vec_id", m=8, k=16, iters=0)
        out = pj.pq_encode(embeddings, "embedding", cb)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Broadcast" in plan
        cents = _pq_collect_cents(cb)
        dsub = len(cents[0][0])
        for r in out.select("embedding", "pq_code").collect():
            vec = [float(x) for x in r["embedding"]]
            assert list(r["pq_code"]) == [
                _first_min_argmin(vec[s * dsub : (s + 1) * dsub], cents[s])
                for s in range(len(cents))
            ]

    def test_pq_topk_inline_codes_bounded(self, spark, embeddings):
        # the inline encode of pq_topk follows pq_encode's size rule:
        # 8*16 centroids ride the broadcast row, so its plan stays the
        # size of pq_encode's, and its rows equal the pre-encoded path
        q = [
            float(v)
            for v in embeddings.filter(F.col("vec_id") == 3).first()["embedding"]
        ]
        inline = pj.pq_topk(
            embeddings, q, "embedding", "vec_id", k=10, m=8, codebook_k=16
        )
        cb = pj.pq_train(embeddings, "embedding", "vec_id", m=8, k=16)
        enc = pj.pq_encode(embeddings, "embedding", cb)

        def analyzed_len(d):
            return len(d._jdf.queryExecution().analyzed().toString())

        assert analyzed_len(inline) <= 2 * analyzed_len(enc)
        coded = pj.pq_topk(
            enc, q, "embedding", "vec_id", k=10, codebooks=cb, code_col="pq_code"
        )
        assert [tuple(r) for r in inline.collect()] == [
            tuple(r) for r in coded.collect()
        ]

    def test_kmeans_assign_is_one_subspace_pq(self, spark, embeddings):
        for k, iters, seed in ((4, 2, "km"), (70, 1, "s")):
            labels = {
                r["vec_id"]: r["cluster"]
                for r in pj.kmeans_assign(
                    embeddings, "embedding", "vec_id", k=k, iters=iters, seed=seed
                ).collect()
            }
            cb = pj.pq_train(
                embeddings, "embedding", "vec_id", m=1, k=k, iters=iters, seed=seed
            )
            codes = {
                r["vec_id"]: r["pq_code"][0]
                for r in pj.pq_encode(embeddings, "embedding", cb).collect()
            }
            assert labels == codes, (k, iters)

    def test_error_contracts(self, spark, embeddings):
        with pytest.raises(ValueError, match="divisible"):
            pj.pq_train(embeddings, "embedding", "vec_id", m=7, k=2, iters=0)
        with pytest.raises(ValueError, match="m >= 1"):
            pj.pq_train(embeddings, "embedding", "vec_id", m=0, k=2)
        cb = pj.pq_train(embeddings, "embedding", "vec_id", m=2, k=2, iters=0)
        with pytest.raises(ValueError, match="query dim"):
            pj.pq_topk(embeddings, [1.0, 2.0], "embedding", "vec_id", codebooks=cb)
        with pytest.raises(ValueError, match="k must be"):
            pj.pq_topk(embeddings, [0.0] * 64, "embedding", "vec_id", k=0)


def test_ivf_pq_topk_prunes_and_matches_full_pq(spark, embeddings):
    q = [
        float(v)
        for v in embeddings.filter(F.col("vec_id") == 7).first()["embedding"]
    ]
    cb = pj.pq_train(embeddings, "embedding", "vec_id", m=4, k=4, iters=1)
    # with nprobe = all clusters, IVF-PQ equals plain PQ over the frame
    nclusters = embeddings.select("label").distinct().count()
    full = pj.pq_topk(
        embeddings, q, "embedding", "vec_id", k=10, codebooks=cb
    ).collect()
    allprobe = pj.ivf_pq_topk(
        embeddings, q, "embedding", "vec_id", "label",
        k=10, nprobe=nclusters, codebooks=cb,
    ).collect()
    assert [(r["vec_id"], r["adc_dist"]) for r in full] == [
        (r["vec_id"], r["adc_dist"]) for r in allprobe
    ]
    # with nprobe=2, every result row comes from one of the two probed
    # clusters (the centroid ranking), and the scan was genuinely pruned
    pruned = pj.ivf_pq_topk(
        embeddings, q, "embedding", "vec_id", "label",
        k=10, nprobe=2, codebooks=cb,
    )
    ids = [r["vec_id"] for r in pruned.collect()]
    labs = {
        r["label"]
        for r in embeddings.filter(F.col("vec_id").isin(ids)).collect()
    }
    assert len(labs) <= 2
    # pre-encoded compressed-scan path matches
    enc = pj.pq_encode(embeddings, "embedding", cb)
    coded = pj.ivf_pq_topk(
        enc, q, "embedding", "vec_id", "label",
        k=10, nprobe=2, codebooks=cb, code_col="pq_code",
    ).collect()
    assert [r["vec_id"] for r in pruned.collect()] == [r["vec_id"] for r in coded]

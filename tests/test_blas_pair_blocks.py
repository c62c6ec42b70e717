"""Block-boundary correctness for the BLAS pair stages.

``semdedup`` and ``embedding_near_dup`` compute their Σ size² pair work
as BLOCKED matrix products; the row-block split only engages when a
cluster/block exceeds ~2048 rows ((1 << 22) // n < n), which the sf0.01
oracle gates never reach — so the multi-block path gets its own
brute-force equivalence test here: 3000 rows in one cluster (block
size ≈ 1398 → 3 row blocks), deterministic pseudo-random vectors, the
full pair set and kept set compared against a single unblocked numpy
matmul.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

import pyjanitor_spark as pj

N = 3000
DIM = 6


def _vec(i: int) -> list[float]:
    # deterministic, engine-independent pseudo-randoms in [-1, 1)
    h = hashlib.md5(f"blas:{i}".encode()).digest()
    return [b / 127.5 - 1.0 for b in h[:DIM]]


@pytest.fixture(scope="module")
def frame():
    return pd.DataFrame(
        {
            "vid": range(N),
            "lab": ["only"] * N,
            "emb": [_vec(i) for i in range(N)],
        }
    )


@pytest.fixture(scope="module")
def brute(frame):
    V = np.asarray(frame["emb"].tolist(), dtype=np.float64)
    n = np.sqrt((V * V).sum(axis=1))
    denom = np.outer(n, n)
    with np.errstate(divide="ignore", invalid="ignore"):
        C = np.where(denom > 0, (V @ V.T) / denom, 0.0)
    return C


def _sdf(spark, frame):
    return spark.createDataFrame(
        frame, "vid bigint, lab string, emb array<double>"
    )


def test_embedding_near_dup_multiblock_equals_bruteforce(spark, frame, brute):
    thr = 0.9  # ~sparse but nonempty pair set on these vectors
    ii, jj = np.nonzero(brute >= thr)
    expect = {(int(x), int(y)) for x, y in zip(ii, jj) if x < y}
    assert expect, "threshold produced no pairs; test would be vacuous"
    got = pj.embedding_near_dup(
        _sdf(spark, frame), "vid", "emb", threshold=thr, block_col="lab"
    ).toPandas()
    got_pairs = {(int(a), int(b)) for a, b in zip(got["id_1"], got["id_2"])}
    assert got_pairs == expect
    # cos values exact (same matmul arithmetic, block split irrelevant)
    for _, r in got.iterrows():
        assert abs(r["cos"] - brute[int(r["id_1"]), int(r["id_2"])]) < 1e-12


def test_semdedup_multiblock_equals_bruteforce(spark, frame, brute):
    thr = 0.9
    # union-find over the brute-force edge set; keep = farthest from
    # centroid (min cosine-to-centroid), ties to min id
    parent = list(range(N))

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    ii, jj = np.nonzero(brute >= thr)
    for x, y in zip(ii, jj):
        if x < y:
            rx, ry = find(int(x)), find(int(y))
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
    V = np.asarray(frame["emb"].tolist(), dtype=np.float64)
    cent = V.mean(axis=0)
    n = np.sqrt((V * V).sum(axis=1))
    cn = np.sqrt((cent * cent).sum())
    with np.errstate(divide="ignore", invalid="ignore"):
        cc = np.where((n > 0) & (cn > 0), (V @ cent) / (n * cn), 0.0)
    groups: dict = {}
    for i in range(N):
        groups.setdefault(find(i), []).append(i)
    expect = {min(m, key=lambda i: (cc[i], i)) for m in groups.values()}

    kept = pj.semdedup(
        _sdf(spark, frame), "emb", "vid", "lab", eps=thr,
        max_cluster_size=None,
    ).toPandas()
    got = set(int(v) for v in kept["vid"])
    # centroid arithmetic differs (decimal-exact vs numpy float) — the
    # GROUPING must match exactly; representative picks may flip only
    # on centroid-cosine ties, which these random vectors don't have
    assert got == expect

def test_embedding_near_dup_split_equals_unsplit(spark, frame, brute):
    """Triangle-partitioned split sub-tasks must emit the EXACT pair
    set and cos values of the single-task path — every pair lands in
    exactly one (sub-block i, sub-block j) task.  The one block holds
    3000 x 6 = 18000 cells, so the ``auto_split_cells`` budgets force a
    2-way and a 3-way split."""
    thr = 0.9
    base = pj.embedding_near_dup(
        _sdf(spark, frame), "vid", "emb", threshold=thr, block_col="lab"
    ).toPandas()
    want = {
        (int(a), int(b)): c
        for a, b, c in zip(base["id_1"], base["id_2"], base["cos"])
    }
    for cells in (9000, 6000):
        got = pj.embedding_near_dup(
            _sdf(spark, frame), "vid", "emb", threshold=thr,
            block_col="lab", split="auto", auto_split_cells=cells,
        ).toPandas()
        got_m = {
            (int(a), int(b)): c
            for a, b, c in zip(got["id_1"], got["id_2"], got["cos"])
        }
        assert set(got_m) == set(want), f"budget {cells}: pair set differs"
        assert len(got) == len(got_m), f"budget {cells}: emitted dup pairs"
        for k, v in want.items():
            assert abs(got_m[k] - v) < 1e-12


def test_semdedup_split_equals_unsplit(spark, frame):
    """The split pipeline routes pairs through distributed components
    instead of the in-task union-find; the kept set must be identical
    (the 6000-cell budget sends the one 18000-cell cluster there)."""
    thr = 0.9
    kept1 = set(
        int(v)
        for v in pj.semdedup(
            _sdf(spark, frame), "emb", "vid", "lab", eps=thr,
            max_cluster_size=None,
        ).toPandas()["vid"]
    )
    kept3 = set(
        int(v)
        for v in pj.semdedup(
            _sdf(spark, frame), "emb", "vid", "lab", eps=thr, split="auto",
            auto_split_cells=6000,
        ).toPandas()["vid"]
    )
    assert kept1 == kept3


def test_split_validates(spark, frame):
    """``split`` is 1 or 'auto'; any other value names both."""
    import pytest as _pt

    sdf = _sdf(spark, frame)
    for bad in (0, 2, 4):
        with _pt.raises(ValueError, match="split must be 1 or 'auto'"):
            pj.embedding_near_dup(sdf, "vid", "emb", block_col="lab", split=bad)
        with _pt.raises(ValueError, match="split must be 1 or 'auto'"):
            pj.semdedup(sdf, "emb", "vid", "lab", split=bad)


# ---------------------------------------------------------------- auto


@pytest.fixture(scope="module")
def skew_frame():
    """One hot block (80% of rows), one cold block, one 3-row block —
    the shape split='auto' exists for: only the hot block should fan
    out, the others run as single diagonal tasks."""
    rows = []
    for i in range(N):
        lab = "hot" if i % 10 < 8 else ("cold" if i % 10 < 9 else "tiny")
        if lab == "tiny" and i > 100:
            lab = "cold"
        rows.append((i, lab, _vec(i)))
    return pd.DataFrame(rows, columns=["vid", "lab", "emb"])


def test_embedding_near_dup_autosplit_equals_unsplit(spark, skew_frame):
    """split='auto' sizes the triangle split PER BLOCK from the
    rows×dim window; pair set and cos values must be identical to the
    unsplit path with the hot block forced to m≈rows·dim/budget and
    the cold/tiny blocks left at m=1."""
    thr = 0.9
    sdf = _sdf(spark, skew_frame)
    base = pj.embedding_near_dup(
        sdf, "vid", "emb", threshold=thr, block_col="lab"
    ).toPandas()
    want = {
        (int(a), int(b)): c
        for a, b, c in zip(base["id_1"], base["id_2"], base["cos"])
    }
    # hot block = 2400 rows x 6 dims = 14400 cells -> m=3 at 5000;
    # cold (597x6=3582) and tiny (3x6=18) stay m=1
    got = pj.embedding_near_dup(
        sdf, "vid", "emb", threshold=thr, block_col="lab",
        split="auto", auto_split_cells=5000,
    ).toPandas()
    got_m = {
        (int(a), int(b)): c
        for a, b, c in zip(got["id_1"], got["id_2"], got["cos"])
    }
    assert set(got_m) == set(want)
    assert len(got) == len(got_m), "auto split emitted duplicate pairs"
    for k, v in want.items():
        assert abs(got_m[k] - v) < 1e-12


def test_autosplit_degenerate_vectors(spark, skew_frame):
    """Null / ragged / NaN rows keep the zero-fill exclusion semantics
    through the auto-split path (they pair with nothing)."""
    thr = 0.9
    bad = pd.DataFrame(
        {
            "vid": [N + 1, N + 2, N + 3],
            "lab": ["hot", "hot", "cold"],
            "emb": [None, [1.0, 2.0], [float("nan")] * DIM],
        }
    )
    frame2 = pd.concat([skew_frame, bad], ignore_index=True)
    sdf = _sdf(spark, frame2)
    base = pj.embedding_near_dup(
        sdf, "vid", "emb", threshold=thr, block_col="lab"
    ).toPandas()
    got = pj.embedding_near_dup(
        sdf, "vid", "emb", threshold=thr, block_col="lab",
        split="auto", auto_split_cells=5000,
    ).toPandas()
    key = lambda d: sorted(zip(d["id_1"], d["id_2"]))  # noqa: E731
    assert key(got) == key(base)
    assert not set(int(v) for v in got["id_1"]) & {N + 1, N + 2, N + 3}
    assert not set(int(v) for v in got["id_2"]) & {N + 1, N + 2, N + 3}


def test_semdedup_auto_picks_in_task_when_cold(spark, skew_frame):
    """No cluster exceeds the budget -> the bounded pre-flight keeps
    the single-task union-find path; output identical to split=1."""
    thr = 0.9
    sdf = _sdf(spark, skew_frame)
    base = set(
        int(v)
        for v in pj.semdedup(
            sdf, "emb", "vid", "lab", eps=thr, max_cluster_size=None
        ).toPandas()["vid"]
    )
    got = set(
        int(v)
        for v in pj.semdedup(
            sdf, "emb", "vid", "lab", eps=thr, split="auto",
            max_cluster_size=None,
        ).toPandas()["vid"]
    )
    assert got == base


def test_semdedup_auto_splits_hot_cluster(spark, skew_frame):
    """Tiny budget -> the hot cluster trips the straggler rule and the
    split pipeline must reproduce the in-task kept set exactly."""
    thr = 0.9
    sdf = _sdf(spark, skew_frame)
    base = set(
        int(v)
        for v in pj.semdedup(
            sdf, "emb", "vid", "lab", eps=thr, max_cluster_size=None
        ).toPandas()["vid"]
    )
    got = set(
        int(v)
        for v in pj.semdedup(
            sdf, "emb", "vid", "lab", eps=thr, split="auto",
            auto_split_cells=5000, max_cluster_size=None,
        ).toPandas()["vid"]
    )
    assert got == base


def test_semdedup_auto_rescues_would_abort(spark, skew_frame):
    """A cluster violating an explicit row cap would ABORT the in-task
    path; auto must route it through the split pipeline instead (with
    a warning that the row gate is inactive) and still match."""
    import warnings as _w

    thr = 0.9
    sdf = _sdf(spark, skew_frame)
    base = set(
        int(v)
        for v in pj.semdedup(
            sdf, "emb", "vid", "lab", eps=thr, max_cluster_size=None
        ).toPandas()["vid"]
    )
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        got = set(
            int(v)
            for v in pj.semdedup(
                sdf, "emb", "vid", "lab", eps=thr, split="auto",
                max_cluster_size=100,
            ).toPandas()["vid"]
        )
    assert got == base
    assert any("row gate" in str(r.message) for r in rec)


def test_semdedup_split_warns_on_explicit_gates(spark, frame):
    import warnings as _w

    sdf = _sdf(spark, frame)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        pj.semdedup(sdf, "emb", "vid", "lab", eps=0.9, split="auto",
                    auto_split_cells=6000, max_cluster_size=100)
    assert any("row gate" in str(r.message) for r in rec)
    # default caps in split mode stay silent — only EXPLICIT ones warn
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        pj.semdedup(sdf, "emb", "vid", "lab", eps=0.9, split="auto",
                    auto_split_cells=6000)
    assert not [r for r in rec if "row gate" in str(r.message)]


def test_autosplit_validates(spark, frame):
    import pytest as _pt

    sdf = _sdf(spark, frame)
    with _pt.raises(ValueError, match="auto"):
        pj.embedding_near_dup(sdf, "vid", "emb", block_col="lab",
                              split="bogus")
    with _pt.raises(ValueError, match="auto"):
        pj.semdedup(sdf, "emb", "vid", "lab", split="bogus")
    with _pt.raises(ValueError, match="auto_split_cells"):
        pj.embedding_near_dup(sdf, "vid", "emb", block_col="lab",
                              split="auto", auto_split_cells=0)


def test_cross_join_autosplit_equals_unsplit(spark, frame):
    """Brute force is one block on the blocked kernel, so 'auto' can
    spread it over sub-tasks (3000 x 6 = 18000 cells, 3-way at a
    6000-cell budget) with the pair set and cos values unchanged."""
    sdf = _sdf(spark, frame)

    def pairs(**kw):
        out = pj.embedding_near_dup(
            sdf, "vid", "emb", threshold=0.9, allow_cross_join=True, **kw
        ).toPandas()
        return {(int(a), int(b)): c for a, b, c in zip(out["id_1"], out["id_2"], out["cos"])}

    want = pairs()
    got = pairs(split="auto", auto_split_cells=6000)
    assert want and set(got) == set(want)
    assert all(abs(got[k] - v) < 1e-12 for k, v in want.items())

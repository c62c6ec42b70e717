"""Round-11 BLAS-stage hardening: the Arrow-direct matrix reader
(``utils/vecmat.py``), the rows×dim memory gates, and the degenerate-
vector / duplicate-id semantics VERDICT r10 + ADVICE flagged.

* ``max_cluster_cells`` / ``max_block_cells`` — a ROW cap alone
  under-gates high-dim embeddings (100k × 3072 dims = 2.5 GB float64);
  the cells gate must fire, inside the task, on a high-dim cluster
  that passes the row cap.
* degenerate vectors (null / ragged / NaN) previously crashed the Arrow
  task via ``np.asarray(pdf[v].tolist())``; now they zero-fill — cosine
  0.0 against everything — reproducing the old expression-join's
  exclusion (a null ``zip_with`` dot was null → pair dropped; a NaN
  must NOT ride Spark's NaN-is-largest comparison into the output).
* two rows sharing one id value never emit a self-pair (the old
  ``a.id < b.id`` join predicate, lost in the positional rewrite).
* banded auto-block pair dedup keys on (id_1, id_2) only — distinct()
  over the float cos would keep both copies on any ulp difference
  between the independent per-band BLAS blocks.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

import pyjanitor_spark as pj
from pyjanitor_spark.utils.vecmat import list_column_matrix


# ---------------------------------------------------------------- helper

def test_matrix_clean_zero_copy_shape():
    V, good, dim = list_column_matrix(pa.array([[1.0, 2.0], [3.0, 4.0]]))
    assert V.shape == (2, 2) and V.dtype == np.float64
    assert good.all() and dim == 2
    assert V.flags["C_CONTIGUOUS"]


def test_matrix_degenerate_rows_zero_filled():
    arr = pa.array(
        [[1.0, 2.0], None, [3.0], [float("nan"), 1.0], [float("inf"), 0.0]]
    )
    V, good, dim = list_column_matrix(arr)
    assert dim == 2 and V.shape == (5, 2)
    assert list(good) == [True, False, False, False, False]
    assert (V[1:] == 0.0).all()
    assert np.isfinite(V).all()


def test_matrix_sliced_and_chunked():
    base = pa.chunked_array(
        [pa.array([[9.0, 9.0], [1.0, 2.0]]), pa.array([[3.0, 4.0]])]
    )
    V, good, dim = list_column_matrix(base)
    assert V.tolist() == [[9.0, 9.0], [1.0, 2.0], [3.0, 4.0]]
    sliced = pa.array([[9.0, 9.0], [1.0, 2.0], [3.0, 4.0]]).slice(1, 2)
    V2, _, _ = list_column_matrix(sliced)
    assert V2.tolist() == [[1.0, 2.0], [3.0, 4.0]]


def test_matrix_empty_and_all_null():
    V, good, dim = list_column_matrix(pa.array([], type=pa.list_(pa.float64())))
    assert V.shape == (0, 0) and dim == 0
    V, good, dim = list_column_matrix(
        pa.array([None, None], type=pa.list_(pa.float64()))
    )
    assert V.shape == (2, 0) and not good.any()


# ---------------------------------------------------------------- gates

def _cluster_frame(spark, n=8, dim=16, cluster="c0"):
    rows = [
        (i, cluster, [float((i * 7 + d) % 5) for d in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, cl string, emb array<double>")


def test_semdedup_cells_gate_inline(spark):
    df = _cluster_frame(spark, n=8, dim=16)
    # 8 rows passes any row cap; 8*16=128 cells > 100 fires the gate
    with pytest.raises(Exception, match="max_cluster_cells"):
        pj.semdedup(
            df, "emb", "id", "cl", eps=0.99, max_cluster_cells=100
        ).collect()


def test_semdedup_cells_gate_admits_small(spark):
    df = _cluster_frame(spark, n=8, dim=16)
    out = pj.semdedup(
        df, "emb", "id", "cl", eps=0.999999, max_cluster_cells=1000
    )
    assert out.count() > 0


def test_embedding_near_dup_cells_gate(spark):
    df = _cluster_frame(spark, n=8, dim=16)
    with pytest.raises(Exception, match="max_block_cells"):
        pj.embedding_near_dup(
            df, "id", "emb", threshold=0.9, block_col="cl",
            max_block_cells=100,
        ).collect()


# ------------------------------------------------- degenerate vectors

def test_embedding_near_dup_degenerate_vectors_excluded(spark):
    rows = [
        (1, "b", [1.0, 0.0]),
        (2, "b", [1.0, 0.0]),           # exact dup of 1 -> pairs
        (3, "b", None),                  # null vector
        (4, "b", [1.0]),                 # ragged length
        (5, "b", [float("nan"), 1.0]),   # NaN component
        (6, "b", [0.0, 0.0]),            # zero norm
    ]
    df = spark.createDataFrame(rows, "id long, blk string, emb array<double>")
    out = pj.embedding_near_dup(
        df, "id", "emb", threshold=0.5, block_col="blk"
    )
    pairs = {(r.id_1, r.id_2) for r in out.collect()}
    assert pairs == {(1, 2)}


def test_semdedup_degenerate_vectors_singletons(spark):
    rows = [
        (1, "c", [1.0, 0.0]),
        (2, "c", [1.0, 0.0]),
        (3, "c", None),
        (4, "c", [float("nan"), 1.0]),
    ]
    df = spark.createDataFrame(rows, "id long, cl string, emb array<double>")
    kept = pj.semdedup(df, "emb", "id", "cl", eps=0.9)
    ids = {r.id for r in kept.select("id").collect()}
    # 1/2 collapse to one kept row; degenerate rows survive as singletons
    assert len(ids & {1, 2}) == 1 and {3, 4} <= ids


# ------------------------------------------------- duplicate-id rows

def test_embedding_near_dup_duplicate_id_never_self_pairs(spark):
    rows = [
        (7, "b", [1.0, 0.0]),
        (7, "b", [1.0, 0.0]),   # same id twice in one block
        (9, "b", [1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "id long, blk string, emb array<double>")
    out = pj.embedding_near_dup(df, "id", "emb", threshold=0.9, block_col="blk")
    got = [(r.id_1, r.id_2) for r in out.collect()]
    assert all(a != b for a, b in got)
    assert set(got) == {(7, 9)}


# ------------------------------------------------ brute force, null ids

def test_embedding_near_dup_cross_join_degenerate_vectors_excluded(spark):
    """Brute force runs on the blocked kernel too: a NaN-component
    vector never pairs (no ``cos=NaN`` rows)."""
    nan = float("nan")
    rows = [
        (1, [1.0, 0.0]),
        (2, [1.0, 0.01]),
        (3, [nan, 1.0]),
        (4, [0.0, nan]),
        (5, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    out = pj.embedding_near_dup(
        df, "id", "emb", threshold=0.5, allow_cross_join=True
    ).collect()
    assert [(r.id_1, r.id_2) for r in out] == [(1, 2)]
    assert abs(out[0].cos - 1.0 / (1.0 + 1e-4) ** 0.5) < 1e-12


def test_embedding_near_dup_cross_join_cells_gate(spark):
    df = _cluster_frame(spark, n=8, dim=16)
    with pytest.raises(Exception, match="max_block_cells"):
        pj.embedding_near_dup(
            df, "id", "emb", threshold=0.9, allow_cross_join=True,
            max_block_cells=100,
        ).collect()


@pytest.mark.parametrize("id_type", ["long", "string"])
@pytest.mark.parametrize("blocked", [True, False], ids=["block_col", "cross_join"])
def test_embedding_near_dup_null_id_never_pairs(spark, id_type, blocked):
    """``id_1 < id_2`` is never true of a null id, so a null-id row
    pairs with nothing, on every path and for every id type."""
    ids = [1, None, 3] if id_type == "long" else ["a", None, "c"]
    rows = [(i, "b", [1.0, 0.0]) for i in ids]
    df = spark.createDataFrame(rows, f"id {id_type}, blk string, emb array<double>")
    kw = {"block_col": "blk"} if blocked else {"allow_cross_join": True}
    out = pj.embedding_near_dup(df, "id", "emb", threshold=0.5, **kw).collect()
    assert [(r.id_1, r.id_2) for r in out] == [(ids[0], ids[2])]


# ------------------------------------- banded pair dedup on pair key

def test_auto_block_pairs_unique_per_pair_key(spark):
    # near-identical vectors collide in every band; the output must hold
    # each (id_1, id_2) exactly once even across independent band tasks
    rows = [(i, [1.0, 0.001 * i, 0.5]) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, emb array<double>")
    out = pj.embedding_near_dup(
        df, "id", "emb", threshold=0.999, dim=3, auto_block_bands=4
    ).collect()
    keys = [(r.id_1, r.id_2) for r in out]
    assert len(keys) == len(set(keys)) and len(keys) > 0

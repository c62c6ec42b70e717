"""Arrow-direct embedding-matrix extraction for the BLAS pair stages.

``semdedup`` and ``embedding_near_dup`` run one Arrow task per
cluster/block and need the task's vectors as ONE contiguous float64
matrix for blocked dgemm.  The original ``np.asarray(pdf[col].tolist())``
path materialized a Python list of per-row ndarrays before copying —
roughly doubling peak memory at exactly the moment the task already
holds its largest buffer — and crashed outright on null or
ragged-length vectors (where the old expression-join scored such pairs
null/0.0 and silently excluded them).

:func:`list_column_matrix` reads the ``pyarrow`` list column directly:
the flat child buffer is reinterpreted as an ``(n, dim)`` view when the
column is clean (zero-copy for ``list<double>``, one dtype cast for
``list<float>``), and degenerate rows — null, ragged length, or
containing non-finite components — are zero-filled so a threshold > 0
can never select them.  That reproduces the historical exclusion
semantics: the expression path's ``zip_with`` dot with a null side was
null (pair dropped), and a NaN component must not ride Spark's
NaN-is-greater-than-everything comparison into the output.

:func:`cosine_pairs` is the one blocked-cosine pair loop both stages
share: ``embedding_near_dup`` (whole block, or one triangle-partitioned
sub-task of a split block) and ``semdedup``'s per-cluster task.  It
holds the module's only dgemm.  :func:`block_matrix` is the one way
either task loads its rows: ids, matrix and the rows×dim cells gate.
Callers keep their own id rules and what they do with each yielded
row block.
"""

from __future__ import annotations

import numpy as np

__all__ = ["block_matrix", "list_column_matrix", "cosine_pairs"]


def list_column_matrix(arr) -> tuple[np.ndarray, np.ndarray, int]:
    """``(V, good, dim)`` from a ``pyarrow`` list<float/double> column.

    ``V`` is a C-contiguous float64 matrix of shape ``(n, dim)`` where
    ``dim`` is the MODAL length over non-null rows (ties to the larger
    length) — deterministic regardless of the row order a shuffle
    delivers, unlike "first row's length", and under the uniform-
    dimension precondition of every embedding op here it is simply the
    embedding width with a few corrupt rows outvoted.  ``good`` is a
    boolean mask — False rows were null, ragged (length != dim), or
    contained non-finite components, and their ``V`` row is all-zero
    (cosine 0.0 against everything, hence excluded by any positive
    threshold).

    Accepts a ``ChunkedArray`` or ``Array``; the clean fast path is a
    reshape of the flat values buffer — no per-row Python objects.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64), np.empty(0, dtype=bool), 0

    null_mask = np.asarray(arr.is_null())
    lengths = np.asarray(pc.list_value_length(arr).fill_null(0), dtype=np.int64)
    valid_lengths = lengths[~null_mask]
    if valid_lengths.size == 0:
        return (
            np.zeros((n, 0), dtype=np.float64),
            np.zeros(n, dtype=bool),
            0,
        )
    # modal length, ties to larger: order-independent dim inference
    uniq, counts = np.unique(valid_lengths, return_counts=True)
    dim = int(uniq[counts >= counts.max()].max())
    good = (~null_mask) & (lengths == dim)

    # flat child values; a sliced array's offsets need not start at 0
    offsets = np.asarray(arr.offsets, dtype=np.int64)
    values = np.asarray(arr.values)  # zero-copy for double, cast below

    if good.all() and dim > 0:
        flat = values[offsets[0] : offsets[-1]]
        V = np.ascontiguousarray(flat.reshape(n, dim), dtype=np.float64)
    else:
        V = np.zeros((n, dim), dtype=np.float64)
        if dim > 0 and good.any():
            starts = offsets[:-1][good]
            # gather good rows in one fancy-indexed read
            idx = starts[:, None] + np.arange(dim, dtype=np.int64)[None, :]
            V[good] = values[idx]

    if dim > 0:
        finite = np.isfinite(V).all(axis=1)
        bad_vals = good & ~finite
        if bad_vals.any():
            if not V.flags.writeable:
                # the clean fast path can be a zero-copy view of the
                # read-only Arrow buffer; copy only when zero-filling
                V = V.copy()
            V[bad_vals] = 0.0
            good = good & finite
    return V, good, dim


def block_matrix(
    tbl, id_name: str, vec_name: str, cells_cap, cap_name: str, what: str
):
    """``(ids, V)`` for one Arrow task's block: ``ids`` the id column
    as one ``pyarrow.Array``, ``V`` the vector column's
    :func:`list_column_matrix`, or ``None`` when the block has fewer
    than 2 rows (no pair to score).

    ``cells_cap`` (``None`` to skip) bounds ``rows × dim`` float64
    cells per task; a larger block raises a ``ValueError`` that starts
    with ``what`` (the verb and the block) and names the caller's cap
    option ``cap_name``.
    """
    import pyarrow as pa

    ids = tbl.column(id_name)
    if isinstance(ids, pa.ChunkedArray):
        ids = ids.combine_chunks()
    n = tbl.num_rows
    if n < 2:
        return ids, None
    V, _good, dim = list_column_matrix(tbl.column(vec_name))
    if cells_cap is not None and n * dim > cells_cap:
        raise ValueError(
            f"{what} holds {n} x {dim} = {n * dim} embedding cells, exceeding "
            f"{cap_name}={cells_cap} (~{cells_cap * 8 >> 30} GiB float64 per "
            f"task); use smaller blocks or raise/disable {cap_name}"
        )
    return ids, V


def cosine_pairs(V: np.ndarray, threshold: float, ia=None, ib=None):
    """Yield ``(i, j, cos)`` per row block for every pair of rows
    ``i ∈ ia``, ``j ∈ ib`` of ``V`` with ``cos >= threshold``.

    ``ia=None`` means all rows; ``ib=None`` means the same set as
    ``ia``, and then only the upper triangle ``i < j`` is yielded.
    ``i``/``j`` are row indices into ``V``.  Cosine is
    ``dot/(n1·n2)`` with zero-norm sides scoring 0.0 (the
    ``cosine_sim`` semantics).  The ``ia`` rows are scored in blocks
    whose score matrix holds at most ~4M float64 cells (~32 MB), so
    memory is O(rows·dim + block·|ib|) whatever the set sizes.
    """
    norms = np.sqrt((V * V).sum(axis=1))
    A, na = (V, norms) if ia is None else (V[ia], norms[ia])
    same = ib is None
    if same:
        B, nb, ib = A, na, ia
    else:
        B, nb = V[ib], norms[ib]
    rb = max(1, (1 << 22) // max(1, len(B)))
    for s in range(0, len(A), rb):
        e = min(s + rb, len(A))
        S = A[s:e] @ B.T
        denom = na[s:e, None] * nb[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            C = np.where(denom > 0, S / denom, 0.0)
        ri, rj = np.nonzero(C >= threshold)
        cos = C[ri, rj]
        ri = ri + s
        if same:
            keep = ri < rj
            ri, rj, cos = ri[keep], rj[keep], cos[keep]
        yield (
            ri if ia is None else ia[ri],
            rj if ib is None else ib[rj],
            cos,
        )

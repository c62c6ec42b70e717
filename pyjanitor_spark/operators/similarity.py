"""Similarity search over embedding columns (array<float>).

* ``cosine_topk`` — brute-force cosine top-k against one query vector:
  the query is a LITERAL array folded into the plan (broadcast by
  construction), similarity is ``zip_with``/``aggregate`` codegen, and
  top-k is ``orderBy(...).limit(k)`` which Spark executes as
  per-partition TakeOrdered + driver merge of k·p candidates — no full
  sort, no shuffle of the data.
* ``ivf_topk`` — IVF-style: rank cluster centroids (one small agg),
  scan only the ``nprobe`` nearest clusters (partition-pruned filter),
  then brute-force inside.  With a cluster column from KMeans (Spark ML)
  or any partitioner, the scan cost drops by ~n_clusters/nprobe.
* ``lsh_bucket_topk`` — random-hyperplane LSH bucketing: sign bits of
  dot products with md5-derived ±1 hyperplanes (deterministic across
  engines); candidates = same-bucket rows, then exact re-rank.

Reference has no similarity search — these are the training-data
pipeline extensions (see build brief).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyjanitor_spark.operators.dedup import (
    _AUTO_SPLIT_FLOPS,
    _is_auto_split,
    cosine_sim,
)
from pyjanitor_spark.utils.local import local_frame
from pyjanitor_spark.utils.pin import pin, probe, share

__all__ = [
    "cosine_topk",
    "ivf_topk",
    "lsh_bucket_topk",
    "hyperplane_bucket",
    "semdedup",
    "centroids",
    "kmeans_assign",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "ivf_pq_topk",
]


def _qvec(query: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query]).cast("array<double>")


# sentinel distinguishing "caller passed max_cluster_size" from the
# 100_000 default — split mode can't enforce the cluster-level row
# gate, and an EXPLICIT cap being silently inactive deserves a warning
# while the mere default does not.  A named class with a readable
# __repr__ so help()/inspect.signature show DEFAULT(100_000) instead
# of a bare object address (ADVICE r12)
class _RowCapUnset:
    def __repr__(self) -> str:  # pragma: no cover - cosmetic
        return "DEFAULT(100_000)"


_ROW_CAP_UNSET = _RowCapUnset()

# a cluster counts as a straggler only when it holds at least this
# share of the corpus' embedding cells: below it, other clusters keep
# the cores busy while the big one runs, and the distributed-components
# overhead of split mode outweighs the win (measured crossover,
# SCALE.md)
_AUTO_HOT_SHARE = 0.2


def cosine_topk(
    df: DataFrame,
    query: list[float],
    vec_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k: returns (id, cos), ties broken by id."""
    if k < 1:
        raise ValueError("k must be >= 1")
    sim = cosine_sim(F.col(vec_col).cast("array<double>"), _qvec(query))
    return (
        df.select(F.col(id_col), sim.alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _mean_vectors(df: DataFrame, vec: Column, keys: list[str]) -> DataFrame:
    """Elementwise mean of ``vec`` per ``keys`` group, as ``(*keys,
    centroid)``: posexplode → (keys, pos) mean → re-assembled in pos
    order.  One shuffle on (keys, pos); one output row per group."""
    # sum in DECIMAL: decimal addition is exact, so the centroid is
    # independent of partitioning/combine order (a double sum is not),
    # making results reproducible across cluster layouts AND engines
    # (the DuckDB oracle recomputes the identical value); the single
    # rounding happens once, at the final cast-to-double division
    per_pos = (
        df.select(*keys, F.posexplode(vec).alias("__pos", "__x"))
        .groupBy(*keys, "__pos")
        .agg(
            (
                F.sum(F.col("__x").cast("decimal(27,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("__m")
        )
    )
    return per_pos.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("__pos", "__m"))).alias("__pm")
    ).select(*keys, F.transform("__pm", lambda s: s["__m"]).alias("centroid"))


def centroids(df: DataFrame, vec_col: str, cluster_col: str) -> DataFrame:
    """Elementwise-mean centroid per cluster, DECIMAL-exact (layout- and
    engine-reproducible).  One shuffle on (cluster, pos); output is
    n_clusters rows (tiny)."""
    return _mean_vectors(
        df, F.col(vec_col).cast("array<double>"), [cluster_col]
    )


def _probed_clusters(
    df: DataFrame,
    query: list[float],
    vec_col: str,
    cluster_col: str,
    nprobe: int,
    centroids_df: DataFrame | None,
) -> list:
    """The ``nprobe`` clusters whose centroids are most cosine-similar
    to ``query``, ties by cluster id: one bounded collect of ``nprobe``
    rows, over ``centroids_df`` or else the centroid aggregate of
    ``df``."""
    cents = (
        centroids_df
        if centroids_df is not None
        else centroids(df, vec_col, cluster_col)
    )
    ranked = (
        cents.select(
            F.col(cluster_col),
            cosine_sim(F.col("centroid"), _qvec(query)).alias("ccos"),
        )
        .orderBy(F.col("ccos").desc(), F.col(cluster_col).asc())
        .limit(nprobe)
        .collect()
    )
    return [r[cluster_col] for r in ranked]


def ivf_topk(
    df: DataFrame,
    query: list[float],
    vec_col: str,
    id_col: str,
    cluster_col: str,
    k: int = 10,
    nprobe: int = 3,
    centroids_df: DataFrame | None = None,
) -> DataFrame:
    """IVF search: probe the ``nprobe`` clusters whose centroids are
    most cosine-similar to the query, brute-force only inside them.

    Two bounded small actions: centroid agg (n_clusters rows) and the
    centroid ranking; the big-table scan is filtered to the probed
    clusters (prunes partitions when the table is partitioned by
    cluster).

    ``centroids_df`` — a persisted :func:`centroids` frame
    (``cluster_col``, ``centroid``): pass it to skip the per-query
    centroid aggregation entirely.  The real-deployment pattern: build
    centroids once per corpus version (they're decimal-exact, so the
    persisted file is bit-reproducible), serve every query against the
    stored index — per-query cost is one tiny ranking action plus the
    pruned scan."""
    probe = _probed_clusters(
        df, query, vec_col, cluster_col, nprobe, centroids_df
    )
    return cosine_topk(df.filter(F.col(cluster_col).isin(probe)), query, vec_col, id_col, k)


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cluster_col: str,
    eps: float = 0.95,
    keep: str = "far",
    max_cluster_size: int | None = _ROW_CAP_UNSET,  # type: ignore[assignment]
    max_cluster_cells: int | None = 200_000_000,
    split: int | str = 1,
    auto_split_cells: int = 25_000_000,
) -> DataFrame:
    """Semantic deduplication over an embedding column (SemDeDup,
    Abbas et al. 2023): within each pre-assigned cluster, rows whose
    cosine similarity exceeds ``eps`` form semantic-duplicate groups;
    keep ONE representative per group — the member FARTHEST from its
    cluster centroid (``keep='far'``, the paper's preferred policy:
    outliers carry more information) or nearest (``keep='near'``), ties
    broken by smallest id.  Returns ``df`` filtered to kept rows.

    Plan shape at 100 TB: ONE shuffle on the cluster key feeds ONE
    Arrow task per cluster, which computes the Σ size² pairwise cosine
    as BLOCKED matrix products (numpy/BLAS — the paper's own
    computation shape; the score-matrix block is capped at ~32 MB so
    task memory is O(cluster·dim), never O(cluster²)) and closes the
    duplicate groups in-task with
    :func:`~pyjanitor_spark.operators.dedup.component_labels`, fed one
    score block of edges at a time — components can never
    span clusters, so the log-round distributed label propagation
    ``near_dup_clusters`` needs for unbounded graphs is unnecessary
    here, and only (id, group) rows ever leave the task (the pair
    stream itself is never shuffled).  Centroids are the decimal-exact
    bounded aggregate reused from :func:`ivf_topk` and join back
    broadcast (n_clusters rows).  The pair stage, the centroids and
    the kept-row filter read the same
    :func:`~pyjanitor_spark.utils.pin.share` of ``df``, so they see one
    run of its upstream.  Call-time jobs with ``split=1``: that pin's
    stages on an input that does not replay identically, else none.

    The Σ size² pair cost is only bounded when clusters are genuinely
    small relative to the corpus — the natural failure mode is feeding a
    billion-row table clustered with ``kmeans_assign(k=8)`` and paying
    (n/8)² per block.  ``max_cluster_size`` makes that cost explicit
    (the same gate pattern as ``embedding_near_dup``'s
    ``allow_cross_join``): any cluster exceeding it aborts the job.
    The gate runs INSIDE the per-cluster task before any pair work
    starts — zero extra jobs, the violation surfaces as a runtime error
    naming the offending cluster.  Pass ``max_cluster_size=None`` to
    skip entirely.

    ``max_cluster_cells`` additionally bounds rows × dim float64 CELLS
    per task (default 2e8 ≈ 1.6 GB): a row cap alone under-gates
    high-dim embeddings — 100k rows passes ``max_cluster_size`` but at
    3072 dims is a 2.5 GB matrix before any score block.  Checked in
    the same task, before the pair work.  Degenerate vectors — null, ragged length, or
    non-finite components — are zero-filled in-task: they group with
    nothing (cosine 0.0 < any positive eps) and survive as singleton
    groups instead of crashing the task.

    ``split`` is ``1`` (default, the in-task path above) or ``'auto'``,
    the HOT-CLUSTER straggler fix: one dominant cluster otherwise runs
    as a single Arrow task while every other core idles.  ``'auto'``
    runs ONE bounded pre-flight aggregate through
    :func:`~pyjanitor_spark.utils.pin.probe` (a single collected row —
    per-cluster rows, cells and pair-flops maxima/totals, read from
    the frame the output is then built from), and it decides the path.
    The split pipeline engages only when the in-task path would either
    ABORT (the largest cluster violates ``max_cluster_size`` /
    ``max_cluster_cells``) or STRAGGLE — the largest cluster exceeds a
    per-task budget (``auto_split_cells``, the sub-block matrix
    budget, default 2.5e7 cells ≈ 200 MB float64; or 2e9 pair-work
    multiply-adds ``rows²·dim``, ≈ a ~1 s BLAS task) AND holds ≥ 20 %
    of the corpus' total pair work, the measured crossover below
    which other clusters keep the cores busy and distributed
    components costs more than it saves (SCALE.md).  When it engages,
    the pair stage becomes
    ``embedding_near_dup(split='auto')``'s triangle-partitioned
    sub-tasks, each cluster's split factor sized from its own rows and
    dim (cold clusters run as single diagonal tasks, only hot ones fan
    out), and the duplicate groups close through the distributed
    log-round :func:`~pyjanitor_spark.operators.dedup.near_dup_clusters`,
    whose per-round pins are durable when
    ``SparkContext.setCheckpointDir`` is set (see
    :func:`~pyjanitor_spark.utils.pin.pin`).  Output is identical to
    ``split=1`` in every case — the in-task labeller and the
    distributed components both yield min-reachable-id groups.  On
    the split pipeline the cluster-level row gate does not apply
    (``max_cluster_size`` default 100,000 — passing it EXPLICITLY
    emits a warning instead of silently ignoring it);
    ``max_cluster_cells`` is enforced per SUB-task (the
    memory-relevant unit).
    """
    if keep not in ("far", "near"):
        raise ValueError(f"keep must be 'far' or 'near', got {keep!r}")
    explicit_row_cap = max_cluster_size is not _ROW_CAP_UNSET
    if not explicit_row_cap:
        max_cluster_size = 100_000
    split_path = False
    if _is_auto_split(split):
        v0 = F.col(vec_col).cast("array<double>")
        df, rows = probe(
            df,
            lambda f: f.groupBy(cluster_col)
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.coalesce(F.max(F.size(v0)).cast("long"), F.lit(1)).alias("__d"),
            )
            .agg(
                F.max(F.col("__n") * F.col("__d")).alias("mx_cells"),
                F.max(F.col("__n")).alias("mx_rows"),
                # pair-work n²·d in double (long overflows at ~1e9 rows)
                F.max(F.col("__n").cast("double") * F.col("__n") * F.col("__d")).alias(
                    "mx_flops"
                ),
                F.sum(F.col("__n").cast("double") * F.col("__n") * F.col("__d")).alias(
                    "tot_flops"
                ),
            ),
        )
        st = rows[0]  # a global aggregate: exactly one row
        if st["mx_cells"] is not None:  # else an empty frame
            would_abort = (
                max_cluster_size is not None and st["mx_rows"] > int(max_cluster_size)
            ) or (
                max_cluster_cells is not None
                and st["mx_cells"] > int(max_cluster_cells)
            )
            over_budget = (
                st["mx_cells"] > int(auto_split_cells)
                or st["mx_flops"] > _AUTO_SPLIT_FLOPS
            )
            straggler = over_budget and st["mx_flops"] >= _AUTO_HOT_SHARE * max(
                1.0, st["tot_flops"]
            )
            split_path = would_abort or straggler
    else:
        df = share(df)
    if split_path and explicit_row_cap and max_cluster_size is not None:
        import warnings

        warnings.warn(
            f"semdedup split mode: the cluster-level row gate "
            f"max_cluster_size={max_cluster_size} does not apply in split "
            f"mode (pass max_cluster_size=None to silence)",
            UserWarning,
            stacklevel=2,
        )
    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col), F.col(cluster_col), v.alias("__v"))
    id_t = df.schema[id_col].dataType.simpleString()
    eps_f = float(eps)
    cap = None if max_cluster_size is None else int(max_cluster_size)
    cells_cap = None if max_cluster_cells is None else int(max_cluster_cells)

    # ONE Arrow task per cluster computes the Σ size² pair work as
    # BLOCKED matrix products (the SemDeDup paper's own computation
    # shape, utils/vecmat.py's cosine_pairs) and closes the duplicate
    # groups in-task with dedup.component_labels, the package's one
    # in-memory labeller.  The quadratic inner loop is one dgemm per
    # row block, not interpreted HOF lambdas per PAIR, and there is no
    # pair-stream shuffle — only (id, group) rows leave the task.  The
    # row-block size bounds the in-task score matrix to ~32 MB, so
    # memory is O(cluster·dim + block·cluster) regardless of cluster
    # size.  cos semantics: dot/(n1·n2), zero-norm pairs score 0.0.
    # The max_cluster_size guard aborts IN the task; utils/vecmat.py's
    # block_matrix loads the rows (degenerate vectors zero-filled, so
    # singleton groups) and holds the rows×dim cells gate.
    def _cluster_groups(key, tbl):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from pyjanitor_spark.operators.dedup import component_labels
        from pyjanitor_spark.utils.vecmat import block_matrix, cosine_pairs

        n_rows = tbl.num_rows
        if cap is not None and n_rows > cap:
            raise ValueError(
                f"semdedup: cluster {key[0]!r} has {n_rows} rows, "
                f"exceeding max_cluster_size={cap}; the within-cluster "
                f"pair work is quadratic in cluster size - re-cluster "
                f"with a larger k (kmeans_assign) or raise/disable "
                f"max_cluster_size"
            )
        ids_arr, V = block_matrix(
            tbl, "__id", "__v", cells_cap, "max_cluster_cells",
            f"semdedup: cluster {key[0]!r}",
        )
        if V is None:
            return pa.table({"__sid": ids_arr, "__grp": ids_arr})
        # number the rows in (id, row) order so the component labeller's
        # min node is the min ID (ties to the first row) — the group
        # representative; edges arrive one score block at a time, so
        # memory stays O(block), not O(pairs).  Rows sharing an id are
        # still separate nodes joined only by their cosine.
        order = np.asarray(pc.sort_indices(ids_arr), dtype=np.int64)
        rank = np.empty(n_rows, np.int64)
        rank[order] = np.arange(n_rows)
        lab = component_labels(
            n_rows,
            ((rank[i], rank[j]) for i, j, _ in cosine_pairs(V, eps_f)),
        )
        grp_idx = pa.array(order[lab[rank]])
        return pa.table({"__sid": ids_arr, "__grp": ids_arr.take(grp_idx)})

    if split_path:
        # hot-cluster path: triangle-partitioned pair sub-tasks + the
        # distributed min-label components — identical
        # min-reachable-id groups, no single-task straggler.  The
        # per-SUB-TASK cells gate (max_cluster_cells, applied as
        # max_block_cells) still protects task memory; the
        # cluster-level row gate doesn't apply.
        from pyjanitor_spark.operators.dedup import (
            embedding_near_dup,
            near_dup_clusters,
        )

        pairs = embedding_near_dup(
            base,
            id_col,
            "__v",
            threshold=eps_f,
            block_col=cluster_col,
            max_block_cells=max_cluster_cells,
            split="auto",
            auto_split_cells=auto_split_cells,
        )
        grp = near_dup_clusters(
            pairs.select("id_1", "id_2"),
            id_col="__sid",
            dest="__grp",
        )
    else:
        grp = (
            base.select(
                F.col(cluster_col), F.col(id_col).alias("__id"), F.col("__v")
            )
            .groupBy(cluster_col)
            .applyInArrow(_cluster_groups, f"__sid {id_t}, __grp {id_t}")
        )
    cents = centroids(df, vec_col, cluster_col)
    # centrality carries EVERY id (base x broadcast centroids), so the
    # group labels attach directly to it — unpaired rows coalesce to
    # singleton groups (their own id); no separate df.select(id) branch
    # and one less join than joining groups and centrality separately
    # LEFT join: a cluster whose vectors are all null/empty produces no
    # centroid row (posexplode emits nothing) — its members must still
    # flow through as singletons (__cent null), not silently vanish
    centrality = base.join(F.broadcast(cents), cluster_col, "left").select(
        F.col(id_col),
        cosine_sim(F.col("__v"), F.col("centroid").cast("array<double>")).alias(
            "__cent"
        ),
    )
    groups = centrality.join(
        grp.withColumnRenamed("__sid", id_col), id_col, "left"
    ).withColumn("__grp", F.coalesce(F.col("__grp"), F.col(id_col)))
    # keeper = rank-1 row of the (order, id) window: row_number + rn=1
    # plans as Window + WindowGroupLimit (per-partition top-1 pushdown)
    # — measured FASTER than the equivalent min_by-over-struct
    # aggregation, which falls to SortAggregate (struct ordering has no
    # hash-agg buffer) and re-sorts twice
    order = F.col("__cent").asc() if keep == "far" else F.col("__cent").desc()
    w = Window.partitionBy("__grp").orderBy(order, F.col(id_col).asc())
    kept = (
        groups.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col)
    )
    return df.join(kept, id_col, "left_semi")


_LSH_SEED = "lsh"


def _plane_signs(dim: int, planes: int, seed: str) -> list[list[float]]:
    """The hyperplane sign table: ``signs[p][d]`` = ±1 from the low bit
    of md5(f'{seed}:{p}:{d}') — deterministic and engine-portable."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[-1], 16) & 1
            else -1.0
            for d in range(dim)
        ]
        for p in range(planes)
    ]


def hyperplane_bucket(
    vec: Column, dim: int, planes: int = 8, seed: str = _LSH_SEED
) -> Column:
    """LSH bucket id: for plane p, sign of Σ_d s(p,d)·v_d with s(p,d) =
    ±1 from the low bit of md5(f'{seed}:{p}:{d}') — deterministic and
    engine-portable.  Returns a ``planes``-char '0'/'1' string."""
    bits = []
    for signs in _plane_signs(dim, planes, seed):
        # one zip_with+aggregate per plane instead of a dim-term sum
        # tree: ~16x fewer codegen nodes, so Janino compile time (the
        # dominant cost for small inputs) stays flat as dim grows
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(s) for s in signs]),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(dot > 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def lsh_bucket_topk(
    df: DataFrame,
    query: list[float],
    vec_col: str,
    id_col: str,
    k: int = 10,
    planes: int = 8,
) -> DataFrame:
    """ANN via hyperplane-LSH: exact re-rank within the query's bucket.
    The hyperplane signs are hashed constants folded into the plan —
    the bucket assignment is a pure projection (scan-time)."""
    dim = len(query)
    bucketed = df.withColumn(
        "__bkt", hyperplane_bucket(F.col(vec_col).cast("array<double>"), dim, planes)
    )
    qbits = ""
    for signs in _plane_signs(dim, planes, _LSH_SEED):
        # the same left-to-right double sum as the bucket's aggregate
        acc = 0.0
        for s, q in zip(signs, query):
            acc += s * float(q)
        qbits += "1" if acc > 0 else "0"
    return cosine_topk(
        bucketed.filter(F.col("__bkt") == qbits), query, vec_col, id_col, k
    )


# --- Vector quantization: one Lloyd trainer, one nearest-centroid
# expression and one encoder serve k-means and product quantization
# (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search").  PQ cuts each vector into m subspaces with one codebook of k
# centroids each and stores the m nearest-centroid indices; k-means is
# the m=1 case.  Queries score PQ codes through asymmetric distance
# computation (ADC): a tiny m*k lookup table built once per query,
# folded into the plan as literals.  At 100 TB the embedding column is
# the dominant payload; scanning codes instead of raw floats is a
# ~dim*4/m reduction in bytes moved.

# codebooks of at most this many centroids in total fold into the plan
# as literals; larger ones ride one broadcast row instead of O(k*dim)
# plan literals — large literal trees break whole-stage codegen and
# eventually Janino's 64 KB method limit
_KMEANS_LITERAL_MAX = 64


def _argmin(v: Column, cents: Column) -> Column:
    """0-based index of the centroid in ``cents`` (an
    ``array<array<double>>`` column) nearest to ``v`` by squared
    Euclidean distance; ties take the lowest index (both engines'
    first-match)."""
    from pyjanitor_spark.utils.expr import let

    def dists(vv: Column) -> Column:
        d = F.transform(
            cents,
            lambda c: F.aggregate(
                F.zip_with(vv, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return let(
            d, lambda arr: (F.array_position(arr, F.array_min(arr)) - 1).cast("int")
        )

    return let(v, dists)


def _pq_slices(v: Column, m: int, dsub: int) -> list[Column]:
    return [F.slice(v, s * dsub + 1, dsub) for s in range(m)]


def _with_codes(
    df: DataFrame, v: Column, cents: list[list[list[float]]], dest: str
) -> DataFrame:
    """Attach ``dest``, the ``array<int>`` of ``v``'s nearest-centroid
    index in each of the ``m = len(cents)`` subspace codebooks.  The one
    size rule: up to ``_KMEANS_LITERAL_MAX`` centroids in total fold
    into the plan as literals (a pure scan-time projection); beyond it
    the codebooks ride ONE broadcast row cross-joined in, keeping the
    expression tree O(1) in ``k`` while the data plane carries the
    doubles."""
    m, dsub = len(cents), len(cents[0][0])
    out = df
    if sum(map(len, cents)) <= _KMEANS_LITERAL_MAX:
        books = [
            F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in sub])
            for sub in cents
        ]
    else:
        cdf = local_frame(
            df.sparkSession, [(cents,)], "__cb array<array<array<double>>>"
        )
        out = df.crossJoin(F.broadcast(cdf))
        books = [F.element_at(F.col("__cb"), s + 1) for s in range(m)]
    codes = F.array(
        *[_argmin(sv, books[s]) for s, sv in enumerate(_pq_slices(v, m, dsub))]
    )
    return out.withColumn(dest, codes).drop("__cb")


def _train_codebooks(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int,
    k: int,
    iters: int,
    seed: str,
    verb: str,
) -> list[list[list[float]]]:
    """Deterministic Lloyd, all ``m`` subspaces in ONE scan per round;
    returns ``cents[subspace][code]``.  Engine-reproducible by
    construction (no RNG): the initial centroids are the slices of the
    ``k`` rows with the smallest ``md5(seed:id)`` (a fixed hash
    permutation, clamped to the row count); each round assigns through
    :func:`_with_codes` and recomputes every centroid with the
    DECIMAL-exact mean of :func:`centroids`, keyed by (subspace,
    cluster, position) so one shuffle updates every codebook.  A
    centroid that loses every member keeps its previous value.

    Call-time actions: the pin of the (vector, hash) working set (its
    upstream's shuffle stages run when it is taken, see
    :func:`~pyjanitor_spark.utils.pin.pin`), one bounded collect of the
    ``k`` seed rows, then one bounded collect of ``m * k`` rows per
    round."""
    if m < 1 or k < 1 or iters < 0:
        raise ValueError(f"{verb}: m >= 1, k >= 1 and iters >= 0 required")
    # pin the working set once: the seed scan and every Lloyd round
    # re-read it, and each unpinned read would re-run the source scan
    # and the array cast — the standard iterative-trainer input cache
    # (Spark MLlib KMeans persists its input the same way)
    base = pin(
        df.select(
            F.col(vec_col).cast("array<double>").alias("__v"),
            F.md5(
                F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
            ).alias("__h"),
        )
    )
    seeds = base.orderBy("__h").limit(k).collect()  # bounded: k rows
    if not seeds:
        raise ValueError(f"{verb}: input DataFrame is empty")
    k = len(seeds)
    dim = len(seeds[0]["__v"])
    if dim % m:
        raise ValueError(f"vector dim {dim} is not divisible by m={m}")
    dsub = dim // m
    cents = [
        [list(r["__v"][s * dsub : (s + 1) * dsub]) for r in seeds]
        for s in range(m)
    ]
    for _ in range(iters):
        subs = (
            _with_codes(base, F.col("__v"), cents, "__code")
            .select(
                F.posexplode(F.array(*_pq_slices(F.col("__v"), m, dsub))).alias(
                    "__s", "__sv"
                ),
                "__code",
            )
            .withColumn("__c", F.element_at("__code", F.col("__s") + 1))
        )
        rows = _mean_vectors(
            subs, F.col("__sv"), ["__s", "__c"]
        ).collect()  # bounded: m*k rows
        got = {(r["__s"], r["__c"]): list(r["centroid"]) for r in rows}
        cents = [
            [got.get((s, c), cents[s][c]) for c in range(k)] for s in range(m)
        ]
    return cents


def kmeans_assign(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iters: int = 2,
    dest: str = "cluster",
    seed: str = "km",
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column — the
    cluster-assignment producer for :func:`ivf_topk` / :func:`semdedup`
    when no natural partition exists.

    k-means is product quantization with one subspace: the codebook
    comes from the same trainer as :func:`pq_train` (``m=1``), and the
    label is that codebook's code, so ``kmeans_assign(k, iters,
    seed=s)`` labels equal code 0 of ``pq_encode(pq_train(m=1, k,
    iters, seed=s))``.  Engine-reproducible by construction (no RNG):
    initial centroids are the ``k`` rows with the smallest
    ``md5(seed:id)``; each round recomputes centroids with the same
    DECIMAL-exact elementwise mean as :func:`centroids` (order- and
    layout-independent); assignment is first-min squared-Euclidean.
    Clusters that lose every member keep their previous centroid.
    ``k`` is clamped to the row count when the input is smaller.  This
    is fixed-round Lloyd, not convergence-driven: ``iters`` bounds cost
    explicitly.

    Call-time actions: the trainer's pin of the (vector, hash) working
    set, one bounded collect of the ``k`` seed rows, and per round one
    scan with one (cluster, pos)-keyed shuffle and a bounded ``k``-row
    collect (the documented iterative-algorithm exception, same as
    ``near_dup_clusters``).  The returned assignment is a lazy
    projection under the one size rule of the encoder: up to
    ``_KMEANS_LITERAL_MAX`` (64) centroids fold into the plan as
    literals, beyond it they ride a single broadcast row, so the
    expression tree stays O(1) in ``k``."""
    cents = _train_codebooks(df, vec_col, id_col, 1, k, iters, seed, "kmeans_assign")
    out = _with_codes(df, F.col(vec_col).cast("array<double>"), cents, dest)
    return out.withColumn(dest, F.col(dest)[0])


def pq_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    seed: str = "pq",
) -> DataFrame:
    """Train product-quantization codebooks; returns a BOUNDED frame of
    ``m * k`` rows ``(sub, code, centroid array<double>)`` — persistable
    to parquet and accepted by :func:`pq_encode` / :func:`pq_topk`
    (the :func:`bpe_train` model-table pattern).

    Deterministic per-subspace Lloyd with the reproducibility contract
    of :func:`kmeans_assign` (which is its ``m=1`` case).  Call-time
    actions: the pin of the (vector, hash) working set, one bounded
    collect of the ``k`` seed rows, and one bounded ``m * k``-row
    collect per round; each round assigns under the encoder's one size
    rule (literal codebooks up to ``_KMEANS_LITERAL_MAX`` centroids in
    total, one broadcast row beyond).  The result is a local frame."""
    cents = _train_codebooks(df, vec_col, id_col, m, k, iters, seed, "pq_train")
    rows = [
        (s, c, list(map(float, cents[s][c])))
        for s in range(len(cents))
        for c in range(len(cents[s]))
    ]
    return local_frame(
        df.sparkSession, rows, "sub int, code int, centroid array<double>"
    )


def _pq_collect_cents(codebooks: DataFrame) -> list[list[list[float]]]:
    rows = codebooks.collect()  # bounded: m*k rows by construction
    m = 1 + max(r["sub"] for r in rows)
    k = 1 + max(r["code"] for r in rows)
    cents = [[None] * k for _ in range(m)]
    for r in rows:
        cents[r["sub"]][r["code"]] = list(r["centroid"])
    if any(c is None for sub in cents for c in sub):
        raise ValueError("codebooks frame is missing (sub, code) entries")
    return cents


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: DataFrame,
    dest: str = "pq_code",
) -> DataFrame:
    """Quantize ``vec_col`` to ``m`` codebook indices (``array<int>``) —
    the compressed representation ADC search scans instead of raw
    vectors.

    Call-time action: one bounded collect of the ``m * k`` codebook
    rows.  The encoding itself is a lazy projection under the one size
    rule: literal codebooks up to ``_KMEANS_LITERAL_MAX`` centroids in
    total, one broadcast row beyond (the documented 1-row attach)."""
    cents = _pq_collect_cents(codebooks)
    return _with_codes(df, F.col(vec_col).cast("array<double>"), cents, dest)


def pq_topk(
    df: DataFrame,
    query: list[float],
    vec_col: str,
    id_col: str,
    k: int = 10,
    m: int = 8,
    codebook_k: int = 16,
    iters: int = 2,
    codebooks: DataFrame | None = None,
    code_col: str | None = None,
    seed: str = "pq",
) -> DataFrame:
    """ADC top-k: approximate nearest neighbors of ``query`` by summed
    per-subspace distances to each row's quantized code.

    The query-side distance table (``m * codebook_k`` floats) is
    computed on the driver and folded into the plan as literals, so the
    scan does ``m`` array lookups + adds per row — no shuffle; top-k is
    TakeOrdered exactly like :func:`cosine_topk`.  Pass ``codebooks``
    (from :func:`pq_train`) to reuse a trained model and ``code_col`` to
    score pre-encoded rows (the compressed-scan path — at scale you
    encode once and drop the raw vectors); otherwise trains + encodes
    inline.  The inline encode is :func:`pq_encode`'s, under the same
    size rule (literal codebooks up to ``_KMEANS_LITERAL_MAX`` centroids
    in total, one broadcast row beyond).  Call-time actions: one bounded
    collect of ``codebooks``, or without it :func:`pq_train`'s actions.
    Returns ``(id, adc_dist)`` ascending, ties by id."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if code_col is not None and codebooks is None:
        # pre-encoded codes index SOME codebook's centroids; retraining
        # here would score them against fresh (seed/m/k-dependent)
        # centroids with no error — only correct by coincidence
        raise ValueError(
            "code_col requires codebooks: pre-encoded codes are only "
            "meaningful against the codebooks that produced them "
            "(pass the pq_train output used at encode time)"
        )
    if codebooks is not None:
        cents = _pq_collect_cents(codebooks)
    else:
        cents = _train_codebooks(
            df, vec_col, id_col, m, codebook_k, iters, seed, "pq_topk"
        )
    mm = len(cents)
    if len(query) != mm * len(cents[0][0]):
        raise ValueError(
            f"query dim {len(query)} != codebook dim {mm * len(cents[0][0])}"
        )
    dsub = len(cents[0][0])
    # ADC table: table[s][c] = ||q_s - cent[s][c]||^2, tiny and literal
    table = [
        [
            sum(
                (float(query[s * dsub + i]) - float(cent[i])) ** 2
                for i in range(dsub)
            )
            for cent in cents[s]
        ]
        for s in range(mm)
    ]
    if code_col is None:
        df = _with_codes(df, F.col(vec_col).cast("array<double>"), cents, "__code")
        code_col = "__code"
    codes = F.col(code_col)
    dist = None
    for s in range(mm):
        term = F.element_at(
            F.array(*[F.lit(x) for x in table[s]]),
            F.element_at(codes, s + 1) + 1,
        )
        dist = term if dist is None else dist + term
    return (
        df.select(F.col(id_col), dist.alias("adc_dist"))
        # nulls LAST to match cosine_topk's contract: a null vector /
        # null pre-encoded code must not occupy top-k slots (Spark's
        # plain .asc() is NULLS FIRST)
        .orderBy(F.col("adc_dist").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk(
    df: DataFrame,
    query: list[float],
    vec_col: str,
    id_col: str,
    cluster_col: str,
    k: int = 10,
    nprobe: int = 3,
    m: int = 8,
    codebook_k: int = 16,
    iters: int = 2,
    codebooks: DataFrame | None = None,
    code_col: str | None = None,
    centroids_df: DataFrame | None = None,
    seed: str = "pq",
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN recipe — centroid-ranked
    cluster pruning (:func:`ivf_topk`'s routing) feeding the compressed
    ADC scan (:func:`pq_topk`).

    Codebooks are GLOBAL (trained on the full frame when not given), so
    one stored codebook + stored codes serve every query; only the
    ``nprobe`` nearest clusters are scanned, and inside them the scan
    reads ``m`` bytes per row instead of ``dim*4``.  The deployment
    pattern: persist :func:`centroids` + :func:`pq_train` outputs once
    per corpus version, :func:`pq_encode` on write — per-query cost is
    two tiny bounded actions (cluster ranking, codebook collect) plus
    the pruned compressed scan."""
    if code_col is not None and codebooks is None:
        # same contract as pq_topk: pre-encoded codes only score
        # correctly against the codebooks that produced them
        raise ValueError(
            "code_col requires codebooks: pre-encoded codes are only "
            "meaningful against the codebooks that produced them"
        )
    probe = _probed_clusters(
        df, query, vec_col, cluster_col, nprobe, centroids_df
    )
    if codebooks is None:
        codebooks = pq_train(df, vec_col, id_col, m, codebook_k, iters, seed)
    return pq_topk(
        df.filter(F.col(cluster_col).isin(probe)),
        query,
        vec_col,
        id_col,
        k=k,
        codebooks=codebooks,
        code_col=code_col,
    )

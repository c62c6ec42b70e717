"""Structured Streaming surface.

The reference (`janitor/`) has no streaming at all — no watermarks, no
event-time windows, no stateful operators (SURVEY.md §2.10).  This
module is the engine's forward-looking surface for the same verbs on
unbounded data:

* every **expression-only** verb in the package (clean_names, filters,
  case_when, coalesce, text_analysis, fingerprints, …) already works on
  a streaming DataFrame unchanged — they are pure projections/filters.
  ``STREAMING_SAFE_VERBS`` names them so users (and tests) can check.
* verbs built on **global windows / total order** (ecdf, softmax,
  z_score, fill_direction, row_to_names, …) are batch-only by
  construction; calling them on a stream raises in Spark itself.
* this module adds the genuinely streaming-native pieces: watermarked
  event-time aggregation, streaming dedup (exact fingerprint within a
  watermark), and session windows.

Scale notes: state stores are per-key; watermarks bound state size.
``streaming_dedupe`` keys state on the 32-hex fingerprint — state is
O(distinct docs within the watermark horizon), independent of document
length.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyjanitor_spark.utils.expr import exact_key

# expression-only verbs: safe on streaming DataFrames unchanged
STREAMING_SAFE_VERBS = [
    "clean_names",
    "rename_column",
    "rename_columns",
    "reorder_columns",
    "remove_columns",
    "limit_column_characters",
    "filter_string",
    "filter_on",
    "filter_date",
    "filter_column_isin",
    "dropnotnull",
    "update_where",
    "case_when",
    "flag_nulls",
    "coalesce",
    "fill_empty",
    "concatenate_columns",
    "deconcatenate_column",
    "change_type",
    "convert_excel_date",
    "convert_matlab_date",
    "convert_unix_date",
    "to_datetime",
    "truncate_datetime_dataframe",
    "currency_column_to_numeric",
    "find_replace",
    "bin_numeric",
    "round_to_fraction",
    "jitter",
    "transform_column",
    "process_text",
    "token_count",
    "quality_score",
    "language_id",
    "fingerprint",
    "simhash",
    "binary_metadata",
    "convert_units",
    "inflate_currency",
    "repetition_score",
    "pii_redact",
    "deterministic_sample",
    "stratified_sample",
    "split_train_holdout",
    "hash_columns",
]


_STATE_STORE_PROVIDERS = {
    # bundled with Spark since 3.2; spills state to local disk with
    # changelog files in the checkpoint, so per-partition state is
    # disk-bound, not heap-bound
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    # the default: every partition's full state lives in executor heap
    # (plus HDFS-checkpointed snapshots) — fine for bounded keyspaces,
    # an OOM class at 100 TB-stream key cardinality
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


def configure_state_store(
    spark,
    provider: str = "rocksdb",
    changelog_checkpointing: bool = True,
    **rocksdb_conf,
) -> dict[str, str]:
    """Select the Structured Streaming state-store backend for queries
    started AFTER this call (the provider is read from the session conf
    at query start and then pinned into the query's checkpoint).

    Why this exists: the stateful verbs in this module
    (:func:`streaming_dedupe`'s dropDuplicates state,
    :func:`running_counter`'s applyInPandasWithState counters,
    :func:`sessionize`'s open sessions) all keep per-key state in the
    store.  The default HDFS-backed provider holds every partition's
    ENTIRE state map in executor heap — bounded keyspaces are fine, but
    a 100 TB/day ingest dedup keyed on content fingerprints grows state
    with the watermark horizon × key arrival rate and will OOM the
    heap long before it troubles a disk.  RocksDB keeps state on local
    SSD with a block-cache budget instead, and with
    ``changelog_checkpointing`` uploads per-batch changelogs rather
    than full snapshots.  State SIZE is still bounded only by the
    verbs' watermarks/timeouts — eviction is watermark-driven either
    way; the provider just changes where the live horizon resides.

    ``rocksdb_conf`` passes through to
    ``spark.sql.streaming.stateStore.rocksdb.<key>`` (e.g.
    ``maxMemoryUsageMB=2048``, ``compactOnCommit='true'``).  Returns
    the conf dict that was applied (useful for logging / asserting).
    """
    if provider not in _STATE_STORE_PROVIDERS:
        raise ValueError(
            f"provider must be one of {sorted(_STATE_STORE_PROVIDERS)}, "
            f"got {provider!r}"
        )
    conf = {
        "spark.sql.streaming.stateStore.providerClass": (
            _STATE_STORE_PROVIDERS[provider]
        )
    }
    if provider == "rocksdb":
        conf[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ] = str(changelog_checkpointing).lower()
        for k, v in rocksdb_conf.items():
            conf[f"spark.sql.streaming.stateStore.rocksdb.{k}"] = str(v)
    elif rocksdb_conf:
        raise ValueError(
            "rocksdb_conf keys only apply to provider='rocksdb'"
        )
    for k, v in conf.items():
        spark.conf.set(k, v)
    return conf


def _with_watermark(df: DataFrame, ts_column: str, delay: str) -> DataFrame:
    """``withWatermark`` with an NTZ guard: Spark requires the event-time
    column to be TIMESTAMP (LTZ) and rejects TIMESTAMP_NTZ with
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.  Parquet round-trips can surface
    NTZ (Spark 4.x infers it for timestamps written without a zone), so
    cast before watermarking — values are preserved under the session
    timezone."""
    if dict(df.dtypes).get(ts_column) == "timestamp_ntz":
        df = df.withColumn(ts_column, F.col(ts_column).cast("timestamp"))
    return df.withWatermark(ts_column, delay)


def windowed_agg(
    df: DataFrame,
    ts_column: str,
    window_duration: str,
    aggs: dict[str, tuple[str, str]],
    by: list[str] | None = None,
    slide_duration: str | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Event-time windowed aggregation with late-data handling.

    ``aggs`` maps output name -> (column, agg_fn_name); ``watermark``
    (e.g. ``'10 minutes'``) bounds state and admits late rows up to the
    delay.  Works identically on batch frames (window() is just an
    expression there).

    At scale: the shuffle key is (window, *by) — pick ``by`` with enough
    cardinality to spread state across executors.
    """
    out = df
    if watermark is not None and out.isStreaming:
        out = _with_watermark(out, ts_column, watermark)
    win = F.window(F.col(ts_column), window_duration, slide_duration or window_duration)
    keys = [win.alias("window")] + [F.col(c) for c in (by or [])]
    exprs = [
        getattr(F, fn)(F.col(col)).alias(name) for name, (col, fn) in aggs.items()
    ]
    return out.groupBy(*keys).agg(*exprs)


def streaming_dedupe(
    df: DataFrame,
    column_name: str,
    watermark: str | None = None,
    ts_column: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Streaming exact dedup on a text fingerprint.

    Batch: falls back to ``dropDuplicates`` on the fingerprint.
    Streaming: ``dropDuplicatesWithinWatermark`` keys state on the
    32-hex md5 — state size is bounded by the watermark horizon, not by
    stream length (the exact semantics a 100 TB/day ingest dedup needs).
    """
    out = df.withColumn("__fp", exact_key(F.col(column_name), normalize))
    if out.isStreaming:
        if watermark is None or ts_column is None:
            raise ValueError(
                "streaming_dedupe on a stream needs watermark= and ts_column="
            )
        out = _with_watermark(out, ts_column, watermark)
        return out.dropDuplicatesWithinWatermark(["__fp"]).drop("__fp")
    return out.dropDuplicates(["__fp"]).drop("__fp")


def sessionize(
    df: DataFrame,
    ts_column: str,
    gap: str,
    by: list[str],
    aggs: dict[str, tuple[str, str]] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Session windows: group events separated by < ``gap`` into one
    session per ``by`` key (``F.session_window``).  Streaming requires a
    watermark (state cleanup); batch works directly."""
    out = df
    if watermark is not None and out.isStreaming:
        out = _with_watermark(out, ts_column, watermark)
    win = F.session_window(F.col(ts_column), gap)
    exprs = [
        getattr(F, fn)(F.col(col)).alias(name)
        for name, (col, fn) in (aggs or {"n_events": (ts_column, "count")}).items()
    ]
    return out.groupBy(win.alias("session"), *[F.col(c) for c in by]).agg(*exprs)


def running_counter(
    df: DataFrame,
    by: list[str],
    ts_column: str,
    watermark: str = "10 minutes",
    timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-key running event counter that emits an updated (key, n_events,
    last_ts) row on every micro-batch and expires keys once the
    WATERMARK passes their last event + ``timeout_ms`` (bounded state —
    the part a naive global aggregation gets wrong on an unbounded
    stream).

    Expiry is EVENT-time (``EventTimeTimeout``), not processing-time,
    for two load-bearing reasons: (a) it is deterministic under replay
    — re-running the same checkpointed stream expires the same keys at
    the same batch, where a wall-clock timeout depends on when the job
    happened to run; (b) processing-time timeouts schedule a new
    micro-batch to fire every pending timer, so a
    ``trigger(availableNow=True)`` drain NEVER terminates (measured:
    30+ empty batches until ``awaitTermination`` gives up) — with
    event-time timers the query stops when the data does, because the
    watermark only moves with data.

    The shape to copy for any custom stateful verb: state is a tiny
    tuple per key, batches arrive as Arrow-backed pandas frames, and the
    watermark + timeout bound both correctness (late data) and state
    size.  Batch frames fall back to an ordinary groupBy count."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if not df.isStreaming:
        return df.groupBy(*by).agg(
            F.count(F.lit(1)).alias("n_events"), F.max(ts_column).alias("last_ts")
        )

    out_schema = T.StructType(
        [df.schema[c] for c in by]
        + [
            T.StructField("n_events", T.LongType()),
            T.StructField("last_ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType([T.StructField("n", T.LongType())])

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n = state.get[0] if state.exists else 0
        last = None
        for pdf in pdfs:
            n += len(pdf)
            mx = pdf[ts_column].max()
            last = mx if last is None else max(last, mx)
        state.update((n,))
        # expire when the watermark passes last event + timeout; the
        # timer must sit strictly beyond the current watermark or Spark
        # rejects it, so clamp for keys already deep in the past
        expire_ms = int(last.timestamp() * 1000) + timeout_ms
        state.setTimeoutTimestamp(
            max(expire_ms, state.getCurrentWatermarkMs() + 1)
        )
        yield pd.DataFrame(
            [dict(zip([*by, "n_events", "last_ts"], [*key, n, last]))]
        )

    return (
        _with_watermark(df, ts_column, watermark)
        .groupBy(*by)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_quality_filter(
    df: DataFrame,
    column_name: str,
    min_quality: float = 0.5,
    **kwargs: Any,
) -> DataFrame:
    """quality_score + threshold filter — expression-only, so it runs
    unchanged on a stream (the shape of a streaming corpus-ingest
    filter)."""
    from pyjanitor_spark.operators.text_analysis import quality_score

    scored = quality_score(df, column_name, **kwargs)
    return scored.filter(F.col(kwargs.get("dest", "quality")) >= min_quality)


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
    output_mode: str = "append",
    available_now: bool = False,
    processing_time: str | None = None,
):
    """Streaming parquet sink with exactly-once file commits.

    The checkpoint directory carries the source offsets + sink commit
    log, so a restarted query resumes without duplicating files.
    ``available_now=True`` drains everything currently available and
    stops — the batch-backfill mode.  Returns the ``StreamingQuery``."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    elif processing_time is not None:
        w = w.trigger(processingTime=processing_time)
    return w.start()


def streaming_dedupe_near(
    df: DataFrame,
    id_col: str,
    column_name: str,
    store_path: str,
    checkpoint_dir: str,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    available_now: bool = False,
):
    """Streaming NEAR-duplicate dedup against an ever-growing kept
    corpus — the incremental form of ``dedupe_near`` for a continuous
    crawl ingest.

    Per micro-batch (``foreachBatch``, so every batch verb applies):

    1. within-batch near-dedup (``dedupe_near``: MinHash-LSH ->
       connected components -> keep min id);
    2. drop survivors that near-duplicate anything ALREADY KEPT — the
       probe runs against the PERSISTED band-signature store
       (``<store_path>/_signatures``, written per batch), so the corpus
       side is never re-tokenized: per-batch cost is O(new batch) + a
       band-key semi-join, not O(corpus);
    3. append survivors to ``store_path`` under ``batch=<id>`` with
       ``overwrite``, then their :func:`minhash_band_buckets` under
       ``_signatures/batch=<id>`` — a replayed batch id rewrites both
       directories, so replays stay idempotent (the sink-side half of
       exactly-once; the underscore prefix hides ``_signatures`` from
       readers of the store itself).

    State lives in the store itself (no executor state); the streaming
    checkpoint only tracks source offsets.  Returns the
    ``StreamingQuery``.
    """
    from pyjanitor_spark.operators.dedup import (
        dedupe_against,
        dedupe_near,
        minhash_band_buckets,
    )

    sig_path = f"{store_path}/_signatures"

    def batch_fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        kept = dedupe_near(
            batch, id_col, column_name, k=k, bands=bands, shingle_n=shingle_n
        )
        # probe the store path EXPLICITLY: only a missing path means
        # "first batch, no store yet".  Catching AnalysisException here
        # would also swallow corrupt parquet, schema drift (missing
        # 'batch' column) and transient storage failures — those must
        # FAIL the batch so the checkpoint retries it; swallowing them
        # would silently skip dedup-against-store and admit
        # near-duplicates permanently.
        jpath = spark._jvm.org.apache.hadoop.fs.Path(sig_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            # exclude THIS batch id: a replayed batch (crash after the
            # signature write, before the offset commit) must not probe
            # against its own first attempt's signatures — it would
            # dedupe itself to empty and overwrite the kept data with
            # nothing
            sigs = (
                spark.read.parquet(sig_path)
                .filter(F.col("batch") != batch_id)
                .select(id_col, "band", "key")
            )
        else:
            sigs = None
        if sigs is not None:
            kept = dedupe_against(
                kept, None, id_col, column_name,
                k=k, bands=bands, shingle_n=shingle_n, reference_buckets=sigs,
            )
        kept.write.mode("overwrite").parquet(f"{store_path}/batch={batch_id}")
        # signatures from the files just written: one bounded re-read of
        # the new batch, never of the corpus
        landed = spark.read.parquet(f"{store_path}/batch={batch_id}")
        minhash_band_buckets(
            landed, id_col, column_name, k=k, bands=bands, shingle_n=shingle_n
        ).write.mode("overwrite").parquet(f"{sig_path}/batch={batch_id}")

    return foreach_batch_sink(df, batch_fn, checkpoint_dir, available_now=available_now)


def foreach_batch_sink(
    df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    available_now: bool = False,
):
    """Route a stream through ``batch_fn(batch_df, batch_id)`` — the
    escape hatch for sinks Spark lacks (merge/upsert, dedupe-against-
    store, multi-table fanout).  ``batch_fn`` sees a normal batch
    DataFrame, so every batch-only verb works inside it; Spark
    guarantees per-batch-id at-least-once with replays identifiable by
    ``batch_id`` (make the body idempotent on it).  Returns the
    ``StreamingQuery``."""
    w = df.writeStream.foreachBatch(batch_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()

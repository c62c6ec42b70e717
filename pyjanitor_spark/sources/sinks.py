"""Sinks: parquet/CSV/JSON writers with scale-aware layout control.

The reference (pyjanitor) delegates writing to pandas ``to_*`` — a
single-process file append.  At 100 TB the write layout IS the read
performance of every downstream job, so these writers make the three
decisions that matter explicit:

* **Hive partitioning** (``partition_by``): one directory per value →
  partition pruning at read.  We ``repartition`` on the partition
  columns first so each value is written by as few tasks as possible —
  otherwise every one of N tasks opens a file per value and a 32-task
  × 1000-value write produces 32k tiny files.
* **File sizing** (``max_records_per_file``): bounds individual file
  size so a skewed partition value still splits into reader-parallel
  chunks.
* **In-file ordering** (``sort_by``): ``sortWithinPartitions`` before
  write tightens parquet row-group min/max stats → row-group skipping
  for range predicates on the sort key.

``write_bucketed_table`` persists a bucketed+sorted table
(``bucketBy``/``sortBy`` + ``saveAsTable``): two tables bucketed the
same way on the join key equi-join WITHOUT a shuffle on either side —
the pre-partitioning is reused across every downstream job, which is
the single biggest shuffle win available for repeated large joins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyjanitor_spark.utils.pin import probe

__all__ = [
    "write_parquet",
    "write_orc",
    "read_orc",
    "write_csv",
    "read_csv",
    "write_json",
    "write_bucketed_table",
    "read_bucketed_table",
    "zorder_key",
    "write_zordered",
]


def _prepare(
    df: DataFrame,
    partition_by: list[str] | None,
    sort_by: list[str] | None,
) -> DataFrame:
    if partition_by:
        # one shuffle keyed on the partition columns: each hive value
        # lands in few tasks -> few, large files instead of tasks×values
        df = df.repartition(*partition_by)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    return df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    max_records_per_file: int | None = None,
    compression: str = "snappy",
) -> None:
    """Write parquet with explicit layout control (see module doc)."""
    out = _prepare(df, partition_by, sort_by).write.mode(mode)
    out = out.option("compression", compression)
    if max_records_per_file is not None:
        out = out.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_by:
        out = out.partitionBy(*partition_by)
    out.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    compression: str = "zlib",
) -> None:
    """ORC writer with the same layout control as :func:`write_parquet`
    (ORC ships in Spark core — the common warehouse format alongside
    parquet; sortWithinPartitions feeds its min/max stripe statistics
    the same way it feeds parquet row-group stats)."""
    out = _prepare(df, partition_by, sort_by).write.mode(mode)
    out = out.option("compression", compression)
    if partition_by:
        out = out.partitionBy(*partition_by)
    out.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC (predicate pushdown/column pruning work like parquet)."""
    return spark.read.orc(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    header: bool = True,
    **options: str,
) -> None:
    """CSV writer (hive-partition aware), ROUNDTRIP-FAITHFUL by default.

    Spark's writer defaults silently corrupt text corpora on the way
    back in (fuzz wave 12 findings): leading/trailing whitespace is
    TRIMMED at write time, and empty strings are written unquoted —
    indistinguishable from null on read.  Defaults here preserve
    whitespace (``ignoreLeading/TrailingWhiteSpace=false``) and write
    empty strings as quoted ``""`` (``emptyValue``) while nulls stay
    unquoted-empty, so :func:`read_csv` can tell them apart.  Embedded
    newlines are quoted per RFC 4180 — readable ONLY with
    ``multiLine`` (which :func:`read_csv` sets; a default
    ``spark.read.csv`` splits such rows mid-record).  Every default
    is overridable through ``**options``.

    SCALE NOTE: multiLine CSV is NOT splittable — the paired
    :func:`read_csv` gets one task per FILE, so read parallelism is
    bounded by the writer's file count, not by block size.  CSV here
    is the interchange path; for data that will be re-read at scale,
    prefer :func:`write_parquet` / :func:`write_bucketed_table` (splittable,
    typed, predicate-pushdown).  See SCALE.md "CSV roundtrip vs
    splittability"."""
    out = (
        _prepare(df, partition_by, None)
        .write.mode(mode)
        .option("header", str(header).lower())
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .option("emptyValue", '""')
    )
    for k, v in options.items():
        out = out.option(k, str(v))
    if partition_by:
        out = out.partitionBy(*partition_by)
    out.csv(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    null_sentinel: str = "\u0000",
    **options: str,
):
    """The reader paired with :func:`write_csv` — reads back exactly
    what was written: ``multiLine`` for quoted embedded newlines,
    quoted-empty ``""`` stays the empty string (``emptyValue=''``)
    while unquoted-empty cells stay null (``nullValue`` is an
    unmatchable token so real text does not alias to null).
    Pass ``schema`` (DDL string) to skip inference — on 100 TB,
    inference is a full extra pass.

    ``null_sentinel`` is the ``nullValue`` token.  The default lone
    NUL is unmatchable for any corpus that does not contain a cell
    that IS exactly one NUL byte; a corrupt corpus can legitimately
    hold one, and that cell would silently read back as null — pass
    a sentinel known to be absent (e.g. a random UUID) if that
    matters.

    SCALE NOTE: ``multiLine=true`` (required for the quoted embedded
    newlines :func:`write_csv` emits) makes every CSV file
    UNSPLITTABLE — one read task per file, regardless of size.
    Parallelism = file count; a single 1 TB CSV reads on one core.
    For scale-path data use parquet (SCALE.md "CSV roundtrip vs
    splittability")."""
    r = (
        spark.read.option("header", str(header).lower())
        .option("multiLine", "true")
        .option("emptyValue", "")
        .option("nullValue", null_sentinel)
    )
    for k, v in options.items():
        r = r.option(k, str(v))
    if schema is not None:
        r = r.schema(schema)
    return r.csv(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """JSON-lines writer (hive-partition aware)."""
    out = _prepare(df, partition_by, None).write.mode(mode)
    for k, v in options.items():
        out = out.option(k, str(v))
    if partition_by:
        out = out.partitionBy(*partition_by)
    out.json(path)


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_by: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
    format: str = "parquet",
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    Joining two tables bucketed identically on the join key produces a
    SortMergeJoin with NO Exchange on either side — the shuffle is paid
    once at write time and amortized over every downstream join.  Size
    ``num_buckets`` so one bucket of the LARGEST table fits an executor
    core's memory at target scale (e.g. 100 TB / 4096 buckets ≈ 25 GB
    per bucket per table → prefer 8192+ at that scale; 32 here matches
    the local test profile).
    """
    writer = df.write.format(format).mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    if path is not None:
        # external table: data at an explicit location instead of the
        # session warehouse dir (which is a static conf)
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def zorder_key(
    df: DataFrame,
    columns: list[str],
    bits: int = 12,
    dest: str = "__zorder",
) -> DataFrame:
    """Add a Morton (Z-order) interleave key over ``columns``.

    Sorting by a single column clusters parquet min/max stats for that
    column only; a query filtering on the OTHER column still reads every
    file.  Interleaving the bits of each column's normalized value gives
    every column locality in ONE sort key, so multi-dimensional range
    predicates skip most files/row-groups — the layout technique behind
    Z-ordered table formats, derived from the public Morton-code
    literature.

    Per column: numeric/date/timestamp values are min-max normalized to
    ``bits``-bit integers (one bounded agg action computes all the
    min/max pairs); other types are md5-hashed into ``bits`` bits —
    hashing keeps equal values adjacent (point-predicate skipping) but
    not ranges, which is the best a sort can do for unordered data.
    NULL maps to 0 (sorts first).  The interleave itself is a flat
    bitwise expression — codegen-friendly, no UDF, no shuffle.

    Actions: with a numeric/date/timestamp column, ONE at call time —
    the min/max ``collect`` (``utils.pin.probe``).  When ``df`` does not
    replay identically (a shuffle, join or nondeterministic expression
    upstream) the probe pins it first, so the call also runs ``df``'s
    shuffle and broadcast stages (adaptive query execution materialises
    them; see ``utils.pin.pin``), and the keyed output reads the stored
    rows.  With only hashed columns the call runs no job.
    """
    ncols = len(columns)
    if ncols == 0:
        raise ValueError("need at least one z-order column")
    if bits * ncols > 62:
        raise ValueError(f"bits*len(columns) must be <= 62, got {bits * ncols}")
    numeric = {"byte", "short", "integer", "long", "float", "double", "decimal"}
    fields = {f.name: f.dataType.typeName() for f in df.schema.fields}
    missing = [c for c in columns if c not in fields]
    if missing:
        raise KeyError(f"columns not in DataFrame: {missing}")
    max_val = (1 << bits) - 1

    def as_num(c: str) -> Column | None:
        t = fields[c]
        if t.startswith("decimal") or t in numeric:
            return F.col(c).cast("double")
        if t in ("date", "timestamp", "timestamp_ntz"):
            return F.col(c).cast("timestamp").cast("double")
        return None

    num_cols = [c for c in columns if as_num(c) is not None]
    stats = {}
    if num_cols:
        df, (row,) = probe(df, lambda f: f.agg(
            *[F.min(as_num(c)).alias(f"mn_{i}") for i, c in enumerate(num_cols)],
            *[F.max(as_num(c)).alias(f"mx_{i}") for i, c in enumerate(num_cols)],
        ))
        for i, c in enumerate(num_cols):
            stats[c] = (row[f"mn_{i}"], row[f"mx_{i}"])

    def scaled(c: str) -> Column:
        num = as_num(c)
        if num is None:
            h = F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 8), 16, 10)
            return F.coalesce(h.cast("bigint") % (max_val + 1), F.lit(0))
        mn, mx = stats[c]
        if mn is None or mx is None or mx == mn:
            return F.lit(0).cast("bigint")
        frac = (num - F.lit(float(mn))) / F.lit(float(mx) - float(mn))
        return F.coalesce(
            F.floor(frac * max_val).cast("bigint"), F.lit(0)
        )

    tmp = df.withColumns({f"__z{i}": scaled(c) for i, c in enumerate(columns)})
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i in range(ncols):
            bit = F.shiftright(F.col(f"__z{i}"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * ncols + i)
    return tmp.withColumn(dest, z).drop(*[f"__z{i}" for i in range(ncols)])


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    bits: int = 12,
    num_files: int | None = None,
    mode: str = "overwrite",
    compression: str = "snappy",
    max_records_per_file: int | None = None,
) -> None:
    """Write parquet clustered along a Z-order curve over ``zorder_by``.

    ``repartitionByRange`` on the Morton key splits the curve into
    contiguous segments (one per output file), ``sortWithinPartitions``
    orders rows inside each file, and the key is dropped before writing.
    Downstream scans filtering on ANY prefix-stable combination of the
    z-ordered columns skip whole files via parquet footer min/max —
    the multi-column generalization of ``write_parquet(sort_by=...)``.

    Jobs: ``zorder_key``'s min/max probe (and the pin of a ``df`` that
    does not replay identically, see there), then the range-partition
    sample and the write, both of which read the probed frame — so
    ``df``'s upstream runs once.
    """
    keyed = zorder_key(df, zorder_by, bits=bits)
    if num_files is not None:
        keyed = keyed.repartitionByRange(num_files, "__zorder")
    else:
        keyed = keyed.repartitionByRange("__zorder")
    out = (
        keyed.sortWithinPartitions("__zorder")
        .drop("__zorder")
        .write.mode(mode)
        .option("compression", compression)
    )
    if max_records_per_file is not None:
        out = out.option("maxRecordsPerFile", str(max_records_per_file))
    out.parquet(path)


def read_bucketed_table(spark: SparkSession, name: str) -> DataFrame:
    """Load a table written by :func:`write_bucketed_table` (bucket
    metadata comes from the catalog, so reads via ``spark.table``)."""
    return spark.table(name)

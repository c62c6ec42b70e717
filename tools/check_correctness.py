"""The DuckDB oracle: run every ``queries()`` entry on Spark and its
``oracle_sql()`` on DuckDB at sf0.01, compare row count + sorted values
(float tol 1e-9).  ``check`` is the importable form;
``tests/test_oracle_gate.py`` runs it on the benchmarked verbs.

Usage: [CHECK_SF_DIR=dir] python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def compare(rows_a, rows_b, cols):
    if len(rows_a) != len(rows_b):
        return f"row count {len(rows_a)} vs {len(rows_b)}"

    def key(r):
        return tuple((x is None, str(x)) for x in r)

    sa = sorted([tuple(norm(v) for v in r) for r in rows_a], key=key)
    sb = sorted([tuple(norm(v) for v in r) for r in rows_b], key=key)
    for i, (ra, rb) in enumerate(zip(sa, sb)):
        for c, (va, vb) in enumerate(zip(ra, rb)):
            if isinstance(va, float) and isinstance(vb, float):
                if abs(va - vb) > 1e-9 and abs(va - vb) > 1e-9 * max(abs(va), abs(vb)):
                    return f"row {i} col {cols[c]}: {va!r} vs {vb!r}"
            elif va != vb:
                return f"row {i} col {cols[c]}: {va!r} vs {vb!r}"
    return None


def connect(sf_dir: str):
    """A DuckDB connection with one view per parquet table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check(spark, names, sf_dir: str) -> list[str]:
    """Run each named ``queries()`` entry on ``spark`` and its
    ``oracle_sql()`` on DuckDB over ``sf_dir``; print and return one
    ``OK``/``ROWS``/``FAIL`` line per name."""
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    con = connect(sf_dir)
    lines = []
    for name in names:
        line = _check_one(spark, con, name, qs[name], oracles.get(name), sf_dir)
        print(line)
        lines.append(line)
    con.close()
    return lines


def _check_one(spark, con, name, query, sql, sf_dir):
    try:
        sdf = query(spark, sf_dir)
        cols = sorted(sdf.columns)
        srows = [tuple(r[c] for c in cols) for r in sdf.collect()]
    except Exception as e:
        return f"FAIL  {name}: spark error: {e}"
    if sql is None:
        return f"ROWS  {name}: {len(srows)} rows (no oracle)"
    try:
        res = con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows_raw = res.fetchall()
        order = [ocols.index(c) for c in sorted(ocols)]
        orows = [tuple(r[i] for i in order) for r in orows_raw]
        if sorted(ocols) != cols:
            return f"FAIL  {name}: columns {cols} vs oracle {sorted(ocols)}"
    except Exception as e:
        return f"FAIL  {name}: duckdb error: {e}"
    err = compare(srows, orows, sorted(cols))
    if err:
        return f"FAIL  {name}: {err}"
    return f"OK    {name} ({len(srows)} rows)"


def main():
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("correctness-check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    only = set(sys.argv[1:])
    names = [n for n in entry.queries() if not only or n in only]
    tally = Counter(line.split()[0] for line in check(spark, names, SF))
    print(f"\n{tally['OK']} ok, {tally['FAIL']} failed, {tally['ROWS']} rows-only")
    spark.stop()
    return 1 if tally["FAIL"] else 0


if __name__ == "__main__":
    raise SystemExit(main())

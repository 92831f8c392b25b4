"""Local replica of the driver's correctness gate: run every declared query
on Spark AND its DuckDB oracle at sf0.01; compare row count, column names,
and order-insensitive values.

Also enforces the **driver-compat dtype gate** (round-2 lesson): the driver
canonicalizes both result sets through pandas, so

- a DuckDB oracle must not emit HUGEINT/UHUGEINT (pandas → float64, hash
  diverges from Spark's int64 for numerically-equal values) nor any nested
  type (LIST/STRUCT/MAP/UNION — pandas sort_values cannot factorize them);
- a Spark query must not emit array/struct/map output columns.

Both of round 2's red rows (q12 HUGEINT, multimodal_features array<float>)
would have been caught by this gate pre-submission.

Usage: python scripts/check_oracles.py [--dtypes-only] [sf_dir] [query ...]
(no query names = every registered query)
"""

from __future__ import annotations

import math
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

#: DuckDB result types the driver's pandas canonicalizer mishandles.
#: '[' (not '[]') so both LIST (FLOAT[]) and fixed-size ARRAY (FLOAT[16])
#: column types are flagged — no scalar DuckDB type contains a bracket.
_BANNED_DUCK = ("HUGEINT", "UHUGEINT", "STRUCT", "MAP", "UNION", "[")


def oracle_dtype_problems(con, sql: str) -> list[str]:
    """DESCRIBE the oracle (no execution) and flag driver-unsafe column types."""
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    bad = []
    for row in desc:
        col_name, col_type = row[0], str(row[1]).upper()
        if any(tok in col_type for tok in _BANNED_DUCK):
            bad.append(f"oracle column {col_name!r} has driver-unsafe type {col_type}")
    return bad


def spark_dtype_problems(sdf) -> list[str]:
    """Flag nested output types the driver's pandas canonicalizer cannot sort."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for f in sdf.schema.fields:
        if isinstance(f.dataType, (ArrayType, MapType, StructType)):
            bad.append(
                f"spark column {f.name!r} has driver-unsafe type {f.dataType.simpleString()}"
            )
    return bad


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def key_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(normalize(r[i]) for i in order))
    return sorted(out, key=repr)


def main():
    argv = [a for a in sys.argv[1:] if a != "--dtypes-only"]
    dtypes_only = "--dtypes-only" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry

    if only - set(entry.QUERIES):
        sys.exit(f"unknown queries: {sorted(only - set(entry.QUERIES))}")

    import os

    # perturb via env to prove layout independence (e.g. PARTS=7 or 64)
    parts = os.environ.get("CHECK_ORACLES_PARTS", "8")
    # SF-sized file splits (same rationale as bench.py): at sf1 the default
    # 128 MB maxPartitionBytes turns every scan into 1-2 tasks on local[8],
    # serializing the heavy md5_60-mode queries
    import glob as _glob

    def _table_bytes(entry: str) -> int:
        if os.path.isfile(entry):
            return os.path.getsize(entry)
        return sum(
            os.path.getsize(p)
            for p in _glob.glob(os.path.join(entry, "**", "*.parquet"), recursive=True)
            if os.path.isfile(p)
        )

    largest = max(
        (_table_bytes(p) for p in _glob.glob(os.path.join(sf_dir, "*.parquet"))),
        default=128 << 20,
    )
    mpb = max(1 << 20, largest // 8)
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.files.maxPartitionBytes", str(mpb))
        .config("spark.sql.files.openCostInBytes", str(128 << 10))
        # headroom for the sf1 sweep (vector-carrying pair expansions);
        # the default 1g local-mode heap is fine at sf0.01 but not 100×
        .config("spark.driver.memory", os.environ.get("CHECK_ORACLES_DRIVER_MEM", "8g"))
        .config("spark.sql.shuffle.partitions", parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            dtype_bad = spark_dtype_problems(sdf)
            if name in oracles:
                dtype_bad += oracle_dtype_problems(con, oracles[name])
            if dtype_bad:
                print(f"FAIL  {name}: " + "; ".join(dtype_bad))
                failures.append(name)
                continue
            if dtypes_only:
                print(f"ok    {name}: dtypes driver-safe")
                continue
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"ok    {name}: rows-only ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            continue
        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"columns spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        if not problems:
            ks, kd = key_rows(s_cols, s_rows), key_rows(d_cols, d_rows)
            if ks != kd:
                n_bad = sum(1 for a, b in zip(ks, kd) if a != b)
                problems.append(f"values differ ({n_bad}/{len(ks)} rows)")
                for a, b in zip(ks, kd):
                    if a != b:
                        problems.append(f"  spark : {a}\n  duckdb: {b}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:3]))
            failures.append(name)
        else:
            print(f"MATCH {name}: {len(s_rows)} rows ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

"""Environment contract: how THIS Spark build reads the events parquet.

Round-3 regression class: the testdata stores ``ts`` as parquet
TIMESTAMP(NANOS), and the way Spark surfaces that column shifted between
versions (legacy ``nanosAsLong`` bigint vs native ``timestamp_ntz``).  A
source adapter that hard-codes one arrival type silently corrupts every
event time when the reader behavior drifts.  These tests pin the contract
both adapters rely on: batch (``io/parquet.py``) and stream
(``streaming/windows.py``) must agree on the decoded values, whatever the
arrival type is.

The registry tests pin the driver contract: every registered query is
declared, rotated and value-equal to its DuckDB oracle at sf0.001.
"""

import shutil

import pytest

from pdtable_spark.io.parquet import read_nanos_parquet
from pdtable_spark.queries.suite import ORACLES, QUERIES
from pdtable_spark.streaming import read_events_stream, run_to_memory

SF_DIR = "/root/testdata/sf0.001"


def test_batch_ts_decodes_to_2024_epoch(spark):
    """Whatever dtype the reader surfaces, the decoded timestamps must land
    in the data's real range (2024), not 1970 (ns/µs confusion) and not
    beyond 2100 (µs read as ns)."""
    df = read_nanos_parquet(spark, f"{SF_DIR}/events.parquet")
    assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
    lo, hi = df.selectExpr("min(ts)", "max(ts)").first()
    assert lo.year >= 2000, f"ts decoded into the past: {lo}"
    assert hi.year <= 2100, f"ts decoded into the future: {hi}"


def test_stream_ts_equals_batch_ts(spark, tmp_path):
    """The streaming source must decode the exact same (event_id, ts) pairs
    as the batch reader — the invariant that silently broke in round 3."""
    d = tmp_path / "events_env"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    q = run_to_memory(
        read_events_stream(spark, str(d)).select("event_id", "ts"), "t_env_contract"
    )
    q.stop()
    got = {r.event_id: r.ts for r in spark.table("t_env_contract").collect()}
    want = {
        r.event_id: r.ts
        for r in read_nanos_parquet(spark, f"{SF_DIR}/events.parquet")
        .select("event_id", "ts")
        .collect()
    }
    assert len(got) == len(want)
    # collect() renders timestamp and timestamp_ntz to the same naive
    # datetimes under a UTC session tz — compare values directly
    assert got == want


def test_stream_explicit_ntz_schema_is_cast_to_timestamp(spark, tmp_path):
    """Documented contract: an EXPLICIT schema requesting timestamp_ntz for
    the event-time column still arrives as `timestamp` (watermarks reject
    ntz, so the cast is unconditional), with values unchanged under a UTC
    session tz.  Only the bigint ns→µs rewrite is probe-only."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    d = tmp_path / "events_ntz"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    batch = read_nanos_parquet(spark, f"{SF_DIR}/events.parquet")
    if dict(batch.dtypes)["ts"] != "timestamp_ntz":
        pytest.skip("this Spark build does not surface TIMESTAMP(NANOS) as ntz")
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts", TimestampNTZType()),
        ]
    )
    sdf = read_events_stream(spark, str(d), schema=schema)
    assert dict(sdf.dtypes)["ts"] == "timestamp"
    q = run_to_memory(sdf.select("event_id", "ts"), "t_env_ntz")
    q.stop()
    got = {r.event_id: r.ts for r in spark.table("t_env_ntz").collect()}
    want = {r.event_id: r.ts for r in batch.select("event_id", "ts").collect()}
    assert got == want


@pytest.fixture(scope="module")
def duck():
    """DuckDB connection with a view per fixture table at sf0.001."""
    import duckdb

    from scripts.check_oracles import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def test_query_registry_contract(duck):
    """The driver contract's invariants: every oracle belongs to a declared
    query, the rotation list is exactly the registry (no dups, no ghosts),
    and every oracle is syntactically valid DuckDB SQL against the fixture
    schemas (DESCRIBE — parse/bind only, no execution)."""
    import __spark_entry__ as entry

    assert set(ORACLES) <= set(QUERIES)
    ordered = list(entry.queries())
    assert len(ordered) == len(set(ordered))
    assert set(ordered) == set(QUERIES)
    assert list(entry.oracle_sql()) == [k for k in ordered if k in ORACLES]

    for name, sql in ORACLES.items():
        try:
            duck.execute(f"DESCRIBE {sql}")
        except Exception as exc:  # pragma: no cover - the assert carries it
            raise AssertionError(f"oracle for {name!r} fails to parse: {exc}")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_matches(spark, duck, name):
    """Each registered (query, oracle) pair runs side by side at sf0.001:
    the driver-compat dtype gate holds on both sides, and column names and
    order-insensitive values match (the driver's comparison, minus its
    pandas canonicalization layer)."""
    from scripts.check_oracles import oracle_dtype_problems, spark_dtype_problems

    sql = ORACLES[name]
    sdf = QUERIES[name](spark, SF_DIR)
    assert not oracle_dtype_problems(duck, sql)
    assert not spark_dtype_problems(sdf)
    # repr order: rollup / grouping-set rows carry NULL keys, which tuples
    # cannot compare against values
    got = sorted(map(tuple, sdf.collect()), key=repr)
    cur = duck.execute(sql)
    want = sorted(map(tuple, cur.fetchall()), key=repr)
    assert [f.name for f in sdf.schema.fields] == [d[0] for d in cur.description]
    assert got == want, (got[:3], want[:3])

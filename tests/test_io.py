"""CSV / JSON I/O tests: golden-string writes, round-trips, distributed scan."""

import io
import math

import pytest
from pyspark.sql import functions as F

from pdtable_spark import Table, read_csv, write_csv
from pdtable_spark.io.csv import scan_csv
from pdtable_spark.io.json import json_data_to_table, table_to_json_data
from pdtable_spark.parsers.blocks import BlockType
from pdtable_spark.store import TableBundle

CSV = """**places;
all
place;distance;is_hot
text;km;onoff
home;0.0;1
work;14.5;0
mars;-;0

**other;
all
x
-
1
2

"""


def test_read_csv_stream(spark):
    blocks = list(read_csv(io.StringIO(CSV)))
    tables = [b for bt, b in blocks if bt == BlockType.TABLE]
    assert [t.name for t in tables] == ["places", "other"]
    t = tables[0]
    assert t.units == ["text", "km", "onoff"]
    assert t.count() == 3
    # missing numeric is Spark null
    assert t.df.filter(F.col("distance").isNull()).count() == 1


def test_write_csv_golden(spark):
    blocks = read_csv(io.StringIO(CSV), filter=lambda bt, n: n == "places")
    bundle = TableBundle(blocks)
    out = io.StringIO()
    write_csv(bundle["places"], out)
    expected = (
        "**places;\n"
        "all\n"
        "place;distance;is_hot\n"
        "text;km;onoff\n"
        "home;0.0;1\n"
        "work;14.5;0\n"
        "mars;-;0\n"
        "\n"
    )
    assert out.getvalue() == expected


def test_csv_roundtrip_equality(spark):
    blocks = read_csv(io.StringIO(CSV))
    bundle = TableBundle(blocks)
    out = io.StringIO()
    write_csv([bundle["places"], bundle["other"]], out)
    out.seek(0)
    bundle2 = TableBundle(read_csv(out))
    assert bundle["places"].equals(bundle2["places"])
    assert bundle["other"].equals(bundle2["other"])


def test_write_transposed(spark):
    t_csv = "**flipped*;\nall\nnumbers;-;1;2;3\ntexts;text;a;b;c\n\n"
    bundle = TableBundle(read_csv(io.StringIO(t_csv)))
    t = bundle["flipped"]
    assert t.metadata.transposed
    out = io.StringIO()
    write_csv(t, out)
    assert out.getvalue() == "**flipped*;\nall\nnumbers;-;1.0;2.0;3.0\ntexts;text;a;b;c\n\n"


def test_display_format_applied_on_write(spark):
    from pdtable_spark.model.metadata import ColumnFormat

    bundle = TableBundle(read_csv(io.StringIO(CSV), filter=lambda bt, n: n == "places"))
    t = bundle["places"]
    cm = t.column_metadata["distance"]
    cm.display_format = ColumnFormat(2)
    t._df = t.df.withMetadata("distance", cm.to_field_metadata())
    out = io.StringIO()
    write_csv(t, out)
    assert "14.50" in out.getvalue()


def test_json_roundtrip(spark):
    bundle = TableBundle(read_csv(io.StringIO(CSV)))
    t = bundle["places"]
    jd = table_to_json_data(t)
    assert jd["columns"]["distance"]["unit"] == "km"
    assert jd["columns"]["distance"]["values"] == [0.0, 14.5, None]
    t2 = json_data_to_table(jd, spark=spark)
    assert t.equals(t2)


def test_scan_csv_distributed(spark, tmp_path):
    # one logical table spread over several StarTable files
    for i in range(3):
        (tmp_path / f"part{i}.csv").write_text(
            "**measurements;\nall\nrun;value\n-;kg\n"
            + "".join(f"{i * 10 + j};{j}.5\n" for j in range(4))
            + "\n**noise;\nall\nz\n-\n9\n\n"
        )
    t = scan_csv(spark, str(tmp_path / "*.csv"), "measurements")
    assert t.count() == 12
    assert t.units == ["-", "kg"]
    assert t.df.agg(F.sum("value")).collect()[0][0] == pytest.approx(3 * (0.5 + 1.5 + 2.5 + 3.5))


def test_scan_csv_reads_write_csv_distributed_dir(spark, tmp_path):
    """The distributed writer's output directory (part files beside the
    _SUCCESS marker and .crc files) scans back as a directory."""
    from pdtable_spark.io.csv import write_csv_distributed

    src = TableBundle(read_csv(io.StringIO(CSV)))["places"]
    out = str(tmp_path / "places_csv")
    write_csv_distributed(src, out)
    back = scan_csv(spark, out, "places")
    assert back.units == src.units
    assert sorted(map(tuple, back.df.collect())) == sorted(map(tuple, src.df.collect()))


def test_scan_csv_file_size_bound(spark, tmp_path):
    """A file over max_file_bytes fails fast with actionable guidance
    instead of risking an executor OOM."""
    (tmp_path / "big.csv").write_text(
        "**m;\nall\nrun;value\n-;kg\n" + "".join(f"{j};{j}.5\n" for j in range(200)) + "\n"
    )
    t = scan_csv(spark, str(tmp_path / "big.csv"), "m", max_file_bytes=100)
    with pytest.raises(Exception, match="max_file_bytes"):
        t.count()


def test_scan_csv_batch_rows_chunking(spark, tmp_path, monkeypatch):
    """A table longer than one Arrow batch parses across several batches,
    and batching does not change the parsed result."""
    import pyarrow as pa

    from pdtable_spark.frame import schema_for_units
    from pdtable_spark.io import csv as csv_io

    path = tmp_path / "chunks.csv"
    path.write_text(
        "**m;\nall\nrun;value\n-;kg\n"
        + "".join(f"{j};{j}.5\n" for j in range(1000))
        + "\n"
    )
    monkeypatch.setattr(csv_io, "BATCH_ROWS", 64)
    schema = schema_for_units(["run", "value"], ["-", "kg"])
    batches = [b for b, _ in csv_io._table_batches(str(path), "m", ";", False, schema)]
    assert len(batches) == 16 and max(b.num_rows for b in batches) == 64
    assert pa.Table.from_batches(batches).column("run").to_pylist() == [float(j) for j in range(1000)]
    t = scan_csv(spark, str(path), "m")
    assert t.count() == 1000
    assert t.df.agg(F.sum("run")).collect()[0][0] == pytest.approx(sum(range(1000)))


def test_read_bundle_from_csv_normalized(spark, tmp_path):
    from pdtable_spark.units import simple_converter
    from pdtable_spark.utils import read_bundle_from_csv

    p = tmp_path / "b.csv"
    p.write_text(CSV)
    bundle = read_bundle_from_csv(
        p,
        convert_units_to={"places": {"distance": "m"}},
        unit_converter=simple_converter,
    )
    t = bundle["places"]
    assert t["distance"].unit == "m"
    vals = sorted(v for v in t["distance"].values if v is not None)
    assert vals == [0.0, 14500.0]
    # tables without a dispatcher entry pass through untouched
    assert bundle["other"]["x"].unit == "-"


def test_read_bundle_requires_converter(tmp_path):
    from pdtable_spark.utils import read_bundle_from_csv
    import pdtable_spark.units as units

    old = units.get_converter()
    units.set_converter(None)
    try:
        p = tmp_path / "b.csv"
        p.write_text(CSV)
        with pytest.raises(ValueError, match="converter"):
            read_bundle_from_csv(p, convert_units_to={"places": {"distance": "m"}})
    finally:
        units.set_converter(old)


def test_scan_csv_permissive_counts_fixes(spark, tmp_path):
    from pdtable_spark.io.csv import scan_csv

    good = "**m;\nall\na;b\n-;text\n1.0;x\n2.0;y\n\n"
    bad = "**m;\nall\na;b\n-;text\nnot_a_number;x\n3.0;y\n\n"
    (tmp_path / "f1.csv").write_text(good)
    (tmp_path / "f2.csv").write_text(bad)

    acc = spark.sparkContext.accumulator(0)
    t = scan_csv(spark, f"{tmp_path}/f*.csv", "m", permissive=True, fix_counter=acc)
    rows = t.df.collect()
    assert len(rows) == 4
    # the illegal cell became the float default (None/NaN), not a crash
    vals = sorted((r.a for r in rows), key=lambda v: (v is None, v))
    assert vals[0] in (None, float("nan")) or vals[-1] is None or any(
        v is None or v != v for v in (r.a for r in rows)
    )
    assert acc.value == 1


def test_scan_csv_permissive_counts_fixes_per_table(spark, tmp_path):
    """Fixes are counted per parsed table: a file holding the target table
    twice, with one illegal cell in each, counts two (the parser resets
    the fixer per block, so its count is never a running total)."""
    block = "**m;\nall\na;b\n-;text\n{};x\n3.0;y\n\n"
    (tmp_path / "f.csv").write_text(
        block.format("bad_one") + "**other;\nall\nz\n-\n1\n\n" + block.format("bad_two")
    )

    acc = spark.sparkContext.accumulator(0)
    t = scan_csv(spark, str(tmp_path / "f.csv"), "m", permissive=True, fix_counter=acc)
    assert t.df.count() == 4
    assert acc.value == 2


DATETIME_CSV = """**events;
all
label;at
text;datetime
gap;2020-03-08 02:30
fold;2020-11-01 01:30
plain;2021-06-15 12:00:05
missing;-

"""


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Kolkata"])
def test_read_csv_datetime_matches_row_list_frame(spark, tz):
    """A parsed datetime column collects, and casts to string, exactly as
    the pickled row-list spelling of the same rows does, under any session
    time zone -- including a wall-clock time in New York's DST gap."""
    from pdtable_spark.frame import schema_for_units

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        (table,) = [b for k, b in read_csv(io.StringIO(DATETIME_CSV)) if k == BlockType.TABLE]
        (parsed,) = [
            b for k, b in read_csv(io.StringIO(DATETIME_CSV), to="parsed")
            if k == BlockType.TABLE
        ]
        rows = list(zip(*(parsed.columns[c] for c in parsed.column_names)))
        row_list = spark.createDataFrame(
            rows, schema_for_units(parsed.column_names, parsed.units)
        )

        def as_strings(df):
            return df.select([F.col(c).cast("string") for c in df.columns]).collect()

        assert table.df.collect() == row_list.collect()
        assert as_strings(table.df) == as_strings(row_list)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York", "Asia/Kolkata"])
def test_executor_readers_datetime_match_read_csv(spark, tmp_path, tz):
    """scan_csv and format("startable") read datetimes exactly as read_csv
    does, under any session time zone: the same collected values and the
    same string casts, a wall-clock time in New York's DST gap included."""
    from pdtable_spark.io.datasource import register

    register(spark)
    path = tmp_path / "events.csv"
    path.write_text(DATETIME_CSV)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        (table,) = [b for k, b in read_csv(str(path)) if k == BlockType.TABLE]
        scanned = scan_csv(spark, str(path), "events").df
        sourced = spark.read.format("startable").option("table", "events").load(str(path))

        def as_strings(df):
            return df.select([F.col(c).cast("string") for c in df.columns]).collect()

        expected = table.df.collect()
        assert scanned.collect() == expected
        assert sourced.collect() == expected
        assert as_strings(scanned) == as_strings(table.df)
        assert as_strings(sourced) == as_strings(table.df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_scan_csv_strict_fails_on_illegal_cell(spark, tmp_path):
    from pdtable_spark.io.csv import scan_csv
    from py4j.protocol import Py4JJavaError

    (tmp_path / "f1.csv").write_text("**m;\nall\na\n-\nbogus\n\n")
    with pytest.raises(Exception):
        scan_csv(spark, f"{tmp_path}/f1.csv", "m").df.collect()


def test_startable_datasource_format(spark, tmp_path):
    """spark.read.format('startable'): multi-file read, schema from units,
    per-file partitions, SQL USING integration."""
    from pdtable_spark.io.datasource import register

    csv = (
        "**measurements;;\nall;;\nsite;temp;when\ntext;degC;datetime\n"
        "A;{t};2024-01-0{d} 00:00:00\n\n**other;;\nall;;\nx;\ntext;\nv;\n"
    )
    for i in range(1, 4):
        (tmp_path / f"b{i}.csv").write_text(csv.format(t=20.0 + i, d=i))
    register(spark)
    df = (
        spark.read.format("startable")
        .option("table", "measurements")
        .load(str(tmp_path / "*.csv"))
    )
    assert [f.name for f in df.schema.fields] == ["site", "temp", "when"]
    rows = df.collect()
    assert len(rows) == 3
    assert sorted(r["temp"] for r in rows) == [21.0, 22.0, 23.0]
    assert df.rdd.getNumPartitions() == 3  # one partition per file
    # missing table option is a clear error
    import pytest as _pytest

    with _pytest.raises(Exception, match="option"):
        spark.read.format("startable").load(str(tmp_path / "*.csv")).collect()
    # and the format works from SQL
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW st_ds USING startable "
        f"OPTIONS (path '{tmp_path}/*.csv', table 'measurements')"
    )
    assert spark.sql("SELECT count(*) AS n FROM st_ds").collect()[0]["n"] == 3


def test_startable_streaming_source(spark, tmp_path):
    """Streaming 'startable': files landing in the directory arrive as
    micro-batches; a restarted query (same checkpoint) ingests ONLY files
    landed since — exactly-once across restarts (parquet sink; the memory
    sink does not support checkpoint recovery)."""
    from pdtable_spark.io.datasource import register

    register(spark)
    land = tmp_path / "land"
    land.mkdir()
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    csv = "**readings;;\nall;;\nsensor;val;\ntext;-;\n{s};{v};\n\n"
    (land / "a.csv").write_text(csv.format(s="s1", v=1.0))
    (land / "b.csv").write_text(csv.format(s="s2", v=2.0))

    def run_once():
        stream = (
            spark.readStream.format("startable")
            .option("table", "readings")
            .load(str(land))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        return sorted((r["sensor"], r["val"]) for r in spark.read.parquet(out).collect())

    assert run_once() == [("s1", 1.0), ("s2", 2.0)]
    (land / "c.csv").write_text(csv.format(s="s3", v=3.0))
    assert run_once() == [("s1", 1.0), ("s2", 2.0), ("s3", 3.0)]


def test_startable_datasource_filter_pushdown(spark, tmp_path):
    """With spark.sql.python.filterPushdown.enabled, pushed comparison
    filters drop rows inside the parser task; with it off (default) the
    format still works (the pushdown reader class is conf-gated because
    Spark rejects readers defining pushFilters under a disabled conf)."""
    from pdtable_spark.io.datasource import StarTableReader, register

    rows = "\n".join(f"s{i};{float(i)};" for i in range(10))
    (tmp_path / "f.csv").write_text(
        f"**m;;\nall;;\nsensor;val;\ntext;-;\n{rows}\n\n"
    )
    register(spark)
    df = (
        spark.read.format("startable")
        .option("table", "m")
        .load(str(tmp_path / "f.csv"))
    )
    assert df.count() == 10  # conf off: plain reader path
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        out = (
            spark.read.format("startable")
            .option("table", "m")
            .load(str(tmp_path / "f.csv"))
            .filter((F.col("val") >= 3.0) & (F.col("val") < 7.0))
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    assert sorted(r["val"] for r in out) == [3.0, 4.0, 5.0, 6.0]
    # reader-level semantics, standalone
    import pyarrow as pa
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan
    from pdtable_spark.io.datasource import StarTablePushdownReader

    r = StarTablePushdownReader([str(tmp_path / "f.csv")], df.schema, "m", ";", False)
    rest = list(r.pushFilters([GreaterThanOrEqual(("val",), 3.0), LessThan(("val",), 7.0)]))
    # every filter is yielded back so Spark re-applies it post-scan — the
    # reader's Python-side evaluation is an optimization, not the authority
    assert len(rest) == 2
    batches = list(r.read(r.partitions()[0]))
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert sorted(v for b in batches for v in b.column("val").to_pylist()) == [3.0, 4.0, 5.0, 6.0]


def test_startable_datasource_column_reorder(spark, tmp_path):
    """Files listing the same table's columns in DIFFERENT orders must bind
    values to schema fields by NAME (schema is probed from the first file)."""
    from pdtable_spark.io.datasource import register

    register(spark)
    (tmp_path / "a.csv").write_text(
        "**m;;\nall;;\nsite;temp;\ntext;degC;\nA;21.0;\n\n"
    )
    (tmp_path / "b.csv").write_text(  # reversed column order, same table
        "**m;;\nall;;\ntemp;site;\ndegC;text;\n22.0;B;\n\n"
    )
    df = (
        spark.read.format("startable")
        .option("table", "m")
        .load(str(tmp_path / "*.csv"))
    )
    got = sorted((r["site"], r["temp"]) for r in df.collect())
    assert got == [("A", 21.0), ("B", 22.0)]


def test_startable_pushdown_filters_inside_the_scan(spark, tmp_path):
    """With filterPushdown on, the pushed filters reach the reader: the
    scan itself emits only the matching rows (with it off, all of them)."""
    from pdtable_spark.io.datasource import register

    register(spark)
    rows = "\n".join(f"s{i};{float(i)};" for i in range(10))
    (tmp_path / "f.csv").write_text(f"**m;;\nall;;\nsensor;val;\ntext;-;\n{rows}\n\n")

    def scan_rows(pushdown):
        spark.conf.set("spark.sql.python.filterPushdown.enabled", pushdown)
        try:
            df = (
                spark.read.format("startable").option("table", "m")
                .load(str(tmp_path / "f.csv")).filter(F.col("val") >= 6.0)
            )
            assert len(df.collect()) == 4
            nodes = [df._jdf.queryExecution().executedPlan()]
            while nodes:
                node = nodes.pop()
                if node.nodeName().startswith("BatchScan"):
                    return node.metrics().get("numOutputRows").get().value()
                it = node.children().iterator()
                while it.hasNext():
                    nodes.append(it.next())
        finally:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")

    assert scan_rows("false") == 10
    assert scan_rows("true") == 4


def test_uri_paths_bind_columns_by_name(spark, tmp_path):
    """scan_csv and format("startable") read a file:// glob and a file://
    directory, binding columns by name across files that list them in
    different orders."""
    from pdtable_spark.io.datasource import register

    register(spark)
    (tmp_path / "a.csv").write_text("**m;;\nall;;\nsite;temp;\ntext;degC;\nA;21.0;\n\n")
    (tmp_path / "b.csv").write_text("**m;;\nall;;\ntemp;site;\ndegC;text;\n22.0;B;\n\n")
    for spec in (f"file://{tmp_path}/*.csv", f"file://{tmp_path}"):
        scanned = scan_csv(spark, spec, "m").df
        sourced = spark.read.format("startable").option("table", "m").load(spec)
        for df in (scanned, sourced):
            got = sorted((r["site"], r["temp"]) for r in df.collect())
            assert got == [("A", 21.0), ("B", 22.0)], spec


def test_readers_skip_in_flight_copies(spark, tmp_path):
    """A directory or a glob lists with Spark's hiding rule: an in-flight
    ``*._COPYING_`` copy is read by neither scan_csv nor
    format("startable")."""
    from pdtable_spark.io.datasource import register

    register(spark)
    (tmp_path / "part-0.csv").write_text("**m;;\nall;;\nsite;temp;\ntext;degC;\nA;21.0;\n\n")
    (tmp_path / "part-9.csv._COPYING_").write_text(
        "**m;;\nall;;\nsite;temp;\ntext;degC;\nZ;99.0;\n\n"
    )
    for spec in (str(tmp_path), f"{tmp_path}/*"):
        scanned = scan_csv(spark, spec, "m").df
        sourced = spark.read.format("startable").option("table", "m").load(spec)
        for df in (scanned, sourced):
            assert [r["site"] for r in df.collect()] == ["A"], spec


def test_startable_datasource_reads_write_csv_distributed_dir(spark, tmp_path):
    """format("startable") lists a write_csv_distributed output directory
    as scan_csv does: part files only, no _SUCCESS marker or .crc files."""
    from pdtable_spark.io.csv import write_csv_distributed
    from pdtable_spark.io.datasource import register

    register(spark)
    src = TableBundle(read_csv(io.StringIO(CSV)))["places"]
    out = str(tmp_path / "places_csv")
    write_csv_distributed(src, out)
    sourced = spark.read.format("startable").option("table", "places").load(out)
    scanned = scan_csv(spark, out, "places").df
    assert sorted(map(tuple, sourced.collect())) == sorted(map(tuple, scanned.collect()))
    assert sourced.count() == 3


def test_startable_datasource_missing_column(spark, tmp_path):
    """A later file missing a probed-schema column: strict mode errors with
    the file and column named; permissive mode None-fills."""
    from pdtable_spark.io.datasource import register

    register(spark)
    (tmp_path / "a.csv").write_text(
        "**m;;\nall;;\nsite;temp;\ntext;degC;\nA;21.0;\n\n"
    )
    (tmp_path / "b.csv").write_text(  # no 'temp' column at all
        "**m;;\nall;;\nsite;\ntext;\nB;\n\n"
    )
    strict = (
        spark.read.format("startable")
        .option("table", "m")
        .load(str(tmp_path / "*.csv"))
    )
    with pytest.raises(Exception, match="temp"):
        strict.collect()
    loose = (
        spark.read.format("startable")
        .option("table", "m")
        .option("permissive", "true")
        .load(str(tmp_path / "*.csv"))
    )
    got = sorted(((r["site"], r["temp"]) for r in loose.collect()),
                 key=lambda t: t[0])
    assert got == [("A", 21.0), ("B", None)]


def test_startable_streaming_column_reorder(spark, tmp_path):
    """The streaming source aligns each landed file's columns to the probed
    schema too — a reordered bundle arriving later must not corrupt rows."""
    from pdtable_spark.io.datasource import register

    register(spark)
    land = tmp_path / "land"
    land.mkdir()
    (land / "a.csv").write_text(
        "**r;;\nall;;\nsensor;val;\ntext;-;\ns1;1.0;\n\n"
    )
    (land / "b.csv").write_text(  # reversed column order
        "**r;;\nall;;\nval;sensor;\n-;text;\n2.0;s2;\n\n"
    )
    stream = (
        spark.readStream.format("startable")
        .option("table", "r")
        .load(str(land))
    )
    out = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    got = sorted((r["sensor"], r["val"]) for r in spark.read.parquet(out).collect())
    assert got == [("s1", 1.0), ("s2", 2.0)]


def test_startable_pushdown_null_and_datetime_safe(spark, tmp_path):
    """Pushdown must not change results for NULL values or timestamp
    literals — and Spark re-applies every filter, so any Python-vs-SQL
    comparison divergence can only lose an optimization, never rows."""
    from pdtable_spark.io.datasource import register

    register(spark)
    (tmp_path / "f.csv").write_text(
        "**m;;\nall;;\nsite;val;when\ntext;-;datetime\n"
        "A;1.0;2024-01-01 00:00:00\n"
        "B;-;2024-01-02 00:00:00\n"
        "C;3.0;2024-01-03 00:00:00\n\n"
    )

    def read():
        return (
            spark.read.format("startable")
            .option("table", "m")
            .load(str(tmp_path / "f.csv"))
        )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got_val = read().filter(F.col("val") > 0.0).collect()
        got_ts = read().filter(
            F.col("when") >= F.lit("2024-01-02").cast("timestamp")
        ).collect()
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
    # NULL > 0.0 is NULL → dropped, identically in the reader and in SQL
    assert sorted(r["site"] for r in got_val) == ["A", "C"]
    assert sorted(r["site"] for r in got_ts) == ["B", "C"]


def test_startable_pushdown_defers_nan_and_type_mismatch():
    """Per-batch mask semantics: a NaN value or an incomparable filter
    literal keeps the row (Spark's re-applied filter decides); NULLs drop."""
    import datetime

    import pyarrow as pa
    from pyspark.sql.datasource import GreaterThan
    from pdtable_spark.io.datasource import _pushed_mask

    vals = pa.record_batch({"val": pa.array([math.nan, 1.0, -1.0, None])})
    assert _pushed_mask(vals, [GreaterThan(("val",), 0.0)]).to_pylist() == [
        True,  # NaN → defer to Spark
        True,
        False,
        False,  # NULL comparison: never true
    ]
    # incomparable types (a timestamp column against a float literal, or
    # against a naive datetime): defer to Spark
    when = pa.record_batch(
        {"when": pa.array([1_704_067_200_000_000], pa.timestamp("us", tz="UTC"))}
    )
    assert _pushed_mask(when, [GreaterThan(("when",), 0.0)]).to_pylist() == [True]
    naive = GreaterThan(("when",), datetime.datetime(2030, 1, 1))
    assert _pushed_mask(when, [naive]).to_pylist() == [True]
    aware = GreaterThan(("when",), datetime.datetime(2030, 1, 1, tzinfo=datetime.timezone.utc))
    assert _pushed_mask(when, [aware]).to_pylist() == [False]


def test_startable_pushdown_nan_literal_not_consumed():
    """A filter whose LITERAL is NaN must not be evaluated reader-side:
    Arrow would drop rows SQL keeps (SQL: val < NaN is true for all
    non-NaN)."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.datasource import GreaterThan, In, LessThan
    from pdtable_spark.io.datasource import StarTablePushdownReader, _pushed_mask

    schema = T.StructType([T.StructField("val", T.DoubleType())])
    r = StarTablePushdownReader([], schema, "m", ";", False)
    back = list(r.pushFilters([
        LessThan(("val",), math.nan),
        In(("val",), (1.0, math.nan)),
        GreaterThan(("val",), 0.0),
    ]))
    assert len(back) == 3  # every filter yielded back for Spark
    assert r._pushed == [back[2]]  # only the NaN-free filter is consumed
    # the consumed one still works
    batch = pa.record_batch({"val": pa.array([-5.0, 5.0])})
    assert _pushed_mask(batch, r._pushed).to_pylist() == [False, True]


def test_orc_round_trip_with_units(spark, tmp_path):
    """Table → ORC directory (+ sidecar) → Table: data, name, destinations
    and units all survive (ORC drops field metadata, so units ride the
    sidecar only)."""
    from pdtable_spark.io.orc import read_orc, write_orc
    from pdtable_spark.table import Table

    df = spark.createDataFrame(
        [(1.0, "a", 10.5), (2.0, "b", 11.0)], ["idx", "label", "mass"]
    )
    t = Table(df, name="cargo", destinations={"all"},
              unit_map={"idx": "-", "label": "text", "mass": "kg"})
    path = str(tmp_path / "cargo_orc")
    write_orc(t, path)
    back = read_orc(spark, path)
    assert back.name == "cargo" and back.destinations == {"all"}
    assert back.column_metadata["mass"].unit == "kg"
    assert sorted(map(tuple, back.df.collect())) == sorted(map(tuple, df.collect()))


def test_orc_partitioned_write_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from pdtable_spark.io.orc import write_orc
    from pdtable_spark.table import Table

    df = spark.createDataFrame(
        [(i, "even" if i % 2 == 0 else "odd", float(i)) for i in range(20)],
        ["k", "par", "v"],
    )
    t = Table(df, name="parts", unit_map={"k": "-", "par": "text", "v": "-"})
    path = str(tmp_path / "parts_orc")
    write_orc(t, path, partition_by=["par"])
    import os
    assert sorted(d for d in os.listdir(path) if d.startswith("par=")) == [
        "par=even", "par=odd"
    ]
    got = spark.read.orc(path).filter(F.col("par") == "even")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert got.count() == 10
    assert "par=even" in plan or "PartitionFilters" in plan


def test_startable_datasource_write_round_trip(spark, tmp_path):
    """df.write.format('startable'): partitioned shards with full block
    headers, staged-then-promoted commit (_SUCCESS, no staging residue),
    units from field metadata, and byte-level round-trip through BOTH
    readers (scan_csv and the data source)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from pdtable_spark.frame import attach_units
    from pdtable_spark.io.csv import scan_csv
    from pdtable_spark.io.datasource import register

    register(spark)
    out = str(tmp_path / "cargo")
    df = spark.range(60).select(
        F.col("id").cast("double").alias("idx"),
        (F.col("id") * 1.5).alias("mass"),
        F.concat(F.lit("r"), F.col("id")).alias("label"),
    ).repartition(3)
    df = attach_units(df, unit_map={"idx": "-", "mass": "kg", "label": "text"})
    df.write.format("startable").option("table", "cargo").mode("overwrite").save(out)

    names = sorted(os.listdir(out))
    assert "_SUCCESS" in names
    assert not any(n.startswith("_staging") for n in names)
    parts = [n for n in names if n.startswith("part-") and n.endswith(".csv")]
    assert len(parts) == 3
    # every shard is a self-contained StarTable block
    head = open(os.path.join(out, parts[0])).read().splitlines()
    assert head[0].startswith("**cargo") and head[2].split(";")[0] == "idx"
    assert head[3].split(";") == ["-", "kg", "text"]

    back = scan_csv(spark, out + "/part-*.csv", "cargo")
    assert back.df.count() == 60
    assert back.column_metadata["mass"].unit == "kg"
    ds = spark.read.format("startable").option("table", "cargo").load(out + "/part-*.csv")
    assert ds.count() == 60
    got = {r["idx"]: (r["mass"], r["label"]) for r in ds.collect()}
    assert got[7.0] == (10.5, "r7")

    # overwrite replaces previous shards completely
    df.limit(5).write.format("startable").option("table", "cargo").mode(
        "overwrite"
    ).save(out)
    assert (
        spark.read.format("startable").option("table", "cargo")
        .load(out + "/part-*.csv").count() == 5
    )


def test_startable_datasource_write_units_option(spark, tmp_path):
    """Explicit option('units', ...) overrides metadata/dtype inference and
    must match the column count."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from pdtable_spark.io.datasource import register

    register(spark)
    df = spark.range(4).select(F.col("id").cast("double").alias("x"))
    out = str(tmp_path / "u")
    df.write.format("startable").option("table", "t").option("units", "m").mode(
        "overwrite"
    ).save(out)
    import glob
    shard = glob.glob(out + "/part-*.csv")[0]
    assert open(shard).read().splitlines()[3] == "m"
    with _pytest.raises(Exception, match="units"):
        df.write.format("startable").option("table", "t").option(
            "units", "m;kg"
        ).mode("overwrite").save(str(tmp_path / "u2"))


def test_startable_datasource_stream_write(spark, tmp_path):
    """writeStream.format('startable'): micro-batches land as
    batch_id=N/ shard directories of self-contained StarTable CSVs, and
    the tree round-trips through scan_csv."""
    import glob
    import os

    from pyspark.sql import functions as F

    from pdtable_spark.frame import attach_units
    from pdtable_spark.io.csv import scan_csv
    from pdtable_spark.io.datasource import register

    register(spark)
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.json").write_text(
        "\n".join('{"idx": %d.0, "label": "r%d"}' % (i, i) for i in range(8))
    )
    out = str(tmp_path / "land")
    stream = (
        spark.readStream.schema("idx double, label string").json(str(src))
    )
    q = (
        stream.writeStream.format("startable")
        .option("table", "ticks")
        .option("units", "-;text")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    batches = sorted(d for d in os.listdir(out) if d.startswith("batch_id="))
    assert batches
    shard = glob.glob(out + "/batch_id=*/part-*.csv")[0]
    head = open(shard).read().splitlines()
    assert head[0].startswith("**ticks") and head[3] == "-;text"
    back = scan_csv(spark, out + "/batch_id=*/part-*.csv", "ticks")
    assert back.df.count() == 8
    assert {r["label"] for r in back.df.collect()} == {"r%d" % i for i in range(8)}


def test_stream_staging_sweep_honors_per_file_horizon(tmp_path):
    """Cross-query staging safety: each stream writer stamps its OWN
    staleStagingSeconds horizon into its shard filenames, and every sweep
    honors the per-file value — so raising the horizon on a slow catch-up
    query protects its staged shards from a concurrent default-horizon
    query's sweep (the per-sweeper horizon alone silently lost them)."""
    import os
    import time

    from pdtable_spark.io.datasource import StarTableStreamWriter

    staging = tmp_path / "_stream-staging"
    staging.mkdir()
    two_h_ago = time.time() - 7200
    slow = staging / "part-00001-h86400-aaaa.csv"  # 24h-horizon writer
    fast = staging / "part-00002-h3600-bbbb.csv"   # default-horizon writer
    untagged = staging / "part-00003-cccc.csv"     # no tag → sweeper's own
    for p in (slow, fast, untagged):
        p.write_text("x")
        os.utime(p, (two_h_ago, two_h_ago))
    sweeper = StarTableStreamWriter(
        str(tmp_path), str(staging), "t", ";", [], [], []
    )
    sweeper._cleanup_staging()
    assert slow.exists()           # its own 24h horizon has not elapsed
    assert not fast.exists()       # past its own 1h horizon
    assert not untagged.exists()   # falls back to the sweeper's horizon


def test_stream_staging_shard_names_carry_horizon(tmp_path):
    """The task-side writer embeds the horizon tag the sweep contract
    depends on (and a custom staleStagingSeconds changes the tag)."""
    import re

    from pdtable_spark.io.datasource import StarTableStreamWriter

    staging = str(tmp_path / "_stream-staging")
    w = StarTableStreamWriter(str(tmp_path), staging, "t", ";", ["a"], ["-"], ["all"])
    w._STALE_STAGING_SECONDS = 7200.0
    msg = w.write(iter([(1.0,)]))
    assert re.fullmatch(r"part-\d{5}-h7200-[0-9a-f]{32}\.csv", msg.file), msg.file


def test_startable_stream_read_rejects_metadata_schema(spark, tmp_path):
    """A user schema carrying field metadata (the attach_units idiom) must
    fail at planning time with the real cause — Spark 4.1's Python
    streaming runner otherwise dies mid-batch with an opaque
    INTERNAL_ERROR arrow assertion (verified); the probed-schema path
    strips metadata for the same reason."""
    from pyspark.sql import types as T

    from pdtable_spark.io.datasource import register

    register(spark)
    land = tmp_path / "land"
    land.mkdir()
    (land / "a.csv").write_text("**r;;\nall;;\nsensor;val;\ntext;-;\ns1;1.0;\n\n")
    meta_schema = T.StructType(
        [
            T.StructField("sensor", T.StringType(), True, {"unit": "text"}),
            T.StructField("val", T.DoubleType(), True, {"unit": "-"}),
        ]
    )
    stream = (
        spark.readStream.format("startable")
        .option("table", "r")
        .schema(meta_schema)
        .load(str(land))
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="metadata"):
        q.awaitTermination(120)

"""Workload definitions: the operations one pass runs, how each is checked.

An operation is self-contained (it prepares its own output directory), so
the seeded shuffle of the pass order never breaks a dependency.  Every
operation collects its full output with a per-row hash over every column
and returns an order-insensitive *digest*: ``(rows, sum of the hashes)``.
The reference digest is taken in the verification pass, after the output
was compared value for value with an independent oracle (DuckDB for the
registered queries, the generator's own values for StarTable data); each
timed execution must reproduce it.
"""

from __future__ import annotations

import datetime as _dt
import glob
import math
import os
import shutil
from dataclasses import dataclass
from typing import Callable, Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen

SMALL_ROWS = 50  # rows of the table the known-defect probe writes
_PRIME = 2147483647  # 2^31 - 1: keeps the digest sum inside a long under ANSI


def _hash_col(df):
    """Per-row hash over every column, reduced modulo a prime.  Doubles are
    rounded to 6 decimals first, so a last-bit difference in a
    floating-point aggregate does not read as a mismatch."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c.cast("double"), 6)
        cols.append(c)
    return F.pmod(F.xxhash64(*cols), F.lit(_PRIME)) if cols else F.lit(0)


def with_hash(df):
    """``df`` plus its per-row hash as the last column."""
    from pyspark.sql import functions as F

    return df.select(F.col("*"), _hash_col(df).alias("__perfbench_h"))


def digest_rows(rows):
    """Order-insensitive digest of rows collected from :func:`with_hash`."""
    return (len(rows), sum(int(r[-1]) for r in rows))


def collect_with_digest(df):
    """Collect ``df`` once; return its rows and their digest."""
    got = with_hash(df).collect()
    return [tuple(r)[:-1] for r in got], digest_rows(got)


@dataclass
class Op:
    name: str
    #: run(ctx) -> digest (a hashable value); does the operation end to end
    run: Callable
    #: verify(ctx) -> (problems, digest): checks the output against an
    #: independent oracle and returns the reference digest
    verify: Callable


@dataclass
class Workload:
    name: str
    sf: float
    docs_sf: float
    ops: List[Op]
    #: expected seconds per pass: a run makes max(3, round(seconds /
    #: nominal_pass_s)) passes, a count fixed by the command line alone, so
    #: every run of a workload has the same number of samples
    nominal_pass_s: float
    #: whether the workload reads and writes the StarTable corpus
    corpus: bool = False


# -- registered queries ---------------------------------------------------------

_TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _compare_with_oracle(cols, rows, con, sql) -> List[str]:
    """The value check of ``scripts/check_oracles.py``: row count, column
    names, then order-insensitive values."""
    from scripts.check_oracles import key_rows

    res = con.execute(sql)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    if len(rows) != len(d_rows):
        return [f"rowcount spark={len(rows)} duckdb={len(d_rows)}"]
    if sorted(cols) != sorted(d_cols):
        return [f"columns spark={sorted(cols)} duckdb={sorted(d_cols)}"]
    ks, kd = key_rows(cols, rows), key_rows(d_cols, d_rows)
    if ks != kd:
        bad = [(a, b) for a, b in zip(ks, kd) if a != b]
        return [f"values differ ({len(bad)}/{len(ks)} rows), first: spark={bad[0][0]} duckdb={bad[0][1]}"]
    return []


def query_op(name: str) -> Op:
    def run(ctx):
        from pdtable_spark.queries.suite import QUERIES

        with ctx.build_span():
            df = QUERIES[name](ctx.spark, ctx.sf_dir)
        return ctx.consume(df)

    def verify(ctx):
        from pdtable_spark.queries.suite import ORACLES, QUERIES

        df = QUERIES[name](ctx.spark, ctx.sf_dir)
        rows, digest = collect_with_digest(df)
        problems = _compare_with_oracle(df.columns, rows, ctx.duck, ORACLES[name])
        if not rows:
            problems.append("empty result: the workload must exercise the query")
        return problems, digest

    return Op(name, run, verify)


# -- StarTable round trip -------------------------------------------------------


def _lenient_fixer():
    """A ParseFixer that fixes illegal cells instead of stopping."""
    from pdtable_spark.parsers.fixer import ParseFixer

    fixer = ParseFixer()
    fixer.stop_on_errors = False
    return fixer


def _source_table(ctx, limit=None):
    """The generator's rows, read from parquet, as a Spark-backed Table
    with the corpus units."""
    from pdtable_spark.frame import attach_units
    from pdtable_spark.model.metadata import TableMetadata
    from pdtable_spark.table import Table

    df = ctx.spark.read.parquet(ctx.corpus["rows_parquet"])
    if limit is not None:
        df = df.limit(limit)
    df = attach_units(df, unit_map=dict(datagen.TARGET_COLUMNS))
    return Table(df, metadata=TableMetadata(name=datagen.TARGET))


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None)
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
    return a == b


def _check_rows(got, expected, what: str) -> List[str]:
    """Rows equal as multisets, ordered by their first column (an id);
    floats equal to 1e-12 relative, as unit conversion rounds."""
    g = sorted((tuple(_norm(x) for x in r) for r in got), key=lambda r: (r[0], repr(r)))
    e = sorted((tuple(_norm(x) for x in r) for r in expected), key=lambda r: (r[0], repr(r)))
    if len(g) != len(e):
        return [f"{what}: {len(g)} rows, generator wrote {len(e)}"]
    differ = [(a, b) for a, b in zip(g, e) if not all(_same(x, y) for x, y in zip(a, b))]
    bad = len(differ)
    if bad:
        first = differ[0]
        return [f"{what}: {bad}/{len(e)} rows differ, first: got={first[0]} wrote={first[1]}"]
    return []


def _union_tables(tables):
    df = None
    for t in tables:
        df = t.df if df is None else df.unionByName(t.df)
    return df


def _target_only(block_type, name):
    from pdtable_spark.parsers.blocks import BlockType

    return block_type == BlockType.TABLE and name == datagen.TARGET


def _table_blocks(blocks):
    from pdtable_spark.parsers.blocks import BlockType

    return [b for bt, b in blocks if bt == BlockType.TABLE and b.name == datagen.TARGET]


def _load_chain(ctx):
    from pdtable_spark.io import load as io_load

    return _union_tables(_table_blocks(io_load.load_files([ctx.corpus["chain_root"]])))


def _read_csv_filtered(ctx):
    from pdtable_spark.io import csv as io_csv

    tables = []
    for path in ctx.corpus["read_files"]:
        tables += _table_blocks(io_csv.read_csv(path, fixer=_lenient_fixer(), filter=_target_only))
    return _union_tables(tables)


def _scan_and_convert(ctx):
    from pdtable_spark.io import csv as io_csv
    from pdtable_spark.units import simple_converter

    ctx.state["scan_acc"] = acc = ctx.spark.sparkContext.accumulator(0)
    t = io_csv.scan_csv(
        ctx.spark, ctx.corpus["bundles"] + "/*.csv", datagen.TARGET,
        permissive=True, fix_counter=acc,
    )
    return t.convert_units({"depth": "m"}, converter=simple_converter).df


def _datasource_read(ctx):
    from pyspark.sql import functions as F

    return (
        ctx.spark.read.format("startable")
        .option("table", datagen.TARGET)
        .option("permissive", "true")
        .load(ctx.corpus["bundles"] + "/*.csv")
        .filter(F.col("reading") >= 100.0)
    )


def _out(ctx, name):
    d = os.path.join(ctx.out_dir, name)
    shutil.rmtree(d, ignore_errors=True)
    return d


def _part_lines(out_dir: str) -> List[str]:
    """Data lines of a write_csv_distributed directory, read by the
    benchmark itself: each part file is a 4-line block header, the rows,
    then a blank line."""
    lines = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        if path.endswith(".crc"):
            continue
        with open(path) as f:
            body = f.read().split("\n")
        lines += [ln for ln in body[4:] if ln]
    return lines


def _parse_written(line: str) -> tuple:
    """One data line of a written ``samples`` block, parsed by the
    benchmark itself: ``-`` is missing, ``onoff`` is 1/0."""
    sample_id, site, active, taken, depth, reading = line.split(datagen.SEP)

    def num(cell):
        return None if cell == "-" else float(cell)

    return (float(sample_id), site, {"1": True, "0": False}[active],
            _dt.datetime.fromisoformat(taken), num(depth), num(reading))


def _csv_write(ctx):
    from pdtable_spark.io import csv as io_csv

    out = _out(ctx, "csv_dist")
    io_csv.write_csv_distributed(ctx.state["source"], out)
    return out


def _converted(rows):
    """Generator rows as convert_units({'depth': 'm'}) must produce them."""
    return [(r[0], r[1], r[2], r[3], r[4] / 1000.0, r[5]) for r in rows]


def startable_ops() -> List[Op]:
    """One operation per StarTable entry point; ``span`` names the layer
    call, and the span covers consuming its output too, since the Spark
    entry points are lazy."""

    def op(name, span, make, expected_of, after_verify=None):
        def run(ctx):
            with ctx.span(span):
                return ctx.consume(make(ctx))

        def verify(ctx):
            rows, digest = collect_with_digest(make(ctx))
            if after_verify is not None:
                after_verify(ctx)
            return _check_rows(rows, expected_of(ctx), name), digest

        return Op(name, run, verify)

    def record_fixes(ctx):
        ctx.state["scan_fixes"] = ctx.state["scan_acc"].value

    def csv_write_run(ctx):
        with ctx.span("io.csv.write_csv_distributed"):
            out = _csv_write(ctx)
        return _lines_digest(_part_lines(out))

    def csv_write_verify(ctx):
        lines = _part_lines(_csv_write(ctx))
        rows = [_parse_written(ln) for ln in lines]
        return _check_rows(rows, ctx.corpus["expected"], "st_write_csv_distributed"), _lines_digest(lines)

    return [
        Op("st_write_csv_distributed", csv_write_run, csv_write_verify),
        op("st_load_files", "io.load.load_files", _load_chain,
           lambda ctx: ctx.corpus["chain_expected"]),
        op("st_read_csv", "io.csv.read_csv", _read_csv_filtered,
           lambda ctx: ctx.corpus["read_expected"]),
        op("st_scan_convert", "io.csv.scan_csv", _scan_and_convert,
           lambda ctx: _converted(ctx.corpus["expected"]), after_verify=record_fixes),
        op("st_datasource_read", "io.datasource.read", _datasource_read,
           lambda ctx: [r for r in ctx.corpus["expected"] if r[5] is not None and r[5] >= 100.0]),
    ]


def _lines_digest(lines):
    import hashlib

    h = hashlib.sha256()
    for ln in sorted(lines):
        h.update(ln.encode())
        h.update(b"\n")
    return (len(lines), h.hexdigest())


def startable_state(ctx) -> None:
    """Program state the StarTable operations share: the registered data
    source and the Spark-backed source table the writes dump."""
    from pdtable_spark.io import datasource

    datasource.register(ctx.spark)
    ctx.state["source"] = _source_table(ctx)
    ctx.state["small"] = _source_table(ctx, limit=SMALL_ROWS)


def known_defects(ctx) -> List[str]:
    """Known program defects this workload reproduces, checked once per
    run outside the timed passes and reported on their own line.

    - The documented round trip ``write_csv_distributed`` then
      ``scan_csv(out_dir)`` raises LookupError: the directory expansion
      sorts the ``_SUCCESS`` marker ahead of the ``part-*`` files.
    - ``scan_csv(permissive=True, fix_counter=...)`` under-counts fixes
      when a file holds the target table more than once: the parser
      resets the fixer's counts per table, while the per-table delta
      assumes they accumulate.
    """
    from pdtable_spark.io import csv as io_csv

    found = []
    out = _out(ctx, "defect_probe")
    io_csv.write_csv_distributed(ctx.state["small"], out)
    try:
        n = io_csv.scan_csv(ctx.spark, out, datagen.TARGET).df.count()
        if n != SMALL_ROWS:
            found.append(f"scan_csv(write_csv_distributed dir) read {n} rows, wrote {SMALL_ROWS}")
    except LookupError as e:
        found.append(f"scan_csv(write_csv_distributed dir) raises LookupError: {e}")
    fixes = ctx.state.get("scan_fixes")
    if fixes is not None and fixes != ctx.corpus["n_illegal"]:
        found.append(f"scan_csv fix_counter counted {fixes} fixes, the corpus holds "
                     f"{ctx.corpus['n_illegal']} illegal cells")
    return found


def prepare_corpus(work: str, rng) -> dict:
    corpus = datagen.write_startable_corpus(os.path.join(work, "startable"), rng)
    # read_csv parses the first bundle, whose rows the generator wrote first
    corpus["read_files"] = sorted(glob.glob(os.path.join(corpus["bundles"], "*.csv")))[:1]
    corpus["read_expected"] = corpus["expected"][:datagen.ROWS_PER_FILE]
    cols = list(zip(*corpus["expected"]))
    names = [c for c, _ in datagen.TARGET_COLUMNS]
    types = [pa.float64(), pa.string(), pa.bool_(), pa.timestamp("us"), pa.float64(), pa.float64()]
    corpus["rows_parquet"] = os.path.join(work, "startable", "samples.parquet")
    pq.write_table(
        pa.table({n: pa.array(c, t) for n, c, t in zip(names, cols, types)}),
        corpus["rows_parquet"], row_group_size=len(cols[0]) // 4 + 1,
    )
    return corpus


# -- the workloads ----------------------------------------------------------------

#: Registered queries of the ``queries`` workload.  The relational ones
#: exercise execution (scan, shuffle, joins, windows); the curation ones
#: the driver, the planner and the Python boundary.  The first is the
#: set-up warm-up: the cheapest.
QUERIES = [
    "q_events_sessions",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "embedding_topk",
    "text_gopher_rules",
    "multimodal_features",
]


def workloads() -> Dict[str, Workload]:
    return {
        "queries": Workload(
            "queries", sf=0.02, docs_sf=0.05, ops=[query_op(q) for q in QUERIES],
            nominal_pass_s=4.0,
        ),
        "startable_roundtrip": Workload(
            "startable_roundtrip", sf=0.005, docs_sf=0.005,
            ops=startable_ops() + [query_op("lake_pruned_read")],
            nominal_pass_s=7.0,
            corpus=True,
        ),
    }


ALL_OP_NAMES = [op.name for wl in workloads().values() for op in wl.ops]


def layer_unit(metric: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if metric.endswith("_per_s"):
        return "1/s"
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_frac", "space_amp")):
        return "ratio"
    return "count"

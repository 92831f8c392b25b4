"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so one seed always yields byte-identical inputs.  The program
under test only ever sees the files written here.

- :func:`write_star_schema` writes the TPC-H-ish star schema plus the
  ``events`` / ``documents`` / ``embeddings`` tables the registered queries
  read, with the column names, types and value domains of the repo's
  fixtures (uniform keys, 30-word vocabulary, unit-norm 64-d embeddings).
- :func:`write_startable_corpus` writes StarTable CSV bundles: multi-block
  files with metadata blocks, directives, an include chain, mixed units and
  a seeded share of illegal cells, and returns the values it wrote so the
  benchmark can check what the program parses.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()

_EPOCH = _dt.datetime(1970, 1, 1)


def _days_us(start: _dt.date, days: np.ndarray) -> np.ndarray:
    base = int((_dt.datetime.combine(start, _dt.time()) - _EPOCH).total_seconds())
    return (base + days.astype(np.int64) * 86400) * 1_000_000


def _choice(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), size=n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def write_star_schema(out_dir: str, rng: np.random.Generator, sf: float, docs_sf: float) -> dict:
    """Write the ten parquet tables at scale ``sf`` (``docs_sf`` for the
    documents / embeddings tables); returns ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(500, int(1_000_000 * sf))
    n_user = max(20, int(15_000 * sf))
    n_doc = max(100, int(50_000 * docs_sf))
    n_vec = max(50, int(20_000 * docs_sf))
    rows = {}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us, ts_ns = pa.timestamp("us"), pa.timestamp("ns")

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(_choice(rng, SEGMENTS, n_cust), s),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    pk = np.arange(n_part)
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(
            _choice(rng, PART_ADJ, n_part) + " " + _choice(rng, PART_NOUN, n_part), s
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(_choice(rng, PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) * 0.1, 2), f64),
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(_choice(rng, ["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), f64),
        "o_orderdate": pa.array(_days_us(_dt.date(1995, 1, 1), rng.integers(0, 2404, n_ord)), ts_us),
        "o_orderpriority": pa.array(_choice(rng, PRIORITIES, n_ord), s),
    })
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(_choice(rng, ["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(_choice(rng, ["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days_us(_dt.date(1995, 1, 2), rng.integers(0, 2499, n_line)), ts_us),
    })
    # µs-precision instants stored as TIMESTAMP(NANOS), the physical type
    # the repo's events fixtures use
    start_us = int((_dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 1_000_000
    ts = np.sort(start_us + rng.integers(0, 30 * 86400 * 1_000_000, n_evt))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts * 1000, ts_ns),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": pa.array(_choice(rng, EVENT_TYPES, n_evt), s),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, n_evt), 560.0), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], s),
    })
    texts = []
    for length in rng.integers(10, 101, n_doc):
        texts.append(" ".join(np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), length)]))
    # ~5% near-duplicates ("<earlier doc> dup"), drawn from a small pool of
    # sources so a few of them are also exact duplicates of each other
    pool = rng.integers(0, max(1, n_doc // 2), max(1, n_doc // 200))
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(pool[rng.integers(0, len(pool))])] + " dup"
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(_choice(rng, LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    return rows


# -- StarTable corpus ----------------------------------------------------------

#: Target-table columns: (name, unit).  Mixed units: dimensionless, text,
#: onoff, datetime and a length in mm (converted to m by the workload).
TARGET = "samples"
TARGET_COLUMNS = [
    ("sample_id", "-"),
    ("site", "text"),
    ("active", "onoff"),
    ("taken", "datetime"),
    ("depth", "mm"),
    ("reading", "-"),
]
SITES = ["north", "south", "east", "west", "harbour", "ridge", "delta", "mesa"]
SEP = ";"
#: Share of the bundles' ``reading`` cells written as an illegal value.
ILLEGAL_FRAC = 0.002
#: Corpus size: bundle files, and target-table rows in each (two blocks).
N_FILES = 8
ROWS_PER_FILE = 1000


def _target_block(first_id: int, n: int, rng, illegal_frac: float):
    """One ``**samples`` block of ``n`` rows; returns (text, expected rows,
    number of illegal cells).  Expected rows hold the values a lenient
    parse must produce (illegal numeric cells parse to missing)."""
    ids = np.arange(first_id, first_id + n)
    sites = _choice(rng, SITES, n)
    active = rng.integers(0, 2, n)
    days = rng.integers(0, 3650, n)
    secs = rng.integers(0, 86400, n)
    depth = np.round(rng.uniform(0, 5000, n), 1)
    reading = np.round(rng.normal(100, 15, n), 3)
    missing = rng.random(n) < 0.02
    illegal = rng.random(n) < illegal_frac
    base = _dt.datetime(2010, 1, 1)
    lines = [f"**{TARGET}{SEP}", "all", SEP.join(c for c, _ in TARGET_COLUMNS),
             SEP.join(u for _, u in TARGET_COLUMNS)]
    expected = []
    for i in range(n):
        when = base + _dt.timedelta(days=int(days[i]), seconds=int(secs[i]))
        if illegal[i]:
            reading_cell, reading_val = "n/a?", None
        elif missing[i]:
            reading_cell, reading_val = "-", None
        else:
            reading_cell, reading_val = repr(float(reading[i])), float(reading[i])
        lines.append(SEP.join([
            str(int(ids[i])), sites[i], str(int(active[i])),
            when.strftime("%Y-%m-%d %H:%M:%S"), repr(float(depth[i])), reading_cell,
        ]))
        expected.append((float(ids[i]), sites[i], bool(active[i]), when,
                         float(depth[i]), reading_val))
    return "\n".join(lines) + "\n\n", expected, int(illegal.sum())


def _side_blocks(k: int, rng) -> str:
    """Metadata, a directive and two small side tables (one transposed)."""
    return (
        f"author:{SEP}bench\nbatch:{SEP}{k}\n\n"
        f"***note{SEP}\nbatch {k} of the sample corpus\n\n"
        f"**site_info{SEP}\nall\nsite{SEP}elevation{SEP}surveyed\ntext{SEP}m{SEP}onoff\n"
        + "".join(f"{s}{SEP}{rng.integers(0, 900)}{SEP}{rng.integers(0, 2)}\n" for s in SITES)
        + f"\n**calibration*{SEP}\nall\noffset{SEP}mm{SEP}{rng.integers(0, 50)}\n"
        f"gain{SEP}-{SEP}{round(float(rng.uniform(0.9, 1.1)), 4)}\n\n"
    )


def write_startable_corpus(out_dir: str, rng: np.random.Generator) -> dict:
    """Write ``N_FILES`` bundle files plus an include chain; returns the
    expected target rows and counts the workload checks against."""
    bundles = os.path.join(out_dir, "bundles")
    chain = os.path.join(out_dir, "chain")
    os.makedirs(bundles, exist_ok=True)
    os.makedirs(os.path.join(chain, "sub"), exist_ok=True)
    expected, n_illegal, next_id = [], 0, 0
    for k in range(N_FILES):
        half = ROWS_PER_FILE // 2
        text_a, exp_a, bad_a = _target_block(next_id, half, rng, ILLEGAL_FRAC)
        text_b, exp_b, bad_b = _target_block(next_id + half, ROWS_PER_FILE - half, rng, ILLEGAL_FRAC)
        next_id += ROWS_PER_FILE
        with open(os.path.join(bundles, f"bundle_{k:03d}.csv"), "w") as f:
            f.write(text_a + _side_blocks(k, rng) + text_b)
        expected += exp_a + exp_b
        n_illegal += bad_a + bad_b
    # include chain: root -> two members -> one nested member, all legal
    chain_rows = []
    members = [("part_a.csv", "sub/part_c.csv"), ("part_b.csv", None), ("sub/part_c.csv", None)]
    for name, include in members:
        text, exp, _ = _target_block(next_id, ROWS_PER_FILE // 4, rng, 0.0)
        next_id += ROWS_PER_FILE // 4
        chain_rows += exp
        with open(os.path.join(chain, name), "w") as f:
            if include:
                f.write(f"***include;\n{include}\n\n")
            f.write(_side_blocks(len(chain_rows), rng) + text)
    with open(os.path.join(chain, "root.csv"), "w") as f:
        f.write("***include;\npart_a.csv\npart_b.csv\n\n" + _side_blocks(0, rng))
    return {
        "bundles": bundles,
        "chain_root": os.path.join(chain, "root.csv"),
        "expected": expected,
        "chain_expected": chain_rows,
        "n_illegal": n_illegal,
    }

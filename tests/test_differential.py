"""Differential parity tests: our parser vs the ACTUAL reference
implementation (/root/reference pdtable v1.0.1, pandas-backed), run on the
same CSV inputs — generated (hypothesis) and handcrafted corner cases.

This is the strongest parity statement available: not "matches what we read
the reference to mean" but "matches what the reference does".  Spark-free
(compares ParsedTable payloads against pandas frames).
"""

import io
import math
import sys

import pytest

if "/root/reference" not in sys.path:
    sys.path.insert(0, "/root/reference")
pdtable_ref = pytest.importorskip(
    "pdtable",
    reason="the reference implementation (pdtable v1.0.1) is not importable, "
    "so every reference-parity test in this module skips",
)

from hypothesis import given, settings

from pdtable_spark.io.csv import read_csv as our_read_csv
from pdtable_spark.parsers.blocks import BlockType

sys.path.insert(0, str(__import__("pathlib").Path(__file__).parent))
from test_property import render_csv, tables  # noqa: E402


def ref_parse(csv_text):
    blocks = list(pdtable_ref.read_csv(io.StringIO(csv_text)))
    return [b for k, b in blocks if str(k).endswith("TABLE")]


def our_parse(csv_text):
    blocks = list(our_read_csv(io.StringIO(csv_text), to="parsed"))
    return [b for k, b in blocks if k == BlockType.TABLE]


def same_value(ours, theirs) -> bool:
    if ours is None:
        # our missing marker is None; reference uses NaN (float) / NaT / nan
        if theirs is None:
            return True
        import pandas as pd

        try:
            return bool(pd.isna(theirs))
        except (TypeError, ValueError):
            return False
    if isinstance(ours, float) and isinstance(theirs, float):
        return ours == theirs or (math.isnan(ours) and math.isnan(theirs))
    if hasattr(theirs, "astype") and "datetime64" in str(getattr(theirs, "dtype", "")):
        import pandas as pd

        return pd.Timestamp(theirs).to_pydatetime() == ours
    if isinstance(ours, bool) or isinstance(theirs, (bool,)):
        return bool(ours) == bool(theirs)
    return str(ours) == str(theirs)


def assert_tables_match(csv_text):
    ref_tables = ref_parse(csv_text)
    our_tables = our_parse(csv_text)
    assert len(ref_tables) == len(our_tables)
    for rt, ot in zip(ref_tables, our_tables):
        assert rt.name == ot.name
        assert list(rt.column_names) == list(ot.column_names)
        assert list(rt.units) == list(ot.units)
        assert rt.metadata.transposed == getattr(ot, "transposed", False)
        for ci, col in enumerate(rt.column_names):
            ref_vals = list(rt.df[col].values)
            our_vals = list(ot.columns[col])
            assert len(ref_vals) == len(our_vals), col
            for rv, ov in zip(ref_vals, our_vals):
                assert same_value(ov, rv), (rt.name, col, ov, rv)


@settings(max_examples=50, deadline=None)
@given(tables())
def test_generated_tables_parse_identically(table):
    tname, cols = table
    assert_tables_match(render_csv(tname, cols))


CORNER_CASES = [
    # transposed table
    "**flip*;\nall\nx;-;1;2;3\nname;text;a;b;c\n\n",
    # empty table (no rows)
    "**empty;\nall\ncol_a;col_b\n-;text\n\n",
    # missing markers in float + datetime (onoff rejects them — parity
    # pinned in test_parsers.test_onoff_rejects_missing_markers)
    "**miss;\nall\nf;d\nkg;datetime\n-;-\nnan;nan\n1.5;2020-01-01 10:20:30\n\n",
    # '-' literal in text column stays a dash
    "**dash;\nall\nt\ntext\n-\n\n",
    # multiple destinations
    "**multi;\nfirst_dest second_dest\na\n-\n7\n\n",
    # datetime with date-only and NaT
    "**dates;\nall\nwhen\ndatetime\n2023-05-06\n-\n\n",
    # onoff variants
    "**flags;\nall\nf\nonoff\n0\n1\nTRUE\nfalse\n\n",
    # two tables in one stream + metadata block before
    "author:;me;\n\n**one;\nall\na\n-\n1\n\n**two;\nall\nb\ntext\nz\n\n",
    # trailing separators on rows (robustness, test_csv.py:349-379)
    "**trail;\nall\na;b;\n-;text;\n1;x;\n\n",
    # numbers in text column stay strings; ints in float column become float
    "**mixed;\nall\nn;s\n-;text\n42;42\n\n",
]


@pytest.mark.parametrize("csv_text", CORNER_CASES)
def test_corner_cases_parse_identically(csv_text):
    assert_tables_match(csv_text)


# ---------------------------------------------------------------------------
# The reference's OWN fixture corpus (read in place — never copied)
# ---------------------------------------------------------------------------

import glob
import os

REF_INPUT = "/root/reference/pdtable/test/io/input"

CORPUS = sorted(
    glob.glob(f"{REF_INPUT}/*.csv")
    + glob.glob(f"{REF_INPUT}/with_errors/*.csv")
    + glob.glob("/root/reference/pdtable/test/input/*.csv")
)


def _permissive_ref_fixer():
    f = pdtable_ref.ParseFixer()
    f.stop_on_errors = False
    return f


def _permissive_our_fixer():
    from pdtable_spark.parsers.fixer import ParseFixer

    f = ParseFixer()
    f.stop_on_errors = False
    return f


@pytest.mark.parametrize("path", CORPUS, ids=[os.path.basename(p) for p in CORPUS])
def test_reference_corpus_parses_identically(path):
    """Every CSV fixture the reference ships parses to the same tables,
    units, and values in both engines (permissive fixer: the with_errors/
    corpus exists to exercise fix-ups)."""
    text = open(path, encoding="utf-8-sig").read()
    ref_tables = [
        b
        for k, b in pdtable_ref.read_csv(io.StringIO(text), fixer=_permissive_ref_fixer())
        if str(k).endswith("TABLE")
    ]
    our_tables = [
        b
        for k, b in our_read_csv(io.StringIO(text), to="parsed", fixer=_permissive_our_fixer())
        if k == BlockType.TABLE
    ]
    assert len(ref_tables) == len(our_tables)
    for rt, ot in zip(ref_tables, our_tables):
        assert rt.name == ot.name
        assert list(rt.column_names) == list(ot.column_names)
        assert list(rt.units) == list(ot.units)
        for col in rt.column_names:
            ref_vals = list(rt.df[col].values)
            our_vals = list(ot.columns[col])
            assert len(ref_vals) == len(our_vals), (rt.name, col)
            for rv, ov in zip(ref_vals, our_vals):
                assert same_value(ov, rv), (rt.name, col, ov, rv)


def test_reference_golden_fat_jsondata():
    """The reference's own Factory Acceptance Test, run against OUR engine:
    every with_errors/*.csv parsed to jsondata (permissive fixer) must equal
    the golden objects the reference ships in all.json
    (test_json.py:125-165)."""
    import json

    with open(f"{REF_INPUT}/with_errors/all.json") as f:
        golden = json.load(f)

    count = 0
    for fn in sorted(os.listdir(f"{REF_INPUT}/with_errors")):
        path = os.path.join(f"{REF_INPUT}/with_errors", fn)
        if not os.path.isfile(path) or fn in ("auto_fixed.py", "__init__.py", "all.json", "all.csv"):
            continue
        text = open(path, encoding="utf-8-sig").read()
        tables = [
            b
            for k, b in our_read_csv(
                io.StringIO(text), to="jsondata", fixer=_permissive_our_fixer()
            )
            if k == BlockType.TABLE
        ]
        assert len(tables) == 1, fn
        got = json.loads(json.dumps(tables[0], default=str))
        assert got == golden[fn], fn
        count += 1
    assert count == len(golden)


def test_reference_include_corpus_load_parity():
    """Orchestrator-level differential: the reference's with_include fixture
    set loaded by BOTH load systems yields the same table names and row
    counts (include resolution, relative paths, folder scans)."""
    root = f"{REF_INPUT}/with_include"

    from pdtable.io.load import load_files as ref_load_files
    from pdtable import TableBundle as RefBundle
    from pdtable.table_origin import InputIssue

    from pdtable_spark.io.load import load_files as our_load_files
    from pdtable_spark.model.origin import CollectingInputIssueTracker

    class RefCollector:
        # the corpus deliberately includes bar_abs.csv twice; the reference
        # surfaces that as an issue (its tests use a tolerant tracker too)
        def __init__(self):
            self.issues = []

        def add_issue(self, issue):
            self.issues.append(issue)

        def add_error(self, issue, **kw):
            self.issues.append(issue)

        def add_warning(self, issue, **kw):
            self.issues.append(issue)

        @property
        def is_ok(self):
            return not self.issues

    ref_tracker = RefCollector()
    ref_bundle = RefBundle(
        ref_load_files(["/"], root_folder=root, csv_sep=";", issue_tracker=ref_tracker)
    )
    ref_names = sorted(t.name for t in ref_bundle)

    our_tracker = CollectingInputIssueTracker()
    our_tables = [
        b
        for k, b in our_load_files(["/"], root_folder=root, issue_tracker=our_tracker, to="parsed")
        if k == BlockType.TABLE
    ]
    our_names = sorted(t.name for t in our_tables)
    assert our_names == ref_names
    # both engines flag the duplicate inclusion, neither dies on it
    assert any("multiple times" in str(i) for i in ref_tracker.issues)
    assert any("multiple times" in str(i.issue) for i in our_tracker.issues)


def test_reference_bundle_write_csv_byte_identical(spark):
    """Writer parity: both engines emit byte-identical StarTable CSV for the
    reference's bundle.csv tables (block layout, destinations line, units,
    na_rep, value formatting)."""
    from pdtable import write_csv as ref_write

    import pdtable_spark as pt

    text = open(f"{REF_INPUT}/bundle.csv", encoding="utf-8-sig").read()
    ref_tables = ref_parse(text)
    out_ref = io.StringIO()
    for t in ref_tables:
        ref_write(t, out_ref)

    our_tables = [b for k, b in pt.read_csv(io.StringIO(text)) if k == BlockType.TABLE]
    out_our = io.StringIO()
    for t in our_tables:
        pt.write_csv(t, out_our)

    assert out_our.getvalue() == out_ref.getvalue()

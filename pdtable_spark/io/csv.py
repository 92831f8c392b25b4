"""Read/write StarTable data from/to CSV.

Parity with reference ``pdtable/io/csv.py``:
- ``read_csv``  (io/csv.py:21-117) — stream blocks from a file/stream; ``;``
  default separator; early block filter plumbed through.
- ``write_csv`` (io/csv.py:120-207) — ``**name`` header, destinations line,
  names, units, formatted rows, ``na_rep='-'``, transposed layout,
  ``ColumnFormat`` applied.

Scale paths beyond the reference (SURVEY §2.1 S1):
- ``scan_csv`` — ONE logical table spread over MANY StarTable CSV files,
  parsed inside executors (a StarTable file holds multiple tables per file,
  so stock ``spark.read.csv`` cannot tokenize it; per-FILE parallelism is the
  right grain because block structure spans lines).  The block filter means
  non-matching tables in each file cost one top-left-cell peek — the format's
  native predicate pushdown.
- ``write_csv`` with a DataFrame-sized table falls back to
  ``toLocalIterator`` (constant driver memory) rather than ``collect``.
"""

from __future__ import annotations

import os
from contextlib import nullcontext
from pathlib import Path
from typing import Callable, Iterable, Optional, TextIO, Union

from pdtable_spark.auxiliary import CSV_SEP
from pdtable_spark.io._represent import represent_col_elements, represent_row_elements
from pdtable_spark.model.origin import (
    FilesystemLocationFile,
    InputIssueTracker,
    LocationSheet,
    NullLocationFile,
)
from pdtable_spark.parsers.blocks import BlockIterator, BlockType, parse_blocks
from pdtable_spark.parsers.fixer import ParseFixer


def read_csv(
    source: Union[str, os.PathLike, TextIO],
    sep: Optional[str] = None,
    *,
    origin: Optional[str] = None,
    location_sheet: Optional[LocationSheet] = None,
    fixer: Optional[ParseFixer] = None,
    to: str = "pdtable",
    filter: Optional[Callable[[BlockType, str], bool]] = None,
    issue_tracker: Optional[InputIssueTracker] = None,
) -> BlockIterator:
    """Stream StarTable blocks from a CSV file or text stream.

    Driver-side entry point (bundle-scale inputs).  For one big logical table
    across many files use :func:`scan_csv` (distributed).  ``to`` selects the
    block payload type: 'pdtable' (Spark-backed Table), 'parsed' (pure-Python
    ParsedTable), 'jsondata', or 'cellgrid'.
    """
    source_is_stream = hasattr(source, "readline")
    if location_sheet is None:
        if not source_is_stream:
            location_sheet = FilesystemLocationFile(
                local_path=Path(source), load_specification=origin
            ).make_location_sheet()
        elif origin is not None:
            location_sheet = NullLocationFile(str(origin)).make_location_sheet()
    if sep is None:
        sep = CSV_SEP

    with nullcontext(source) if source_is_stream else open(source) as f:
        cell_rows = (line.rstrip("\n").split(sep) for line in f)
        yield from parse_blocks(
            cell_rows,
            location_sheet=location_sheet,
            fixer=fixer,
            to=to,
            filter=filter,
            issue_tracker=issue_tracker,
        )


# ---------------------------------------------------------------------------
# Distributed scan: one logical table over many StarTable files
# ---------------------------------------------------------------------------


def scan_csv(
    spark,
    paths: Union[str, Iterable[str]],
    table_name: str,
    sep: Optional[str] = None,
    min_partitions: Optional[int] = None,
    permissive: bool = False,
    fix_counter=None,
    max_file_bytes: int = 512 * 2 ** 20,
    batch_rows: int = 1 << 16,
):
    """Parse ``table_name`` out of every StarTable CSV under ``paths`` into a
    single Spark-backed ``Table`` — the 100 TB path for S1.

    Design: per-file parallelism (block structure spans lines, so a file must
    be tokenized whole); the early block filter skips non-matching tables at
    one-cell cost; the schema (column names + units) is taken from the first
    file on the driver, then executors emit plain row tuples — no pandas, no
    Table objects cross the wire.

    Memory bounds: lines stream from disk (no whole-file string) and output
    flows in ``batch_rows`` Arrow batches, so peak executor memory is
    O(target-table rows in one file).  A file above ``max_file_bytes``
    (default 512 MiB) fails fast with guidance instead of risking an
    executor OOM — StarTable CSVs are bundle-grain by design; split outsized
    exports or raise the bound explicitly alongside executor memory.

    Error accounting at scale (SURVEY §7 watch-list): with
    ``permissive=True`` illegal cells are fixed to type defaults inside
    executors (≈ Spark CSV PERMISSIVE mode) and the number of fixes is
    tallied into ``fix_counter`` — a ``spark.sparkContext.accumulator(0)``
    supplied by the caller (per-table *ordering* of fix messages is
    deliberately not reconstructed across executors; inspect single files
    driver-side with ``read_csv`` + a collecting fixer when provenance
    matters).  Default (strict) mode fails the task on the first illegal
    cell, surfacing the executor error to the driver.
    """
    from pdtable_spark.frame import schema_for_units
    from pdtable_spark.model.metadata import TableMetadata
    from pdtable_spark.table import Table

    if sep is None:
        sep = CSV_SEP
    if isinstance(paths, (str, os.PathLike)):
        path_spec = str(paths)
    else:
        path_spec = ",".join(str(p) for p in paths)

    # -- enumerate files + probe schema on the driver -------------------------
    local_paths = _expand_local_paths(path_spec)

    if local_paths:
        # streaming probe: reads only up to the first matching table
        with open(local_paths[0]) as f:
            probe = _parse_named_tables_lines(f, table_name, sep, permissive)
            try:
                first = next(probe)
            except StopIteration:
                raise LookupError(
                    f"Table '{table_name}' not found in first file of {path_spec}"
                )
    else:
        first_text = spark.sparkContext.wholeTextFiles(path_spec).values().first()
        probe = _parse_named_tables(first_text, table_name, sep, permissive)
        try:
            first = next(probe)
        except StopIteration:
            raise LookupError(f"Table '{table_name}' not found in first file of {path_spec}")
    column_names, units = first.column_names, first.units
    schema = schema_for_units(column_names, units)

    if local_paths:
        # Arrow fast path: each task parses its files into pandas frames —
        # columnar Arrow transfer instead of per-row pickling (measured ~5×
        # on a 600k-row scan).
        n_part = min_partitions or min(len(local_paths), 2 * (os.cpu_count() or 8))
        # the path frame is a range of file indexes: Range splits it into
        # n_part slices whose sizes differ by at most one, so file counts
        # per task stay even (hash partitioning on path strings left some
        # tasks with 2 files and others with 0 — measured ~1.5× straggler
        # cost) with no shuffle and no Python-RDD stage; the path list
        # rides in the pickled UDF (broadcast by PySpark above 1 MB)
        file_ids = spark.range(len(local_paths), numPartitions=n_part)

        def parse_files(batches):
            import pandas as pd

            for pdf in batches:
                for i in pdf["id"]:
                    path = local_paths[i]
                    size = os.path.getsize(path)
                    if size > max_file_bytes:
                        raise ValueError(
                            f"StarTable CSV {path!r} is {size} bytes, over scan_csv's "
                            f"max_file_bytes={max_file_bytes}: the per-file tokenizer "
                            "buffers the target table's parsed rows, so an outsized "
                            "file risks an executor OOM. Split the export into "
                            "bundle-grain files, or pass a higher max_file_bytes "
                            "sized alongside executor memory."
                        )
                    with open(path) as f:
                        for parsed in _parse_named_tables_lines(
                            f, table_name, sep, permissive
                        ):
                            if fix_counter is not None and parsed.n_fixes:
                                fix_counter.add(parsed.n_fixes)
                            cols = parsed.column_names
                            n = len(parsed.columns[cols[0]]) if cols else 0
                            for lo in range(0, max(n, 1), batch_rows):
                                yield pd.DataFrame(
                                    {
                                        c: parsed.columns[c][lo : lo + batch_rows]
                                        for c in cols
                                    }
                                )

        df = file_ids.mapInPandas(parse_files, schema=schema)
    else:
        # generic path (hdfs:// s3:// ...): wholeTextFiles + row tuples
        files = spark.sparkContext.wholeTextFiles(path_spec, minPartitions=min_partitions)

        def rows_of(kv):
            _, text = kv
            for parsed in _parse_named_tables(text, table_name, sep, permissive):
                if fix_counter is not None and parsed.n_fixes:
                    fix_counter.add(parsed.n_fixes)
                cols = [parsed.columns[c] for c in parsed.column_names]
                yield from zip(*cols)

        df = spark.createDataFrame(files.flatMap(rows_of), schema=schema)

    meta = TableMetadata(name=table_name)
    return Table(df, metadata=meta)


def _expand_local_paths(path_spec: str):
    """Resolve a comma-joined glob spec to local files; [] when any part
    has a URI scheme (handled by the Hadoop path instead)."""
    import glob as _glob

    out = []
    for part in path_spec.split(","):
        p = part.strip()
        if "://" in p:
            return []
        p = p[len("file:"):] if p.startswith("file:") else p
        matches = sorted(_glob.glob(p))
        if os.path.isdir(p):
            # a job output directory: skip the _SUCCESS marker and hidden
            # (.crc) files, as Spark's file index does
            matches = sorted(
                os.path.join(p, n) for n in os.listdir(p) if not n.startswith(("_", "."))
            )
        out.extend(matches)
    return out


def _parse_named_tables(text: str, table_name: str, sep: str, permissive: bool = False):
    """Tokenize one StarTable CSV text, yielding ParsedTables matching name
    (each annotated with ``n_fixes`` applied while parsing it)."""
    yield from _parse_named_tables_lines(text.splitlines(), table_name, sep, permissive)


def _parse_named_tables_lines(
    line_iter, table_name: str, sep: str, permissive: bool = False
):
    """Streaming variant: tokenize lazily from an iterator of lines (e.g. an
    open file object) — the input is never materialized as one string, and
    the early block filter drops non-matching blocks at one-cell cost, so
    peak memory is O(target-table rows in the file), not O(file size).

    Pure Python — safe inside executors (no SparkSession access).
    """
    fixer = None
    if permissive:
        fixer = ParseFixer()
        fixer.stop_on_errors = False
    cell_rows = (line.rstrip("\r\n").split(sep) for line in line_iter)
    blocks = parse_blocks(
        cell_rows,
        to="parsed",
        fixer=fixer,
        filter=lambda bt, name: bt == BlockType.TABLE and name == table_name,
    )
    for block_type, block in blocks:
        if block_type == BlockType.TABLE and block is not None:
            # the parser resets the fixer per block, so its count is this
            # block's own
            block.n_fixes = fixer.fixes if fixer is not None else 0
            yield block


# ---------------------------------------------------------------------------
# Write
# ---------------------------------------------------------------------------


def write_csv(
    tables,
    to: Union[str, os.PathLike, TextIO],
    sep: Optional[str] = None,
    na_rep: str = "-",
) -> None:
    """Write one or more Tables to a CSV file or text stream
    (io/csv.py:120-207).

    Rows stream through ``toLocalIterator`` — constant driver memory; Excel /
    bundle-style CSV output is inherently a driver-side, ordered format.  For
    cluster-scale single-table dumps prefer ``table.df.write.parquet``.
    """
    from pdtable_spark.table import Table

    if sep is None:
        sep = CSV_SEP
    if isinstance(tables, Table):
        tables = [tables]

    if isinstance(to, (str, os.PathLike)):
        with open(to, "w") as stream:
            for t in tables:
                _table_to_csv(t, stream, sep, na_rep)
    else:
        for t in tables:
            _table_to_csv(t, to, sep, na_rep)


def write_csv_distributed(
    table,
    out_dir: str,
    sep: Optional[str] = None,
    na_rep: str = "-",
) -> None:
    """Distributed StarTable CSV dump: each partition writes one valid
    StarTable CSV file (``part-NNNNN.csv`` with the full ``**name`` /
    destinations / names / units block header) — the W1 scale path.

    The result directory round-trips through :func:`scan_csv` (per-file
    block structure is self-contained), so 100 TB tables never serialize
    through the driver.  Transposed layout is driver-sized by definition
    (one line per column) — use :func:`write_csv` for those.
    """
    from pyspark.sql import functions as F

    if sep is None:
        sep = CSV_SEP
    if table.metadata.transposed:
        raise ValueError("transposed tables are driver-sized; use write_csv")

    cm = table.column_metadata
    names = table.column_names
    units = table.units
    fmts = [cm[c].display_format for c in names]
    header = (
        f"**{table.name}{sep}\n"
        + " ".join(str(d) for d in sorted(table.destinations))
        + "\n"
        + sep.join(names)
        + "\n"
        + sep.join(units)
        + "\n"
    )

    def to_lines(rows):
        yield header.rstrip("\n")  # multi-line block header, one per file
        for row in rows:
            vals = represent_row_elements(tuple(row), units, na_rep)
            out = []
            for v, fmt_ in zip(vals, fmts):
                if isinstance(v, str):
                    out.append(v)
                elif fmt_ is not None and isinstance(v, (int, float)) and not isinstance(v, bool):
                    out.append(fmt_.format(v))
                else:
                    out.append(str(v))
            yield sep.join(out)
        yield ""  # blank line terminates the block

    # saveAsTextFile → one self-contained StarTable file per partition via
    # the Hadoop committer (atomic on HDFS/S3/local alike)
    table.df.rdd.mapPartitions(to_lines).saveAsTextFile(out_dir)


def _table_to_csv(table, stream: TextIO, sep: str, na_rep: str) -> None:
    cm = table.column_metadata
    names = table.column_names
    units = table.units
    fmts = [cm[c].display_format for c in names]

    def fmt(value, f) -> str:
        if isinstance(value, str):
            return value
        if f is not None and isinstance(value, (int, float)) and not isinstance(value, bool):
            return f.format(value)
        return str(value)

    if table.metadata.transposed:
        # one output line per column: name;unit;v1;v2;...
        rows = [tuple(r) for r in table.df.toLocalIterator()]
        stream.write(f"**{table.name}*{sep}\n")
        stream.write(" ".join(str(d) for d in sorted(table.destinations)) + "\n")
        for i, (name, unit, f) in enumerate(zip(names, units, fmts)):
            vals = represent_col_elements((r[i] for r in rows), unit, na_rep)
            stream.write(name + sep + unit + sep + sep.join(fmt(v, f) for v in vals) + "\n")
        stream.write("\n")
        return

    stream.write(f"**{table.name}{sep}\n")
    stream.write(" ".join(str(d) for d in sorted(table.destinations)) + "\n")
    stream.write(sep.join(names) + "\n")
    stream.write(sep.join(units) + "\n")
    for row in table.df.toLocalIterator():
        vals = represent_row_elements(tuple(row), units, na_rep)
        stream.write(sep.join(fmt(v, f) for v, f in zip(vals, fmts)) + "\n")
    stream.write("\n")

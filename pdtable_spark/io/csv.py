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

import fnmatch
import io
import os
import re
from contextlib import nullcontext
from pathlib import Path
from typing import Callable, Iterable, List, Optional, TextIO, Union

from pdtable_spark.auxiliary import CSV_SEP
from pdtable_spark.io._represent import represent_col_elements, represent_row_elements
from pdtable_spark.io.fs import filesystem, list_files, should_hide, uri_prefix
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
# Executor-side reading: one logical table over many StarTable files
# ---------------------------------------------------------------------------

#: Rows per Arrow batch the executor-side readers emit.
BATCH_ROWS = 1 << 16

_GLOB_MAGIC = re.compile(r"[*?[]")


def scan_csv(
    spark,
    paths: Union[str, Iterable[str]],
    table_name: str,
    sep: Optional[str] = None,
    min_partitions: Optional[int] = None,
    permissive: bool = False,
    fix_counter=None,
    max_file_bytes: int = 512 * 2 ** 20,
):
    """Parse ``table_name`` out of every StarTable CSV under ``paths`` into a
    single Spark-backed ``Table`` — the 100 TB path for S1.

    ``paths`` is a file, directory, glob or URI (``file://``, ``hdfs://``,
    ``s3://`` …), a comma-joined list of them, or an iterable.  A file is
    the parallelism grain, because block structure spans lines.  The
    schema (column names, units as field metadata) is probed from the
    first file on the driver.  Each task then parses its files with
    :func:`_table_batches`, the reader ``format("startable")`` uses too,
    and hands Spark Arrow record batches through ``mapInArrow``.  Columns
    bind to the schema by name, so files may list them in any order.

    Memory bounds: lines stream from the file, and output flows in
    ``BATCH_ROWS`` batches, so peak executor memory is O(target-table rows
    in one file).  A file above ``max_file_bytes`` (default 512 MiB) fails
    its task with guidance instead of risking an executor OOM.

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
    from pdtable_spark.model.metadata import TableMetadata
    from pdtable_spark.table import Table

    if sep is None:
        sep = CSV_SEP
    files = _expand_paths(paths)
    schema = _probe_schema(files, table_name, sep, permissive)

    n_part = min_partitions or min(len(files), 2 * (os.cpu_count() or 8))
    # the path frame is a range of file indexes: Range splits it into
    # n_part slices whose sizes differ by at most one, so file counts
    # per task stay even (hash partitioning on path strings left some
    # tasks with 2 files and others with 0 — measured ~1.5× straggler
    # cost) with no shuffle and no Python-RDD stage; the path list
    # rides in the pickled UDF (broadcast by PySpark above 1 MB)
    file_ids = spark.range(len(files), numPartitions=n_part)

    def parse_files(id_batches):
        for ids in id_batches:
            for i in ids.column(0).to_pylist():
                path = files[i]
                fs, inner = filesystem(path)
                size = fs.get_file_info(inner).size
                if size > max_file_bytes:
                    raise ValueError(
                        f"StarTable CSV {path!r} is {size} bytes, over scan_csv's "
                        f"max_file_bytes={max_file_bytes}: the per-file tokenizer "
                        "buffers the target table's parsed rows, so an outsized "
                        "file risks an executor OOM. Split the export into "
                        "bundle-grain files, or pass a higher max_file_bytes "
                        "sized alongside executor memory."
                    )
                for batch, n_fixes in _table_batches(
                    path, table_name, sep, permissive, schema
                ):
                    if fix_counter is not None and n_fixes:
                        fix_counter.add(n_fixes)
                    yield batch

    df = file_ids.mapInArrow(parse_files, schema=schema)
    return Table(df, metadata=TableMetadata(name=table_name))


def _table_batches(path: str, table: str, sep: str, permissive: bool, schema):
    """Parse every ``table`` block of the StarTable file at ``path`` (a
    local path or a URI) into Arrow record batches of ``schema``.

    The one executor-side reader: ``scan_csv``, ``format("startable")``
    and its streaming source all call it.  Yields ``(batch, n_fixes)``;
    each table's fix count rides on its first batch.  Columns are aligned
    to ``schema`` by name (:func:`_align_to_schema`) and converted by
    :func:`pdtable_spark.frame.arrow_columns`, the conversion
    ``read_csv``'s driver-side frames use, so both read the same
    timestamps.  Pure Python and pyarrow: safe inside executors.
    """
    import pyarrow as pa

    from pdtable_spark.frame import arrow_columns

    with _open_text(path) as f:
        for parsed in _parse_named_tables_lines(f, table, sep, permissive):
            cols = _align_to_schema(parsed, schema.names, table, permissive, path)
            n_rows, n_fixes = parsed.num_rows, parsed.n_fixes
            for lo in range(0, max(n_rows, 1), BATCH_ROWS):
                arrays = arrow_columns(schema, [c[lo : lo + BATCH_ROWS] for c in cols])
                yield pa.RecordBatch.from_arrays(arrays, names=schema.names), n_fixes
                n_fixes = 0


def _align_to_schema(parsed, schema_names, table, permissive, path):
    """Return ``parsed``'s columns in probed-schema order.

    The schema is probed from the FIRST file, but every file parses into its
    own column order — a later file listing the same table's columns
    reordered (or with extras/gaps) must not silently bind values to the
    wrong schema fields.  Missing columns raise in strict mode and None-fill
    in permissive mode; columns absent from the schema cannot surface
    through a fixed schema and are dropped.
    """
    cols = []
    for name in schema_names:
        if name in parsed.columns:
            cols.append(parsed.columns[name])
        elif permissive:
            cols.append([None] * parsed.num_rows)
        else:
            raise ValueError(
                f"{path}: table {table!r} lacks column {name!r} present in the "
                "probed schema (first file); use .option('permissive', 'true') "
                "to None-fill"
            )
    return cols


def _probe_schema(files, table: str, sep: str, permissive: bool):
    """The unit-derived schema of ``table``'s first block in ``files[0]``,
    read on the driver up to that block."""
    from pdtable_spark.frame import schema_for_units

    if not files:
        raise FileNotFoundError("no StarTable files match the given paths")
    with _open_text(files[0]) as f:
        for parsed in _parse_named_tables_lines(f, table, sep, permissive):
            return schema_for_units(parsed.column_names, parsed.units)
    raise LookupError(f"Table {table!r} not found in first file {files[0]!r}")


def _open_text(path: str):
    fs, inner = filesystem(path)
    return io.TextIOWrapper(fs.open_input_stream(inner), encoding="utf-8")


def _expand_paths(paths) -> List[str]:
    """The files a path spec names, for ``scan_csv`` and
    ``format("startable")`` alike.

    ``paths`` is one string (comma-joined parts allowed) or an iterable.
    Each part is a file, a directory or a glob, local or a URI.  A
    directory lists like Spark's file index (:func:`list_files`:
    recursive, without the names :func:`should_hide` hides, such as a job's
    ``_SUCCESS`` marker, ``.crc`` files and ``*._COPYING_`` in-flight
    copies).  A glob matches path components as Python's ``glob`` does,
    skips hidden names the same way, and a matched directory lists as
    above.  Local files come back as absolute paths, remote ones as URIs.
    """
    from pyarrow import fs as pafs

    directory, file = pafs.FileType.Directory, pafs.FileType.File
    if isinstance(paths, (str, os.PathLike)):
        paths = [paths]
    out: List[str] = []
    for part in filter(None, (p.strip() for spec in paths for p in str(spec).split(","))):
        comps = part.split("/")
        magic = next((i for i, c in enumerate(comps) if _GLOB_MAGIC.search(c)), len(comps))
        base = "/".join(comps[:magic]) or ("/" if part.startswith("/") else ".")
        fs, inner = filesystem(base)
        prefix = uri_prefix(base, fs, inner)

        def listing(d):
            return sorted(fs.get_file_info(pafs.FileSelector(d.path)), key=lambda i: i.path)

        found = [fs.get_file_info(inner)]
        if found[0].type == pafs.FileType.NotFound:
            raise FileNotFoundError(f"StarTable path {base!r} does not exist")
        for pattern in comps[magic:]:
            found = [
                i for d in found if d.type == directory for i in listing(d)
                if fnmatch.fnmatchcase(i.base_name, pattern) and not should_hide(i.base_name)
            ]
        for info in found:
            if info.type == directory:
                out += list_files(prefix + info.path)
            elif info.type == file:
                out.append(prefix + info.path)
    return out


def _parse_named_tables_lines(
    line_iter, table_name: str, sep: str, permissive: bool = False
):
    """Tokenize lazily from an iterator of lines (e.g. an open file object),
    yielding the ParsedTables named ``table_name``, each annotated with the
    ``n_fixes`` applied while parsing it.  The early block filter drops
    non-matching blocks at one-cell cost, so peak memory is O(target-table
    rows in the file), not O(file size)."""
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

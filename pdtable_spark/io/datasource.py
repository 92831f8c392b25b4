"""StarTable as a native Spark data source (Spark 4 Python DataSource API):

    from pdtable_spark.io.datasource import register
    register(spark)
    df = (spark.read.format("startable")
          .option("table", "farm_animals")
          .load("/data/bundles/*.csv"))

Integration notes:

- ``load(path)`` accepts a file, directory, glob or URI, expanded as
  ``scan_csv`` expands its paths; each file is one input partition (block
  structure spans lines, so a file is the parallelism grain).
- Schema (column names + per-unit Spark types) is probed from the FIRST
  file on the driver; executors then parse each file with
  ``io.csv._table_batches``, the reader ``scan_csv`` runs too, and yield
  its Arrow record batches.
- ``scan_csv`` stays the faster spelling of the same read (no plan-time
  Python workers, a ``fix_counter`` accumulator, unit field metadata);
  the data source composes with everything that speaks ``spark.read``
  (SQL ``CREATE TABLE ... USING``, option plumbing, streaming, filter
  pushdown).
"""

from __future__ import annotations

import datetime
import json
import os
import sys
from typing import List

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from pdtable_spark.io.csv import CSV_SEP, _expand_paths, _probe_schema, _table_batches


class StarTableDataSource(DataSource):
    """``format("startable")`` — options: ``table`` (required), ``sep``
    (default ';'), ``permissive`` ('true'/'false', default strict)."""

    @classmethod
    def name(cls) -> str:
        return "startable"

    def _opts(self):
        table = self.options.get("table")
        if not table:
            raise ValueError(
                "format('startable') requires .option('table', <name>): a "
                "StarTable CSV holds many named tables per file"
            )
        sep = self.options.get("sep", CSV_SEP)
        permissive = self.options.get("permissive", "false").lower() == "true"
        return table, sep, permissive

    def schema(self):
        table, sep, permissive = self._opts()
        full = _probe_schema(_expand_paths(self.options.get("path", "")), table, sep, permissive)
        # metadata-free copy: Spark 4.1's Python STREAMING source runner
        # fails its arrow-stream assertion when StructField metadata is
        # present (verified with a minimal reader), and batch/streaming
        # share this schema.  Unit metadata stays a scan_csv/read_csv
        # feature; the data source exposes plain types.
        return T.StructType(
            [T.StructField(f.name, f.dataType, f.nullable) for f in full.fields]
        )

    def reader(self, schema) -> "StarTableReader":
        table, sep, permissive = self._opts()
        paths = _expand_paths(self.options.get("path", ""))
        # Spark asks for the reader in its filter-pushdown worker only when
        # spark.sql.python.filterPushdown.enabled is on; its plain planning
        # worker rejects a reader that defines pushFilters.  Neither worker
        # has a SparkSession to read the conf from, so the caller decides.
        caller = os.path.basename(sys._getframe(1).f_code.co_filename)
        pushdown = caller == "data_source_pushdown_filters.py"
        cls = StarTablePushdownReader if pushdown else StarTableReader
        return cls(paths, schema, table, sep, permissive)

    def writer(self, schema, overwrite: bool) -> "StarTableWriter":
        table, sep, permissive = self._opts()
        path = self.options.get("path", "")
        if not path:
            raise ValueError("format('startable') write requires .save(<dir>)")
        units_opt = self.options.get("units")
        if units_opt is not None:
            units = units_opt.split(sep)
            if len(units) != len(schema.fields):
                raise ValueError(
                    f"option('units') lists {len(units)} units for "
                    f"{len(schema.fields)} columns"
                )
        else:
            from pdtable_spark.model.metadata import ColumnMetadata

            units = []
            for f in schema.fields:
                cm = ColumnMetadata.from_field_metadata(f.metadata)
                if cm is None:
                    cm = ColumnMetadata.from_dtype(f.dataType)
                units.append(cm.unit)
        destinations = self.options.get("destinations", "all").split()
        import uuid as _uuid

        staging = os.path.join(path, f"_staging-{_uuid.uuid4().hex}")
        return StarTableWriter(
            path, staging, table, sep,
            [f.name for f in schema.fields], units, destinations, overwrite,
        )

    def streamWriter(self, schema, overwrite: bool) -> "StarTableStreamWriter":
        # staging must be DETERMINISTIC: Spark re-instantiates the data
        # source for the driver-side commit runner, so a random staging dir
        # chosen at write-planning time would not be visible at commit
        w = self.writer(schema, overwrite)
        staging = os.path.join(w.path, "_stream-staging")
        writer = StarTableStreamWriter(
            w.path, staging, w.table, w.sep, w.names, w.units, w.destinations
        )
        # orphan-sweep horizon: must exceed THIS query's longest expected
        # stage→commit gap (a huge availableNow catch-up batch stages its
        # first shards long before the driver commit) — tunable via
        # .option("staleStagingSeconds", ...); the value is stamped into
        # this writer's shard filenames, so every query's sweep honors it
        # (no cross-query data loss from mismatched horizons)
        stale = self.options.get("stalestagingseconds") or self.options.get(
            "staleStagingSeconds"
        )
        if stale is not None:
            writer._STALE_STAGING_SECONDS = float(stale)
        return writer

    def simpleStreamReader(self, schema) -> "StarTableStreamReader":
        table, sep, permissive = self._opts()
        path = self.options.get("path", "")
        if not os.path.isdir(path):
            raise ValueError(
                "streaming format('startable') expects a landing DIRECTORY "
                f"path, got {path!r}"
            )
        if any(f.metadata for f in schema.fields):
            # same Spark 4.1 limitation the probed path strips metadata for
            # (see schema()): with field metadata present, the Python
            # streaming runner dies mid-batch with an opaque INTERNAL_ERROR
            # assertion — fail at planning time with the actual cause
            # instead.  attach_units schemas hit this naturally.
            raise ValueError(
                "streaming format('startable') cannot use a user schema "
                "carrying field metadata (Spark's Python streaming runner "
                "asserts metadata-free arrow schemas) — pass plain types or "
                "omit .schema() to probe from the first landed file"
            )
        return StarTableStreamReader(path, schema, table, sep, permissive)


class StarTableReader(DataSourceReader):
    def __init__(self, paths, schema, table, sep, permissive):
        self.paths = paths
        self.schema = schema
        self.table = table
        self.sep = sep
        self.permissive = permissive
        self._pushed = []

    def partitions(self) -> List[InputPartition]:
        return [InputPartition(p) for p in self.paths]

    def read(self, partition: InputPartition):
        for batch, _ in _table_batches(
            partition.value, self.table, self.sep, self.permissive, self.schema
        ):
            yield batch.filter(_pushed_mask(batch, self._pushed)) if self._pushed else batch


#: The pushed comparisons the reader evaluates, by filter class.
_COMPARISONS = {
    EqualTo: pc.equal,
    GreaterThan: pc.greater,
    GreaterThanOrEqual: pc.greater_equal,
    LessThan: pc.less,
    LessThanOrEqual: pc.less_equal,
}


def _pushed_mask(batch, filters):
    """The rows of ``batch`` that may pass every pushed filter, as a
    boolean Arrow array evaluated with ``pyarrow.compute``.

    Spark re-applies every pushed filter after the scan, so the mask may
    keep rows the filter drops but never the reverse:
    - comparisons and ``In`` drop NULL values, as SQL's three-valued logic
      does;
    - a NaN value is kept: Spark orders NaN above every double and has
      ``NaN = NaN`` true, where IEEE comparisons are all false;
    - a filter whose literal does not convert to the column's Arrow type
      (a float against a timestamp, a naive datetime) is skipped.
    """
    keep = pa.array([True] * batch.num_rows)
    for f in filters:
        col = batch.column(f.attribute[0])
        try:
            if isinstance(f, (IsNull, IsNotNull)):
                mask = pc.is_null(col) if isinstance(f, IsNull) else pc.is_valid(col)
            else:
                if isinstance(f, In):
                    values = pa.array([_literal(v, col.type) for v in f.value], col.type)
                    mask = pc.and_(pc.is_in(col, value_set=values), pc.is_valid(col))
                else:
                    literal = pa.scalar(_literal(f.value, col.type), col.type)
                    mask = _COMPARISONS[type(f)](col, literal)
                mask = pc.fill_null(mask, False)
                if pa.types.is_floating(col.type):
                    mask = pc.or_(mask, pc.fill_null(pc.is_nan(col), False))
        except (pa.ArrowException, TypeError, ValueError):
            continue
        keep = pc.and_(keep, mask)
    return keep


def _literal(value, arrow_type):
    """A pushed filter's literal as a Python value of ``arrow_type``.

    Timestamp columns hold ``TimestampType.toInternal`` instants
    (``frame.arrow_columns``); only a zone-aware literal names an instant
    without guessing a zone, so any other value raises ``TypeError``."""
    if pa.types.is_timestamp(arrow_type):
        if not isinstance(value, datetime.datetime) or value.tzinfo is None:
            raise TypeError(f"no instant for timestamp literal {value!r}")
        return T.TimestampType().toInternal(value)
    return value


def _has_nan_literal(f) -> bool:
    """A NaN LITERAL flips comparison truth between IEEE (all false) and
    SQL (NaN is greatest, NaN = NaN true): ``val < NaN`` is TRUE in SQL for
    every non-NaN value but false in Arrow, so evaluating it in the reader
    would drop rows Spark's re-applied copy can never resurrect."""
    vals = getattr(f, "value", None)
    vals = vals if isinstance(vals, (list, tuple, set)) else [vals]
    return any(isinstance(v, float) and v != v for v in vals)


class StarTablePushdownReader(StarTableReader):
    """StarTableReader + per-batch filter pushdown.  A separate class
    because Spark REJECTS any reader that merely defines pushFilters()
    unless ``spark.sql.python.filterPushdown.enabled`` is true — the
    DataSource hands this subclass out only to Spark's pushdown planner."""

    def pushFilters(self, filters):
        """Supported comparison/membership/null filters without a NaN
        literal evaluate on each parsed Arrow batch inside the reader task
        (:func:`_pushed_mask`), so most filtered rows never reach the JVM.
        EVERY filter — consumed or not — is yielded back, so Spark
        re-applies it after the scan, and any divergence between the mask
        and SQL can only lose an optimization, never rows.  (A filter this
        reader DIDN'T yield would otherwise be trusted as fully applied.)"""
        supported = (*_COMPARISONS, In, IsNull, IsNotNull)
        for f in filters:
            if isinstance(f, supported) and len(f.attribute) == 1 and not _has_nan_literal(f):
                self._pushed.append(f)
            yield f


class StarTableStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch source over a landing directory of StarTable CSVs.

    Offsets are the sorted list of file names already ingested — bundle
    files are the natural exactly-once grain (same contract as Spark's file
    source, spelled through the Python DataSource API).  ``read`` picks up
    every new ``*.csv`` since the last offset; ``readBetweenOffsets``
    replays a committed range deterministically after restart."""

    def __init__(self, dir_path, schema, table, sep, permissive):
        self.dir = dir_path
        self.schema = schema
        self.table = table
        self.sep = sep
        self.permissive = permissive

    def initialOffset(self) -> dict:
        return {"seen": "[]"}

    def _batches_of(self, files):
        return [
            batch
            for path in files
            for batch, _ in _table_batches(
                path, self.table, self.sep, self.permissive, self.schema
            )
        ]

    def read(self, start: dict):
        seen = set(json.loads(start["seen"]))
        present = sorted(
            os.path.join(self.dir, f)
            for f in os.listdir(self.dir)
            if f.endswith(".csv")
        )
        new = [p for p in present if p not in seen]
        end = {"seen": json.dumps(sorted(seen | set(new)))}
        return iter(self._batches_of(new)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        delta = sorted(set(json.loads(end["seen"])) - set(json.loads(start["seen"])))
        return iter(self._batches_of(delta))

    def commit(self, end: dict) -> None:
        pass


class _ShardCommit(WriterCommitMessage):
    def __init__(self, file: str, rows: int):
        self.file = file
        self.rows = rows


class StarTableWriter(DataSourceWriter):
    """``df.write.format("startable")`` — each task writes ONE self-contained
    StarTable CSV shard (full ``**name`` / destinations / names / units
    block header, same layout as ``write_csv_distributed``), staged and
    atomically promoted on job commit:

    - tasks write to a job-unique ``_staging-*`` subdirectory (a retried /
      speculative task leaves only an orphan staging file, never a partial
      part file);
    - ``commit`` moves the staged shards into place (clearing previous
      part files first under ``mode("overwrite")``) and drops a
      ``_SUCCESS`` marker; ``abort`` removes the staging directory.

    The commit protocol uses local-filesystem renames — on an object-store
    lake, prefer :func:`pdtable_spark.io.csv.write_csv_distributed`, which
    rides Spark's Hadoop committer.  Units come from ``option("units",
    "u1;u2;...")`` or the DataFrame's field metadata (dtype-inferred
    fallback); the result directory round-trips through ``scan_csv`` and
    ``format("startable")`` reads."""

    def __init__(self, path, staging, table, sep, names, units, destinations, overwrite):
        self.path = path
        self.staging = staging
        self.table = table
        self.sep = sep
        self.names = names
        self.units = units
        self.destinations = destinations
        self.overwrite = overwrite

    def write(self, iterator) -> _ShardCommit:
        return _write_startable_shard(
            iterator, self.staging, self.table, self.sep,
            self.names, self.units, self.destinations,
        )

    def commit(self, messages) -> None:
        import shutil

        os.makedirs(self.path, exist_ok=True)
        if self.overwrite:
            for name in os.listdir(self.path):
                if name.startswith("part-") and name.endswith(".csv"):
                    os.remove(os.path.join(self.path, name))
        for m in messages:
            if m is not None and m.file:
                shutil.move(
                    os.path.join(self.staging, m.file),
                    os.path.join(self.path, m.file),
                )
        shutil.rmtree(self.staging, ignore_errors=True)
        with open(os.path.join(self.path, "_SUCCESS"), "w"):
            pass

    def abort(self, messages) -> None:
        import shutil

        shutil.rmtree(self.staging, ignore_errors=True)


def _write_startable_shard(
    iterator, staging, table, sep, names, units, destinations, tag: str = ""
) -> "_ShardCommit":
    """Task-side shard writer shared by the batch and streaming writers:
    one self-contained StarTable CSV per non-empty partition, staged.
    ``tag`` is an optional filename infix (the stream writer embeds its
    own sweep horizon there — see ``_cleanup_staging``)."""
    import itertools
    import uuid as _uuid

    from pyspark import TaskContext

    from pdtable_spark.io._represent import represent_row_elements

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else 0
    first = next(iterator, None)
    if first is None:
        return _ShardCommit("", 0)
    os.makedirs(staging, exist_ok=True)
    fname = f"part-{pid:05d}-{tag}{_uuid.uuid4().hex}.csv"
    n = 0
    with open(os.path.join(staging, fname), "w") as out:
        out.write(f"**{table}{sep}\n")
        out.write(" ".join(str(d) for d in sorted(destinations)) + "\n")
        out.write(sep.join(names) + "\n")
        out.write(sep.join(units) + "\n")
        for row in itertools.chain([first], iterator):
            vals = represent_row_elements(tuple(row), units, "-")
            out.write(sep.join(str(v) for v in vals) + "\n")
            n += 1
        out.write("\n")
    return _ShardCommit(fname, n)


class StarTableStreamWriter(DataSourceStreamWriter):
    """``df.writeStream.format("startable")`` — the landing-directory
    producer matching the landing-directory streaming READER: each
    micro-batch commits its shards into ``path/batch_id=N/`` (cleared
    before promotion, so Structured Streaming's batch re-delivery is
    idempotent — the exactly-once pattern of ``sinks.idempotent_parquet_sink``
    applied to the native format).  Every shard is a self-contained
    StarTable CSV; the whole directory tree round-trips through
    ``scan_csv(path + "/batch_id=*/part-*.csv")``."""

    def __init__(self, path, staging, table, sep, names, units, destinations):
        self.path = path
        self.staging = staging
        self.table = table
        self.sep = sep
        self.names = names
        self.units = units
        self.destinations = destinations

    def write(self, iterator) -> _ShardCommit:
        return _write_startable_shard(
            iterator, self.staging, self.table, self.sep,
            self.names, self.units, self.destinations,
            # embed THIS writer's sweep horizon in the filename so a
            # concurrent query sweeping the shared staging dir honors it
            tag=f"h{int(self._STALE_STAGING_SECONDS)}-",
        )

    def commit(self, messages, batchId: int) -> None:
        import shutil

        bdir = os.path.join(self.path, f"batch_id={batchId}")
        shutil.rmtree(bdir, ignore_errors=True)
        os.makedirs(bdir, exist_ok=True)
        # move ONLY this batch's message files: the staging dir is shared
        # (deterministic path — see streamWriter), so a concurrent query
        # writing to the same output must not lose its staged shards
        for m in messages:
            if m is not None and m.file:
                shutil.move(os.path.join(self.staging, m.file), os.path.join(bdir, m.file))
        self._cleanup_staging()

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.file:
                try:
                    os.remove(os.path.join(self.staging, m.file))
                except OSError:
                    pass
        self._cleanup_staging()

    #: staged shards older than their horizon are orphans of failed /
    #: speculative task attempts (their batch committed or aborted long
    #: ago).  Each writer EMBEDS its own horizon in its shard filenames
    #: (``part-NNNNN-h<seconds>-<uuid>.csv``), and every sweep honors the
    #: horizon a file carries — so raising
    #: .option("staleStagingSeconds", ...) on a slow catch-up query
    #: protects THAT query's staged shards from a concurrent query's
    #: sweep running with the default (the per-writer horizon alone would
    #: silently lose any query whose stage→commit gap exceeds another
    #: writer's setting)
    _STALE_STAGING_SECONDS = 3600.0

    def _cleanup_staging(self) -> None:
        import re
        import time

        # sweep orphaned shards (failed / speculative attempts never appear
        # in commit messages, so rmdir-if-empty alone would let them
        # accumulate forever in the shared staging dir); each file's age is
        # judged against the horizon ITS OWN writer stamped into the name,
        # so a concurrent query's freshly-staged (or deliberately
        # long-horizon) shards stay safe no matter who sweeps
        pat = re.compile(r"-h(\d+)-")
        now = time.time()
        try:
            with os.scandir(self.staging) as it:
                for entry in it:
                    try:
                        m = pat.search(entry.name)
                        horizon = float(m.group(1)) if m else self._STALE_STAGING_SECONDS
                        if entry.is_file() and entry.stat().st_mtime < now - horizon:
                            os.remove(entry.path)
                    except OSError:
                        pass
        except OSError:
            pass
        try:
            os.rmdir(self.staging)  # only when empty — shared across queries
        except OSError:
            pass


def register(spark) -> None:
    """Register the 'startable' format on this session (idempotent)."""
    spark.dataSource.register(StarTableDataSource)

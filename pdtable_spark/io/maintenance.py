"""Table-maintenance primitives for a parquet lake: upsert, small-file
compaction, sorted (data-skipping) writes.

Plain-parquet answers to what table formats (Delta/Iceberg/Hudi) provide —
expressed as explicit copy-on-write jobs so the mechanics (and their costs)
are visible.  All three are the operations a 100 TB corpus actually needs
between query rounds:

- **upsert**: merge a (small) batch of updated/new rows into a large table
  by key — full-outer-join copy-on-write, the Delta MERGE equivalent.
- **compact**: a streaming ingest leaves thousands of tiny part-files;
  scan cost at scale is dominated by per-file overhead (footer reads, task
  scheduling), so compaction to ~target-sized files is routine hygiene.
- **sorted write**: parquet footers carry per-row-group min/max stats;
  writing sorted by a filter column makes those ranges disjoint so readers
  skip row groups wholesale.
- **Z-order write**: the multi-column clustering case — bit-interleaved
  bucket key, one range shuffle, so EVERY clustered column gets tight
  per-file min/max stats (the plain-parquet ``OPTIMIZE ZORDER BY``),
  with :func:`clustering_stats` as the pruning certificate.

The certificates read metadata before data, like the StarTable reader's
early block filter: per-file row counts and min/max come from the parquet
footers, read on the driver, and Spark scans a column only where a footer
holds no usable statistics for it.  Every driver-side listing, footer read
and sidecar read or write goes through ``pyarrow.fs`` (:mod:`.fs`), so a
local path and a remote URI take one route; the only Hadoop filesystem
calls left are the checked renames of :func:`_promote_sidecar`.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdtable_spark.frame import local_frame
from pdtable_spark.io.fs import exists, filesystem, list_files


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: Union[str, Sequence[str]],
    out_path: Optional[str] = None,
) -> str:
    """Copy-on-write MERGE: rows of ``updates`` replace same-key rows of the
    table at ``path``; new keys append.  Writes the merged table to
    ``out_path`` (default: ``path + ".new"`` — atomic swap is the caller's
    rename, never an in-place overwrite of data being read).

    Plan shape: existing LEFT ANTI updates (drop replaced rows) UNION ALL
    updates — one shuffle on the key for the anti join; the updates side is
    typically batch-sized and broadcasts.  Returns the output path.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    existing = spark.read.parquet(path)
    merged = existing.join(updates.select(*keys), on=keys, how="left_anti").unionByName(
        updates
    )
    out = out_path or path.rstrip("/") + ".new"
    merged.write.mode("overwrite").parquet(out)
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: Optional[str] = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> str:
    """Rewrite a many-small-files dataset into ~``target_file_bytes`` files.

    File count = ceil(data-file bytes / target), the bytes of the files
    Spark reads (:func:`~pdtable_spark.io.fs.list_files`, so sidecars do not
    count); coalesce-style repartition (round-robin) balances rows.  Run it
    on a partition directory after each streaming-ingest window, not on the
    whole lake.
    """
    size = sum(list_files(path).values())
    n_files = max(1, -(-size // target_file_bytes))
    out = out_path or path.rstrip("/") + ".compacted"
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(out)
    return out


def write_sorted_parquet(
    df: DataFrame,
    path: str,
    sort_cols: Union[str, Sequence[str]],
    partitions: Optional[int] = None,
) -> None:
    """Write with rows range-partitioned AND sorted by ``sort_cols`` so each
    part-file covers a disjoint range: parquet min/max footer stats then let
    any reader skip whole files/row-groups for selective filters on those
    columns.  ``repartitionByRange`` gives the cross-file disjointness
    (plain ``sortWithinPartitions`` alone would leave every file spanning
    the full range after a round-robin shuffle)."""
    cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
    parted = (
        df.repartitionByRange(partitions, *cols)
        if partitions is not None
        else df.repartitionByRange(*cols)
    )
    parted.sortWithinPartitions(*cols).write.mode("overwrite").parquet(path)


def int_bucket(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Bucket an INTEGRAL column into ``[0, 2**bits)`` with exact integer
    arithmetic: ``((x - lo) * 2**bits) DIV (hi - lo + 1)``, clamped, NULLs
    to bucket 0.

    Integer-only on purpose — the Z-order key must be reproducible across
    engines (the value oracle recomputes it in DuckDB), and float bucket
    edges would put boundary rows on different sides per engine.  Callers
    quantize doubles first (the suite's integer-cents idiom:
    ``floor(x * 100 + 0.5)``).

    The quotient runs through IEEE double division + floor; that floor is
    PROVABLY equal to exact integer division only while the denominator
    stays under ~2^36 (a boundary crossing needs ``span * ulp/2 > 1``;
    with buckets ≤ 2^16 the ulp is ≥ 2^-36), so spans past 2^36 are
    rejected loudly rather than risking an engine-dependent edge bucket.
    2^36 ≈ 7e10 distinct key values per clustering column — far past any
    id/cents domain here; re-quantize coarser if a column ever exceeds it.
    """
    if hi < lo:
        raise ValueError(f"int_bucket: hi < lo ({hi} < {lo})")
    if not 1 <= bits <= 16:
        raise ValueError(f"int_bucket: bits must be in [1, 16], got {bits}")
    n = 1 << bits
    span = hi - lo + 1
    if span > (1 << 36):
        raise ValueError(
            f"int_bucket: span {span} exceeds 2^36 — the double-division "
            "floor is no longer provably exact; quantize the key coarser"
        )
    # Clamp the RAW value into [lo, hi] before the multiply: with
    # persisted bounds a later append can carry values far outside the
    # recorded range, and (x - lo) * 2**bits on a huge long would wrap
    # negative and land in bucket 0 instead of n-1.  Clamping first
    # makes the documented edge-bucket placement exact for ANY input
    # and keeps the multiplication within 2^36 * 2^16 < 2^63.
    v = F.least(F.greatest(col.cast("long"), F.lit(int(lo))), F.lit(int(hi)))
    raw = ((v - F.lit(int(lo))) * F.lit(n)) / F.lit(int(span))
    bucket = F.floor(raw).cast("long")
    clamped = F.least(F.greatest(bucket, F.lit(0)), F.lit(n - 1))
    return F.coalesce(clamped, F.lit(0)).cast("long")


def zorder_key(bucket_cols: Sequence[Column], bits_per_col: int) -> Column:
    """Morton (Z-order) key: bit-interleave ``k`` bucket ids of
    ``bits_per_col`` bits each into one long — bit ``b`` of column ``i``
    lands at position ``b*k + i``.

    Pure JVM bit arithmetic (``shiftright``/``shiftleft``/AND/OR), so the
    key stays inside whole-stage codegen — no UDF, no shuffle of its own.
    Sorting by this key gives MULTI-column locality: a contiguous key
    range maps to a small hyper-rectangle in bucket space, so after a
    range-partitioned write EVERY clustered column gets tight per-file
    min/max footer stats (a linear sort gives that only to its leading
    column).  This is the plain-parquet spelling of Delta/Iceberg
    ``OPTIMIZE ZORDER BY``.
    """
    cols = list(bucket_cols)
    k = len(cols)
    if k < 1:
        raise ValueError("zorder_key: need at least one bucket column")
    if bits_per_col < 1 or k * bits_per_col > 63:
        raise ValueError(
            f"zorder_key: k*bits_per_col must be in [1, 63], got "
            f"{k}*{bits_per_col}={k * bits_per_col}"
        )
    z = F.lit(0).cast("long")
    for bit in range(bits_per_col):
        for ci, c in enumerate(cols):
            piece = F.shiftright(c.cast("long"), bit).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(piece, bit * k + ci))
    return z


def hilbert_key(bx: Column, by: Column, bits: int) -> Column:
    """Hilbert-curve key for TWO bucket columns of ``bits`` bits each —
    the locality upgrade over :func:`zorder_key`: consecutive keys are
    always Manhattan-adjacent cells (the Z curve jumps at power-of-two
    seams), so per-file bounding boxes come out tighter for the same
    file count.

    The classic xy→d walk (rotate-and-reflect per quadrant, MSB down)
    runs as ONE bounded ``F.aggregate`` fold over the bit sequence —
    state is a (x, y, d) struct, codegen size constant in ``bits``,
    pure JVM arithmetic, no UDF.  Costs ~4x the Z key's expression
    work per row; both are noise next to the range shuffle that
    follows.  The Z spelling keeps the cross-engine value oracle (its
    interleave is plain bit SQL); Hilbert is pinned by the python-
    reference parity + adjacency pytest instead.
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"hilbert_key: bits must be in [1, 31], got {bits}")

    def step(acc, _):
        # the per-level cell size s rides IN the accumulator (halving
        # each step) because shiftleft takes only literal shift counts
        s = acc["s"]
        rx = F.when(acc["x"].bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        ry = F.when(acc["y"].bitwiseAND(s) > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
        d = acc["d"] + s * s * ((rx * 3).bitwiseXOR(ry))
        # quadrant rotation: on ry == 0, reflect when rx == 1, then swap
        fx = F.when(rx == 1, s - 1 - acc["x"]).otherwise(acc["x"])
        fy = F.when(rx == 1, s - 1 - acc["y"]).otherwise(acc["y"])
        nx = F.when(ry == 1, acc["x"]).otherwise(fy)
        ny = F.when(ry == 1, acc["y"]).otherwise(fx)
        return F.struct(
            nx.alias("x"),
            ny.alias("y"),
            d.alias("d"),
            F.floor(s / 2).cast("long").alias("s"),
        )

    init = F.struct(
        bx.cast("long").alias("x"),
        by.cast("long").alias("y"),
        F.lit(0).cast("long").alias("d"),
        F.lit(1 << (bits - 1)).cast("long").alias("s"),
    )
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(int(bits))), init, step
    )["d"]


def write_zordered_parquet(
    df: DataFrame,
    path: str,
    cluster_cols: Sequence[str],
    bits_per_col: int = 8,
    partitions: Optional[int] = None,
    bounds: Optional[dict] = None,
    curve: str = "z",
) -> dict:
    """Write ``df`` Z-order-clustered on ``cluster_cols`` (integral columns
    — pre-quantize doubles, see :func:`int_bucket`): the multi-column
    completion of :func:`write_sorted_parquet`.

    Plan shape: one bounded min/max aggregate (skipped when ``bounds`` is
    passed — persist the returned artifact next to the data so later
    appends bucket against the SAME edges), then ONE range shuffle on the
    interleaved key + an in-partition sort; the helper key column is
    dropped before the write.  ``repartitionByRange`` makes the per-file
    key ranges disjoint, so each file covers one small Z-curve segment ≈
    one bucket-space hyper-rectangle: with ``m`` files and ``k`` columns,
    per-file min/max width shrinks like ``m**(-1/k)`` of each column's
    domain — every clustered column prunes, which is the property a
    100 TB lake wants when queries filter on more than the leading sort
    column.  Returns the ``{col: (lo, hi)}`` bounds artifact.

    ``curve="hilbert"`` (2-D only) swaps the interleave for
    :func:`hilbert_key` — adjacency-preserving, tighter boxes, same
    one-shuffle plan.  Verify either with :func:`clustering_stats`
    (per-file footer-stat widths — the pruning certificate).
    """
    cols = list(cluster_cols)
    if bounds is None:
        row = df.agg(
            *[F.min(c).alias(f"lo_{c}") for c in cols],
            *[F.max(c).alias(f"hi_{c}") for c in cols],
        ).collect()[0]
        bounds = {c: (row[f"lo_{c}"], row[f"hi_{c}"]) for c in cols}
    missing = [c for c in cols if c not in bounds]
    if missing:
        raise ValueError(f"write_zordered_parquet: bounds missing for {missing}")
    all_null = [c for c in cols if bounds[c][0] is None or bounds[c][1] is None]
    if all_null:
        raise ValueError(
            f"write_zordered_parquet: cluster column(s) {all_null} have no "
            "non-NULL values — no bounds to bucket against"
        )
    buckets = [
        int_bucket(F.col(c), int(bounds[c][0]), int(bounds[c][1]), bits_per_col)
        for c in cols
    ]
    if curve == "z":
        key = zorder_key(buckets, bits_per_col)
    elif curve == "hilbert":
        if len(buckets) != 2:
            raise ValueError(
                f"write_zordered_parquet: curve='hilbert' is 2-D only, "
                f"got {len(buckets)} cluster columns"
            )
        key = hilbert_key(buckets[0], buckets[1], bits_per_col)
    else:
        raise ValueError(
            f"write_zordered_parquet: unknown curve {curve!r} (z | hilbert)"
        )
    keyed = df.withColumn("__z", key)
    parted = (
        keyed.repartitionByRange(partitions, "__z")
        if partitions is not None
        else keyed.repartitionByRange("__z")
    )
    parted.sortWithinPartitions("__z").drop("__z").write.mode("overwrite").parquet(path)
    return bounds


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cluster_cols: Sequence[str],
    bits_per_col: int = 8,
    out_path: Optional[str] = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    bounds: Optional[dict] = None,
    curve: str = "z",
) -> tuple:
    """The OPTIMIZE job: compaction and Z-order clustering in ONE rewrite
    of the dataset at ``path`` — file count sized from on-disk bytes like
    :func:`compact_parquet`, layout from :func:`write_zordered_parquet`.
    A streaming-ingest partition directory gets both hygiene passes for
    the cost of one copy (the copy dominates at 100 TB; run it per
    partition directory between query rounds, never on the whole lake).

    Same copy-on-write contract as the other maintenance ops: writes to
    ``out_path`` (default ``path + ".zordered"``), the atomic swap is the
    caller's rename.  Returns ``(out_path, bounds)`` — persist the bounds
    next to the data so later optimize runs keep appends on the same
    curve.  ``curve="hilbert"`` (2-D only) rides through to the write —
    the adjacency-preserving layout with the same one-copy cost.
    """
    size = sum(list_files(path).values())
    n_files = max(1, -(-size // target_file_bytes))
    out = out_path or path.rstrip("/") + ".zordered"
    got = write_zordered_parquet(
        spark.read.parquet(path),
        out,
        cluster_cols,
        bits_per_col=bits_per_col,
        partitions=n_files,
        bounds=bounds,
        curve=curve,
    )
    return out, got


def clustering_stats(
    spark: SparkSession, path: str, cols: Sequence[str]
) -> DataFrame:
    """The pruning certificate for a clustered layout: per data file,
    ``file``, ``n_rows`` and the min/max of ``cols`` (``min_c``, ``max_c``)
    — exactly the footer stats a reader prunes on, read from those footers
    on the driver (:func:`_file_stats`), so the frame costs no Spark job
    unless a column has no usable footer statistics.

    A predicate ``c BETWEEN a AND b`` can skip every file whose
    ``[min_c, max_c]`` misses ``[a, b]``, so
    ``stats.filter(~(max_c < a | min_c > b)).count()`` IS the scan cost
    in files.  Tests assert the Z-ordered layout beats a linear sort on
    the non-leading column and beats round-robin on every column.
    """
    # an Arrow table plans as a LocalTableScan, like frame.local_frame
    return spark.createDataFrame(_file_stats(spark, path, list(list_files(path)), cols))


def _read_footer(file: str):
    """The parquet footer (``FileMetaData``) of one data file."""
    import pyarrow.parquet as pq

    fs, inner = filesystem(file)
    return pq.read_metadata(inner, filesystem=fs)


def _spark_schema(meta) -> Optional[T.StructType]:
    """The schema Spark wrote into a data file's footer, or ``None`` for a
    file another writer made.  Spark infers a lake's schema from one such
    footer, so a relation given this schema reads the same columns without
    the inference job."""
    import json

    stored = (meta.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    return T.StructType.fromJson(json.loads(stored)) if stored else None


#: Spark types whose parquet footer min/max equal Spark's ``min``/``max``
#: whatever wrote the file (``tests/test_property.py`` checks them against
#: Spark); other columns take theirs from Spark.  Float and double are
#: left out: writers disagree on NaN (Arrow's writer leaves NaN out of the
#: statistics, where Spark's ``max`` returns it), and a footer cannot show
#: whether its chunk held one.
_FOOTER_TYPES = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.StringType, T.DateType,
)


def _chunk_bounds(chunks, usable: bool):
    """``(min, max)`` over one column's row-group statistics (``(None,
    None)`` when every chunk is all NULL), or ``None`` when a chunk may
    hold non-NULL values but has no usable min/max."""
    lo = hi = None
    for s in chunks:
        if s is not None and s.has_min_max and usable:
            lo = s.min if lo is None else min(lo, s.min)
            hi = s.max if hi is None else max(hi, s.max)
        elif s is None or not s.has_null_count or s.num_values > 0:
            return None
    return lo, hi


def _file_stats(spark: SparkSession, path: str, files: List[str], cols: Sequence[str]):
    """The :func:`clustering_stats` rows of ``files`` (data files of the
    lake at ``path``), in file order, as an Arrow table.

    Each row comes from the file's parquet footer: ``n_rows`` is its row
    count and each bound combines the row groups' statistics.  A zero-row
    file gets ``n_rows = 0`` and NULL bounds, an all-NULL column NULL
    bounds.  Where a row group may hold non-NULL values without usable
    footer min/max (Spark's INT96 timestamps, writers that skip
    statistics, types outside ``_FOOTER_TYPES``), just those files and
    columns take Spark's ``min``/``max`` from one scan.  Column types come
    from the first file's footer, as Spark infers them.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    from pdtable_spark.frame import arrow_columns

    cols = list(cols)
    if not files:
        raise ValueError(f"no data files under {path!r}")
    metas = [_read_footer(f) for f in files]
    lake = _spark_schema(metas[0]) or from_arrow_schema(metas[0].schema.to_arrow_schema())
    missing = [c for c in cols if c not in lake.names]
    if missing:
        raise ValueError(f"{missing} are not data columns of the parquet lake at {path!r}")
    rows, redo = {}, {}
    for f, meta in zip(files, metas):
        row = {"file": f, "n_rows": meta.num_rows}
        index = {meta.schema.column(j).path: j for j in range(meta.num_columns)}
        groups = [meta.row_group(g) for g in range(meta.num_row_groups)]
        for c in cols:
            chunks = [
                g.column(index[c]).statistics for g in groups if c in index and g.num_rows
            ]
            bounds = _chunk_bounds(chunks, isinstance(lake[c].dataType, _FOOTER_TYPES))
            if bounds is None:
                redo.setdefault(f, []).append(c)
                bounds = (None, None)
            row[f"min_{c}"], row[f"max_{c}"] = bounds
        rows[f] = row
    if redo:
        redo_cols = [c for c in cols if any(c in cs for cs in redo.values())]
        scan = (
            _scan(spark, path, list(redo), files)
            .groupBy(_listed_file_col().alias("file"))
            .agg(
                *[F.min(c).alias(f"min_{c}") for c in redo_cols],
                *[F.max(c).alias(f"max_{c}") for c in redo_cols],
            )
        )
        # a file the scan finds no row for keeps NULL bounds, which
        # never prune
        got = {r["file"]: r for r in scan.collect()}
        for f, file_cols in redo.items():
            hit = got.get(f)
            if hit is not None:
                rows[f].update({k: hit[k] for c in file_cols for k in (f"min_{c}", f"max_{c}")})
    schema = T.StructType(
        [T.StructField("file", T.StringType()), T.StructField("n_rows", T.LongType())]
        + [T.StructField(f"{b}_{c}", lake[c].dataType) for b in ("min", "max") for c in cols]
    )
    return pa.table(
        arrow_columns(schema, [[r[n] for r in rows.values()] for n in schema.names]),
        names=schema.names,
    )


def prunable_files(stats: DataFrame, predicates: dict) -> DataFrame:
    """Turn a :func:`clustering_stats` frame into the SCAN SET a
    footer-pruning reader would touch under conjunctive range
    predicates: keep every file whose ``[min_c, max_c]`` intersects the
    requested ``{col: (lo, hi)}`` range for ALL predicate columns (a
    point predicate is ``(v, v)``).  ``stats.count() - result.count()``
    is the number of files skipped without opening — the certificate as
    one number instead of a hand-written filter per test.

    NULL stats are kept conservatively: a file whose min/max is unknown
    for a predicate column (all-NULL column chunk) cannot be ruled out.
    """
    out = stats
    for c, (lo, hi) in predicates.items():
        mn, mx = F.col(f"min_{c}"), F.col(f"max_{c}")
        miss = (mx < F.lit(lo)) | (mn > F.lit(hi))
        out = out.filter(~F.coalesce(miss, F.lit(False)))
    return out


def _zone_map_dir(path: str) -> str:
    """The sidecar location: an underscore-prefixed subdirectory, which
    every Spark/Hadoop file index treats as hidden — data reads of the
    lake never see it, and it travels with the dataset on a rename."""
    return path.rstrip("/") + "/_zone_map"


def write_zone_map(spark: SparkSession, path: str, cols: Sequence[str]) -> int:
    """Persist the pruning certificate: the :func:`clustering_stats` rows
    for ``cols``, read from the data files' parquet footers, stored as a
    one-file parquet sidecar under ``{path}/_zone_map`` — the plain-
    parquet spelling of an Iceberg/Delta stats manifest.  Both the footer
    reads and the sidecar write run on the driver, so the build starts no
    Spark job unless a column lacks footer statistics.  Repeated
    :func:`pruned_read` / :func:`pruned_semi_read` calls then consult the
    KB-sized sidecar instead of opening every footer of the lake again.

    Returns the number of files covered (zero-row files included, with
    ``n_rows = 0`` and NULL stats).  Re-run (or :func:`refresh_zone_map`)
    after appends/compactions — readers validate coverage and fail loudly
    on a stale sidecar rather than silently pruning against it.
    """
    files = list(list_files(path))
    table = _file_stats(spark, path, files, cols)
    _write_sidecar(spark, _zone_map_dir(path), table, "write_zone_map")
    _advance_manifest_if_present(spark, path, set(files))
    return table.num_rows


def _observed_sidecar_write(df: DataFrame, new_dir: str):
    """Write a Bloom sidecar frame to ``new_dir`` while collecting its
    DISTINCT ``file`` values inside the SAME job (``Observation`` +
    ``collect_set`` — an aggregate whose state is file-count-bounded).
    Returns the covered file list, sparing the writer one read-back job
    over the artifact it just wrote."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(obs, F.collect_set("file").alias("files")).write.mode(
        "overwrite"
    ).parquet(new_dir)
    return obs.get["files"]


def _norm_file(f: str) -> str:
    """One spelling for a local/remote file URI: ``inputFiles()`` and
    ``_metadata.file_path`` disagree on the scheme/slash count for the
    same file (``/x`` vs ``file:/x`` vs ``file:///x``)."""
    import re

    return re.sub("^file:/+", "/", f)


def _data_files(path: str) -> set:
    """The lake's current data-file set: the files ``spark.read.parquet``
    reads under ``path``, as :func:`~pdtable_spark.io.fs.list_files` lists
    them (recursive, Spark's hiding rule, so ``_zone_map``/``_manifest``/
    ``_SUCCESS`` style entries are excluded; local paths absolute, remote
    ones with their URI prefix)."""
    return set(list_files(path))


def _read_sidecar(sidecar_dir: str):
    """A file-count-bounded sidecar (zone map, manifest) read on the
    driver as an Arrow table, or ``None`` when there is none.  Every call
    re-reads the persisted bytes; nothing is cached.  Not for the Bloom
    sidecar, whose row count grows with key positions, not files."""
    import pyarrow.parquet as pq

    if not exists(sidecar_dir):
        return None
    fs, inner = filesystem(sidecar_dir)
    return pq.read_table(inner, filesystem=fs)


def _write_sidecar(spark: SparkSession, live_dir: str, table, fn_name: str) -> None:
    """Write the Arrow ``table`` on the driver as the one part file of
    ``{live_dir}.new`` (cleared first: a crashed build may have left it)
    and promote it with :func:`_promote_sidecar`."""
    import pyarrow.parquet as pq

    fs, inner = filesystem(live_dir + ".new")
    fs.delete_dir_contents(inner, missing_dir_ok=True)
    fs.create_dir(inner)
    pq.write_table(table, inner + "/part-00000.parquet", filesystem=fs)
    _promote_sidecar(spark, live_dir, fn_name)


def _norm_file_col(c: Column) -> Column:
    """:func:`_norm_file` as a column expression (one spelling for the
    scheme/slash disagreement between ``inputFiles()`` and
    ``_metadata.file_path``), for JVM-side file-set joins."""
    return F.regexp_replace(c, "^file:/+", "/")


def _listed_file_col() -> Column:
    """The scanned row's data file, spelled as
    :func:`~pdtable_spark.io.fs.list_files` lists it.  Spark's
    ``_metadata.file_path`` is a percent-encoded URI (``file:/a%20b/c%25d``
    for ``/a b/c%d``); ``url_decode`` reverses the encoding but also reads
    ``+`` as a space, so a literal ``+`` is escaped to ``%2B`` first.  The
    listing itself is never decoded: a ``%`` in a file name stays as is."""
    encoded = F.regexp_replace(F.col("_metadata.file_path"), r"\+", "%2B")
    return _norm_file_col(F.url_decode(encoded))


def _snapshot_frame(spark: SparkSession, values, name: str, dtype) -> DataFrame:
    """A driver-collected snapshot (file list / key set) as a SMALL
    one-column :func:`~pdtable_spark.frame.local_frame`: the PLAN stays
    O(1) in the snapshot size — an ``isin`` literal grows the plan per
    element, and at millions of entries plan construction and driver
    memory blow up (ADVICE r12).  The snapshot property itself is
    preserved: the values are frozen at call time, exactly like the
    literal spelling."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType([StructField(name, dtype, True)])
    return local_frame(spark, schema, [values])


def _keep_covered_rows(
    spark: SparkSession, sidecar: DataFrame, current: set
) -> DataFrame:
    """Bloom sidecar rows whose data file still exists — the kept-file
    filter of :func:`refresh_bloom_sidecar`, spelled as a broadcast LEFT SEMI
    join against the :func:`_snapshot_frame` of the current listing so
    the plan carries ONE small relation instead of a per-file ``In``
    literal (file lists are inherently driver-sized in Spark — the
    FileIndex itself is — but the PLAN must not scale with them)."""
    if not current:
        return sidecar.where(F.lit(False))
    from pyspark.sql.types import StringType

    cur = _snapshot_frame(spark, sorted(current), "__cur_file", StringType())
    return sidecar.join(
        F.broadcast(cur),
        _norm_file_col(F.col("file")) == F.col("__cur_file"),
        "left_semi",
    )


# ---------------------------------------------------------------------------
# Versioned file manifest — decouple certificate reads from live listings.
#
# Every certificate read used to validate coverage against a FRESH
# recursive listing of the lake (_data_files) — correct and fail-loud,
# but at 100 TB object-store scale the listing is the slow, eventually-
# consistent part of the read path (S3 LIST is paginated at 1000 keys
# and costs per call; Iceberg/Delta exist largely to stop re-listing).
# The manifest persists the file list ONCE per maintenance operation as
# a versioned sidecar under the same crash-safe swap, and reads
# validate against the manifest generation instead of re-listing: the
# read path touches only KB-sized sidecars, never the object-store
# namespace.  The trade is explicit snapshot semantics: files appended
# WITHOUT a refresh are invisible to manifest-validated reads until
# refresh_* advances the manifest (exactly Iceberg's model — readers
# serve the last committed snapshot, writers advance it).
# ---------------------------------------------------------------------------


def _manifest_dir(path: str) -> str:
    """Hidden manifest location — same convention as :func:`_zone_map_dir`."""
    return path.rstrip("/") + "/_manifest"


def write_file_manifest(spark: SparkSession, path: str) -> dict:
    """List the lake ONCE and persist the file set as the versioned
    ``{path}/_manifest`` sidecar (columns ``file``, ``generation``),
    promoted via the crash-safe ``.new`` -> swap.  Subsequent
    :func:`zone_map` / :func:`bloom_pruned_read` calls validate their
    certificate against THIS snapshot instead of re-listing the lake —
    on an object store that turns every read's O(files) LIST calls into
    one KB-sized parquet footer read.

    The generation advances monotonically (previous + 1; 0 on first
    write) so operational tooling can tell which snapshot a reader
    served.  Returns ``{"generation", "n_files", "n_added",
    "n_removed"}`` (the diff vs the previous generation).
    """
    current = _data_files(path)
    prev = _manifest_snapshot(spark, path)
    prev_files, prev_gen = prev if prev is not None else (set(), -1)
    gen = prev_gen + 1
    _write_manifest(spark, path, current, gen)
    return {
        "generation": gen,
        "n_files": len(current),
        "n_added": len(current - prev_files),
        "n_removed": len(prev_files - current),
    }


def _write_manifest(
    spark: SparkSession, path: str, files: set, generation: int
) -> None:
    """The one manifest write path (shared by :func:`write_file_manifest`
    and the maintenance-op advance, so the two can never drift): the
    sorted file set stamped with its generation (``file`` string,
    ``generation`` long), written on the driver and promoted via the
    crash-safe ``.new`` → swap (:func:`_write_sidecar`)."""
    import pyarrow as pa

    ordered = sorted(files)
    table = pa.table(
        {
            "file": pa.array(ordered, pa.string()),
            "generation": pa.array([int(generation)] * len(ordered), pa.int64()),
        }
    )
    _write_sidecar(spark, _manifest_dir(path), table, "_write_manifest")


def _manifest_snapshot(spark: SparkSession, path: str):
    """``(normalized file set, generation)`` from the manifest, or
    ``None`` when the lake has no manifest (readers then fall back to
    the live listing).  Read on the driver (:func:`_read_sidecar`); every
    call re-reads the persisted artifact — no snapshot is cached."""
    table = _read_sidecar(_manifest_dir(path))
    if table is None:
        return None
    files = {_norm_file(f) for f in table.column("file").to_pylist()}
    gen = max(table.column("generation").to_pylist(), default=-1)
    return files, int(gen)


def _validation_snapshot(spark: SparkSession, path: str) -> tuple:
    """What certificate reads validate coverage against: the manifest
    snapshot when one exists (NO listing on the read path), else the
    live listing.  Returns ``(file set, source description)`` — the
    source lands in staleness messages so the operator knows whether to
    refresh the certificate or advance the manifest."""
    snap = _manifest_snapshot(spark, path)
    if snap is not None:
        files, gen = snap
        return files, f"manifest generation {gen}"
    return _data_files(path), "live listing"


def _advance_manifest_if_present(
    spark: SparkSession, path: str, current: set
) -> None:
    """Maintenance ops own the listing, so they also advance the
    manifest: after a sidecar build/refresh computed ``current`` (one
    listing), rewrite the manifest from that same set — readers then
    validate the new certificate against the matching snapshot.  A
    no-op when the lake has no manifest (opt-in artifact) or when the
    set is unchanged (no pointless generation churn)."""
    snap = _manifest_snapshot(spark, path)
    if snap is None:
        return
    prev_files, prev_gen = snap
    if prev_files == current:
        return
    _write_manifest(spark, path, current, prev_gen + 1)


def _promote_sidecar(spark: SparkSession, live_dir: str, fn_name: str) -> None:
    """Crash-safe swap of ``{live_dir}.new`` into place: a valid sidecar
    survives every crash point — the live dir (if any) moves ASIDE (not
    deleted) before ``.new`` moves in, and both renames are CHECKED
    (Hadoop rename reports failure by boolean, never by raising; an
    unchecked delete-then-rename could destroy the sidecar on a failed
    rename or a crash in the window).  Shared by every sidecar writer
    (zone map build/refresh, Bloom build/refresh, file manifest).

    Concurrency contract (single-writer): between rename(live -> .old)
    and rename(.new -> live) there is NO readable path at ``live_dir``,
    so a concurrent reader can transiently fail with path-not-found
    during the swap window (retry-safe: the swap is two renames, not a
    rebuild), and two concurrent WRITERS can interleave the unlocked
    rename sequence — run maintenance single-writer per lake, the usual
    table-maintenance discipline.  Crash-SAFETY (never losing the last
    good sidecar) is what this guarantees; continuous read availability
    under concurrent swaps is not."""
    jvm = spark._jvm
    livep = jvm.org.apache.hadoop.fs.Path(live_dir)
    fs = livep.getFileSystem(spark._jsc.hadoopConfiguration())
    newp = jvm.org.apache.hadoop.fs.Path(live_dir + ".new")
    oldp = jvm.org.apache.hadoop.fs.Path(live_dir + ".old")
    fs.delete(oldp, True)
    if fs.exists(livep):
        if not fs.rename(livep, oldp):
            raise IOError(
                f"{fn_name}: could not move the live sidecar aside "
                f"({live_dir!r} -> .old); the rebuilt sidecar is intact "
                f"at {live_dir + '.new'!r}"
            )
    if not fs.rename(newp, livep):
        restored = fs.exists(oldp) and fs.rename(oldp, livep)
        raise IOError(
            f"{fn_name}: could not move the rebuilt sidecar into place "
            f"({live_dir + '.new'!r} -> {live_dir!r}); the previous "
            "sidecar "
            + (
                "was restored"
                if restored
                else f"could NOT be restored — recover manually from "
                f"{live_dir + '.old'!r} / {live_dir + '.new'!r}"
            )
        )
    fs.delete(oldp, True)


def _append_empty_file_rows(
    spark: SparkSession,
    new_dir: str,
    current: set,
    fill: dict,
    schema: T.StructType,
    covered,
) -> tuple:
    """Record data files the Bloom positions pass could not see — a
    ZERO-ROW part-file (e.g. written by an empty-frame overwrite)
    appears in the listing but yields no position row, so without a
    sentinel the coverage validation in :func:`bloom_pruned_read` would
    report STALE forever and no refresh could repair it.  Appends one row
    per file of ``current`` missing from ``covered`` (the file list the
    write job collected, see :func:`_observed_sidecar_write`) to the
    pre-promotion ``.new`` sidecar of ``schema``: ``fill`` gives the
    non-file column values (NULL position, never matching a probe).
    Returns ``(n_covered, n_added)``; the sentinel frame is bounded by the
    count of EMPTY files, normally zero, so the common case adds no job.
    The zone map needs none of this: its rows come from footers, and a
    zero-row file's footer gives its row."""
    covered = {_norm_file(f) for f in covered}
    missing = sorted(current - covered)
    if missing:
        columns = [
            missing if f.name == "file" else [fill.get(f.name)] * len(missing)
            for f in schema.fields
        ]
        local_frame(spark, schema, columns).coalesce(1).write.mode(
            "append"
        ).parquet(new_dir)
    return len(covered), len(missing)


def refresh_zone_map(spark: SparkSession, path: str, cols: Sequence[str]) -> dict:
    """Incremental sidecar maintenance: read the footers of ONLY the files
    the sidecar does not cover yet (appends), drop rows for files that no
    longer exist (compaction/vacuum), keep every other row as it is — so
    keeping the certificate fresh costs one footer read per NEW file, not
    a pass over the lake.  Builds from scratch when no sidecar exists.
    Returns ``{"n_added", "n_removed", "n_files"}``.
    """
    import pyarrow as pa

    zdir = _zone_map_dir(path)
    old = _read_sidecar(zdir)
    if old is None:
        n = write_zone_map(spark, path, cols)
        return {"n_added": n, "n_removed": 0, "n_files": n}
    files = list(list_files(path))
    current = set(files)
    kept = old.filter(
        pa.array([_norm_file(f) in current for f in old.column("file").to_pylist()])
    )
    known = {_norm_file(f) for f in kept.column("file").to_pylist()}
    new_files = [f for f in files if f not in known]
    table = kept
    if new_files:
        added = _file_stats(spark, path, new_files, cols)
        table = pa.concat_tables([kept.cast(added.schema), added])
    _write_sidecar(spark, zdir, table, "refresh_zone_map")
    _advance_manifest_if_present(spark, path, current)
    return {
        "n_added": len(new_files),
        "n_removed": old.num_rows - kept.num_rows,
        "n_files": table.num_rows,
    }


def zone_map(spark: SparkSession, path: str, cols: Sequence[str]) -> DataFrame:
    """Load the persisted certificate for use as ``stats=`` in
    :func:`pruned_read` / :func:`pruned_semi_read`, VALIDATED against
    the lake's committed snapshot: the :func:`write_file_manifest`
    sidecar when one exists (NO object-store listing on the read path —
    the manifest IS the snapshot readers serve, Iceberg-style), else
    the live file listing.  A sidecar that misses snapshot files
    (post-append) or names vanished ones (post-compaction) raises
    loudly with the refresh instruction — pruning against stale stats
    would silently skip files that now contain matches.

    The sidecar is read on the driver and returned as a driver-held
    frame of exactly the rows validated (a ``LocalTableScan``: loading
    and collecting it start no Spark job).
    """
    zdir = _zone_map_dir(path)
    table = _read_sidecar(zdir)
    if table is None:
        raise FileNotFoundError(
            f"zone_map: no sidecar at {zdir!r} — build it with "
            "write_zone_map(spark, path, cols)"
        )
    missing = [c for c in cols if f"min_{c}" not in table.column_names]
    if missing:
        raise ValueError(
            f"zone_map: sidecar at {zdir!r} has no stats for {missing} — "
            "rebuild with write_zone_map(spark, path, cols)"
        )
    covered = {_norm_file(f) for f in table.column("file").to_pylist()}
    current, source = _validation_snapshot(spark, path)
    if covered != current:
        raise ValueError(
            f"zone_map: sidecar at {zdir!r} is STALE vs {source} "
            f"({len(current - covered)} uncovered data file(s), "
            f"{len(covered - current)} vanished) — run "
            "refresh_zone_map(spark, path, cols) first"
        )
    return spark.createDataFrame(table)


def write_bloom_sidecar(
    spark: SparkSession,
    path: str,
    key_col: str,
    num_hashes: int = 3,
    num_bits: int = 1 << 20,
) -> int:
    """Per-file Bloom sidecar for POINT lookups on a key the layout does
    NOT cluster: zone maps (:func:`write_zone_map`) prune by [min, max]
    ranges, which is useless for a high-cardinality key scattered
    uniformly across files — every file spans the whole domain.  This
    stores, per file, the DISTINCT Bloom bit positions of the key
    column (the relational filter spelling of ``dedup.bloom_build``:
    md5-based positions, so the sidecar is engine-reproducible and
    probes are hash JOINS, not per-row array scans), under the hidden
    ``{path}/_bloom_{key_col}`` directory.

    A probe key the file does not contain misses at least one of its
    ``num_hashes`` positions with probability ``1 - fill^k`` — size
    ``num_bits`` so the per-file fill ratio (distinct keys per file ×
    k / num_bits) stays well under ~20%.  False positives only ever
    OVER-read (the residual semi join keeps answers exact).  Returns
    the number of files covered.  The rebuild goes through the same
    crash-safe ``.new`` → swap as the zone map (one valid sidecar at
    every instant); after appends prefer :func:`refresh_bloom_sidecar`,
    which hashes only the new files.
    """
    out = _bloom_dir(path, key_col)
    pos = _bloom_position_rows(spark, path, None, key_col, num_hashes, num_bits)
    covered = _observed_sidecar_write(pos, out + ".new")
    current = _data_files(path)
    n_cov, n_add = _append_empty_file_rows(
        spark,
        out + ".new",
        current,
        {"num_hashes": int(num_hashes), "num_bits": int(num_bits)},
        schema=pos.schema,
        covered=covered,
    )
    _promote_sidecar(spark, out, "write_bloom_sidecar")
    _advance_manifest_if_present(spark, path, current)
    return n_cov + n_add


def _bloom_dir(path: str, key_col: str) -> str:
    """Hidden sidecar location — same convention as :func:`_zone_map_dir`."""
    return path.rstrip("/") + f"/_bloom_{key_col}"


def _bloom_position_rows(
    spark: SparkSession,
    path: str,
    files,
    key_col: str,
    num_hashes: int,
    num_bits: int,
) -> DataFrame:
    """The Bloom sidecar's content lineage for the given files (all of
    the lake when ``files`` is None): per-file DISTINCT positions plus
    the build-parameter stamp columns — a probe run with different k/m
    would compute positions in a different space and silently prune
    files that hold true matches, so the reader validates the stamps.
    ``file`` is spelled as the lake listing spells it
    (:func:`_listed_file_col`), the set every coverage check compares
    with."""
    from pdtable_spark.operators.dedup import bloom_positions

    rd = spark.read.option("basePath", path)
    df = (rd.parquet(path) if files is None else rd.parquet(*files)).select(
        _listed_file_col().alias("file"),
        F.col(key_col).cast("string").alias("__k"),
    )
    return (
        df.select(
            "file",
            F.explode(
                bloom_positions(F.col("__k"), num_hashes, num_bits)
            ).alias("pos"),
        )
        .distinct()
        .withColumn("num_hashes", F.lit(int(num_hashes)))
        .withColumn("num_bits", F.lit(int(num_bits)))
    )


def refresh_bloom_sidecar(
    spark: SparkSession,
    path: str,
    key_col: str,
    num_hashes: int = 3,
    num_bits: int = 1 << 20,
) -> dict:
    """Incremental Bloom-sidecar maintenance — the
    :func:`refresh_zone_map` lifecycle for the point-lookup artifact:
    hash ONLY files the sidecar does not cover yet (appends), drop
    position rows for files that no longer exist (compaction/vacuum),
    keep everything else untouched, and promote via the crash-safe
    ``.new`` → swap — so keeping the filter fresh costs one scan of the
    NEW data, not a full-lake rebuild per append.  Builds from scratch
    when no sidecar exists.

    The requested ``num_hashes`` / ``num_bits`` must match the existing
    sidecar's parameter stamp: merging positions computed in a
    different (k, m) space would silently prune files holding true
    matches, so a mismatch raises with the full-rebuild instruction.
    Returns ``{"n_added_files", "n_removed_files", "n_files"}``.
    """
    out = _bloom_dir(path, key_col)
    current = _data_files(path)
    if not exists(out):
        n = write_bloom_sidecar(spark, path, key_col, num_hashes, num_bits)
        return {"n_added_files": n, "n_removed_files": 0, "n_files": n}
    sidecar = spark.read.parquet(out)
    if "num_hashes" not in sidecar.columns or "num_bits" not in sidecar.columns:
        raise ValueError(
            f"refresh_bloom_sidecar: sidecar at {out!r} carries no "
            "parameter stamps (legacy build?) — positions from an unknown "
            "(k, m) space cannot be merged; rebuild with "
            "write_bloom_sidecar(spark, path, key_col, ...)"
        )
    # ONE job returns both the parameter stamp and the covered-file list
    # (the file-count-bounded aggregate) — previously two separate
    # actions over the same sidecar (r14, guide §1.2 fewer passes)
    cov_rows = (
        sidecar.groupBy("file")
        .agg(
            F.first("num_hashes").alias("num_hashes"),
            F.first("num_bits").alias("num_bits"),
        )
        .collect()
    )
    prm = cov_rows[0] if cov_rows else None
    if prm is None:
        # an empty sidecar covers nothing — a refresh IS a full build
        n = write_bloom_sidecar(spark, path, key_col, num_hashes, num_bits)
        return {"n_added_files": n, "n_removed_files": 0, "n_files": n}
    if (prm["num_hashes"], prm["num_bits"]) != (int(num_hashes), int(num_bits)):
        raise ValueError(
            f"refresh_bloom_sidecar: sidecar was built with num_hashes="
            f"{prm['num_hashes']}, num_bits={prm['num_bits']} but the "
            f"refresh asked for {num_hashes}/{num_bits} — positions from "
            "different spaces cannot be merged; rebuild with "
            "write_bloom_sidecar(spark, path, key_col, ...) instead"
        )
    old_files = [r["file"] for r in cov_rows]
    keep_files = [f for f in old_files if _norm_file(f) in current]
    known = {_norm_file(f) for f in keep_files}
    new_files = sorted(current - known)
    # kept rows via the shared broadcast-semi-join spelling: both sides
    # stay JVM lineages AND the plan stays O(1) in the file count
    # (see _keep_covered_rows)
    merged = _keep_covered_rows(spark, sidecar, current)
    if new_files:
        merged = merged.unionByName(
            _bloom_position_rows(
                spark, path, new_files, key_col, num_hashes, num_bits
            )
        )
    covered = _observed_sidecar_write(merged, out + ".new")
    n_cov, n_add = _append_empty_file_rows(
        spark,
        out + ".new",
        current,
        {"num_hashes": int(num_hashes), "num_bits": int(num_bits)},
        schema=merged.schema,
        covered=covered,
    )
    _promote_sidecar(spark, out, "refresh_bloom_sidecar")
    _advance_manifest_if_present(spark, path, current)
    n_total = n_cov + n_add
    return {
        "n_added_files": n_total - len(keep_files),
        "n_removed_files": len(old_files) - len(keep_files),
        "n_files": n_total,
    }


def bloom_pruned_read(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys_df: DataFrame,
    num_hashes: int = 3,
    num_bits: int = 1 << 20,
    columns: Optional[Sequence[str]] = None,
    max_keys: int = 1_000_000,
    isin_threshold: int = 4096,
) -> tuple:
    """Point-lookup file pruning from the :func:`write_bloom_sidecar`
    artifact: a file is read iff at least ONE probe key hits ALL its
    ``num_hashes`` positions in that file's filter — computed as one
    broadcast hash join between the exploded key positions and the
    sidecar, never a per-row filter scan.  The kept-file scan then
    LEFT SEMI joins the broadcast key set, so Bloom false positives
    cost I/O, never wrong rows.

    The zone-map/:func:`pruned_semi_read` contract: returns
    ``(df, report)`` with files total/read/skipped and ``n_keys``.
    Parameters must match the sidecar's build (``num_hashes`` /
    ``num_bits``) — a mismatch produces garbage positions, so pick them
    once per lake and record them next to the data.
    """
    from pdtable_spark.operators.dedup import bloom_positions

    kset = keys_df.select(key_col).filter(F.col(key_col).isNotNull()).distinct()
    ktype = kset.schema.fields[0].dataType
    sidecar = spark.read.parquet(path.rstrip("/") + f"/_bloom_{key_col}")
    has_stamps = "num_hashes" in sidecar.columns
    body = sidecar.drop("num_hashes", "num_bits") if has_stamps else sidecar
    # kset stays a distributed lineage: no driver round trip (collect,
    # then a driver-built frame) for keys the cluster already holds
    kpos = kset.select(
        key_col,
        F.explode(
            bloom_positions(F.col(key_col).cast("string"), num_hashes, num_bits)
        ).alias("pos"),
    )
    if has_stamps:
        # one aggregate returns both the parameter stamp and the
        # covered-file census (file-count-bounded, the r14 fused shape)
        census = sidecar.groupBy("file").agg(
            F.first("num_hashes").alias("__nh"),
            F.first("num_bits").alias("__nb"),
        )
    else:
        census = sidecar.select("file").distinct().select(
            "file",
            F.lit(None).cast("int").alias("__nh"),
            F.lit(None).cast("int").alias("__nb"),
        )
    hits = (
        body.join(F.broadcast(kpos), "pos")
        .groupBy("file", key_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == num_hashes)
        .select("file")
        .distinct()
    )

    def _nulli(n):
        return F.lit(None).cast("int").alias(n)

    nullk = F.lit(None).cast(ktype).alias("__key")
    # ONE driver action for all three bounded legs — the stamp+census
    # aggregate, the Bloom hit set, and the probe-key snapshot — as a
    # tagged union whose branches run as concurrent stages of a single
    # job (r15, guide §1.2/§2.6; previously three sequential collects,
    # each paying its own plan build + scheduler round-trip).  Every leg
    # is bounded exactly as before: census/hits by the file count, keys
    # by ``limit(max_keys + 1)``.
    fused = (
        census.select(F.lit("census").alias("__src"), "file", "__nh", "__nb", nullk)
        .unionByName(
            hits.select(
                F.lit("hits").alias("__src"), "file", _nulli("__nh"),
                _nulli("__nb"), nullk,
            )
        )
        .unionByName(
            kset.limit(max_keys + 1).select(
                F.lit("keys").alias("__src"),
                F.lit(None).cast("string").alias("file"),
                _nulli("__nh"),
                _nulli("__nb"),
                F.col(key_col).alias("__key"),
            )
        )
    )
    rows = fused.collect()
    key_rows = [r["__key"] for r in rows if r["__src"] == "keys"]
    if len(key_rows) > max_keys:
        raise ValueError(
            f"bloom_pruned_read: key set exceeds max_keys={max_keys} — "
            "at this size broadcast-join the unpruned scan instead"
        )
    keys = sorted(key_rows)
    cov = [r for r in rows if r["__src"] == "census"]
    if has_stamps and cov:
        prm = cov[0]
        if (prm["__nh"], prm["__nb"]) != (num_hashes, num_bits):
            raise ValueError(
                f"bloom_pruned_read: sidecar was built with num_hashes="
                f"{prm['__nh']}, num_bits={prm['__nb']} but the "
                f"probe asked for {num_hashes}/{num_bits} — positions "
                "would land in a different space and silently prune "
                "files holding true matches"
            )
    all_files = {_norm_file(r["file"]) for r in cov}
    current, source = _validation_snapshot(spark, path)
    if all_files != current:
        raise ValueError(
            f"bloom_pruned_read: sidecar for {key_col!r} is STALE vs "
            f"{source} ({len(current - all_files)} uncovered data "
            f"file(s), {len(all_files - current)} vanished) — run "
            "refresh_bloom_sidecar(spark, path, key_col, ...) first"
        )
    keep = sorted(
        _norm_file(r["file"]) for r in rows if r["__src"] == "hits"
    )
    report = {
        "n_files_total": len(all_files),
        "n_files_read": len(keep),
        "n_files_skipped": len(all_files) - len(keep),
        "n_keys": len(keys),
    }
    df = _scan(spark, path, keep, sorted(all_files))
    # residual filter from the COLLECTED key snapshot — frozen at call
    # time either way, so a mutable/non-deterministic keys_df cannot
    # diverge from the file set this call pruned on.  Small sets stay an
    # In literal (parquet-pushdown-friendly); past isin_threshold the
    # snapshot rides a broadcast LEFT SEMI join instead — an In
    # expression converts every key through py4j and grows the plan per
    # key, which blows up plan construction and driver memory at sizes
    # the join handles fine (ADVICE r12)
    df = _residual_key_filter(
        spark, df, key_col, keys, kset.schema.fields[0].dataType, isin_threshold
    )
    if columns is not None:
        df = df.select(*columns)
    return df, report


def _residual_key_filter(
    spark: SparkSession, df, key_col: str, keys, dtype, isin_threshold: int
):
    """The frozen-snapshot residual both pruned point reads share:
    ``isin`` literal up to ``isin_threshold`` keys, broadcast LEFT SEMI
    join against the :func:`_snapshot_frame` beyond it.  Row semantics
    are identical (the snapshot holds no NULLs, and ``isin`` over
    non-NULL literals never matches a NULL row either)."""
    if len(keys) <= isin_threshold:
        return df.filter(F.col(key_col).isin(keys))
    kframe = _snapshot_frame(spark, keys, key_col, dtype)
    # a USING-column join moves the key to the front — restore the
    # scan's column order so both residual spellings return the same
    # shape (reads without an explicit `columns` depend on it)
    return df.join(F.broadcast(kframe), key_col, "left_semi").select(*df.columns)


def _scan(spark: SparkSession, path: str, keep: List[str], files: List[str]) -> DataFrame:
    """The lake at ``path`` read from just the ``keep`` files (an empty
    frame when there are none) — the scan every pruned read returns.
    When the footer of one of ``files`` holds Spark's schema, the relation
    takes it, so building the frame starts no schema-inference job."""
    rd = spark.read.option("basePath", path)
    schema = _spark_schema(_read_footer((keep or files)[0])) if files else None
    if schema is not None:
        rd = rd.schema(schema)
    return rd.parquet(*keep) if keep else rd.parquet(path).where(F.lit(False))


def _stats_row_intersects(row, predicates: dict) -> bool:
    """Driver-side spelling of :func:`prunable_files`'s keep test for ONE
    collected stats row — same conservative NULL handling (a file whose
    min/max is unknown cannot be ruled out).  Exists because the rows
    are already on the driver, where filtering them in Spark would cost a
    job; parity with ``prunable_files`` is pinned in pytest."""
    for c, (lo, hi) in predicates.items():
        mn, mx = row[f"min_{c}"], row[f"max_{c}"]
        # SQL three-valued parity: a KNOWN bound can prove a miss even
        # when the other side is NULL (OR(TRUE, NULL) is TRUE); only a
        # row where neither comparison resolves TRUE survives
        if (mx is not None and mx < lo) or (mn is not None and mn > hi):
            return False
    return True


def pruned_read(
    spark: SparkSession,
    path: str,
    predicates: dict,
    columns: Optional[Sequence[str]] = None,
    stats: Optional[DataFrame] = None,
) -> tuple:
    """The READ side of the clustering certificate: scan ONLY the files
    :func:`prunable_files` keeps under the conjunctive range
    ``predicates`` (``{col: (lo, hi)}``), then apply the exact predicate
    as the residual filter — the plain-parquet spelling of a
    Delta/Iceberg data-skipping read, where the stats manifest (here:
    the footer stats of :func:`clustering_stats`) decides file membership
    BEFORE the scan instead of relying on per-row-group footer checks
    inside an open-every-file scan.

    Returns ``(df, report)``: ``df`` is the filtered frame (plus
    ``columns`` pruning when given), ``report`` is ``{"n_files_total",
    "n_files_read", "n_files_skipped"}`` — the certificate as measured
    numbers.  The plan-contract test pins that the scan's own
    ``number of files read`` metric equals ``n_files_read``; on a
    Z-ordered layout with a selective predicate ``n_files_skipped > 0``
    is the whole point.

    Scale posture: without ``stats`` the certificate is one footer read
    per data file on the driver — no Spark job, and no data page read to
    decide the file set (run per partition directory at 100 TB, like every
    maintenance op here).  On a lake read MANY times, pass
    ``stats=zone_map(spark, path, cols)`` — the persisted sidecar from
    :func:`write_zone_map` — and the decision reads one KB-sized sidecar
    instead of every footer.  The returned frame is typed from one data
    file's footer (:func:`_scan`), so building it starts no job either.
    The keep test is
    :func:`_stats_row_intersects`, the driver-side spelling of
    :func:`prunable_files`, with pytest pinning the two to identical
    answers.
    """
    if stats is None:
        stats = clustering_stats(spark, path, list(predicates))
    rows = stats.collect()
    keep = [
        r["file"] for r in rows if _stats_row_intersects(r, predicates)
    ]
    report = {
        "n_files_total": len(rows),
        "n_files_read": len(keep),
        "n_files_skipped": len(rows) - len(keep),
    }
    df = _scan(spark, path, keep, [r["file"] for r in rows])
    for c, (lo, hi) in predicates.items():
        df = df.filter(F.col(c).between(F.lit(lo), F.lit(hi)))
    if columns is not None:
        df = df.select(*columns)
    return df, report


def pruned_semi_read(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys_df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    max_keys: int = 1_000_000,
    stats: Optional[DataFrame] = None,
    isin_threshold: int = 4096,
) -> tuple:
    """Dynamic file pruning from a key SET — the plain-parquet spelling
    of dynamic partition pruning for a star join: the dimension side's
    join keys (``keys_df``, one column) decide which fact files can
    contain a match BEFORE the scan.  A file is kept iff at least one
    key falls inside its ``[min, max]`` footer range (binary search per
    file over the sorted key set — file-count × log(keys), driver-side
    over the file-count-bounded stats); the kept-file scan then
    LEFT SEMI joins the broadcast key set as the exact residual.

    Completes :func:`pruned_read` (conjunctive ranges) with the point-
    set shape: on a lake clustered by the join key, a dimension slice
    touching 2% of the key domain reads ~2% of the files — the join
    never sees the rest.  Returns the same ``(df, report)`` contract.

    Guards: the key set collects to the driver, bounded by ``max_keys``
    (loud past it — at that size broadcast-join the unclustered scan
    instead); NULL keys are dropped (an equi-join key of NULL matches
    nothing); files with NULL stats are kept conservatively.
    """
    rows = (
        keys_df.select(key_col).distinct().limit(max_keys + 1).collect()
    )
    if len(rows) > max_keys:
        raise ValueError(
            f"pruned_semi_read: key set exceeds max_keys={max_keys} — "
            "at this size skip file pruning and broadcast-join the scan"
        )
    keys = sorted(r[0] for r in rows if r[0] is not None)
    if stats is None:
        stats = clustering_stats(spark, path, [key_col])
    stats = stats.collect()
    import bisect

    keep = []
    for r in stats:
        mn, mx = r[f"min_{key_col}"], r[f"max_{key_col}"]
        if mn is None or mx is None:
            keep.append(r["file"])
            continue
        i = bisect.bisect_left(keys, mn)
        if i < len(keys) and keys[i] <= mx:
            keep.append(r["file"])
    report = {
        "n_files_total": len(stats),
        "n_files_read": len(keep),
        "n_files_skipped": len(stats) - len(keep),
        "n_keys": len(keys),
    }
    df = _scan(spark, path, keep, [r["file"] for r in stats])
    # residual from the COLLECTED key snapshot (frozen at call time, so
    # a mutable or non-deterministic keys_df cannot diverge from the
    # file set this call pruned on): In literal up to isin_threshold,
    # broadcast semi-join of the snapshot frame beyond it — same
    # split as bloom_pruned_read (see _residual_key_filter)
    df = _residual_key_filter(
        spark,
        df,
        key_col,
        keys,
        keys_df.select(key_col).schema.fields[0].dataType,
        isin_threshold,
    )
    if columns is not None:
        df = df.select(*columns)
    return df, report


def lake_report(
    spark: SparkSession,
    path: str,
    small_file_bytes: int = 16 * 1024 * 1024,
) -> DataFrame:
    """Lake-health summary for a parquet dataset — the compaction
    pre-flight: ONE row with file count, bytes, row counts, per-file
    extremes, and how many files sit under ``small_file_bytes`` (the
    scan-overhead population :func:`compact_parquet` exists to retire).

    Sizes come from the listing and row counts from the parquet footers,
    both on the driver: no data page is read and no Spark job runs.
    Zero-row files count as files.  At 100 TB run it per partition
    directory like the other maintenance ops — the output is one row
    either way.
    """
    files = list_files(path)
    sizes = list(files.values())
    rows = [_read_footer(f).num_rows for f in files]
    schema = T.StructType.fromDDL(
        "n_files long, total_bytes long, total_rows long, min_file_bytes long, "
        "max_file_bytes long, n_small_files long, min_file_rows long, "
        "max_file_rows long"
    )
    values = [
        len(sizes),
        sum(sizes),
        sum(rows),
        min(sizes, default=None),
        max(sizes, default=None),
        sum(s < small_file_bytes for s in sizes),
        min(rows, default=None),
        max(rows, default=None),
    ]
    return local_frame(spark, schema, rows=[values])


def diff_snapshots(
    old: DataFrame,
    new: DataFrame,
    key_cols: Union[str, Sequence[str]],
    compare_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Keyed dataset diff between two snapshots: one row per key that was
    ``added``, ``removed``, or ``changed`` (same key, different compared
    values) — the audit step between pipeline runs (what did yesterday's
    ingest actually do?).

    Full-outer join on the key; change detection uses null-safe equality
    over ``compare_cols`` (default: all shared non-key columns), so NULL→
    value and value→NULL count as changes.  Side presence is tracked with
    explicit marker columns, NOT key nullness — the join condition is
    null-safe, so a NULL key can legitimately match on both sides and must
    classify as unchanged/changed, not "added".  One key shuffle; at scale
    run per partition-directory like the other maintenance ops.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        compare_cols = [
            c for c in old.columns if c in set(new.columns) and c not in keys
        ]
    o = old.select(*keys, *compare_cols).withColumn("_o_present", F.lit(True)).alias("o")
    n = new.select(*keys, *compare_cols).withColumn("_n_present", F.lit(True)).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    j = o.join(n, cond, "full_outer")
    same = None
    for c in compare_cols:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(F.col("o._o_present").isNull(), F.lit("added"))
        .when(F.col("n._n_present").isNull(), F.lit("removed"))
        .when(same if same is not None else F.lit(True), F.lit(None))
        .otherwise(F.lit("changed"))
    )
    return (
        j.select(
            *[F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys],
            change.alias("change_type"),
        )
        .filter(F.col("change_type").isNotNull())
    )


def retention_delete(
    spark: SparkSession,
    path: str,
    predicate,
    out_path: Optional[str] = None,
) -> str:
    """Copy-on-write DELETE: rewrite the table at ``path`` WITHOUT the rows
    matching ``predicate`` (a Column) — the TTL/retention/right-to-erasure
    primitive.  Same contract as :func:`upsert_parquet`: writes to
    ``out_path`` (default ``path + ".new"``), the atomic swap is the
    caller's rename, never an in-place overwrite of data being read.

    Plan shape: one scan + filter + write, no shuffle.  When ``predicate``
    is on a partition or range-sorted column, the negated filter pushes
    into the scan and untouched files stream through unchanged; at
    100 TB run it per partition directory (like :func:`compact_parquet`),
    not on the whole lake.
    """
    kept = spark.read.parquet(path).filter(~predicate)
    out = out_path or path.rstrip("/") + ".new"
    kept.write.mode("overwrite").parquet(out)
    return out


def write_training_shards(
    df: DataFrame,
    path: str,
    shuffle_col: str = "doc_id",
    num_shards: int = 32,
    max_records_per_file: Optional[int] = None,
    salt: str = "",
    assignment: str = "range",
) -> DataFrame:
    """Export the final training corpus as deterministically-shuffled,
    size-balanced shards, and return the shard MANIFEST (shard, n_docs,
    n_tokens if available).

    The write every pipeline ends with: rows are ordered by a content-
    stable hash of ``shuffle_col`` (adjacent crawl/source rows decorrelate;
    the permutation reproduces on any engine/parallelism — same contract
    as ``operators.sampling.corpus_shuffle``), range-partitioned into
    ``num_shards`` shards (no global sort, no single task), and written
    one part-file per shard (``max_records_per_file`` splits further if a
    shard must stay under a loader's file-size bound).

    The manifest is what the training job's data loader reads instead of
    listing the directory: per-shard document (and token, when a
    ``n_tokens`` column exists) counts for deterministic epoch planning.
    It is computed from the written files — one read-back scan of
    corpus-local metadata — and saved next to the data as
    ``_shard_manifest.json`` through ``pyarrow.fs`` (local paths and URIs
    alike).

    Determinism note (``assignment="range"``, the default): the
    row→shard-file PERMUTATION is reproducible (it follows the
    content-stable ``__shuffle_key`` order), but the shard BOUNDARIES
    are not bit-stable across runs — ``repartitionByRange`` samples the
    key distribution to pick range splits, so per-shard row counts can
    vary slightly between runs on identical input.  Epoch planning must
    read the manifest of the run it trains on, never a manifest from an
    earlier write.

    ``assignment="hash"`` trades that last wobble away: shard membership
    becomes ``md5_60(salt‖key) % num_shards`` — a pure function of the
    row, bit-stable across runs, engines and parallelism (the manifest
    is value-oracle-able), written as ``shard=N/`` partition directories
    the loader can address directly.  Balance is binomial (±√(n/shards))
    instead of the range writer's near-exact split — the right default
    when reproducible membership matters more than the last few percent
    of balance (resumable epoch plans, cross-run diffing, legal holds).
    """
    import json as _json

    if assignment not in ("range", "hash"):
        raise ValueError(
            f"write_training_shards: assignment must be 'range' or 'hash', "
            f"got {assignment!r}"
        )
    keyed = df.withColumn(
        "__shuffle_key",
        F.md5(F.concat(F.lit(salt), F.col(shuffle_col).cast("string"))),
    )
    if assignment == "hash":
        from pdtable_spark.operators.dedup import shard_of

        keyed = keyed.withColumn(
            "shard", shard_of(F.col(shuffle_col), num_shards, salt).cast("int")
        )
        writer = (
            keyed.repartition(num_shards, "shard")
            .sortWithinPartitions("shard", "__shuffle_key")
            .drop("__shuffle_key")
            .write.mode("overwrite")
            .partitionBy("shard")
        )
    else:
        writer = (
            keyed.repartitionByRange(num_shards, "__shuffle_key")
            .sortWithinPartitions("__shuffle_key")
            .drop("__shuffle_key")
            .write.mode("overwrite")
        )
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)

    back = df.sparkSession.read.parquet(path)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    if "n_tokens" in back.columns:
        aggs.append(F.sum("n_tokens").alias("n_tokens"))
    shard_col = (
        F.col("shard").cast("string")
        if assignment == "hash"
        else F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    manifest = (
        back.withColumn("shard", shard_col)
        .groupBy("shard")
        .agg(*aggs)
        .orderBy("shard")
    )
    rows = [r.asDict() for r in manifest.collect()]
    fs, inner = filesystem(path)
    with fs.open_output_stream(inner.rstrip("/") + "/_shard_manifest.json") as f:
        f.write(_json.dumps(rows, indent=1, default=int).encode("utf-8"))
    return manifest


def key_sidecar(
    spark: SparkSession,
    path: str,
    key_col: str = "doc_id",
    num_hashes: int = 3,
    num_bits: int = 1 << 16,
) -> DataFrame:
    """Per-FILE key-pruning sidecar for a parquet dataset: one row per
    data file with ``(file, n_rows, key_min, key_max, bloom_pos)`` —
    ``bloom_pos`` is the RELATIONAL Bloom filter of the file's keys
    (sorted distinct md5_60 bit positions, the ``bloom_build``
    convention, so membership is "all of a key's positions present" with
    zero false negatives).  Write it next to the lake (e.g.
    ``path + ".sidecar"``) after each append/compaction; pass it to
    :func:`forget_keys` and the erasure FIND pass opens ONLY the files
    whose stats can contain a takedown key — at 100 TB that turns the
    find-pass cost floor (a full key+partition scan) into a
    sidecar-domain join plus a scan of the few candidate files, and a
    :func:`write_sorted_parquet` layout makes the [min, max] ranges
    disjoint so a key batch prunes to ~one file per key.

    Scale shape: ONE column-pruned scan of the dataset — the row stats
    and the Bloom ride the same aggregate over the exploded positions
    (``bloom_positions`` emits exactly ``num_hashes`` rows per input
    row, so ``n_rows = count / num_hashes`` is exact and min/max are
    unchanged by the duplication); the ``collect_set`` buffer is
    bounded by ``num_bits`` entries (≤ 0.5 MB at the 2^16 default),
    never by file row count.  ``bloom_hashes`` / ``bloom_bits`` stamps
    ride along (the grid-stamp pattern) so a probe at different Bloom
    parameters fails loudly instead of silently pruning wrong.
    """
    from pdtable_spark.operators.dedup import bloom_positions

    ex = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("file"),
        F.col(key_col).alias("__k"),
        F.explode(
            bloom_positions(F.col(key_col).cast("string"), num_hashes, num_bits)
        ).alias("p"),
    )
    return (
        ex.groupBy("file")
        .agg(
            (F.count(F.lit(1)) / F.lit(int(num_hashes)))
            .cast("long")
            .alias("n_rows"),
            F.min("__k").alias("key_min"),
            F.max("__k").alias("key_max"),
            F.array_sort(F.collect_set("p")).alias("bloom_pos"),
        )
        .select(
            "file",
            "n_rows",
            "key_min",
            "key_max",
            "bloom_pos",
            F.lit(int(num_hashes)).cast("int").alias("bloom_hashes"),
            F.lit(int(num_bits)).cast("int").alias("bloom_bits"),
        )
    )


def _sidecar_candidate_files(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str,
    sidecar: DataFrame,
    max_files: int = 65536,
) -> Optional[List[str]]:
    """The files a takedown batch can possibly touch: sidecar files whose
    ``[key_min, key_max]`` contains a key AND whose Bloom positions cover
    ALL of that key's positions (no false negatives — a present key's
    positions are all set), plus any dataset file ABSENT from the sidecar
    (stale-sidecar safety: files appended after the sidecar was written
    are unconditional candidates, never silently skipped).

    Returns ``None`` when pruning cannot help and the caller should scan
    the dataset directly (ADVICE r9 — never funnel an unbounded path list
    through the driver): an EMPTY sidecar rules nothing out, and a
    candidate set past ``max_files`` means the sidecar prunes too weakly
    for an explicit driver-side file list to beat the plain scan (the
    list is fetched with ``limit(max_files + 1)``, so driver memory is
    bounded by the cap regardless of how weak the pruning is).  Returns
    ``[]`` when the stats PROVE no current file can contain a key."""
    from pdtable_spark.operators.dedup import bloom_positions

    dataset_files = (
        spark.read.parquet(path)
        .select(F.col("_metadata.file_path").alias("file"))
        .distinct()
    )
    stamps = sidecar.select("bloom_hashes", "bloom_bits").distinct().collect()
    if len(stamps) > 1:
        raise ValueError(
            "key_sidecar: mixed Bloom parameter stamps "
            f"{sorted(map(tuple, stamps))} — rebuild to one parameter set"
        )
    if not stamps:
        # an EMPTY sidecar prunes nothing and rules nothing out (not a
        # 'mixed stamps []' error — review r9); scan the dataset directly
        # instead of collecting its entire file listing to the driver
        return None
    num_hashes, num_bits = int(stamps[0][0]), int(stamps[0][1])
    probe = (
        keys.select(F.col(key_col).alias("__k"))
        .distinct()
        .withColumn(
            "__pos",
            bloom_positions(F.col("__k").cast("string"), num_hashes, num_bits),
        )
    )
    cand = (
        sidecar.join(
            F.broadcast(probe),
            (F.col("__k") >= F.col("key_min"))
            & (F.col("__k") <= F.col("key_max"))
            & F.forall(
                F.col("__pos"),
                lambda p: F.array_contains(F.col("bloom_pos"), p),
            ),
            "left_semi",
        )
        .select("file")
    )
    stale = dataset_files.join(sidecar.select("file"), "file", "left_anti")
    # intersect with the CURRENT listing: a sidecar naming files a
    # compaction has since removed must not send deleted paths to the
    # reader (those files' rows live in new, sidecar-absent files, which
    # the stale branch already marks candidates — review r9)
    listed = (
        cand.unionByName(stale)
        .distinct()
        .join(dataset_files, "file", "left_semi")
        .limit(max_files + 1)
        .collect()
    )
    if len(listed) > max_files:
        return None
    return [r["file"] for r in listed]


def forget_keys(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    key_col: str = "doc_id",
    partition_col: Optional[str] = None,
    out_path: Optional[str] = None,
    sidecar: Optional[DataFrame] = None,
) -> DataFrame:
    """Right-to-erasure sweep: remove every row whose ``key_col`` appears
    in the ``keys`` frame, rewriting ONLY what the deletion touches, and
    return the per-partition erasure certificate — (``partition_col``
    value, n_forgotten, n_kept) — that a data-protection audit files.
    :func:`retention_delete` is the predicate/TTL spelling; this is the
    key-set spelling a GDPR/takedown queue actually produces.

    With ``partition_col`` (a partition-discovered dataset): one
    column-pruned find pass locates the affected partition values (the
    keys side broadcasts — takedown batches are small), then ONLY those
    partitions are rewritten under ``out_path`` (default
    ``path + ".forget"``), laid out with the same ``partitionBy`` so the
    caller swaps each listed partition directory — the module's
    copy-on-write/caller-rename convention, per partition.  Untouched
    partitions: zero bytes read beyond the find pass, zero written.  A
    FULLY-erased partition appears in the certificate with
    ``n_kept = 0`` and writes no output directory — the swap for that
    entry is a delete; do not skip it.

    Without ``partition_col``: whole-table anti-join rewrite (the
    :func:`retention_delete` shape) and a single certificate row with a
    NULL partition value.

    At 100 TB the find pass is the cost floor (one scan of key +
    partition columns).  Pass ``sidecar`` (a :func:`key_sidecar` frame
    written for ``path``) and the find pass opens ONLY the candidate
    files the sidecar's min/max + Bloom stats cannot rule out (files
    newer than the sidecar stay unconditional candidates, Bloom false
    positives only cost extra reads — correctness never depends on the
    sidecar); compose with :func:`write_sorted_parquet` so key ranges
    are disjoint and a key batch prunes to ~one file per key.  The
    rewrite still reads its affected partitions IN FULL from ``path``
    (a partition directory swap must carry the partition's untouched
    files too).  ``sidecar`` applies to the partitioned mode only — the
    whole-table rewrite must read everything regardless, so it is
    ignored without ``partition_col``.
    """
    df = spark.read.parquet(path)
    k = keys.select(F.col(key_col)).distinct()
    out = out_path or path.rstrip("/") + ".forget"
    kf = F.broadcast(k.withColumn("__hit", F.lit(1)))
    if partition_col is None:
        # ONE counting scan (SUM(hit) + SUM(1-hit) off a single
        # broadcast-join pass) instead of separate semi- and anti-join
        # counts — at the scale this module sizes against, each extra
        # count is a full table read, and a certificate assembled from
        # independent reads of a mutable path can disagree with itself
        # persist() so the certificate agg and the rewrite normally
        # consume one materialization instead of two reads of a mutable
        # path (ADVICE r8).  Best-effort, NOT a transaction: an evicted
        # or lost cached block recomputes from the source, so a
        # concurrent writer in that window can still skew the pair —
        # snapshot the input (or stop writers) for a court-grade
        # certificate; MEMORY_AND_DISK spills rather than OOMs at scale
        flagged = df.join(kf, key_col, "left").persist()
        try:
            row = flagged.agg(
                F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_f"),
                F.sum(F.lit(1) - F.coalesce(F.col("__hit"), F.lit(0))).alias("n_k"),
            ).collect()[0]
            flagged.filter(F.col("__hit").isNull()).drop("__hit").write.mode(
                "overwrite"
            ).parquet(out)
        finally:
            flagged.unpersist()
        from pyspark.sql.types import StructType

        return local_frame(
            spark,
            StructType.fromDDL(
                f"{partition_col or 'partition'} string, n_forgotten long, n_kept long"
            ),
            rows=[(None, int(row["n_f"] or 0), int(row["n_k"] or 0))],
        )
    find_src = df
    if sidecar is not None:
        cand_files = _sidecar_candidate_files(spark, path, k, key_col, sidecar)
        if cand_files is not None and not cand_files:
            # the stats PROVE no file can contain a takedown key
            return (
                df.select(partition_col)
                .limit(0)
                .withColumn("n_forgotten", F.lit(0).cast("long"))
                .withColumn("n_kept", F.lit(0).cast("long"))
            )
        if cand_files is not None:
            find_src = spark.read.option("basePath", path).parquet(*cand_files)
        # cand_files is None: pruning can't help (empty or weakly-pruning
        # sidecar) — find_src stays the plain dataset scan
    hits = (
        find_src.join(F.broadcast(k), key_col, "left_semi")
        .groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("n_forgotten"))
    )
    parts = [r[0] for r in hits.select(partition_col).collect()]
    if any(p is None for p in parts):
        # isin(None) never matches, so a NULL-partition hit would be
        # SILENTLY skipped — in an erasure sweep that is a compliance
        # failure, not a detail.  (Hive writes NULL partitions as
        # __HIVE_DEFAULT_PARTITION__; normalize them before sweeping.)
        raise ValueError(
            "forget_keys: keys found in a NULL partition value — rewrite "
            "the NULL partition explicitly (or run without partition_col) "
            "before relying on this certificate"
        )
    if not parts:
        return hits.withColumn("n_kept", F.lit(0).cast("long")).select(
            partition_col, "n_forgotten", F.col("n_kept")
        )
    # ONE flagged frame over the affected partitions feeds BOTH
    # certificate counts (one agg) and the rewrite — persist() makes
    # them normally consume a single materialization instead of two
    # reads of a mutable path (ADVICE r8).  Best-effort, NOT a
    # transaction: an evicted/lost cached block recomputes from the
    # source, so a concurrent writer in that window can still skew the
    # pair — snapshot the input (or stop writers) for a court-grade
    # certificate; MEMORY_AND_DISK spills rather than OOMs on a large
    # touched set
    flagged = (
        df.filter(F.col(partition_col).isin(parts))
        .join(kf, key_col, "left")
        .persist()
    )
    try:
        cert = flagged.groupBy(partition_col).agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_forgotten"),
            F.sum(F.lit(1) - F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        cert_rows = cert.collect()  # certificate pinned BEFORE the write
        flagged.filter(F.col("__hit").isNull()).drop("__hit").write.mode(
            "overwrite"
        ).partitionBy(partition_col).parquet(out)
    finally:
        flagged.unpersist()
    return local_frame(spark, cert.schema, rows=cert_rows)

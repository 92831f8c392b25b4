"""Lake queries (``lake_*``): clustered lake layouts (Z-order, Hilbert), the
pruning certificates of ``io.maintenance`` (zone maps, Bloom sidecars,
semi-join pruning, versioned manifests) and their refresh, compaction and
diff lifecycles.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdtable_spark.queries.suite import _sql_bloom_pos, load, q, scratch_dir


# ---------------------------------------------------------------------------
# Z-order clustering key under the value gate
# (io/maintenance.py::int_bucket / zorder_key / write_zordered_parquet,
#  new round 10 — the multi-column completion of write_sorted_parquet:
#  plain-parquet OPTIMIZE ZORDER BY)
# ---------------------------------------------------------------------------

def _sql_interleave2(b1: str, b2: str, bits: int) -> str:
    """The Morton interleave as explicit SQL bit arithmetic — bit ``b`` of
    ``b1`` at position ``2b``, of ``b2`` at ``2b+1`` (matches
    ``maintenance.zorder_key``'s ``b*k + i`` layout for k=2)."""
    terms = []
    for b in range(bits):
        terms.append(f"((({b1} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({b2} >> {b}) & 1) << {2 * b + 1})")
    return " | ".join(terms)


_ZBITS = 6  # 64 buckets/column -> 4096-key curve, 64 cells after >> 6


def _sql_bucket(x: str, lo: str, hi: str) -> str:
    """``maintenance.int_bucket`` as DuckDB SQL: ``x`` bucketed into
    ``2^_ZBITS`` edges over ``[lo, hi]``, clamped."""
    return (
        f"LEAST({(1 << _ZBITS) - 1}, GREATEST(0,\n"
        f"               CAST(FLOOR((({x} - {lo}) * {1 << _ZBITS}) / ({hi} - {lo} + 1.0))\n"
        "                    AS BIGINT)))"
    )


#: The oracles' ``p`` CTE: the predicate band of :func:`_z_orders`.
_SQL_BAND = """p AS (
      SELECT lo1 + CAST(FLOOR((hi1 - lo1) * 30 / 100.0) AS BIGINT) AS ck_lo,
             lo1 + CAST(FLOOR((hi1 - lo1) * 45 / 100.0) AS BIGINT) AS ck_hi,
             lo2 + CAST(FLOOR((hi2 - lo2) * 40 / 100.0) AS BIGINT) AS ce_lo,
             lo2 + CAST(FLOOR((hi2 - lo2) * 60 / 100.0) AS BIGINT) AS ce_hi
      FROM b
    ),"""


def _orders(spark, sf_dir, *names):
    """``orders`` as the lake builders' columns, in the order named:
    ``okey`` (o_orderkey), ``ck`` (o_custkey), ``cents`` (o_totalprice in
    integer cents — integral, so the curve keys reproduce in DuckDB) and
    ``phase`` (o_orderkey % 2, the two writes of the append lifecycles)."""
    spelled = {
        "okey": F.col("o_orderkey"),
        "ck": F.col("o_custkey"),
        "cents": F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"),
        "phase": F.col("o_orderkey") % 2,
    }
    return load(spark, sf_dir, "orders").select(*[spelled[n].alias(n) for n in names])


def _bounds(df, *cols):
    """``[lo, hi]`` of each of ``cols``, flattened, from one bounded
    min/max aggregate (the persistable bounds artifact)."""
    row = df.agg(*[agg(c) for c in cols for agg in (F.min, F.max)]).collect()[0]
    return [int(v) for v in row]


def _buckets(bounds):
    """``ck`` and ``cents`` bucketed into ``2^_ZBITS`` edges over
    ``bounds = (lo1, hi1, lo2, hi2)``: the two curve inputs."""
    from pdtable_spark.io import maintenance as mnt

    lo1, hi1, lo2, hi2 = bounds
    return [
        mnt.int_bucket(F.col("ck"), lo1, hi1, _ZBITS),
        mnt.int_bucket(F.col("cents"), lo2, hi2, _ZBITS),
    ]


def _z_orders(spark, sf_dir, *extra):
    """The Z-clustered ``orders`` lake the zone-map builders certify, as
    ``(keyed, preds)``: ``keyed`` holds ``ck``, ``cents``, the ``extra``
    columns and ``z_file``, the coarse Z-curve cell (``zkey >> _ZBITS``,
    one file per cell through :func:`_write_cells`); ``preds`` is the
    conjunctive band every reader answers, 30–45 % of the ``ck`` range
    and 40–60 % of the ``cents`` range (the oracles' ``p`` CTE)."""
    from pdtable_spark.io import maintenance as mnt

    o = _orders(spark, sf_dir, "ck", "cents", *extra)
    lo1, hi1, lo2, hi2 = bounds = _bounds(o, "ck", "cents")
    z = mnt.zorder_key(_buckets(bounds), _ZBITS)
    preds = {
        "ck": (lo1 + (hi1 - lo1) * 30 // 100, lo1 + (hi1 - lo1) * 45 // 100),
        "cents": (lo2 + (hi2 - lo2) * 40 // 100, lo2 + (hi2 - lo2) * 60 // 100),
    }
    return o.withColumn("z_file", F.shiftright(z, _ZBITS)), preds


def _write_cells(df, d, cell, mode="overwrite", n_cells=1 << _ZBITS):
    """Write ``df`` to ``d`` as one file per value of ``cell``: the
    ``n_cells`` cells hash into at most one task per executor slot, each
    cell into exactly one task, then ``partitionBy`` splits on it — a
    file layout deterministic by construction, so the oracle can restate
    per-file footer stats as per-cell arithmetic.  A write task's fixed
    cost does not shrink with its rows, and these cells hold a few
    hundred rows each, so a task per slot beats a task per cell.  The
    count stays explicit: AQE may coalesce a count-less
    ``repartition(cell)`` into one task."""
    tasks = min(n_cells, df.sparkSession.sparkContext.defaultParallelism)
    df.repartition(tasks, cell).write.mode(mode).partitionBy(cell).parquet(d)


def _customer_keys(spark, sf_dir, lo):
    """The dimension side of the pruned joins: customer keys from ``lo``
    up, as ``ck``."""
    return (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= lo)
        .select(F.col("c_custkey").alias("ck"))
    )


def _file_counts(rep):
    """The file accounting of a pruned read's report."""
    return {k: rep[k] for k in ("n_files_total", "n_files_read", "n_files_skipped")}


def _answer(df, **counts):
    """The oracled row of a lake builder: ``counts`` as long columns, in
    order, then ``(n_orders, sum_cents)`` over ``df`` — the residual-
    filtered answer, which is wrong if pruning dropped a file it should
    have read."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("sum_cents"),
    ).select(
        *[F.lit(v).cast("long").alias(k) for k, v in counts.items()],
        "n_orders",
        "sum_cents",
    )

_SQL_LAKE_ZORDER = f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT MIN(ck) AS lo1, MAX(ck) AS hi1,
             MIN(cents) AS lo2, MAX(cents) AS hi2
      FROM o
    ),
    k AS (
      SELECT {_sql_bucket('ck', 'lo1', 'hi1')} AS b1,
             {_sql_bucket('cents', 'lo2', 'hi2')} AS b2,
             cents
      FROM o CROSS JOIN b
    ),
    z AS (SELECT cents, {_sql_interleave2('b1', 'b2', _ZBITS)} AS zkey FROM k)
    SELECT zkey >> {_ZBITS} AS z_cell,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(zkey) AS BIGINT) AS min_z,
           CAST(MAX(zkey) AS BIGINT) AS max_z
    FROM z GROUP BY z_cell ORDER BY z_cell
"""


@q("lake_zorder_cells", _SQL_LAKE_ZORDER)
def lake_zorder_cells(spark, sf_dir):
    """The Z-order clustering key under the value gate: bucket
    (o_custkey, integer-cents totalprice) into 2^6 edges each — the same
    exact-integer arithmetic ``write_zordered_parquet`` sorts the lake
    by — interleave, and profile the 64 coarse curve cells (count, cents
    mass, key range).  The oracle recomputes bucket, interleave and cell
    arithmetic bit-for-bit in DuckDB, which is exactly the property the
    layout job needs: engine-independent keys mean an append written by a
    different engine lands in the same curve position.

    Plan shape: one bounded 4-value min/max aggregate (the persistable
    bounds artifact), then one scan + codegen bit arithmetic + one
    64-group aggregate — the profiling pass is strictly cheaper than the
    layout job it certifies (which adds only the range shuffle)."""

    from pdtable_spark.io import maintenance as mnt

    o = _orders(spark, sf_dir, "ck", "cents")
    z = mnt.zorder_key(_buckets(_bounds(o, "ck", "cents")), _ZBITS)
    return (
        o.withColumn("zkey", z)
        .groupBy(F.shiftright(F.col("zkey"), _ZBITS).alias("z_cell"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
            F.min("zkey").alias("min_z"),
            F.max("zkey").alias("max_z"),
        )
        .orderBy("z_cell")
    )


# ---------------------------------------------------------------------------
# The READ side of the Z-order pruning certificate:
# write a clustered lake with a DETERMINISTIC file layout, plan a
# conjunctive range predicate, read through io.maintenance.pruned_read,
# and return BOTH the files-read accounting and the pruned answer — the
# oracle recomputes file membership, intersection and the answer from
# the same exact-integer curve arithmetic.
# ---------------------------------------------------------------------------

_SQL_LAKE_PRUNED_READ = f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT MIN(ck) AS lo1, MAX(ck) AS hi1,
             MIN(cents) AS lo2, MAX(cents) AS hi2
      FROM o
    ),
    k AS (
      SELECT ck, cents,
             {_sql_bucket('ck', 'lo1', 'hi1')} AS b1,
             {_sql_bucket('cents', 'lo2', 'hi2')} AS b2
      FROM o CROSS JOIN b
    ),
    z AS (
      SELECT ck, cents,
             ({_sql_interleave2('b1', 'b2', _ZBITS)}) >> {_ZBITS} AS z_file
      FROM k
    ),
    {_SQL_BAND}
    fstats AS (
      SELECT z_file, MIN(ck) AS min_ck, MAX(ck) AS max_ck,
             MIN(cents) AS min_ce, MAX(cents) AS max_ce
      FROM z GROUP BY z_file
    ),
    kept AS (
      SELECT z_file FROM fstats CROSS JOIN p
      WHERE NOT (max_ck < ck_lo OR min_ck > ck_hi)
        AND NOT (max_ce < ce_lo OR min_ce > ce_hi)
    ),
    answer AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM z CROSS JOIN p
      WHERE ck BETWEEN ck_lo AND ck_hi AND cents BETWEEN ce_lo AND ce_hi
    )
    SELECT CAST((SELECT COUNT(*) FROM fstats) AS BIGINT) AS n_files_total,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_read,
           CAST((SELECT COUNT(*) FROM fstats)
                - (SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_skipped,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(sum_cents AS BIGINT) AS sum_cents
    FROM answer
"""


@q("lake_pruned_read", _SQL_LAKE_PRUNED_READ)
def lake_pruned_read(spark, sf_dir):
    """End-to-end read-side pruning proof: orders are written as a
    clustered lake whose FILE layout is deterministic by construction —
    one file per coarse Z-curve cell (``zkey >> {bits}``), achieved by
    hashing the cell ids into one task per executor slot (each cell in
    exactly one task) and ``partitionBy``-ing on them, so
    per-file min/max footer stats ARE per-cell min/max and the oracle
    can restate the whole certificate as curve arithmetic.  A
    conjunctive range predicate (a 15%x20% band of the bounds) then
    reads through :func:`pdtable_spark.io.maintenance.pruned_read`,
    with the certificate coming from the PERSISTED zone-map sidecar
    (``write_zone_map`` → validated ``zone_map`` load — the stats
    manifest, so the read scans no data column to decide its file set):
    files-total/read/skipped come from the certificate-driven scan (the
    frame's FileIndex holds exactly the kept files), and
    (n_orders, sum_cents) is the residual-filtered answer off that
    pruned scan — if pruning dropped a file it shouldn't have, the
    aggregate is wrong and the value oracle catches it.

    Scale shape: one bounded min/max aggregate, one clustered write
    (the lake being certified; its tasks follow the executor slots, not
    the cells, while its files follow the cells), one footer read per
    file for the certificate (no Spark job), then a scan that opens ONLY
    intersecting files — the 100 TB story where
    a selective predicate touches a handful of files, not the lake.
    """

    from pdtable_spark.io import maintenance as mnt

    keyed, preds = _z_orders(spark, sf_dir)
    d = scratch_dir("lakeread")
    _write_cells(keyed, d, "z_file")
    # the full manifest path: persist the certificate as the hidden
    # zone-map sidecar, load it VALIDATED, and prune from it — the read
    # decides its file set without scanning a single data column
    mnt.write_zone_map(spark, d, ["ck", "cents"])
    pruned, rep = mnt.pruned_read(
        spark, d, preds, stats=mnt.zone_map(spark, d, ["ck", "cents"])
    )
    return _answer(pruned, **_file_counts(rep))


# ---------------------------------------------------------------------------
# Hilbert clustering key under the value gate: lake_zorder_cells' sibling
# for curve='hilbert' — until now the Hilbert walk was pinned only by the
# python-parity/adjacency pytest; this puts the exact rotate-and-reflect
# arithmetic under the cross-engine oracle too (an append written by a
# different engine lands in the same curve position).
# ---------------------------------------------------------------------------

def _sql_hilbert_ctes(bits: int) -> str:
    """Unroll maintenance.hilbert_key's xy→d walk into one CTE per level
    (s = 2^(bits-1) … 1), each step pure integer CASE arithmetic —
    exactly the fold the Spark column expression runs."""
    ctes = []
    for step in range(1, bits + 1):
        s = 1 << (bits - step)
        prev = "h0" if step == 1 else f"h{step - 1}"
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        quad = (
            f"(CASE WHEN {rx} = 1 AND {ry} = 1 THEN 2 "
            f"WHEN {rx} = 1 THEN 3 WHEN {ry} = 1 THEN 1 ELSE 0 END)"
        )
        fx = f"(CASE WHEN {rx} = 1 THEN {s - 1} - x ELSE x END)"
        fy = f"(CASE WHEN {rx} = 1 THEN {s - 1} - y ELSE y END)"
        ctes.append(
            f"h{step} AS (SELECT cents,\n"
            f"  CASE WHEN {ry} = 1 THEN x ELSE {fy} END AS x,\n"
            f"  CASE WHEN {ry} = 1 THEN y ELSE {fx} END AS y,\n"
            f"  d + {s * s} * {quad} AS d\n"
            f"  FROM {prev})"
        )
    return ",\n    ".join(ctes)


_SQL_LAKE_HILBERT = f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT MIN(ck) AS lo1, MAX(ck) AS hi1,
             MIN(cents) AS lo2, MAX(cents) AS hi2
      FROM o
    ),
    k AS (
      SELECT {_sql_bucket('ck', 'lo1', 'hi1')} AS b1,
             {_sql_bucket('cents', 'lo2', 'hi2')} AS b2,
             cents
      FROM o CROSS JOIN b
    ),
    h0 AS (SELECT cents, b1 AS x, b2 AS y, CAST(0 AS BIGINT) AS d FROM k),
    {_sql_hilbert_ctes(_ZBITS)}
    SELECT d >> {_ZBITS} AS h_cell,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(d) AS BIGINT) AS min_h,
           CAST(MAX(d) AS BIGINT) AS max_h
    FROM h{_ZBITS} GROUP BY h_cell ORDER BY h_cell
"""


@q("lake_hilbert_cells", _SQL_LAKE_HILBERT)
def lake_hilbert_cells(spark, sf_dir):
    """The Hilbert clustering key under the value gate: same buckets as
    ``lake_zorder_cells``, but the adjacency-preserving rotate-and-
    reflect walk (``maintenance.hilbert_key`` — one bounded F.aggregate
    fold, constant codegen) instead of the Morton interleave; the
    oracle unrolls the identical walk level-by-level in DuckDB integer
    CASE arithmetic.  Profiles the 64 coarse curve cells (count, cents
    mass, key range) — and because the Hilbert curve never jumps, each
    cell is one contiguous spatial run, the property that makes its
    per-file boxes tighter than Z at the same file count.

    Plan shape: one bounded min/max aggregate, one scan + codegen fold
    + one 64-group aggregate — same as the Z sibling."""

    from pdtable_spark.io import maintenance as mnt
    from pdtable_spark.operators.scanfan import fanout_small_scan

    o = _orders(spark, sf_dir, "ck", "cents")
    hk = mnt.hilbert_key(*_buckets(_bounds(o, "ck", "cents")), _ZBITS)
    return (
        fanout_small_scan(o).withColumn("hkey", hk)
        .groupBy(F.shiftright(F.col("hkey"), _ZBITS).alias("h_cell"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
            F.min("hkey").alias("min_h"),
            F.max("hkey").alias("max_h"),
        )
        .orderBy("h_cell")
    )


# ---------------------------------------------------------------------------
# Dynamic file pruning from a dimension key set: pruned_semi_read — the
# plain-parquet DPP shape for a star join on a key-clustered lake.
# ---------------------------------------------------------------------------

_SQL_LAKE_PRUNED_SEMI = f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (SELECT MIN(ck) AS lo1, MAX(ck) AS hi1 FROM o),
    f AS (
      SELECT ck, cents,
             {_sql_bucket('ck', 'lo1', 'hi1')} AS k_file
      FROM o CROSS JOIN b
    ),
    keys AS (
      SELECT DISTINCT c_custkey AS k FROM customer CROSS JOIN b
      WHERE c_custkey >= hi1 - CAST(FLOOR((hi1 - lo1) * 5 / 100.0) AS BIGINT)
    ),
    fstats AS (
      SELECT k_file, MIN(ck) AS min_ck, MAX(ck) AS max_ck
      FROM f GROUP BY k_file
    ),
    kept AS (
      SELECT k_file FROM fstats
      WHERE EXISTS (SELECT 1 FROM keys
                    WHERE keys.k BETWEEN fstats.min_ck AND fstats.max_ck)
    ),
    answer AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM f WHERE ck IN (SELECT k FROM keys)
    )
    SELECT CAST((SELECT COUNT(*) FROM fstats) AS BIGINT) AS n_files_total,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_read,
           CAST((SELECT COUNT(*) FROM fstats)
                - (SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_skipped,
           CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(sum_cents AS BIGINT) AS sum_cents
    FROM answer
"""


@q("lake_pruned_semi_read", _SQL_LAKE_PRUNED_SEMI)
def lake_pruned_semi_read(spark, sf_dir):
    """Dynamic file pruning under the value gate: orders live as a lake
    clustered on customer key (one file per 2^6 key bucket, the
    deterministic ``partitionBy``-on-bucket layout), the dimension side
    is the NEWEST 5% of customers (monotone signup ids — the realistic
    localized slice: "orders of recently-registered customers"), and
    ``io.maintenance.pruned_semi_read`` turns that key set into the
    file scan set BEFORE the join — binary search over footer ranges,
    broadcast LEFT SEMI as the exact residual.  On this layout the 5%
    key band touches a handful of files; the oracle recomputes file
    membership, intersection and the joined aggregate from the same
    bucket arithmetic.

    Scale shape: one bounded min/max aggregate, one clustered write,
    one footer read per file for the stats, a driver-side bisect over ≤
    |dim| keys, then a scan of ONLY matching files into a broadcast
    semi join — the DPP story without a transactional table format."""

    from pdtable_spark.io import maintenance as mnt

    o = _orders(spark, sf_dir, "ck", "cents")
    lo1, hi1 = _bounds(o, "ck")
    d = scratch_dir("lakesemi")
    _write_cells(o.withColumn("k_file", mnt.int_bucket(F.col("ck"), lo1, hi1, _ZBITS)), d, "k_file")
    keys = _customer_keys(spark, sf_dir, hi1 - (hi1 - lo1) * 5 // 100)
    semi, rep = mnt.pruned_semi_read(spark, d, "ck", keys)
    return _answer(semi, **_file_counts(rep), n_keys=rep["n_keys"])


# ---------------------------------------------------------------------------
# Point-lookup file pruning from the per-file Bloom sidecar: the lookup
# shape zone maps cannot serve — a scattered high-cardinality key where
# every file spans the whole domain.
# ---------------------------------------------------------------------------

_BLOOM_K = 3
_BLOOM_M = 1 << 20


_SQL_LAKE_BLOOM_PRUNED = f"""
    WITH o AS (
      SELECT o_orderkey AS okey, o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT MIN(okey) AS lo_k, MAX(okey) AS hi_k,
             MIN(ck) AS lo_c, MAX(ck) AS hi_c
      FROM o
    ),
    f AS (
      SELECT okey, ck, cents,
             {_sql_bucket('okey', 'lo_k', 'hi_k')} AS b_file
      FROM o CROSS JOIN b
    ),
    keys AS (
      SELECT ck FROM (
        SELECT DISTINCT c_custkey AS ck FROM customer CROSS JOIN b
        WHERE c_custkey >= lo_c + CAST(FLOOR((hi_c - lo_c) * 37 / 100.0)
                                       AS BIGINT)
      ) ORDER BY ck LIMIT 5
    ),
    fk AS (SELECT DISTINCT b_file, ck FROM f),
    sidecar AS (
      SELECT DISTINCT b_file, pos FROM (
        SELECT b_file, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 0, _BLOOM_M)} AS pos FROM fk
        UNION ALL
        SELECT b_file, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 1, _BLOOM_M)} FROM fk
        UNION ALL
        SELECT b_file, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 2, _BLOOM_M)} FROM fk
      )
    ),
    kpos AS (
      SELECT ck, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 0, _BLOOM_M)} AS pos FROM keys
      UNION ALL
      SELECT ck, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 1, _BLOOM_M)} FROM keys
      UNION ALL
      SELECT ck, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 2, _BLOOM_M)} FROM keys
    ),
    kept AS (
      SELECT DISTINCT b_file FROM (
        SELECT s.b_file, kpos.ck
        FROM sidecar s JOIN kpos ON s.pos = kpos.pos
        GROUP BY s.b_file, kpos.ck
        HAVING COUNT(*) = {_BLOOM_K}
      )
    ),
    answer AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM f WHERE ck IN (SELECT ck FROM keys)
    )
    SELECT CAST((SELECT COUNT(DISTINCT b_file) FROM f) AS BIGINT)
             AS n_files_total,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_read,
           CAST((SELECT COUNT(DISTINCT b_file) FROM f)
                - (SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_skipped,
           CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(sum_cents AS BIGINT) AS sum_cents
    FROM answer
"""


@q("lake_bloom_pruned_read", _SQL_LAKE_BLOOM_PRUNED)
def lake_bloom_pruned_read(spark, sf_dir):
    """Bloom point-lookup pruning under the value gate: orders live
    bucketed by ORDER key (one file per 2^6 bucket — so each customer's
    handful of orders scatter across files and a zone map on the
    customer key cannot prune anything), the probe set is the first
    FIVE custkeys past a bounds-derived offset, and ``io.maintenance.bloom_pruned_read`` decides the
    file set from the persisted per-file Bloom sidecar — one broadcast
    hash join, exact answers via the residual semi join.  The oracle
    recomputes every md5 position, the per-file position sets, the
    all-k-positions containment (false positives included — the oracle
    models the FILTER, not the ideal), and the joined aggregate.

    Scale shape: sidecar build is one scan + a per-file distinct;
    probing costs a broadcast join against a KB key set; the data scan
    opens only hit files.  The unclusterable-key complement of
    ``lake_pruned_semi_read``."""

    from pdtable_spark.io import maintenance as mnt

    o = _orders(spark, sf_dir, "okey", "ck", "cents")
    lo_k, hi_k, lo_c, hi_c = _bounds(o, "okey", "ck")
    d = scratch_dir("lakebloom")
    _write_cells(o.withColumn("b_file", mnt.int_bucket(F.col("okey"), lo_k, hi_k, _ZBITS)), d, "b_file")
    mnt.write_bloom_sidecar(
        spark, d, "ck", num_hashes=_BLOOM_K, num_bits=_BLOOM_M
    )
    keys = _customer_keys(spark, sf_dir, lo_c + (hi_c - lo_c) * 37 // 100)
    got, rep = mnt.bloom_pruned_read(
        spark, d, "ck", keys.distinct().orderBy("ck").limit(5),
        num_hashes=_BLOOM_K, num_bits=_BLOOM_M,
    )
    return _answer(got, **_file_counts(rep), n_keys=rep["n_keys"])


# ---------------------------------------------------------------------------
# Sidecar REFRESH lifecycles under the value gate (round-12 engineering:
# refresh_bloom_sidecar + crash-safe swaps): the r12 rows prove the
# build→read leg; these prove the append→INCREMENTAL-refresh→read leg —
# the posture a 100 TB lake with append cadence actually runs.  Layout
# and oracle construction follow lake_pruned_read / lake_bloom_pruned_read,
# with the lake written in TWO phases so each (bucket,
# phase) pair is one deterministic file and the oracle can restate the
# refreshed sidecar as arithmetic.
# ---------------------------------------------------------------------------


_SQL_LAKE_ZONE_REFRESH = f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey % 2 AS phase
      FROM orders
    ),
    b AS (
      SELECT MIN(ck) AS lo1, MAX(ck) AS hi1,
             MIN(cents) AS lo2, MAX(cents) AS hi2
      FROM o
    ),
    k AS (
      SELECT ck, cents, phase,
             {_sql_bucket('ck', 'lo1', 'hi1')} AS b1,
             {_sql_bucket('cents', 'lo2', 'hi2')} AS b2
      FROM o CROSS JOIN b
    ),
    z AS (
      SELECT ck, cents, phase,
             ({_sql_interleave2('b1', 'b2', _ZBITS)}) >> {_ZBITS} AS z_file
      FROM k
    ),
    {_SQL_BAND}
    fstats AS (
      SELECT z_file, phase, MIN(ck) AS min_ck, MAX(ck) AS max_ck,
             MIN(cents) AS min_ce, MAX(cents) AS max_ce
      FROM z GROUP BY z_file, phase
    ),
    kept AS (
      SELECT z_file, phase FROM fstats CROSS JOIN p
      WHERE NOT (max_ck < ck_lo OR min_ck > ck_hi)
        AND NOT (max_ce < ce_lo OR min_ce > ce_hi)
    ),
    answer AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM z CROSS JOIN p
      WHERE ck BETWEEN ck_lo AND ck_hi AND cents BETWEEN ce_lo AND ce_hi
    )
    SELECT CAST((SELECT COUNT(*) FROM fstats) AS BIGINT) AS n_files_total,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_read,
           CAST((SELECT COUNT(*) FROM fstats)
                - (SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_skipped,
           CAST((SELECT COUNT(*) FROM fstats WHERE phase = 1) AS BIGINT)
             AS n_files_added,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(sum_cents AS BIGINT) AS sum_cents
    FROM answer
"""


@q("lake_zone_refresh_read", _SQL_LAKE_ZONE_REFRESH)
def lake_zone_refresh_read(spark, sf_dir):
    """The zone map's APPEND lifecycle end-to-end under the value gate:
    phase-0 orders land as the clustered lake and get the full
    certificate build (``write_zone_map``); phase-1 orders APPEND into
    the same cell directories (one new file per populated cell); then
    ``refresh_zone_map`` reads ONLY the new files' footers (n_added travels in
    the oracled row — a refresh that rescanned or missed files shows up
    as a wrong count), the refreshed sidecar loads VALIDATED, and
    ``pruned_read`` answers a conjunctive range predicate with
    files-total/read/skipped accounting.  A refresh that produced wrong
    stats for any file moves n_files_read or the residual aggregate and
    fails the hash."""

    from pdtable_spark.io import maintenance as mnt

    keyed, preds = _z_orders(spark, sf_dir, "phase")
    d = scratch_dir("lakezref")
    for phase, mode in ((0, "overwrite"), (1, "append")):
        _write_cells(keyed.filter(F.col("phase") == phase).drop("phase"), d, "z_file", mode)
        if phase == 0:
            mnt.write_zone_map(spark, d, ["ck", "cents"])
    rrep = mnt.refresh_zone_map(spark, d, ["ck", "cents"])
    pruned, rep = mnt.pruned_read(
        spark, d, preds, stats=mnt.zone_map(spark, d, ["ck", "cents"])
    )
    return _answer(pruned, **_file_counts(rep), n_files_added=rrep["n_added"])


_SQL_LAKE_BLOOM_REFRESH = f"""
    WITH o AS (
      SELECT o_orderkey AS okey, o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey % 2 AS phase
      FROM orders
    ),
    b AS (
      SELECT MIN(okey) AS lo_k, MAX(okey) AS hi_k,
             MIN(ck) AS lo_c, MAX(ck) AS hi_c
      FROM o
    ),
    f AS (
      SELECT okey, ck, cents, phase,
             {_sql_bucket('okey', 'lo_k', 'hi_k')} AS b_file
      FROM o CROSS JOIN b
    ),
    keys AS (
      SELECT ck FROM (
        SELECT DISTINCT c_custkey AS ck FROM customer CROSS JOIN b
        WHERE c_custkey >= lo_c + CAST(FLOOR((hi_c - lo_c) * 37 / 100.0)
                                       AS BIGINT)
      ) ORDER BY ck LIMIT 5
    ),
    fk AS (SELECT DISTINCT b_file, phase, ck FROM f),
    sidecar AS (
      SELECT DISTINCT b_file, phase, pos FROM (
        SELECT b_file, phase, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 0, _BLOOM_M)} AS pos
        FROM fk
        UNION ALL
        SELECT b_file, phase, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 1, _BLOOM_M)} FROM fk
        UNION ALL
        SELECT b_file, phase, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 2, _BLOOM_M)} FROM fk
      )
    ),
    kpos AS (
      SELECT ck, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 0, _BLOOM_M)} AS pos FROM keys
      UNION ALL
      SELECT ck, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 1, _BLOOM_M)} FROM keys
      UNION ALL
      SELECT ck, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 2, _BLOOM_M)} FROM keys
    ),
    kept AS (
      SELECT DISTINCT b_file, phase FROM (
        SELECT s.b_file, s.phase, kpos.ck
        FROM sidecar s JOIN kpos ON s.pos = kpos.pos
        GROUP BY s.b_file, s.phase, kpos.ck
        HAVING COUNT(*) = {_BLOOM_K}
      )
    ),
    answer AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM f WHERE ck IN (SELECT ck FROM keys)
    )
    SELECT CAST((SELECT COUNT(DISTINCT (b_file, phase)) FROM f) AS BIGINT)
             AS n_files_total,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_read,
           CAST((SELECT COUNT(DISTINCT (b_file, phase)) FROM f)
                - (SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_skipped,
           CAST((SELECT COUNT(DISTINCT b_file) FROM f WHERE phase = 1)
                AS BIGINT) AS n_files_added,
           CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(sum_cents AS BIGINT) AS sum_cents
    FROM answer
"""


@q("lake_bloom_refresh_read", _SQL_LAKE_BLOOM_REFRESH)
def lake_bloom_refresh_read(spark, sf_dir):
    """The Bloom sidecar's APPEND lifecycle end-to-end under the value
    gate (the round-12 refresh_bloom_sidecar, in the
    lake_bloom_pruned_read layout): phase-0 orders land bucketed by
    ORDER key with the full sidecar build; phase-1 orders APPEND one
    new file per populated bucket; ``refresh_bloom_sidecar`` hashes
    ONLY the new files (n_files_added travels in the oracled row),
    and ``bloom_pruned_read`` probes five custkeys against the
    refreshed sidecar — the oracle recomputes every md5 position per
    (bucket, phase) FILE, the all-k containment (false positives
    modeled, not idealized), the file accounting, and the residual
    aggregate.  A refresh that merged wrong positions or missed a file
    moves n_files_read or the answer and fails the hash."""

    from pdtable_spark.io import maintenance as mnt

    o = _orders(spark, sf_dir, "okey", "ck", "cents", "phase")
    lo_k, hi_k, lo_c, hi_c = _bounds(o, "okey", "ck")
    keyed = o.withColumn("b_file", mnt.int_bucket(F.col("okey"), lo_k, hi_k, _ZBITS))
    d = scratch_dir("lakebref")
    for phase, mode in ((0, "overwrite"), (1, "append")):
        _write_cells(keyed.filter(F.col("phase") == phase).drop("phase"), d, "b_file", mode)
        if phase == 0:
            mnt.write_bloom_sidecar(
                spark, d, "ck", num_hashes=_BLOOM_K, num_bits=_BLOOM_M
            )
    rrep = mnt.refresh_bloom_sidecar(
        spark, d, "ck", num_hashes=_BLOOM_K, num_bits=_BLOOM_M
    )
    keys = _customer_keys(spark, sf_dir, lo_c + (hi_c - lo_c) * 37 // 100)
    got, rep = mnt.bloom_pruned_read(
        spark, d, "ck", keys.distinct().orderBy("ck").limit(5),
        num_hashes=_BLOOM_K, num_bits=_BLOOM_M,
    )
    return _answer(
        got, **_file_counts(rep), n_files_added=rrep["n_added_files"], n_keys=rep["n_keys"]
    )


# ---------------------------------------------------------------------------
# The COMPACTION leg of the refresh lifecycle (vanished files): the
# append leg is lake_zone_refresh_read; this one rewrites the 64-cell
# fine layout into 16 coarse files (cells offset past the fine id
# domain so both layouts are addressable in one partition column),
# deletes the fine directories, refreshes — n_removed/n_added travel in
# the oracled row — and answers the same predicate band off the coarse
# certificate.
# ---------------------------------------------------------------------------

_SQL_LAKE_COMPACT_REFRESH = f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT MIN(ck) AS lo1, MAX(ck) AS hi1,
             MIN(cents) AS lo2, MAX(cents) AS hi2
      FROM o
    ),
    k AS (
      SELECT ck, cents,
             {_sql_bucket('ck', 'lo1', 'hi1')} AS b1,
             {_sql_bucket('cents', 'lo2', 'hi2')} AS b2
      FROM o CROSS JOIN b
    ),
    z AS (
      SELECT ck, cents,
             ({_sql_interleave2('b1', 'b2', _ZBITS)}) >> {_ZBITS} AS z_fine
      FROM k
    ),
    zc AS (SELECT ck, cents, {1 << _ZBITS} + (z_fine >> 2) AS z_file FROM z),
    {_SQL_BAND}
    fstats AS (
      SELECT z_file, MIN(ck) AS min_ck, MAX(ck) AS max_ck,
             MIN(cents) AS min_ce, MAX(cents) AS max_ce
      FROM zc GROUP BY z_file
    ),
    kept AS (
      SELECT z_file FROM fstats CROSS JOIN p
      WHERE NOT (max_ck < ck_lo OR min_ck > ck_hi)
        AND NOT (max_ce < ce_lo OR min_ce > ce_hi)
    ),
    answer AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM zc CROSS JOIN p
      WHERE ck BETWEEN ck_lo AND ck_hi AND cents BETWEEN ce_lo AND ce_hi
    )
    SELECT CAST((SELECT COUNT(*) FROM fstats) AS BIGINT) AS n_files_total,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_read,
           CAST((SELECT COUNT(*) FROM fstats)
                - (SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_skipped,
           CAST((SELECT COUNT(DISTINCT z_fine) FROM z) AS BIGINT)
             AS n_files_removed,
           CAST((SELECT COUNT(*) FROM fstats) AS BIGINT) AS n_files_added,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(sum_cents AS BIGINT) AS sum_cents
    FROM answer
"""


@q("lake_compact_refresh_read", _SQL_LAKE_COMPACT_REFRESH)
def lake_compact_refresh_read(spark, sf_dir):
    """The zone map's COMPACTION lifecycle under the value gate (the
    vanished-files complement of lake_zone_refresh_read): the 64-cell
    fine layout gets the full certificate build, then compaction
    rewrites the SAME rows into 16 coarse files (``64 + (z_fine >> 2)``
    — offset past the fine id domain) and deletes the fine directories;
    ``refresh_zone_map`` must drop all 64 vanished rows and stat only
    the 16 new files (both counts travel in the oracled row), and the
    refreshed certificate answers the same predicate band exactly.  A
    refresh that kept a vanished row or missed a coarse file moves the
    accounting or the residual aggregate and fails the hash."""

    import os
    import shutil

    from pdtable_spark.io import maintenance as mnt

    fine, preds = _z_orders(spark, sf_dir)
    d = scratch_dir("lakecompact")
    _write_cells(fine, d, "z_file")
    mnt.write_zone_map(spark, d, ["ck", "cents"])
    # compaction: rewrite the same rows into 16 coarse files (ids offset
    # past the fine domain), then drop the fine directories — the local
    # spelling of a rewrite-then-swap OPTIMIZE
    coarse = fine.withColumn(
        "z_file", F.lit(1 << _ZBITS) + F.shiftright(F.col("z_file"), 2)
    )
    _write_cells(coarse, d, "z_file", "append", (1 << _ZBITS) >> 2)
    for name in os.listdir(d):
        if name.startswith("z_file=") and int(name.split("=")[1]) < (1 << _ZBITS):
            shutil.rmtree(os.path.join(d, name))
    rrep = mnt.refresh_zone_map(spark, d, ["ck", "cents"])
    pruned, rep = mnt.pruned_read(
        spark, d, preds, stats=mnt.zone_map(spark, d, ["ck", "cents"])
    )
    return _answer(
        pruned,
        **_file_counts(rep),
        n_files_removed=rrep["n_removed"],
        n_files_added=rrep["n_added"],
    )


# ---------------------------------------------------------------------------
# The versioned file manifest under the value gate: build the lake + zone map + manifest, serve a pruned read
# validated against manifest generation 0, APPEND, refresh (which
# advances the manifest), and serve the post-refresh read — BOTH reads'
# file accounting plus the advanced generation travel inside the
# oracled row, so a manifest that lagged the refresh, double-advanced,
# or validated the wrong snapshot is a wrong hash.  The read path never
# lists the lake (pinned separately in pytest by monkeypatching
# _data_files to raise).
# ---------------------------------------------------------------------------

_SQL_LAKE_MANIFEST = f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey % 2 AS phase
      FROM orders
    ),
    b AS (
      SELECT MIN(ck) AS lo1, MAX(ck) AS hi1,
             MIN(cents) AS lo2, MAX(cents) AS hi2
      FROM o
    ),
    k AS (
      SELECT ck, cents, phase,
             {_sql_bucket('ck', 'lo1', 'hi1')} AS b1,
             {_sql_bucket('cents', 'lo2', 'hi2')} AS b2
      FROM o CROSS JOIN b
    ),
    z AS (
      SELECT ck, cents, phase,
             ({_sql_interleave2('b1', 'b2', _ZBITS)}) >> {_ZBITS} AS z_file
      FROM k
    ),
    {_SQL_BAND}
    fstats AS (
      SELECT z_file, phase, MIN(ck) AS min_ck, MAX(ck) AS max_ck,
             MIN(cents) AS min_ce, MAX(cents) AS max_ce
      FROM z GROUP BY z_file, phase
    ),
    kept0 AS (
      SELECT z_file FROM fstats CROSS JOIN p
      WHERE phase = 0
        AND NOT (max_ck < ck_lo OR min_ck > ck_hi)
        AND NOT (max_ce < ce_lo OR min_ce > ce_hi)
    ),
    kept1 AS (
      SELECT z_file, phase FROM fstats CROSS JOIN p
      WHERE NOT (max_ck < ck_lo OR min_ck > ck_hi)
        AND NOT (max_ce < ce_lo OR min_ce > ce_hi)
    ),
    ans0 AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM z CROSS JOIN p
      WHERE phase = 0
        AND ck BETWEEN ck_lo AND ck_hi AND cents BETWEEN ce_lo AND ce_hi
    ),
    ans1 AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM z CROSS JOIN p
      WHERE ck BETWEEN ck_lo AND ck_hi AND cents BETWEEN ce_lo AND ce_hi
    )
    SELECT CAST(1 AS BIGINT) AS generation,
           CAST((SELECT COUNT(*) FROM fstats WHERE phase = 0) AS BIGINT)
             AS n_files_total_0,
           CAST((SELECT COUNT(*) FROM kept0) AS BIGINT) AS n_files_read_0,
           CAST((SELECT n_orders FROM ans0) AS BIGINT) AS n_orders_0,
           CAST((SELECT COUNT(*) FROM fstats) AS BIGINT) AS n_files_total_1,
           CAST((SELECT COUNT(*) FROM kept1) AS BIGINT) AS n_files_read_1,
           CAST((SELECT n_orders FROM ans1) AS BIGINT) AS n_orders_1,
           CAST((SELECT sum_cents FROM ans1) AS BIGINT) AS sum_cents_1
"""


@q("lake_manifest_read", _SQL_LAKE_MANIFEST)
def lake_manifest_read(spark, sf_dir):
    """The listing-free read lifecycle end-to-end under the value gate:
    phase-0 orders land clustered (one file per coarse Z-cell),
    ``write_zone_map`` builds the certificate, ``write_file_manifest``
    commits snapshot generation 0, and the first ``pruned_read``
    validates against THAT manifest (no lake listing on the read path —
    at 100 TB object stores the LIST is the slow, eventually-consistent
    part a versioned manifest exists to remove).  Phase-1 orders then
    APPEND; ``refresh_zone_map`` stats only the new files AND advances
    the manifest to generation 1; the second read serves the new
    snapshot.  Both reads' files-total/read accounting, the advanced
    generation, and the residual aggregate all travel in the oracled
    row — a manifest that lagged the refresh, double-advanced, or
    validated the wrong snapshot moves a column and fails the hash."""

    from pdtable_spark.io import maintenance as mnt

    keyed, preds = _z_orders(spark, sf_dir, "phase")
    d = scratch_dir("lakemanifest")
    _write_cells(keyed.filter(F.col("phase") == 0).drop("phase"), d, "z_file")
    mnt.write_zone_map(spark, d, ["ck", "cents"])
    mrep = mnt.write_file_manifest(spark, d)
    assert mrep["generation"] == 0
    pruned0, rep0 = mnt.pruned_read(
        spark, d, preds, stats=mnt.zone_map(spark, d, ["ck", "cents"])
    )
    n0 = pruned0.count()
    _write_cells(keyed.filter(F.col("phase") == 1).drop("phase"), d, "z_file", "append")
    mnt.refresh_zone_map(spark, d, ["ck", "cents"])
    _, gen = mnt._manifest_snapshot(spark, d)
    pruned1, rep1 = mnt.pruned_read(
        spark, d, preds, stats=mnt.zone_map(spark, d, ["ck", "cents"])
    )
    return pruned1.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders_1"),
        F.sum("cents").cast("long").alias("sum_cents_1"),
    ).select(
        F.lit(gen).cast("long").alias("generation"),
        F.lit(rep0["n_files_total"]).cast("long").alias("n_files_total_0"),
        F.lit(rep0["n_files_read"]).cast("long").alias("n_files_read_0"),
        F.lit(n0).cast("long").alias("n_orders_0"),
        F.lit(rep1["n_files_total"]).cast("long").alias("n_files_total_1"),
        F.lit(rep1["n_files_read"]).cast("long").alias("n_files_read_1"),
        "n_orders_1",
        "sum_cents_1",
    )


# ---------------------------------------------------------------------------
# Bloom point lookup, manifest-validated, with the SNAPSHOT-FRAME
# residual (isin_threshold=0 forces the broadcast-semi-join spelling —
# the production path for key sets past a few thousand, where a
# Column.isin literal would bloat plan construction).  Same probe semantics as lake_bloom_pruned_read but a
# different offset/width so the two rows cannot mask each other.
# ---------------------------------------------------------------------------

_SQL_MANIFEST_BLOOM = f"""
    WITH o AS (
      SELECT o_orderkey AS okey, o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT MIN(okey) AS lo_k, MAX(okey) AS hi_k,
             MIN(ck) AS lo_c, MAX(ck) AS hi_c
      FROM o
    ),
    f AS (
      SELECT okey, ck, cents,
             {_sql_bucket('okey', 'lo_k', 'hi_k')} AS b_file
      FROM o CROSS JOIN b
    ),
    keys AS (
      SELECT ck FROM (
        SELECT DISTINCT c_custkey AS ck FROM customer CROSS JOIN b
        WHERE c_custkey >= lo_c + CAST(FLOOR((hi_c - lo_c) * 23 / 100.0)
                                       AS BIGINT)
      ) ORDER BY ck LIMIT 7
    ),
    fk AS (SELECT DISTINCT b_file, ck FROM f),
    sidecar AS (
      SELECT DISTINCT b_file, pos FROM (
        SELECT b_file, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 0, _BLOOM_M)} AS pos FROM fk
        UNION ALL
        SELECT b_file, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 1, _BLOOM_M)} FROM fk
        UNION ALL
        SELECT b_file, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 2, _BLOOM_M)} FROM fk
      )
    ),
    kpos AS (
      SELECT ck, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 0, _BLOOM_M)} AS pos FROM keys
      UNION ALL
      SELECT ck, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 1, _BLOOM_M)} FROM keys
      UNION ALL
      SELECT ck, {_sql_bloom_pos("CAST(ck AS VARCHAR)", 2, _BLOOM_M)} FROM keys
    ),
    kept AS (
      SELECT DISTINCT b_file FROM (
        SELECT s.b_file, kpos.ck
        FROM sidecar s JOIN kpos ON s.pos = kpos.pos
        GROUP BY s.b_file, kpos.ck
        HAVING COUNT(*) = {_BLOOM_K}
      )
    ),
    answer AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM f WHERE ck IN (SELECT ck FROM keys)
    )
    SELECT CAST(0 AS BIGINT) AS generation,
           CAST((SELECT COUNT(DISTINCT b_file) FROM f) AS BIGINT)
             AS n_files_total,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_read,
           CAST((SELECT COUNT(DISTINCT b_file) FROM f)
                - (SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_skipped,
           CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(sum_cents AS BIGINT) AS sum_cents
    FROM answer
"""


@q("lake_manifest_bloom_read", _SQL_MANIFEST_BLOOM)
def lake_manifest_bloom_read(spark, sf_dir):
    """Bloom pruning served listing-free AND with the scalable residual:
    the lake is bucketed by order key (customer keys scatter — the
    un-zone-mappable shape), the Bloom sidecar and the generation-0
    manifest are committed, and ``bloom_pruned_read`` runs with
    ``isin_threshold=0`` so the exact residual is the broadcast LEFT
    SEMI join against the frozen key-snapshot frame — the spelling that
    survives million-key probe sets — while coverage validation reads
    the manifest, not a listing.  The oracle recomputes every md5
    position, the containment decision (false positives modeled, not
    idealized), the joined aggregate, and the generation."""

    from pdtable_spark.io import maintenance as mnt

    o = _orders(spark, sf_dir, "okey", "ck", "cents")
    lo_k, hi_k, lo_c, hi_c = _bounds(o, "okey", "ck")
    d = scratch_dir("lakembloom")
    _write_cells(o.withColumn("b_file", mnt.int_bucket(F.col("okey"), lo_k, hi_k, _ZBITS)), d, "b_file")
    mnt.write_bloom_sidecar(
        spark, d, "ck", num_hashes=_BLOOM_K, num_bits=_BLOOM_M
    )
    mrep = mnt.write_file_manifest(spark, d)
    keys = _customer_keys(spark, sf_dir, lo_c + (hi_c - lo_c) * 23 // 100)
    got, rep = mnt.bloom_pruned_read(
        spark, d, "ck", keys.distinct().orderBy("ck").limit(7),
        num_hashes=_BLOOM_K, num_bits=_BLOOM_M, isin_threshold=0,
    )
    return _answer(
        got, generation=mrep["generation"], **_file_counts(rep), n_keys=rep["n_keys"]
    )


# ---------------------------------------------------------------------------
# Dynamic file pruning with the snapshot-frame residual on the zone-map
# side: pruned_semi_read at isin_threshold=0 over a WIDER dimension
# slice (newest 10% of customers) — the semi-join residual is the
# production spelling once key sets outgrow an In literal, and the
# value gate proves it returns the same rows.
# ---------------------------------------------------------------------------

_SQL_SEMI_SNAPSHOT = f"""
    WITH o AS (
      SELECT o_custkey AS ck,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (SELECT MIN(ck) AS lo1, MAX(ck) AS hi1 FROM o),
    f AS (
      SELECT ck, cents,
             {_sql_bucket('ck', 'lo1', 'hi1')} AS k_file
      FROM o CROSS JOIN b
    ),
    keys AS (
      SELECT DISTINCT c_custkey AS k FROM customer CROSS JOIN b
      WHERE c_custkey >= hi1 - CAST(FLOOR((hi1 - lo1) * 10 / 100.0) AS BIGINT)
    ),
    fstats AS (
      SELECT k_file, MIN(ck) AS min_ck, MAX(ck) AS max_ck
      FROM f GROUP BY k_file
    ),
    kept AS (
      SELECT k_file FROM fstats
      WHERE EXISTS (SELECT 1 FROM keys
                    WHERE keys.k BETWEEN fstats.min_ck AND fstats.max_ck)
    ),
    answer AS (
      SELECT COUNT(*) AS n_orders, SUM(cents) AS sum_cents
      FROM f WHERE ck IN (SELECT k FROM keys)
    )
    SELECT CAST((SELECT COUNT(*) FROM fstats) AS BIGINT) AS n_files_total,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_read,
           CAST((SELECT COUNT(*) FROM fstats)
                - (SELECT COUNT(*) FROM kept) AS BIGINT) AS n_files_skipped,
           CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(sum_cents AS BIGINT) AS sum_cents
    FROM answer
"""


@q("lake_semi_snapshot_keys", _SQL_SEMI_SNAPSHOT)
def lake_semi_snapshot_keys(spark, sf_dir):
    """``pruned_semi_read`` with the snapshot-frame residual forced
    (``isin_threshold=0``): the newest 10% of customers decide the file
    scan set via footer-range bisect exactly as before, but the exact
    residual is the broadcast LEFT SEMI join against the frozen key
    snapshot instead of an In literal — identical rows (pinned by this
    oracle AND the targeted pytest equivalence), plan size O(1) in the
    key count.  The wider band vs lake_pruned_semi_read's 5% also
    exercises multi-file keeps."""

    from pdtable_spark.io import maintenance as mnt

    o = _orders(spark, sf_dir, "ck", "cents")
    lo1, hi1 = _bounds(o, "ck")
    d = scratch_dir("lakesemisnap")
    _write_cells(o.withColumn("k_file", mnt.int_bucket(F.col("ck"), lo1, hi1, _ZBITS)), d, "k_file")
    keys = _customer_keys(spark, sf_dir, hi1 - (hi1 - lo1) * 10 // 100)
    semi, rep = mnt.pruned_semi_read(spark, d, "ck", keys, isin_threshold=0)
    return _answer(semi, **_file_counts(rep), n_keys=rep["n_keys"])


# ---------------------------------------------------------------------------
# The manifest WRITE-path diff under the value gate: generation 0 over
# the initial layout, then a dynamic partition overwrite replaces ONE
# bucket's file — the next manifest write must report exactly (1 added,
# 1 removed) at generation 1 with the total unchanged, and the lake
# aggregate reflects the rewritten bucket.  Covers the removal arm the
# append-only lifecycles never exercise.
# ---------------------------------------------------------------------------

_SQL_MANIFEST_DIFF = """
    WITH c AS (
      SELECT c_custkey AS k, c_custkey % 8 AS bucket,
             CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM customer
    ),
    after AS (
      SELECT * FROM c WHERE bucket <> 3 OR k % 3 = 0
    )
    SELECT CAST(0 AS BIGINT) AS gen_0,
           CAST(8 AS BIGINT) AS n_files_0,
           CAST(1 AS BIGINT) AS gen_1,
           CAST(1 AS BIGINT) AS n_added_1,
           CAST(1 AS BIGINT) AS n_removed_1,
           CAST(8 AS BIGINT) AS n_files_1,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM after
"""


@q("lake_manifest_diff", _SQL_MANIFEST_DIFF)
def lake_manifest_diff(spark, sf_dir):
    """The manifest write path's diff accounting under the value gate:
    customers land one file per ``c_custkey % 8`` bucket (8 files —
    the deterministic repartition-then-partitionBy layout), manifest
    generation 0 commits; a DYNAMIC partition overwrite then replaces
    only bucket 3 (its k%3==0 keys survive — one new file, the old one
    gone), and the next ``write_file_manifest`` must report exactly
    (1 added, 1 removed) at generation 1 with 8 files total.  The
    post-rewrite lake aggregate ties the file bookkeeping to the data:
    a manifest that kept the stale file or missed the new one cannot
    produce these counts AND this sum."""

    from pdtable_spark.io import maintenance as mnt

    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        (F.col("c_custkey") % 8).alias("bucket"),
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    d = scratch_dir("lakemdiff")
    _write_cells(c, d, "bucket", n_cells=8)
    m0 = mnt.write_file_manifest(spark, d)
    (
        c.filter((F.col("bucket") == 3) & (F.col("k") % 3 == 0))
        .repartition(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(d)
    )
    m1 = mnt.write_file_manifest(spark, d)
    lake = spark.read.parquet(d)
    return lake.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("cents").cast("long").alias("sum_cents"),
    ).select(
        F.lit(m0["generation"]).cast("long").alias("gen_0"),
        F.lit(m0["n_files"]).cast("long").alias("n_files_0"),
        F.lit(m1["generation"]).cast("long").alias("gen_1"),
        F.lit(m1["n_added"]).cast("long").alias("n_added_1"),
        F.lit(m1["n_removed"]).cast("long").alias("n_removed_1"),
        F.lit(m1["n_files"]).cast("long").alias("n_files_1"),
        "n_rows",
        "sum_cents",
    )

"""Streaming upsert ingest: MERGE-by-key per micro-batch with an emitted
change log — the Delta/Iceberg "streaming MERGE INTO" shape on plain
parquet, under the repo's exactly-once ledger discipline.

A CDC-ish updates stream (new keys, changed rows, re-sent identical rows)
lands against a versioned table state:

- the table lives as FULL versions partitioned by ``batch_id`` — each
  micro-batch writes the complete post-merge table under its own
  partition (copy-on-write MERGE cost, same as
  ``io.maintenance.upsert_parquet``, paid per batch); readers take the
  max-``batch_id`` version (:func:`read_table_version`), old versions
  are time travel and are pruned by dropping their partitions when they
  stop mattering;
- the CHANGE LOG gets one row per key the batch actually changed —
  ``added`` or ``changed``; an identical re-send produces NO row (the
  null-safe column comparison of ``io.maintenance.diff_snapshots``), so
  downstream consumers see deltas, not traffic;
- exactly-once without transactional storage, the ledger-stream pattern:
  state reads are AS-OF strictly-earlier batches (a retried batch
  recomputes against the same pre-state, byte-identically) and both
  writes are ``batch_id``-partitioned dynamic overwrites that replace
  themselves on retry.

At 100 TB the full-version rewrite is the documented cost knob: partition
the table and feed this per partition directory (the
``compact_parquet``/``forget_keys`` posture), or fall back to the batch
``upsert_parquet`` + rename for hourly cadences.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdtable_spark.frame import local_frame
from pdtable_spark.streaming._await import await_or_raise
from pdtable_spark.streaming.monitor import _ledger_exists


def read_table_version(
    spark: SparkSession, table_dir: str, batch_id: Optional[int] = None
) -> DataFrame:
    """The merged table AS-OF a version: the max-``batch_id`` full
    version (default), or the state right after ``batch_id`` — time
    travel over the retained partitions."""
    all_v = spark.read.parquet(table_dir)
    if batch_id is not None:
        all_v = all_v.filter(F.col("batch_id") <= batch_id)
    mx = all_v.agg(F.max("batch_id")).collect()[0][0]
    if mx is None:
        raise ValueError(f"read_table_version: no versions under {table_dir}")
    return all_v.filter(F.col("batch_id") == mx).drop("batch_id")


def _upsert_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    table_dir: str,
    changelog_dir: str,
    key_cols: List[str],
    compare_cols: List[str],
    seq_col: Optional[str],
) -> None:
    """One micro-batch of the streaming MERGE (split out for unit tests
    and retry-idempotence proofs).  See module docstring for the state
    and exactly-once contract."""
    keys, comps = list(key_cols), list(compare_cols)
    cols = keys + comps
    b = batch_df.select(*cols, *([seq_col] if seq_col else []))
    if seq_col:
        # last-writer-wins WITHIN the batch, deterministically: highest
        # seq, ties to the lexicographically-greatest compared values
        # (a total order, so a retried batch picks the same winner).
        # Spelled as max(struct(seq, comps...)) — lexicographic struct
        # max IS that winner — rather than a row_number window: the
        # aggregate partial-combines map-side, so a HOT merge key (many
        # updates to one key per batch) shrinks before the shuffle
        # instead of concentrating every duplicate into one window task
        # (sf1 hot-key load evidence in BENCH_SCALE.md; AQE cannot split
        # a window partition, but it never needs to split an aggregate)
        b = (
            b.groupBy(*keys)
            .agg(
                F.max(
                    F.struct(F.col(seq_col), *[F.col(c) for c in comps])
                ).alias("__w")
            )
            .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in comps])
        )
    else:
        # without a sequence column the batch must already be key-unique
        # — a silent arbitrary pick would make retries nondeterministic
        dup = b.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            raise ValueError(
                "upsert_stream: batch has duplicate keys and no seq_col "
                f"to pick a winner (e.g. {tuple(dup[0][k] for k in keys)}); "
                "pass seq_col= for last-writer-wins"
            )
        b = b.select(*cols)

    prev = local_frame(spark, b.schema, rows=[])
    if _ledger_exists(spark, table_dir):
        all_prev = spark.read.parquet(table_dir).filter(
            F.col("batch_id") < batch_id
        )
        mx = all_prev.agg(F.max("batch_id")).collect()[0][0]
        if mx is not None:
            prev = all_prev.filter(F.col("batch_id") == mx).select(*cols)

    # null-safe full outer on the keys, presence tracked with marker
    # columns (the diff_snapshots contract: a NULL key can match)
    o = prev.withColumn("_o", F.lit(True)).alias("o")
    n = b.withColumn("_n", F.lit(True)).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    j = o.join(n, cond, "full_outer")
    same = None
    for c in comps:
        eq = F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        same = eq if same is None else (same & eq)
    change = (
        F.when(F.col("o._o").isNull(), F.lit("added"))
        .when(F.col("n._n").isNull(), F.lit(None))  # untouched key
        .when(same if same is not None else F.lit(True), F.lit(None))
        .otherwise(F.lit("changed"))
    )
    merged = j.select(
        *[F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k) for k in keys],
        *[
            F.when(F.col("n._n").isNotNull(), F.col(f"n.{c}"))
            .otherwise(F.col(f"o.{c}"))
            .alias(c)
            for c in comps
        ],
        change.alias("change_type"),
    )
    # Table version FIRST, changelog LAST: a consumer that keys off
    # max(batch_id) in the changelog then never leads the table state —
    # a crash between the two writes leaves a version with no changelog
    # yet (invisible to such consumers) rather than a changelog entry
    # pointing at a version that does not exist until the retry.  Both
    # writes re-execute ``merged`` against the SAME ``prev`` snapshot:
    # the parquet FileIndex listed table_dir when ``prev`` was created,
    # before either write.
    (
        merged.drop("change_type")
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(table_dir)
    )
    (
        merged.filter(F.col("change_type").isNotNull())
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(changelog_dir)
    )


def upsert_stream(
    updates: DataFrame,
    table_dir: str,
    changelog_dir: str,
    checkpoint_dir: str,
    key_cols: Union[str, Sequence[str]],
    compare_cols: Optional[Sequence[str]] = None,
    seq_col: Optional[str] = None,
    timeout: Optional[int] = 120,
):
    """Run the streaming MERGE over ``updates``: per micro-batch,
    dedup by key (``seq_col`` last-writer-wins, or loud error on a
    non-unique batch), merge into the previous table version, emit
    ``added``/``changed`` change-log rows (identical re-sends emit
    nothing), and write the new full version — both under this batch's
    partition, retry-idempotent.  ``compare_cols`` defaults to every
    non-key, non-seq column of the stream."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if compare_cols is None:
        compare_cols = [
            c for c in updates.columns if c not in keys and c != seq_col
        ]
    comps = list(compare_cols)
    spark = updates.sparkSession

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _upsert_batch(
            spark, batch_df, batch_id, table_dir, changelog_dir,
            keys, comps, seq_col,
        )

    q = (
        updates.writeStream.outputMode("append")
        .foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_or_raise(q, timeout, "upsert_stream")


def vacuum_versions(
    spark: SparkSession,
    table_dir: str,
    keep_last: int = 2,
    changelog_dir: Optional[str] = None,
    changelog_keep_last: Optional[int] = None,
) -> dict:
    """Retention for the versioned table :func:`upsert_stream` writes:
    drop full-version ``batch_id=N`` partitions older than the newest
    ``keep_last`` — the documented "old versions are time travel and
    are pruned by dropping their partitions" knob, as an operator with
    guard rails instead of a hand-written ``rm``.

    ``keep_last`` must be **at least 2**: a micro-batch that crashed
    AFTER its table write (version N exists) but BEFORE its checkpoint
    commit is retried by Structured Streaming, and the retry's MERGE
    reads state as-of batch N-1 (the retry-idempotence contract of
    :func:`_upsert_batch`).  Vacuuming down to only version N would
    delete N-1, so the retry would rebuild version N from the batch
    rows alone and silently drop every previously-merged key — keeping
    the two newest versions preserves the in-flight retry window.

    The changelog is retained INDEPENDENTLY (``changelog_keep_last``;
    default: untouched): change rows are deltas consumers may replay
    long after the full versions they derive from are gone, and
    vacuuming old changelog batches never breaks the write-ordering
    contract (consumers key off the changelog's MAX batch, which this
    never removes — the newest ``keep_last ≥ 2`` table versions and the
    newest changelog batch always survive).

    All filesystem work goes through the Hadoop FS API (HDFS/S3A/local
    alike — the ledger-state convention), and only ``batch_id=*``
    directories are touched: a stray file or foreign directory under
    the table root is left alone.  Returns ``{"table_removed": [...],
    "changelog_removed": [...]}`` (sorted batch ids) for the caller's
    audit log.  Idempotent: a retry sees the survivors and removes
    nothing.
    """
    if keep_last < 2:
        raise ValueError(
            f"vacuum_versions: keep_last must be >= 2, got {keep_last} — "
            "a crashed-then-retried micro-batch re-merges against "
            "version N-1, so the newest version alone is not a safe "
            "restore point (see docstring)"
        )
    if changelog_keep_last is not None and changelog_keep_last < 1:
        raise ValueError(
            "vacuum_versions: changelog_keep_last must be >= 1, got "
            f"{changelog_keep_last}"
        )
    if (changelog_dir is None) != (changelog_keep_last is None):
        raise ValueError(
            "vacuum_versions: pass changelog_dir AND changelog_keep_last "
            "together — a half-specified changelog request would either "
            "silently skip the vacuum or have nothing to vacuum"
        )

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def batch_dirs(root: str):
        jpath = jvm.org.apache.hadoop.fs.Path(root)
        fs = jpath.getFileSystem(conf)
        if not fs.exists(jpath):
            return fs, {}
        out = {}
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("batch_id="):
                try:
                    out[int(name.split("=", 1)[1])] = st.getPath()
                except ValueError:
                    pass  # foreign dir that merely looks similar
        return fs, out

    def drop_older(root: str, keep: int):
        fs, dirs = batch_dirs(root)
        survivors = sorted(dirs)[-keep:]
        removed = []
        for bid in sorted(dirs):
            if bid not in survivors:
                fs.delete(dirs[bid], True)
                removed.append(bid)
        return removed

    report = {"table_removed": drop_older(table_dir, keep_last)}
    report["changelog_removed"] = (
        drop_older(changelog_dir, changelog_keep_last)
        if changelog_dir is not None and changelog_keep_last is not None
        else []
    )
    return report

"""Streaming corpus observability: every ingest micro-batch's composition
drift against a pinned reference snapshot, landed exactly-once — the
continuous form of :mod:`pdtable_spark.operators.monitor`.

The alarm a production landing pipeline actually wants: when a crawler
change doubles one domain or a filter regression empties a language, the
per-batch total-variation rows spike IN THE SAME PIPELINE RUN, batches
before any offline audit would look.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdtable_spark.frame import local_frame
from pdtable_spark.operators.monitor import (
    corpus_drift_report_from_counts,
    drift_counts,
    quantized_tvd_scale,
    quantized_tvd_term,
)
from pdtable_spark.streaming._await import await_or_raise


def _ledger_exists(spark, path: str) -> bool:
    """Whether a cumulative ledger already has state at ``path``, via the
    Hadoop FileSystem API — so the check resolves against whatever
    filesystem the path actually names (HDFS, S3A, local).  The previous
    ``os.path.isdir`` spelling was local-filesystem-only: on an object-store
    ledger it was always False, silently restarting cumulative state from
    empty every batch with no error (ADVICE r9)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _drift_batch(
    batch_df: DataFrame,
    batch_id: int,
    ref_counts: DataFrame,
    out_dir: str,
    dim_cols: List[str],
    quantize: float,
) -> None:
    """One micro-batch's drift rows against PRE-AGGREGATED reference
    counts (split out so the empty-batch alarm path is unit-testable
    without a running stream)."""
    from pyspark.sql import Window

    rep = corpus_drift_report_from_counts(
        ref_counts, drift_counts(batch_df, dim_cols, "n_new")
    )
    w = Window.partitionBy("dim")
    tvd = quantized_tvd_scale(F.sum(quantized_tvd_term(quantize)).over(w), quantize)
    (
        rep.withColumn("tvd", tvd)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def drift_monitor_stream(
    stream_docs: DataFrame,
    reference_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    dim_cols: List[str],
    quantize: float = 1e9,
    timeout: Optional[int] = 120,
):
    """Run an ``availableNow`` pass over a document stream, writing one
    drift row per (batch, dimension, category value) against the static
    ``reference_df`` snapshot: the drift-report columns plus ``tvd`` (the
    batch's per-dimension total-variation distance, quantized integer
    sum — deterministic) and ``batch_id``.

    Exactly-once: output is a ``batch_id``-partitioned dynamic overwrite,
    so a retried micro-batch replaces its own rows (the
    :mod:`~pdtable_spark.streaming.curate` pattern).

    The reference is aggregated to its category-domain-sized
    :func:`~pdtable_spark.operators.monitor.drift_counts` frame ONCE and
    persisted for the run — a per-batch re-aggregation would re-scan the
    (arbitrarily large) reference corpus every micro-batch for an
    unchanging bounded result.  Per batch the remaining work is one
    categorical count over the batch plus the bounded-domain join.
    """
    ref_counts = drift_counts(reference_df, dim_cols, "n_old").persist()
    try:
        ref_counts.count()  # materialize before the first batch fires

        def run(batch_df: DataFrame, batch_id: int) -> None:
            # NO empty-batch short-circuit: a micro-batch emptied by an
            # upstream regression is the docstring's headline alarm — it
            # must land share_new=0 rows for every reference category (tvd
            # spikes), not a silent gap in the monitoring table
            _drift_batch(batch_df, batch_id, ref_counts, out_dir, dim_cols, quantize)

        q = (
            stream_docs.writeStream.outputMode("append")
            .foreachBatch(run)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        return await_or_raise(q, timeout, "drift_monitor_stream")
    finally:
        ref_counts.unpersist()


def _novelty_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    ledger_dir: str,
    out_dir: str,
    key_col: str,
    by: str,
    lgk: int,
) -> None:
    """One micro-batch of the novelty ledger (split out for unit tests).

    Reads the cumulative ledger AS-OF the previous batch (max batch_id
    strictly below this one — so a RETRIED batch recomputes against the
    same pre-state and both writes below are byte-identical), lands the
    per-group novelty report for this batch, then writes the advanced
    cumulative ledger under this batch's partition.
    """
    from pdtable_spark.operators.monitor import (
        distinct_sketch,
        novelty_estimate,
        sketch_union,
    )

    batch_sk = distinct_sketch(batch_df, key_col, by, lgk)
    prev = batch_sk.limit(0)  # empty ledger with the right schema
    if _ledger_exists(spark, ledger_dir):
        led_all = spark.read.parquet(ledger_dir).filter(F.col("batch_id") < batch_id)
        mx = led_all.agg(F.max("batch_id")).collect()[0][0]
        if mx is not None:
            prev = led_all.filter(F.col("batch_id") == mx).select(
                by, "sketch", "estimate"
            )
    (
        novelty_estimate(prev, batch_df, key_col, by, lgk)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )
    (
        sketch_union(
            prev.select(by, "sketch").unionByName(batch_sk.select(by, "sketch")), by
        )
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(ledger_dir)
    )


def novelty_ledger_stream(
    stream_docs: DataFrame,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    by: str = "source",
    lgk: int = 12,
    timeout: Optional[int] = 120,
):
    """Continuous-ingest novelty bookkeeping: per micro-batch and group,
    how many NEVER-SEEN keys did this batch add — from HLL sketches
    alone (:func:`~pdtable_spark.operators.monitor.novelty_estimate`),
    never storing or rescanning historical ids.  The standing answer to
    "is the crawl still finding new documents", per source, in the same
    pipeline run — est_new trending to zero is the refetch alarm.

    State is a PARQUET LEDGER of cumulative per-group sketches,
    partitioned by ``batch_id`` (the as-of-batch snapshot — KBs per
    batch; prune old partitions with ``io.maintenance.retention_delete``
    if they ever matter).  Exactly-once without transactional storage:
    a retried batch reads the ledger as-of strictly-earlier batches, so
    its report AND its ledger partition recompute byte-identically and
    the ``batch_id``-partitioned dynamic overwrites replace themselves
    (the curate/drift-monitor pattern); sketch-union idempotence means
    even a duplicated merge of the same batch cannot inflate counts.

    Output rows: (by, n_batch_distinct, est_seen_before, est_after,
    est_new, batch_id); ledger rows: (by, sketch, estimate, batch_id).
    """
    spark = stream_docs.sparkSession

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _novelty_batch(
            spark, batch_df, batch_id, ledger_dir, out_dir, key_col, by, lgk
        )

    q = (
        stream_docs.writeStream.outputMode("append")
        .foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_or_raise(q, timeout, "novelty_ledger_stream")


def _quantile_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    ledger_dir: str,
    out_dir: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
    by: str,
    qs,
) -> None:
    """One micro-batch of the quantile ledger (split out for unit tests).

    Reads the cumulative bin-count ledger AS-OF the previous batch (max
    batch_id strictly below this one — a RETRIED batch recomputes
    against the same pre-state, so both writes land byte-identically),
    writes the running per-group quantile report for this batch, then
    the advanced cumulative ledger under this batch's partition.
    """
    from pdtable_spark.operators.monitor import (
        histogram_ledger,
        ledger_union,
        quantiles_from_ledger,
    )

    batch_led = histogram_ledger(batch_df, value_col, lo, hi, n_bins, by)
    prev = batch_led.limit(0)
    if _ledger_exists(spark, ledger_dir):
        led_all = spark.read.parquet(ledger_dir).filter(F.col("batch_id") < batch_id)
        mx = led_all.agg(F.max("batch_id")).collect()[0][0]
        if mx is not None:
            prev = led_all.filter(F.col("batch_id") == mx).select(
                by, "bin", "n", "grid_lo", "grid_hi", "grid_bins"
            )
    merged = ledger_union(prev.unionByName(batch_led), by)
    (
        quantiles_from_ledger(merged, qs, lo, hi, n_bins, by)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )
    (
        merged.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(ledger_dir)
    )


def quantile_ledger_stream(
    stream_docs: DataFrame,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
    by: str = "source",
    qs=(0.5, 0.9, 0.99),
    timeout: Optional[int] = 120,
):
    """Running score-distribution quantiles over a continuous ingest,
    from mergeable histogram ledgers alone
    (:func:`~pdtable_spark.operators.monitor.histogram_ledger`): per
    micro-batch and group, the cumulative p50/p90/p99 of everything
    ingested so far — a filter-score distribution sliding toward a
    threshold is visible batches before the survivor-rate alarm fires,
    with no rescan of earlier batches.

    State is a PARQUET LEDGER of cumulative per-group bin counts
    partitioned by ``batch_id`` (the as-of-batch snapshot — at most
    groups x (n_bins + 2) rows per batch).  Exactly-once without
    transactional storage comes from the AS-OF read discipline alone: a
    retried batch reads the ledger as-of strictly-earlier batches and
    recomputes byte-identically into its own dynamic-overwrite
    partitions.  (Unlike the HLL novelty ledger there is NO idempotent-
    merge second net — bin counts ADD, so a double-merge would inflate
    them; the as-of recompute is the mechanism actually doing the work
    in both ledgers.)  The ledger counts OBSERVATIONS — dedup upstream
    (:mod:`pdtable_spark.streaming.dedup` or the curate pipeline) if
    repeated keys must not reweight the distribution.

    Output rows: (``by``, q, est, batch_id); ledger rows:
    (``by``, bin, n, batch_id).
    """
    spark = stream_docs.sparkSession

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _quantile_batch(
            spark, batch_df, batch_id, ledger_dir, out_dir,
            value_col, lo, hi, n_bins, by, qs,
        )

    q = (
        stream_docs.writeStream.outputMode("append")
        .foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_or_raise(q, timeout, "quantile_ledger_stream")


def _heavy_hitter_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    ledger_dir: str,
    out_dir: str,
    key_col: str,
    by: str,
    m: int,
    k: int,
) -> None:
    """One micro-batch of the heavy-hitters ledger (split out for unit
    tests).  Reads the cumulative bounded-counts state AS-OF the
    previous batch (max batch_id strictly below this one — a RETRIED
    batch recomputes against the same pre-state, so both writes land
    byte-identically), merges this batch's truncated top-m ledger into
    it with the two-sided-bound update rules, writes the running
    per-group top-k report, then the advanced cumulative state under
    this batch's partition.

    Update arithmetic (all exact integers; ``f_b`` = this batch's
    truncation floor per group, ``fc_prev`` = the summed floors of all
    previous batches):

    - key in BOTH:        lo += n_b ; hi += n_b
    - key in state only:  lo keeps  ; hi += f_b   (it may hide ≤ f_b here)
    - key in batch only:  lo = n_b  ; hi = n_b + fc_prev  (hidden before)

    so ``est_lo ≤ true ≤ est_hi`` is invariant across any number of
    batches.  State is ≤ m rows per group per batch plus what earlier
    batches surfaced — KB-scale, never corpus-scale.
    """
    from pdtable_spark.operators.monitor import heavy_hitter_ledger

    led = heavy_hitter_ledger(batch_df, key_col, by, m)
    # the empty prior state takes its key/group FIELD TYPES from the
    # batch ledger — a hardcoded string schema would coerce a bigint
    # key's full_outer join to double (2^53 rounding) on batch 0
    from pyspark.sql import types as T

    prev = local_frame(
        spark,
        T.StructType(
            [
                led.schema[by],
                led.schema["key"],
                T.StructField("est_lo", T.LongType()),
                T.StructField("est_hi", T.LongType()),
                T.StructField("floor_cum", T.LongType()),
            ]
        ),
        rows=[],
    )
    if _ledger_exists(spark, ledger_dir):
        all_prev = spark.read.parquet(ledger_dir).filter(
            F.col("batch_id") < batch_id
        )
        mx = all_prev.agg(F.max("batch_id")).collect()[0][0]
        if mx is not None:
            prev = all_prev.filter(F.col("batch_id") == mx).select(
                by, "key", "est_lo", "est_hi", "floor_cum"
            )
    fb = led.select(by, "floor").distinct()
    fcp = prev.select(by, "floor_cum").distinct()
    scalars = (
        fb.withColumnRenamed("floor", "__fb")
        .join(fcp.withColumnRenamed("floor_cum", "__fcp"), by, "full_outer")
        .select(
            by,
            F.coalesce(F.col("__fb"), F.lit(0)).cast("long").alias("__fb"),
            F.coalesce(F.col("__fcp"), F.lit(0)).cast("long").alias("__fcp"),
        )
    )
    j = (
        prev.select(by, "key", "est_lo", "est_hi")
        .join(
            led.select(by, "key", F.col("n").alias("__nb")),
            [by, "key"],
            "full_outer",
        )
        .join(scalars, by)
    )
    both = F.col("est_lo").isNotNull() & F.col("__nb").isNotNull()
    prev_only = F.col("est_lo").isNotNull() & F.col("__nb").isNull()
    state = j.select(
        by,
        "key",
        (F.coalesce(F.col("est_lo"), F.lit(0)) + F.coalesce(F.col("__nb"), F.lit(0)))
        .cast("long")
        .alias("est_lo"),
        F.when(both, F.col("est_hi") + F.col("__nb"))
        .when(prev_only, F.col("est_hi") + F.col("__fb"))
        .otherwise(F.col("__nb") + F.col("__fcp"))
        .cast("long")
        .alias("est_hi"),
        (F.col("__fb") + F.col("__fcp")).cast("long").alias("floor_cum"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy(F.desc("est_lo"), F.asc("key"))
    (
        state.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(by, "key", "est_lo", "est_hi", "rank")
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )
    (
        state.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(ledger_dir)
    )


def heavy_hitter_stream(
    stream_docs: DataFrame,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "key",
    by: str = "source",
    m: int = 64,
    k: int = 10,
    timeout: Optional[int] = 120,
):
    """Running per-group frequent items over a continuous ingest, from
    truncated-count ledgers alone
    (:func:`~pdtable_spark.operators.monitor.heavy_hitter_ledger`): per
    micro-batch and group, the cumulative top-k keys with DETERMINISTIC
    two-sided bounds (``est_lo ≤ true ≤ est_hi``) — the template-flood
    / hot-domain / boilerplate-phrase alarm that fires while the batch
    lands, with no rescan of earlier batches.  Completes the streaming
    ledger trio next to the HLL novelty and histogram quantile streams.

    State is a PARQUET LEDGER of cumulative bounded counts partitioned
    by ``batch_id`` (as-of-batch snapshots).  Exactly-once without
    transactional storage comes from the AS-OF read discipline alone
    (the quantile ledger's posture: counts ADD, so the as-of recompute
    — a retried batch reads strictly-earlier partitions and recomputes
    byte-identically — is the mechanism doing the work; there is no
    idempotent-merge second net).  The ledger counts OBSERVATIONS —
    dedup upstream if repeated keys must not reweight the counts.

    Output rows: (``by``, key, est_lo, est_hi, rank, batch_id); state
    rows: (``by``, key, est_lo, est_hi, floor_cum, batch_id).
    """
    spark = stream_docs.sparkSession

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _heavy_hitter_batch(
            spark, batch_df, batch_id, ledger_dir, out_dir, key_col, by, m, k
        )

    q = (
        stream_docs.writeStream.outputMode("append")
        .foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_or_raise(q, timeout, "heavy_hitter_stream")


def _moment_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    ledger_dir: str,
    out_dir: str,
    vec_col: str,
    quantize: float,
) -> None:
    """One micro-batch of the moment (gram) ledger (split out for unit
    tests).  Reads the cumulative exact-integer state AS-OF the previous
    batch (max batch_id strictly below this one — a RETRIED batch
    recomputes against the same pre-state, so both writes land
    byte-identically), adds this batch's :func:`~pdtable_spark.operators.
    similarity.gram_ledger` into it (all four fields are additive
    integers — the merge IS addition), writes the running finalized
    (i, j, n, gram, cov) report for this batch, then the advanced
    cumulative state under this batch's partition."""
    from pdtable_spark.operators.similarity import _gram_finalize, gram_ledger

    batch_led = gram_ledger(batch_df, vec_col, quantize)
    prev = batch_led.limit(0)
    if _ledger_exists(spark, ledger_dir):
        led_all = spark.read.parquet(ledger_dir).filter(F.col("batch_id") < batch_id)
        mx = led_all.agg(F.max("batch_id")).collect()[0][0]
        if mx is not None:
            prev = led_all.filter(F.col("batch_id") == mx).select(
                "i", "j", "n", "sp", "si", "sj"
            )
    merged = (
        prev.unionByName(batch_led)
        .groupBy("i", "j")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sp").cast("long").alias("sp"),
            F.sum("si").cast("long").alias("si"),
            F.sum("sj").cast("long").alias("sj"),
        )
    )
    (
        _gram_finalize(merged, quantize)
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )
    (
        merged.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(ledger_dir)
    )


def moment_ledger_stream(
    stream_vecs: DataFrame,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
    quantize: float = 1e6,
    timeout: Optional[int] = 120,
):
    """Running second-moment/covariance matrix over a continuous
    embedding ingest, from mergeable moment ledgers alone
    (:func:`~pdtable_spark.operators.similarity.gram_ledger`): per
    micro-batch, the cumulative (i, j, n, gram, cov) of everything
    ingested so far — the embedding-collapse/anisotropy alarm (and the
    incremental-PCA input: run ``pca_basis`` on any batch's report)
    that fires while the batch lands, with no rescan of earlier
    batches.  Completes the streaming ledger QUARTET next to the HLL
    novelty, histogram quantile and heavy-hitter streams.

    State is a PARQUET LEDGER of cumulative exact-integer sums
    partitioned by ``batch_id`` (as-of-batch snapshots, d(d+1)/2 rows
    each).  Exactly-once without transactional storage comes from the
    AS-OF read discipline alone (the quantile/heavy-hitter posture:
    integer sums ADD, so a retried batch recomputing against
    strictly-earlier state lands byte-identically; there is no
    idempotent-merge second net).  The ledger counts OBSERVATIONS —
    dedup upstream if re-ingested vectors must not reweight the
    moments.  ``quantize`` bounds apply to the cumulative TOTALS (the
    ``gram_matrix`` docstring's 2^53 headroom arithmetic) — size it to
    the stream's lifetime row count, not the batch size.

    Output rows: (i, j, n, gram, cov, batch_id); state rows:
    (i, j, n, sp, si, sj, batch_id).
    """
    spark = stream_vecs.sparkSession

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _moment_batch(
            spark, batch_df, batch_id, ledger_dir, out_dir, vec_col, quantize
        )

    q = (
        stream_vecs.writeStream.outputMode("append")
        .foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_or_raise(q, timeout, "moment_ledger_stream")


def _cell_ledger_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    ledger_dir: str,
    out_dir: str,
    train_ledger: DataFrame,
    centroids,
    vec_col: str,
    quantum: float,
    appended_frac_warn: float,
    dist_ratio_warn: float,
) -> None:
    """One micro-batch of the IVF cell ledger (split out for unit
    tests).  Reads the cumulative per-cell (n, sum_qd2) state AS-OF the
    previous batch, adds this batch's :func:`~pdtable_spark.operators.
    similarity.ivf_cell_ledger` into it (both fields are additive
    integers — the merge IS addition), writes the running staleness
    report vs the FROZEN train ledger for this batch, then the advanced
    cumulative state under this batch's partition."""
    from pdtable_spark.operators.similarity import (
        ivf_cell_ledger,
        ivf_staleness_from_ledgers,
    )

    batch_led = ivf_cell_ledger(
        batch_df, centroids, vec_col=vec_col, quantum=quantum
    )
    prev = batch_led.limit(0)
    if _ledger_exists(spark, ledger_dir):
        led_all = spark.read.parquet(ledger_dir).filter(
            F.col("batch_id") < batch_id
        )
        mx = led_all.agg(F.max("batch_id")).collect()[0][0]
        if mx is not None:
            prev = led_all.filter(F.col("batch_id") == mx).select(
                "cell", "n", "sum_qd2"
            )
    merged = (
        prev.unionByName(batch_led)
        .groupBy("cell")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_qd2").cast("long").alias("sum_qd2"),
        )
    )
    (
        ivf_staleness_from_ledgers(
            merged,
            train_ledger,
            quantum=quantum,
            appended_frac_warn=appended_frac_warn,
            dist_ratio_warn=dist_ratio_warn,
        )
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )
    (
        merged.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(ledger_dir)
    )


def cell_ledger_stream(
    stream_vecs: DataFrame,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    train_ledger: DataFrame,
    centroids,
    vec_col: str = "embedding",
    quantum: float = 1e6,
    appended_frac_warn: float = 0.5,
    dist_ratio_warn: float = 1.25,
    timeout: Optional[int] = 120,
):
    """Running IVF staleness over a continuous embedding ingest, from
    mergeable cell ledgers alone (:func:`~pdtable_spark.operators.
    similarity.ivf_cell_ledger`): per micro-batch, the cumulative
    per-cell appended fraction, assigned-d² drift ratio and retrain
    alarm vs the FROZEN train-time ledger — the ``ivf_append``
    when-to-retrain signal that updates while the append lands, with no
    rescan of earlier batches.  Extends the streaming ledger quartet
    (HLL novelty, histogram quantile, heavy-hitter, moment) to a
    QUINTET.

    State is a PARQUET LEDGER of cumulative per-cell (n, sum_qd2)
    integer sums partitioned by ``batch_id`` (as-of-batch snapshots,
    n_cells rows each).  Exactly-once without transactional storage
    comes from the AS-OF read discipline alone (the ledger posture:
    integer sums ADD, so a retried batch recomputing against
    strictly-earlier state lands byte-identically).  The ledger counts
    OBSERVATIONS — dedup upstream if re-ingested vectors must not
    reweight the cells.  ``train_ledger`` is the artifact persisted at
    train time next to the frozen centroids; it is never mutated here.

    Output rows: (cell, n_train, n_now, n_appended, appended_frac,
    mean_d2_train, mean_d2_now, dist_ratio, retrain, batch_id); state
    rows: (cell, n, sum_qd2, batch_id).
    """
    spark = stream_vecs.sparkSession

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _cell_ledger_batch(
            spark, batch_df, batch_id, ledger_dir, out_dir, train_ledger,
            centroids, vec_col, quantum, appended_frac_warn, dist_ratio_warn,
        )

    q = (
        stream_vecs.writeStream.outputMode("append")
        .foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_or_raise(q, timeout, "cell_ledger_stream")


def _sample_ledger_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    ledger_dir: str,
    out_dir: str,
    k: int,
    id_col: str,
    by,
    salt: str,
    hash_fn: str,
    keep_cols,
) -> None:
    """One micro-batch of the streaming bounded sample (split out for
    unit tests).  Samples THIS batch down to k per group, merges with
    the as-of-previous-batch state via the set-semantics merge
    (identical ids carry identical priorities, so a re-delivered or
    re-sent row is absorbed, never double-counted), writes the running
    sample with ranks for this batch, then the advanced state."""
    from pdtable_spark.operators.sampling import (
        merge_sample_ledgers,
        sample_ledger,
    )

    batch_s = sample_ledger(
        batch_df, k, id_col=id_col, by=by, salt=salt, hash_fn=hash_fn,
        keep_cols=keep_cols,
    )
    prev = batch_s.limit(0)
    if _ledger_exists(spark, ledger_dir):
        led_all = spark.read.parquet(ledger_dir).filter(
            F.col("batch_id") < batch_id
        )
        mx = led_all.agg(F.max("batch_id")).collect()[0][0]
        if mx is not None:
            prev = led_all.filter(F.col("batch_id") == mx).drop("batch_id")
    merged = merge_sample_ledgers(prev, batch_s, k, id_col=id_col, by=by)
    from pyspark.sql import Window

    order = [F.asc("priority"), F.asc(id_col)]
    w = (Window.partitionBy(by) if by is not None else Window.partitionBy(
        F.lit(1)
    )).orderBy(*order)
    (
        merged.withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )
    (
        merged.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(ledger_dir)
    )


def sample_ledger_stream(
    stream_docs: DataFrame,
    ledger_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    id_col: str = "doc_id",
    by=None,
    salt: str = "",
    hash_fn: str = "md5_60",
    keep_cols=(),
    timeout: Optional[int] = 120,
):
    """Running bounded uniform sample over a continuous ingest, from
    mergeable sample ledgers alone (:func:`~pdtable_spark.operators.
    sampling.sample_ledger`): per micro-batch, the k-per-group sample
    of EVERYTHING ingested so far — the "show me a representative slice
    of this unbounded feed" answer that stays valid as batches land,
    with no rescan and state bounded at groups × k rows.  Extends the
    streaming ledger family (HLL novelty, quantile, heavy-hitter,
    moment, IVF cell) to a SEXTET — and unlike the observation-counting
    ledgers, this one is SET-semantics: a row's fate is a pure function
    of its id, so overlapping redeliveries are absorbed by the merge
    rather than needing the as-of recompute to cancel them (both nets
    hold — as-of reads AND content-stable priorities).

    Output rows: (``by``?, id, keep_cols..., priority, rank,
    batch_id); state rows: the same minus rank.
    """
    spark = stream_docs.sparkSession

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _sample_ledger_batch(
            spark, batch_df, batch_id, ledger_dir, out_dir, k, id_col, by,
            salt, hash_fn, keep_cols,
        )

    q = (
        stream_docs.writeStream.outputMode("append")
        .foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_or_raise(q, timeout, "sample_ledger_stream")


def _shard_ledger_batch(
    spark,
    batch_df: DataFrame,
    batch_id: int,
    ledger_dir: str,
    key_col: str,
    token_col: Optional[str],
    num_shards: int,
    salt: str,
) -> None:
    """One micro-batch of the shard-manifest ledger (split out for unit
    tests).  Shard membership is the deterministic hash assignment of
    ``io.maintenance.write_training_shards(assignment="hash")`` —
    ``md5_60(salt‖key) % num_shards``, a pure function of the row — so
    the running per-shard (n_docs, n_tokens) manifest of everything
    ingested so far is exact and engine-reproducible.  Additive-integer
    state under the AS-OF read discipline: a retried batch recomputes
    against strictly-earlier state and lands byte-identically."""
    from pdtable_spark.operators.dedup import shard_of

    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    if token_col is not None:
        aggs.append(F.sum(token_col).cast("long").alias("n_tokens"))
    batch_led = (
        batch_df.withColumn("shard", shard_of(F.col(key_col), num_shards, salt))
        .groupBy("shard")
        .agg(*aggs)
    )
    state_cols = ["shard", "n_docs"] + (
        ["n_tokens"] if token_col is not None else []
    )
    prev = batch_led.limit(0)
    if _ledger_exists(spark, ledger_dir):
        led_all = spark.read.parquet(ledger_dir).filter(
            F.col("batch_id") < batch_id
        )
        mx = led_all.agg(F.max("batch_id")).collect()[0][0]
        if mx is not None:
            # explicit column select (the sibling-ledger convention): a
            # token_col change across the ledger's lifetime fails with a
            # clear missing-column message, not a mid-union mismatch
            prev = led_all.filter(F.col("batch_id") == mx).select(*state_cols)
    sums = [F.sum("n_docs").cast("long").alias("n_docs")]
    if token_col is not None:
        sums.append(F.sum("n_tokens").cast("long").alias("n_tokens"))
    merged = prev.unionByName(batch_led).groupBy("shard").agg(*sums)
    (
        merged.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(ledger_dir)
    )


def shard_ledger_stream(
    stream_docs: DataFrame,
    ledger_dir: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    token_col: Optional[str] = "n_tokens",
    num_shards: int = 32,
    salt: str = "",
    timeout: Optional[int] = 120,
):
    """Running training-shard manifest over a continuous document
    ingest: per micro-batch, the cumulative per-shard (n_docs,
    n_tokens) of everything ingested so far, under the SAME
    deterministic hash assignment the batch exporter uses
    (``write_training_shards(assignment="hash")``) — so the epoch
    planner's manifest is always current while batches land, and the
    final ledger row equals the batch export's manifest bit-for-bit.

    State is a parquet ledger partitioned by ``batch_id`` (as-of-batch
    snapshots, ``num_shards`` rows each); exactly-once comes from the
    AS-OF read discipline alone (additive integers — the
    novelty/quantile/heavy-hitter/moment/cell/sample posture, making
    this the SEPTET's seventh ledger stream).

    Ledger rows: (shard, n_docs[, n_tokens], batch_id).
    """
    spark = stream_docs.sparkSession

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _shard_ledger_batch(
            spark, batch_df, batch_id, ledger_dir, key_col, token_col,
            num_shards, salt,
        )

    q = (
        stream_docs.writeStream.outputMode("append")
        .foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_or_raise(q, timeout, "shard_ledger_stream")

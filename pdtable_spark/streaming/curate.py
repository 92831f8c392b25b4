"""Continuous corpus curation: the batch curation operators (quality rules,
exact dedup, incremental LSH dedup against a persisted index) composed into
ONE streaming micro-batch pipeline over a JSONL landing directory.

This is the shape a 100 TB training-data pipeline actually runs in
production: documents land continuously, each micro-batch pays only
per-batch work (rule filters are scan-local column expressions; the LSH
index join hashes just the batch and key-prunes into the index), and the
corpus-sized state — the band-bucket index — GROWS by appends instead of
being recomputed.  Exactly-once outputs: both the cleaned-docs sink and
the index append are ``batch_id``-partitioned dynamic overwrites, so a
retried micro-batch replaces its own output; the loaded index excludes the
current batch's own ids, so a retry that already appended still computes
the identical survivor set.

No counterpart in the reference (its I/O is one-shot file loading); the
operators themselves are the batch ones — Spark's unified batch/streaming
DataFrame model is what makes this composition a page of glue.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdtable_spark.streaming._await import await_or_raise
from pdtable_spark.streaming.monitor import _ledger_exists

from pdtable_spark.operators.dedup import (
    band_buckets,
    exact_dedup_keep_first,
    incremental_dedup,
)
from pdtable_spark.operators.text import gopher_quality_flags


def _curate_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    index_dir: str,
    min_words: int,
    min_stopwords: int,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    hash_fn: str,
) -> None:
    spark = batch_df.sparkSession
    if not batch_df.take(1):
        return

    # 1. rule-based quality gate (scan-local column expressions)
    flags = gopher_quality_flags(
        batch_df, min_words=min_words, min_stopwords=min_stopwords
    ).select("doc_id", "pass_all")
    passed = batch_df.join(
        flags.filter(F.col("pass_all") == 1).select("doc_id"), "doc_id", "semi"
    )

    # 2. intra-batch exact dedup (keep min id); near-dup inside one batch is
    #    bounded by batch size — run minhash_dedup over survivors offline if
    #    the landing feed itself is paraphrase-heavy
    passed = exact_dedup_keep_first(passed)

    # 3. incremental LSH dedup against the persisted index.  The batch's own
    #    ids are excluded from the loaded index so a RETRIED batch (whose
    #    previous attempt already appended) sees the same corpus state.
    #    A missing index (the first batch) is the one case read as empty;
    #    it is probed through the same Hadoop filesystem that reads it, so
    #    every scheme Spark reads (s3a/hdfs/dbfs included) works.  An index
    #    that exists but cannot be read (transient FS error, corrupt
    #    footer, permissions) fails the batch loudly: silently skipping it
    #    would commit near-duplicates.
    idx = spark.read.parquet(index_dir) if _ledger_exists(spark, index_dir) else None
    if idx is not None:
        idx = idx.join(passed.select("doc_id"), "doc_id", "left_anti")
        survivors = incremental_dedup(
            passed, idx, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, hash_fn=hash_fn,
        )
    else:
        survivors = passed

    # 4. grow the index and land the cleaned docs — both batch_id-partitioned
    #    dynamic overwrites (idempotent under micro-batch retry)
    (
        band_buckets(
            survivors, num_hashes=num_hashes, bands=bands,
            shingle_n=shingle_n, hash_fn=hash_fn,
        )
        .withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(index_dir)
    )
    (
        survivors.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def curate_stream(
    stream_docs: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    min_words: int = 20,
    min_stopwords: int = 0,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 5,
    hash_fn: str = "xxhash64",
    timeout: Optional[int] = 120,
):
    """Run the curation pipeline over a document stream
    (:func:`pdtable_spark.io.jsonl.read_jsonl_stream`) with
    ``availableNow`` semantics; returns the finished query.

    Per micro-batch: Gopher-rule filter → intra-batch exact dedup →
    incremental LSH dedup vs the ``index_dir`` band index → append
    survivors to ``out_dir`` and their index rows to ``index_dir``.
    The checkpoint makes file pickup exactly-once across restarts.
    """

    def run(batch_df: DataFrame, batch_id: int) -> None:
        _curate_batch(
            batch_df, batch_id, out_dir, index_dir,
            min_words, min_stopwords, num_hashes, bands, shingle_n, hash_fn,
        )

    q = (
        stream_docs.writeStream.outputMode("append")
        .foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    return await_or_raise(q, timeout, "continuous_curate")

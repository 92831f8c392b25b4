"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced to execute fully (count of a cached-nothing plan —
results are small aggregates, so count ≈ full execution).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

#: BENCH_r08 lesson: the driver's bounded tail capture truncated the result
#: JSON because ~75 per-query progress lines preceded it (the driver merges
#: stdout+stderr).  Stdout discipline is now: the result JSON is the ONLY
#: line this process prints by default; per-query chatter is opt-in via
#: SPARK_GRAFT_BENCH_VERBOSE=1, and a byte-identical copy of the JSON lands
#: in BENCH_LAST.json next to this file so the artifact survives any capture.
_VERBOSE = os.environ.get("SPARK_GRAFT_BENCH_VERBOSE", "") not in ("", "0")


def _progress(msg: str) -> None:
    if _VERBOSE:
        print(msg, file=sys.stderr)

#: The headline set: one per operator family — scan+agg, join+topk, star
#: join, window, sessionization, as-of join, dedup (exact + minhash),
#: text stats, similarity search.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_volume",
    "q10_returned_revenue",
    "q_top_orders_per_customer",
    "q_events_sessions",
    "q_purchase_last_click",
    "q_events_in_windows",
    "dedup_exact",
    "minhash_candidates",
    "text_fingerprint",
    "embedding_topk",
    "multimodal_features",
    "q8_market_share",
    "q_events_funnel",
    "text_tfidf_keywords",
]

EXTENDED = [
    "stream_hourly_counts",
    "stream_funnel_stateful",
    "dedup_incremental",
    "dedup_incremental_verified",
    "ann_query_served",
    "embedding_lsh_topk",
    # round-5 operators: model-based filtering, SemDeDup, stream-static
    "text_classifier_filter",
    "embedding_semantic_dedup",
    "stream_enriched_segments",
    # round-5 additions: span-level dedup and compressed-index ANN serving
    "dedup_spans",
    "pq_query_served",
    # round-6 additions: the remaining serving path (IVF), the
    # now-default skew-safe TF-IDF df spelling (window spelling stays
    # in the headline series for round-over-round comparability), and
    # the quality-rule family (full Gopher set; word-level repetition)
    "ivf_query_served",
    "text_tfidf_agg",
    "text_gopher_rules",
    "text_repetition_signals",
    # round-7 additions: the remaining r6 operator families (C4 page
    # cleaning, term blocklist, the composite curation recipe, the
    # drift monitor — now single-scan-per-side) and the r7
    # per-source score calibration (both spellings in one frame)
    "text_c4_rules",
    "text_blocklist_filter",
    "pipeline_modern_recipe",
    "pipeline_drift_report",
    "pipeline_score_calibration",
    # round-8 additions: BM25 retrieval
    # (zero-postings-shuffle) and DSIR importance scoring (bounded-LUT
    # scan-local fold) are the two corpus-heavy ones
    "text_bm25_topk",
    "pipeline_dsir_weights",
    # round-8 additions (cont.): line-level boilerplate dedup
    # (broadcast spelling — the corpus-heavy one), the embedding
    # cluster profile/sample pair, and the one-scan threshold curve
    "text_line_dedup",
    "embedding_cluster_profile",
    "embedding_cluster_sample",
    "pipeline_threshold_sweep",
    # round-8 additions (cont.): Bloom decontamination screen
    # (the corpus-heavy probe join) and the contrastive-training pair
    # (broadcast-anchor scans over the embedding table).  The
    # streaming screen replay is NOT benched — like the registered
    # stream_curate_survivors replay, its cost is micro-batch fixed
    # overhead (~40 s of checkpoint/landing setup at any SF), which
    # would drown the signal the bench rows exist to trend.
    "pipeline_bloom_screen",
    "embedding_hard_negatives",
    "embedding_label_propagation",
    # round-8 additions (cont.): winnowing — the zero-shuffle
    # fingerprint selection and the inverted-print pair join
    "text_winnow_fingerprints",
    "dedup_winnow_pairs",
    # round-8 additions (cont.): per-source cap (both spellings
    # pinned in one frame) and the zero-shuffle OOV-share report
    "pipeline_source_cap",
    "text_vocab_coverage",
    # round-8 additions (cont.): record-level privacy
    "pipeline_k_anonymize",
    "pipeline_anonymity_report",
    # round-8 additions (cont.): asymmetric containment near-dups
    "dedup_containment_pairs",
    # round-8 additions (cont.): release bookkeeping
    "pipeline_snapshot_diff",
    # round-8 additions (cont.): facade mutation chain (R10-R14)
    "pipeline_facade_ops",
    # round-8 additions (cont.): frozen-vocab OOV drift alarm
    "text_vocab_drift",
    # round-8 in-round additions: the IVF-accelerated label
    # propagation (priced against its exact sibling
    # embedding_label_propagation above) and the containment pair
    # miner in production df-cut mode (the exact-mode row
    # dedup_containment_pairs stays for round-over-round trend)
    "embedding_label_prop_agreement",
    "label_prop_ivf_served",
    "dedup_containment_prod",
    # round-8 in-round addition: HLL distinct-count ledger + novelty
    "pipeline_novelty_ledger",
    # round-8 in-round addition: trained-BPE fertility scan
    "text_bpe_fertility",
    # round-8 in-round addition: margin-based pair mining
    "embedding_margin_mining",
    # round-8 in-round additions: corpus lexical diversity (single
    # scan, digest shuffle) and the per-source unigram divergence
    # matrix (broadcast vocab probe, |S|x(V+1) tail)
    "text_distinct_ngrams",
    "pipeline_source_divergence",
    # round-8 in-round addition: mergeable histogram ledger (two
    # snapshot builds + additive union + interpolated quantiles)
    "pipeline_quantile_ledger",
    # round-8 in-round addition: scalar-quantization recall (both
    # grids vs exact — three broadcast scans)
    "embedding_sq_recall",
    # round-8 in-round additions: the filter kappa matrix (one
    # aggregate row) and the erasure sweep (find pass + partition
    # rewrite of a derived lake)
    "pipeline_filter_agreement",
    "pipeline_forget_audit",
    # round-8 in-round addition: collocations by lift (bigram-domain
    # count + marginal windows + TakeOrdered)
    "text_collocations",
    # round-8 in-round addition: embedding covariance matrix (one
    # scan, d²-domain shuffle — the PCA/anisotropy precursor)
    "embedding_gram",
    # round-9 in-round additions: IVF-served margin
    # mining agreement (exact + probed spellings in one frame), the
    # PCA rotation-invariance projection gate, and the heavy-hitters
    # ledger (two snapshot builds + bounded merge)
    "embedding_margin_agreement",
    "embedding_pca_project",
    "pipeline_heavy_hitters",
    "margin_mining_ivf_served",
    # round-9 in-round addition: frozen bigram-LM quality
    # scoring (train on the even half, score the odd half)
    "text_lm_bigram_nll",
    # round-9 in-round addition: zero-decode header
    # metadata scan (synthesize + parse, one codegen projection)
    "multimodal_image_meta",
    # round-10 addition: the full TPC-H Q22 analog (pool filter +
    # broadcast scalar threshold + anti-join + dim rollup)
    "q22_idle_customers",
    # round-10 in-round addition: the full model-quality
    # recipe (frozen classifier fold + frozen LM buckets + one-scan
    # threshold sweep)
    "pipeline_model_quality_recipe",
    # round-10 in-round additions: zero-decode WAV chunk
    # walk and AVI header walk (synthesize + parse, one codegen
    # projection each — the audio/video arms of the pre-decode trio)
    "multimodal_audio_meta",
    "multimodal_video_meta",
    # round-10 in-round addition: the mergeable moment
    # ledger (two snapshot gram states + d²-domain merge)
    "embedding_gram_ledger",
    # round-10 in-round addition: Z-order clustering key
    # profile (bounded min/max artifact + codegen bit interleave + one
    # 64-cell aggregate — the layout job's certificate pass)
    "lake_zorder_cells",
    # round-10 in-round addition: per-column ANALYZE
    # pre-flight (one aggregate pass per table, unpivot on the single
    # aggregate row)
    "pipeline_column_profile",
    # round-10 in-round addition: JSON shape census
    # (synthesize varying-shape docs, two bounded explodes, one
    # path-domain aggregate)
    "pipeline_json_profile",
    # round-11 in-round additions: the certificate-driven
    # reads (range-predicate and dimension-key-set spellings — each
    # prices a clustered write + stats pass + pruned scan), the IVF
    # staleness diagnostic (two ledger passes + broadcast join), the
    # typed-JSON trio (one-parse extraction, lexical inference, schema
    # drift diff), and the Hilbert cell profile (bounded fold + 64-cell
    # aggregate).  The streaming rows (stream_ivf_staleness,
    # stream_sample_ledger) are NOT benched per the streaming policy —
    # micro-batch fixed overhead would drown the trend signal.
    "lake_pruned_read",
    "lake_pruned_semi_read",
    "lake_bloom_pruned_read",
    "embedding_ivf_staleness",
    "pipeline_json_extract_typed",
    "pipeline_json_infer_plan",
    "pipeline_json_profile_diff",
    "lake_hilbert_cells",
    # round-12 in-round addition: the composed curation DAG
    # (Gopher gate -> exact dedup -> LSH greedy -> semantic prune ->
    # source cap -> chunk -> pack -> shard accounting) in ONE lineage —
    # prices cross-operator plan-size/driver-latency, the regression class
    # the per-stage rows cannot see (the multimodal_audio_meta lesson)
    "pipeline_e2e_curation",
    # round-12 in-round additions: the sidecar REFRESH
    # lifecycles (two-phase write + incremental refresh + certificate
    # read) and the hot-bucket guard on a deliberately skewed corpus
    # (stream_upsert_vacuum excluded per the streaming policy)
    "lake_zone_refresh_read",
    "lake_bloom_refresh_read",
    "lake_compact_refresh_read",
    "dedup_skewed_buckets",
    "pipeline_shard_export",
    "q_bucketed_colocated_join",
    # round-13 in-round additions: the partitioned pack
    # spelling (one shuffle on the shard key), the manifest-validated
    # read lifecycles (listing-free certificate reads), and the
    # snapshot-frame residual semi read (stream_upsert_hotkey excluded
    # per the streaming policy)
    "pipeline_pack_partitioned",
    "lake_manifest_read",
    "lake_manifest_bloom_read",
    "lake_semi_snapshot_keys",
    "lake_manifest_diff",
    "pipeline_curriculum",
    "pipeline_curriculum_by_source",
]

#: Tiered capture (VERDICT r12 task #5): the full 100+-row extended map
#: at ~2 min/capture x 4 closing captures is where the documented ~1.3x
#: host swing bites (post-sweep contention).  SPARK_GRAFT_BENCH_TIER=core
#: times only the headline-16 plus the lifecycle/serving rows below —
#: the rows whose code actually moves round to round — so the closing
#: bracket costs minutes, not hours.  The default stays "full" (the
#: driver's per-round artifact keeps every cell; the long tail is
#: re-priced there and on-touch).
CORE_EXTENDED = [
    # serving / incremental steady-state rows
    "dedup_incremental",
    "dedup_incremental_verified",
    "ann_query_served",
    "ivf_query_served",
    "pq_query_served",
    "label_prop_ivf_served",
    "margin_mining_ivf_served",
    # lake layout + certificate lifecycles
    "lake_pruned_read",
    "lake_pruned_semi_read",
    "lake_bloom_pruned_read",
    "lake_zone_refresh_read",
    "lake_bloom_refresh_read",
    "lake_compact_refresh_read",
    "lake_manifest_read",
    "lake_manifest_bloom_read",
    "lake_semi_snapshot_keys",
    "lake_manifest_diff",
    "pipeline_curriculum",
    "pipeline_curriculum_by_source",
    "lake_zorder_cells",
    "lake_hilbert_cells",
    # composed DAG + skew guard + shard export + co-located join
    "pipeline_e2e_curation",
    "dedup_skewed_buckets",
    "pipeline_shard_export",
    "q_bucketed_colocated_join",
    "pipeline_pack_partitioned",
]


def _ambient_guard(max_wait_sec: float = 120.0) -> dict:
    """Contention guard for the recorded artifact: BENCH_r06/r07 were both
    captured in busy windows on this shared VM (uniform ~1.1-1.4× shift on
    identical code, idle re-runs in-band — see BENCH_NOTES.md), so before
    timing anything we (a) probe ambient load and wait, bounded, for a
    quiet window, and (b) stamp the probe into the output JSON so a hot
    capture is adjudicable from the artifact alone.

    Two signals, both driver-side and pre-Spark:
    - 1-minute loadavg / cpu count — detects co-tenant CPU pressure;
    - a single-thread pure-Python probe (best-of-3) vs the idle-measured
      calibration in bench_calibration.json — detects slowdown even when
      loadavg lags a fresh burst.  No calibration file → probe is
      informational only (recorded, never gates).
    """
    ncpu = os.cpu_count() or 1
    cal_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_calibration.json"
    )
    calib = None
    try:
        with open(cal_path) as fh:
            calib = json.load(fh)["probe_sec"]
    except Exception:
        pass

    def probe() -> float:
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            acc = 0
            for i in range(1_000_000):
                acc += i * i
            el = time.perf_counter() - t0
            best = el if best is None or el < best else best
        return best

    waited = 0.0
    p, load1 = probe(), os.getloadavg()[0]
    while waited < max_wait_sec and (
        load1 / ncpu > 0.30 or (calib is not None and p > 1.25 * calib)
    ):
        _progress(
            f"# ambient: busy (load1={load1:.1f}/{ncpu}, probe={p * 1e3:.0f}ms"
            f" vs calib={calib and round(calib * 1e3)}ms) — waiting 15s"
        )
        time.sleep(15.0)
        waited += 15.0
        p, load1 = probe(), os.getloadavg()[0]
    return {
        "load1": round(load1, 2),
        "ncpu": ncpu,
        "probe_sec": round(p, 4),
        "calib_sec": calib,
        "waited_sec": waited,
        "hot": bool(
            load1 / ncpu > 0.30 or (calib is not None and p > 1.25 * calib)
        ),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    ambient = _ambient_guard()

    # Size the file-split granularity to the benchmark SF: the biggest table
    # at sf0.1 is ~11 MB, so the 128 MB default reads every table as ONE task
    # while the other 31 cores idle.  Split so the largest scan fans out to
    # ~cpus tasks (floor 2 MiB — below that, per-task overhead dominates
    # and the sub-MB dimension tables over-split).
    # At production scale files exceed 128 MB and this knob reverts to moot.
    # A "table" may be a single file OR a directory of part files — size the
    # largest SCAN, i.e. each top-level entry's recursive parquet byte sum
    # (a bare dir-inode getsize would collapse mpb to the floor).
    import glob as _glob

    def _table_bytes(entry: str) -> int:
        if os.path.isfile(entry):
            return os.path.getsize(entry)
        return sum(
            os.path.getsize(p)
            for p in _glob.glob(os.path.join(entry, "**", "*.parquet"), recursive=True)
            if os.path.isfile(p)
        )

    largest = max(
        (_table_bytes(p) for p in _glob.glob(os.path.join(sf_dir, "*.parquet"))),
        default=128 << 20,
    )
    mpb = max(2 << 20, largest // int(cpus))

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pdtable_spark-bench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", str(mpb))
        .config("spark.sql.files.openCostInBytes", str(128 << 10))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from pdtable_spark.operators import dedup, similarity
    from pdtable_spark.queries.embedding import seed_centroids
    from pdtable_spark.queries.suite import QUERIES, load

    BENCH_QUERIES = dict(QUERIES)
    # the suite's minhash query runs hash_fn="md5_60" (the DuckDB-checkable
    # verification mode); the headline benchmarks the PRODUCTION hash path
    BENCH_QUERIES["minhash_candidates"] = lambda s, d: dedup.minhash_dedup(
        load(s, d, "documents"), num_hashes=16, bands=4, jaccard_threshold=0.5
    )

    # --- extended rows: streaming + incremental/serving operators ----------
    # These measure the STEADY-STATE cost of the continuous paths: the
    # corpus-side state (LSH band index, shingle store, persisted ANN
    # index) is built ONCE outside the timed region — that is the whole
    # point of the incremental designs — and each timed run pays only the
    # per-batch work (hash the new batch / read the pruned partitions).
    _state: dict = {}

    def _inc_state(s, d):
        if "inc" not in _state:
            docs = load(s, d, "documents")
            corpus = docs.filter(F.col("doc_id") % 2 == 0)
            idx = dedup.band_buckets(corpus).cache()
            store = dedup.shingle_store(corpus).cache()
            idx.count(), store.count()
            _state["inc"] = (idx, store)
        return _state["inc"]

    def bench_dedup_incremental(s, d):
        idx, _ = _inc_state(s, d)
        new = load(s, d, "documents").filter(F.col("doc_id") % 2 == 1)
        return dedup.incremental_dedup(new, idx)

    def bench_dedup_incremental_verified(s, d):
        idx, store = _inc_state(s, d)
        new = load(s, d, "documents").filter(F.col("doc_id") % 2 == 1)
        return dedup.incremental_dedup(
            new, idx, verify_threshold=0.5, corpus_shingles=store
        )

    def bench_ann_query_served(s, d):
        if "ann" not in _state:
            import tempfile

            path = tempfile.mkdtemp(prefix="bench_ann_") + "/index"
            emb = s.read.parquet(f"{d}/embeddings.parquet")
            similarity.ann_index(emb).write.partitionBy("tbl", "bkt").parquet(path)
            # the serving process lists the index's partition tree ONCE and
            # keeps the DataFrame (its InMemoryFileIndex) across batches —
            # the timed region is the per-batch work: bucketize the queries,
            # partition-pruned scan, exact re-rank
            _state["ann"] = s.read.parquet(path)
        emb = s.read.parquet(f"{d}/embeddings.parquet")
        q = emb.limit(16).withColumnRenamed("vec_id", "query_id")
        return similarity.ann_query(_state["ann"], q, k=10, prune_partitions=True)

    def bench_ivf_query_served(s, d):
        if "ivf" not in _state:
            import tempfile

            path = tempfile.mkdtemp(prefix="bench_ivf_") + "/index"
            emb = s.read.parquet(f"{d}/embeddings.parquet")
            cents = seed_centroids(emb)
            similarity.ivf_index(emb, cents).write.partitionBy("cell").parquet(path)
            # like the ANN row: the index DataFrame (and its file listing)
            # persists across query batches; the timed region is per-batch —
            # rank the probe cells, broadcast-join into the pruned partitions,
            # exact cosine re-rank
            _state["ivf"] = (s.read.parquet(path), cents)
        idx, cents = _state["ivf"]
        emb = s.read.parquet(f"{d}/embeddings.parquet")
        q = emb.limit(16).withColumnRenamed("vec_id", "query_id")
        return similarity.ivf_query(idx, q, cents, k=10, nprobe=4)

    def bench_pq_query_served(s, d):
        if "pq" not in _state:
            emb = s.read.parquet(f"{d}/embeddings.parquet")
            books = similarity.pq_codebooks(emb, n_codes=16, num_subspaces=8)
            idx = similarity.pq_encode(emb, books).cache()
            idx.count()
            _state["pq"] = (idx, books)
        idx, books = _state["pq"]
        emb = s.read.parquet(f"{d}/embeddings.parquet")
        q = emb.limit(16).withColumnRenamed("vec_id", "query_id")
        return similarity.pq_query(idx, q, books, k=10)

    def bench_label_prop_ivf_served(s, d):
        # steady-state cost of the IVF-accelerated label propagator: the
        # label-carrying index is built once (like the other serving rows);
        # the timed region is probe + vote — price it against the exact
        # broadcast spelling in embedding_label_propagation above
        if "lp_ivf" not in _state:
            emb = s.read.parquet(f"{d}/embeddings.parquet")
            cents = seed_centroids(emb)
            idx = similarity.ivf_index(
                emb.filter(F.col("vec_id") % 10 != 0), cents, metadata_cols=["label"]
            ).cache()
            idx.count()
            _state["lp_ivf"] = (idx, cents)
        idx, cents = _state["lp_ivf"]
        emb = s.read.parquet(f"{d}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") % 10 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return similarity.knn_label_propagation_ivf(idx, q, cents, k=10, nprobe=4)

    def bench_bpe_fertility(s, d):
        # tokenizer artifact trained ONCE (driver-side merge loop over the
        # bounded word table — the persisted-model pattern); the timed
        # region is the Arrow-batched corpus encode + fertility aggregate
        if "bpe" not in _state:
            from pdtable_spark.operators import tokenizer

            docs = load(s, d, "documents")
            _state["bpe"] = tokenizer.bpe_train(
                docs.filter(F.col("doc_id") % 10 == 0), num_merges=200
            )
        from pdtable_spark.operators import tokenizer

        return tokenizer.bpe_fertility(load(s, d, "documents"), _state["bpe"])

    BENCH_QUERIES["text_bpe_fertility"] = bench_bpe_fertility

    def bench_margin_mining_ivf_served(s, d):
        # steady-state cost of IVF-served margin mining: the candidate
        # index is built once (the serving-row pattern); the timed
        # region is probe + shared rescore — price it against the exact
        # spelling inside embedding_margin_agreement
        if "mm_ivf" not in _state:
            emb = s.read.parquet(f"{d}/embeddings.parquet")
            cents = seed_centroids(emb)
            idx = similarity.ivf_index(
                emb.filter(F.col("vec_id") % 7 != 0), cents
            ).cache()
            idx.count()
            _state["mm_ivf"] = (idx, cents)
        idx, cents = _state["mm_ivf"]
        emb = s.read.parquet(f"{d}/embeddings.parquet")
        left = emb.filter(F.col("vec_id") % 7 == 0)
        return similarity.margin_mining_ivf(
            idx, left, cents, k=4, threshold=1.05, nprobe=4
        )

    BENCH_QUERIES["margin_mining_ivf_served"] = bench_margin_mining_ivf_served

    BENCH_QUERIES["dedup_incremental"] = bench_dedup_incremental
    BENCH_QUERIES["dedup_incremental_verified"] = bench_dedup_incremental_verified
    BENCH_QUERIES["ann_query_served"] = bench_ann_query_served
    BENCH_QUERIES["ivf_query_served"] = bench_ivf_query_served
    BENCH_QUERIES["pq_query_served"] = bench_pq_query_served
    BENCH_QUERIES["label_prop_ivf_served"] = bench_label_prop_ivf_served

    # the suite's containment row runs EXACT mode (no df-cut — the oracle
    # spelling); this row prices the PRODUCTION path, where max_doc_freq
    # bounds the k² posting expansion — the 100 TB configuration
    BENCH_QUERIES["dedup_containment_prod"] = lambda s, d: dedup.containment_pairs(
        load(s, d, "documents"), shingle_n=5, threshold=0.6, max_doc_freq=50
    )


    # Warm-up pass: run every headline query once, untimed.  The JVM's C2
    # compiler needs 1-2 executions before a query's generated code runs at
    # steady state (measured: the same tfidf plan goes 6.4 s cold → 0.86 s
    # warm in one session), and compilation threads compete with the 32
    # worker threads — timing a cold run measures the JIT, not the engine.
    tier = os.environ.get("SPARK_GRAFT_BENCH_TIER", "full")
    if tier not in ("full", "core"):
        # fail LOUD on a typo: a silent fallback would drop ~80 priced
        # rows from the round's driver-comparable full map
        sys.exit(f"SPARK_GRAFT_BENCH_TIER must be 'full' or 'core', got {tier!r}")
    ext_names = (
        EXTENDED
        if tier == "full"
        else [n for n in EXTENDED if n in set(CORE_EXTENDED)]
    )
    spark.range(64).repartition(int(cpus)).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    for name in HEADLINE + ext_names:
        BENCH_QUERIES[name](spark, sf_dir).count()

    def time_query(name):
        best, n = None, 0
        for _ in range(3):  # min-of-3 over warm runs: robust to VM noise
            t0 = time.time()
            df = BENCH_QUERIES[name](spark, sf_dir)
            n = df.count()
            el = time.time() - t0
            best = el if best is None or el < best else best
        _progress(f"# {name}: {n} rows in {round(best, 3)}s")
        return round(best, 3)

    timings = {name: time_query(name) for name in HEADLINE}
    extended = {name: time_query(name) for name in ext_names}
    # Second headline pass: one more chance (~10 s) to dodge a transient
    # burst that hit the first pass.  ADVICE r8: min-merging this INTO the
    # series silently turned the r08 headline into min-of-6 while
    # BENCH_r01..r07 were min-of-3 — a one-sided bias.  The comparable
    # series ("value"/"headline16_total"/"queries") stays strictly
    # min-of-3; the merged min-of-6 is recorded SEPARATELY.
    timings_min6 = {
        name: min(timings[name], time_query(name)) for name in HEADLINE
    }

    # "value" stays the HEADLINE-16 total — the round-over-round comparable
    # series (BENCH_r01..r04 measured exactly this set).  The extended rows
    # (streaming, incremental dedup, ANN serving) are reported per-query
    # plus as their own total so their trend is tracked without breaking
    # the headline series.  See BENCH_NOTES.md.
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {**timings, **extended},
        "headline16_total": total,
        "headline16_total_min6": round(sum(timings_min6.values()), 3),
        "extended_total": round(sum(extended.values()), 3),
        "tier": tier,
        "ambient": ambient,
        # second probe AFTER the timed region: contention that
        # arrives mid-run is adjudicable from the artifact too
        # (round-9 drift root-cause — see BENCH_NOTES.md)
        "ambient_end": _ambient_guard(max_wait_sec=0.0),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # FULL artifact (every per-query cell) → BENCH_LAST.json, always.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"),
        "w",
    ) as fh:
        fh.write(json.dumps(payload, separators=(",", ":")) + "\n")
    # BENCH_r09 lesson (VERDICT r9 "what's wrong" #1, second round running):
    # the driver keeps only the LAST 2000 BYTES of output, so the stdout
    # line must fit that tail or the artifact's "parsed" stays null.  The
    # full map is ~2.5k chars and growing one row per bench addition —
    # stdout carries the compact summary with the HEADLINE-16 map only
    # (~1.1k chars, the round-over-round comparable series); the extended
    # rows live in BENCH_LAST.json.  A hard guard drops the map rather
    # than ever exceeding the tail again.
    line = json.dumps(
        {**payload, "queries": timings, "full_map": "BENCH_LAST.json"},
        separators=(",", ":"),
    )
    if len(line) > 1900:
        line = json.dumps(
            {**payload, "queries": {}, "full_map": "BENCH_LAST.json"},
            separators=(",", ":"),
        )
    print(line, flush=True)


if __name__ == "__main__":
    main()

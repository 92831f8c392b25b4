"""Physical-plan contracts for the scale-critical queries.

These pin the *shape* Catalyst must keep choosing — pushed filters, broadcast
dimensions, shuffle counts, codegen-only pipelines — so a refactor that
silently degrades a plan (lost pushdown, broadcast falling back to
sort-merge, an extra exchange) fails CI instead of only showing up at 100 TB.
Assertions use stable plan-string invariants, not exact plan text.
"""

import re

import pytest

from pdtable_spark.queries.suite import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    qe = df._jdf.queryExecution()
    return qe.executedPlan().toString(), qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def n_exchanges(plan):
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_q1_pushes_date_filter_single_shuffle(spark):
    plan, formatted = plan_of(spark, "q1_pricing_summary")
    assert "l_shipdate" in " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", formatted))
    assert n_exchanges(plan) == 1


def test_q5_broadcasts_dimensions(spark):
    """nation/region broadcast via explicit hints; the customer-derived dims
    edge is unhinted (scale safety — see the query docstring), so its
    broadcast is AQE's runtime decision: assert on the FINAL adaptive plan
    after execution, where it must have converted to broadcast at this size."""
    df = QUERIES["q5_region_volume"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE toString appends the pre-adaptive plan
    assert final.count("BroadcastHashJoin") >= 3  # dims never shuffle the fact side
    assert "SortMergeJoin" not in final


def test_q7_broadcasts_dimensions(spark):
    # sf0.01, not sf0.001: q7's filters yield zero rows at the smaller
    # scale and AQE short-circuits the whole plan to EmptyRelation
    df = QUERIES["q7_nation_volume"](spark, "/root/testdata/sf0.01")
    _, formatted = plan_of(spark, "q7_nation_volume")
    rows = df.collect()
    assert rows
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    # nation legs are hinted; the unhinted supplier leg must convert to
    # broadcast at runtime (AQE) at this size
    assert final.count("BroadcastHashJoin") >= 3
    assert "l_shipdate" in " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", formatted))


def test_text_stats_zero_shuffle(spark):
    for name in ("text_token_count", "text_quality", "text_fingerprint", "text_pii_redact"):
        plan, _ = plan_of(spark, name)
        assert n_exchanges(plan) == 0, name  # pure scan+project pipelines


def test_repetition_signals_no_global_window(spark):
    """Every window/aggregation in the repetition rules partitions on the
    document id (or (id, gram)) — a single-partition window here would
    serialize the corpus through one task at 100 TB."""
    plan, _ = plan_of(spark, "text_repetition_signals")
    assert "Exchange SinglePartition" not in plan


def test_gopher_full_rule_set_zero_shuffle(spark):
    """The round-6 rule completions (symbol ratio, line fractions,
    duplicate-line fraction) must stay pure scan+project — the whole value
    of the rule filter at 100 TB is that failing rows die inside the
    scan's codegen stage."""
    plan, _ = plan_of(spark, "text_gopher_rules")
    assert n_exchanges(plan) == 0
    assert "Exchange SinglePartition" not in plan


def test_dedup_exact_single_digest_shuffle(spark):
    plan, _ = plan_of(spark, "dedup_exact")
    assert n_exchanges(plan) == 1
    # the shuffle key is the md5 digest, not the document body
    assert "md5" in plan


def test_embedding_topk_no_sort_merge(spark):
    plan, _ = plan_of(spark, "embedding_topk")
    assert "SortMergeJoin" not in plan  # query side broadcasts
    assert "TakeOrdered" in plan or "Window" in plan


def test_scan_column_pruning(spark):
    _, formatted = plan_of(spark, "q_top_orders_per_customer")
    # the orders scan must not read all 6 columns for a 3-column query
    widths = [len(s.split(",")) for s in re.findall(r"ReadSchema: struct<([^>]*)>", formatted)]
    assert widths and max(widths) <= 4


def test_q5_broadcast_fallback_still_correct(spark):
    """VERDICT r1 watch item: at 100× customers the q5 dims broadcast
    exceeds the threshold and AQE must fall back to a shuffle join — prove
    the query gives identical results with broadcasts disabled entirely
    (the worst-case fallback plan), not just that the happy path works."""
    want = {
        (r["n_name"], r["revenue"])
        for r in QUERIES["q5_region_volume"](spark, SF_DIR).collect()
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got_df = QUERIES["q5_region_volume"](spark, SF_DIR)
        got = {(r["n_name"], r["revenue"]) for r in got_df.collect()}
        # the dims side is unhinted, so with the threshold off the plan must
        # genuinely degrade to a non-broadcast join for that edge
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert got == want and got


def test_plan_summary_utility(spark):
    from pdtable_spark.utils import plan_summary

    s = plan_summary(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    assert s["shuffles"] == 1 and s["scans_with_pushdown"] == 1
    assert any("l_shipdate" in p for p in s["pushed_filters"])
    assert s["final_adaptive"] is False
    s2 = plan_summary(QUERIES["q5_region_volume"](spark, SF_DIR), executed=True)
    assert s2["broadcast_joins"] >= 3 and s2["sort_merge_joins"] == 0
    assert s2["final_adaptive"] is True


def test_ann_index_partitioned_query_prunes_scan(spark, tmp_path):
    """The ANN serving path: an index persisted partitionBy(tbl, bkt) and
    queried with prune_partitions=True must carry the query batch's bucket
    keys as LITERAL PartitionFilters on the index scan (file-index-level
    pruning — no corpus pass), and return the same rows as the unpruned
    join."""
    from pdtable_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ann_index")
    sim.ann_index(emb).write.partitionBy("tbl", "bkt").parquet(path)
    loaded = spark.read.parquet(path)
    q = emb.limit(3).withColumnRenamed("vec_id", "query_id")

    pruned = sim.ann_query(loaded, q, k=5, prune_partitions=True)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan_lines = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "ann_index" in ln
    ]
    assert scan_lines, plan
    filters = scan_lines[0].split("PartitionFilters: ")[1]
    # literal bucket predicates, not just isnotnull: equality on tbl and an
    # IN/= over bkt values must both appear in the partition filters
    assert re.search(r"\(tbl#\d+ = \d+\)", filters), filters
    assert re.search(r"bkt#\d+ (IN|=) ", filters), filters

    got = {(r.query_id, r.vec_id) for r in pruned.collect()}
    want = {(r.query_id, r.vec_id) for r in sim.ann_query(loaded, q, k=5).collect()}
    assert got == want and len(got) > 0


def test_classifier_filter_zero_shuffle(spark):
    """The dict-weights classifier is a pure scan+project pipeline: the
    model travels as a map literal, so scoring 100 TB is shuffle-free."""
    plan, _ = plan_of(spark, "text_classifier_filter")
    assert n_exchanges(plan) == 0
    assert "Scan" in plan


def test_semantic_dedup_cell_keyed_no_cartesian(spark):
    """The quadratic comparison must stay cell-bounded: every pair-stage
    exchange is keyed on the cell, the centroid matrix rides a one-row
    broadcast (BroadcastNestedLoopJoin with a literal build side is that
    1-row join, not a data cross), and no CartesianProduct over the corpus
    exists anywhere."""
    plan, _ = plan_of(spark, "embedding_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning(cell" in plan


def test_ann_filtered_query_pushes_metadata_predicate(spark, tmp_path):
    """Filtered (hybrid) ANN: a metadata predicate over the index's
    denormalized attribute column must reach the persisted index scan as a
    PushedFilter (row-group pushdown), and the results must equal the
    unfiltered query post-filtered on the same attribute."""
    from pdtable_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ann_index_meta")
    sim.ann_index(emb, metadata_cols=["label"]).write.partitionBy("tbl", "bkt").parquet(path)
    loaded = spark.read.parquet(path)
    q = emb.limit(3).withColumnRenamed("vec_id", "query_id")
    from pyspark.sql import functions as F

    filtered = sim.ann_query(loaded, q, k=5, where=F.col("label") <= 5)
    qe = filtered._jdf.queryExecution()
    formatted = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", formatted))
    assert "LessThanOrEqual(label" in pushed, formatted
    # semantics: equals the unfiltered top-k recomputed over allowed labels
    allowed = {
        r.vec_id for r in emb.filter(F.col("label") <= 5).select("vec_id").collect()
    }
    got = filtered.collect()
    assert got and all(r.vec_id in allowed for r in got)


def test_ann_index_append_serves_union(spark, tmp_path):
    """The incremental-ingest contract: a new corpus batch appends its own
    (tbl, bkt) rows to the persisted index without touching existing
    files, and subsequent queries see old + new vectors."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ann_index_inc")
    sim.ann_index(old).write.partitionBy("tbl", "bkt").parquet(path)
    sim.ann_index(new).write.mode("append").partitionBy("tbl", "bkt").parquet(path)
    loaded = spark.read.parquet(path)
    q = emb.limit(3).withColumnRenamed("vec_id", "query_id")
    got = {
        (r.query_id, r.vec_id, r.rank)
        for r in sim.ann_query(loaded, q, k=5, prune_partitions=True).collect()
    }
    want = {
        (r.query_id, r.vec_id, r.rank)
        for r in sim.ann_query(sim.ann_index(emb), q, k=5).collect()
    }
    assert got == want and got


def test_pq_query_broadcasts_lut_no_cartesian(spark):
    """PQ serving plan: the per-query lookup table must join the code scan
    as a BROADCAST (the LUT is nq×M×K rows), the corpus side must touch
    only the compressed codes (no full-vector column in the probe scan),
    and nothing degenerates to a cartesian/sort-merge join."""
    from pdtable_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = similarity.pq_codebooks(emb, n_codes=8, num_subspaces=8)
    idx = similarity.pq_encode(emb, books)
    q = emb.limit(4).withColumnRenamed("vec_id", "query_id")
    out = similarity.pq_query(idx, q, books, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_span_dedup_no_global_window(spark):
    """span_dedup's first-occurrence choice must stay a map-side-combinable
    aggregation — a Window over an empty/global partitioning would pull
    the whole corpus into one task."""
    from pdtable_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dedup.span_dedup(docs)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert "Window" not in plan  # keep rule is groupBy(min-struct), not row_number
    assert "Exchange SinglePartition" not in plan
    # the tokenize+explode+span-agg pipeline must run ONCE: its exchange is
    # reused by the first-occurrence branch, so the corpus is scanned once
    assert plan.count("documents.parquet") == 1
    assert "ReusedExchange" in plan


def test_mixture_temperature_single_corpus_scan(spark):
    """The only corpus-sized work is the ONE groupBy(source) count; the
    renormalization runs on the #sources-row aggregate driver-side
    (bounded-collect policy), so the RESULT plan must be a local table —
    consumers of the weights never re-trigger a corpus scan (a lazy
    spelling re-embedded the scan in 4 plan branches)."""
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = mixture_temperature_weights(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def n_scans(plan):
    return len(re.findall(r"FileScan parquet|Scan parquet", plan))


def test_drift_report_one_scan_per_side(spark):
    """D monitored dimensions must cost ONE corpus scan per snapshot side
    (each row explodes into its (dim, value) pairs inside the scan
    projection) — the per-dimension-loop spelling paid D scans per side,
    i.e. 4 for this 2-dimension query."""
    plan, _ = plan_of(spark, "pipeline_drift_report")
    assert n_scans(plan) == 2


def test_curate_recipe_blocklist_adds_no_scan(spark):
    """The gates (Gopher rules + optional term blocklist) are ONE inline
    filter over the cleaned frame (r14): a single corpus scan, no
    flags-frame semi join, and enabling the blocklist must not re-derive
    the cleaned projection."""
    from pdtable_spark.operators import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    def shape(blocklist):
        df = text.curate_recipe(
            docs, passthrough=["source"], min_words=10, blocklist=blocklist
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        return n_scans(plan), plan.count("LeftSemi")

    assert shape(None) == shape(["window"]) == (1, 0)


def test_bm25_no_postings_shuffle(spark):
    """BM25's 100 TB contract: NO (doc, term) postings shuffle — term
    frequencies are scan-local array counts, the only exchanges are the
    single-row stats aggregate and the bounded (≤k-row) rank window, and
    the top-k is TakeOrdered, never a corpus sort."""
    from pdtable_spark.operators import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = text.bm25_topk(docs, ["dup", "scan", "vector"], k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert n_exchanges(plan) == 0  # no hash-partitioned shuffle at all
    assert "TakeOrdered" in plan
    assert "Sort " not in plan.replace("TakeOrdered", "")  # no global sort node


def test_bm25_persisted_base_reused(spark):
    """persist_base=True: the tokenize scan materializes once — both the
    stats branch and the scoring branch read the InMemoryRelation (the
    r7 fix; without it the projection re-executed per consuming branch)."""
    from pdtable_spark.operators import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = text.bm25_topk(docs, ["dup", "scan"], k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2
    df.bm25_base.unpersist()


def test_line_dedup_broadcast_never_shuffles_corpus(spark):
    """line_dedup's broadcast spelling: the corpus data path is scan-local
    filter + array_join — the ONLY hash exchange is the boilerplate line
    count (per-doc-distinct stream), no window, no sort-merge join, no
    corpus explode on the output side."""
    from pdtable_spark.operators import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = text.line_dedup(docs, line_sep=" ", min_docs=None, min_doc_frac=0.78)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert n_exchanges(plan) == 1  # the common_lines groupBy, nothing else
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_line_dedup_join_spelling_no_single_partition(spark):
    """The join spelling shuffles the exploded line stream on doc_id only —
    never through one task (no SinglePartition exchange, no global window).
    Absolute threshold here: min_doc_frac legitimately adds a bounded
    single-row doc-count aggregate."""
    from pdtable_spark.operators import text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = text.line_dedup(docs, line_sep=" ", min_docs=40, via="join")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan  # ordered reassembly is array_sort, not a window


def test_threshold_sweep_single_aggregate(spark):
    """The whole curve folds into ONE map-side-combinable aggregate row —
    no hash-partitioned shuffle, no per-threshold pass."""
    from pdtable_spark.operators.monitor import threshold_sweep

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = threshold_sweep(docs, "n_chars", [100.0, 200.0, 300.0])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert n_exchanges(plan) == 0
    assert plan.count("FileScan parquet") == 1


def test_cluster_profile_one_scan_no_window(spark):
    """cluster_profile: assignment is scan-local (broadcast matrix fold) —
    one corpus scan, the aggregate shuffles centroid-cardinality rows, and
    there is NO per-vector window (the ivf-oracle's ROW_NUMBER spelling
    would be a corpus-wide window at 100 TB)."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.similarity import cluster_profile

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = [
        list(r["v"])
        for r in emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .collect()
    ]
    df = cluster_profile(emb, cents)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1  # embeddings read ONCE
    # the only window is the share total over the JOINED cells frame —
    # bounded at exactly n_cells rows by construction
    assert "CartesianProduct" not in plan


def test_cluster_sample_window_partitioned_by_cell(spark):
    """cluster_balanced_sample: the per-cell top-k window partitions on the
    cell key — never a single-partition window over the corpus."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.similarity import cluster_balanced_sample

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = [
        list(r["v"])
        for r in emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .collect()
    ]
    df = cluster_balanced_sample(emb, cents, per_cell=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "Exchange hashpartitioning(cell" in plan


def test_bloom_screen_probe_is_broadcast_hash_join(spark):
    """bloom_decontaminate: the probe side hash-joins a BROADCAST bloom
    frame (never a cartesian), the corpus parquet is scanned exactly twice
    (bench build + the single train-gram pass), and the only shuffle on
    the position key is the bench-sized bloom distinct — the corpus never
    exchanges on pos."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.dedup import bloom_decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = bloom_decontaminate(docs, F.col("source") == "src0")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [pos" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") == 2
    # the lone pos exchange is the bloom-build distinct (bench-sized)
    assert plan.count("Exchange hashpartitioning(pos") == 1


def test_hard_negatives_broadcast_anchors_windows_on_anchor(spark):
    """hard_negatives: anchors broadcast (BroadcastNestedLoopJoin over the
    bounded anchor batch — by design, the scored cross product is the
    operator); the top-k window partitions on anchor_id, never a
    single-partition window."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.similarity import hard_negatives

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = hard_negatives(emb, F.col("vec_id") % 25 == 0, k=5, ceiling=0.999)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange SinglePartition" not in plan
    assert "Exchange hashpartitioning(anchor_id" in plan


def test_label_propagation_no_single_partition_window(spark):
    """knn_label_propagation: neighbor top-k windows on query_id and the
    vote argmax windows on query_id — nothing single-partition, no
    un-broadcast cartesian."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.similarity import knn_label_propagation

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = knn_label_propagation(emb, F.col("vec_id") % 10 == 0, k=10)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "Exchange hashpartitioning(query_id" in plan


def test_vocab_coverage_per_doc_pass_zero_shuffle(spark):
    """vocab_coverage: the vocabulary is a collected bounded artifact, so
    the returned per-doc frame is a pure scan+project pipeline — zero
    exchanges.  (The vocab build itself pays one token-domain-sized
    shuffle + TakeOrdered, at artifact-build time.)"""
    from pdtable_spark.operators.text import vocab_coverage

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = vocab_coverage(docs, vocab_size=50)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert n_exchanges(plan) == 0
    assert "Exchange SinglePartition" not in plan


def test_cap_per_source_threshold_screens_via_broadcast(spark):
    """cap_per_source_threshold: the per-source thresholds join back as a
    BROADCAST (never a shuffle of the corpus on source for the screen),
    the trim window partitions on source (no single-partition window),
    and there is no cartesian anywhere."""
    from pdtable_spark.operators.sampling import cap_per_source_threshold

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = cap_per_source_threshold(docs, 10, score_col="n_chars")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_label_propagation_ivf_broadcast_probes_no_cartesian(spark):
    """knn_label_propagation_ivf: the probed queries join the index by
    CELL as a broadcast hash join (never a shuffle of the index side for
    the probe), the neighbor top-k and vote windows partition on
    query_id, and nothing is single-partition or cartesian."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.similarity import (
        ivf_index,
        knn_label_propagation_ivf,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = [
        list(r["v"])
        for r in emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .collect()
    ]
    idx = ivf_index(emb.filter(F.col("vec_id") % 10 != 0), cents, metadata_cols=["label"])
    q = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = knn_label_propagation_ivf(idx, q, cents, k=5, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "Exchange hashpartitioning(query_id" in plan


def test_distinct_sketch_partial_aggregation(spark):
    """distinct_sketch: the HLL aggregate is PARTIALLY aggregable (an
    ObjectHashAggregate pair around one group-keyed exchange), so the
    shuffle moves one sketch per group per partition — never keys — and
    nothing is single-partition."""
    from pdtable_spark.operators.monitor import distinct_sketch

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = distinct_sketch(docs, "doc_id", "source")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ObjectHashAggregate") >= 2  # partial + final
    assert n_exchanges(plan) == 1
    assert "Exchange SinglePartition" not in plan


def test_margin_mining_group_limits_both_topk_branches(spark):
    """margin_mining: the left side broadcasts (BroadcastNestedLoopJoin —
    the bounded mining batch), BOTH top-k branches carry a map-side
    WindowGroupLimit (so the |L|x|R| pair frame never shuffles — only
    ≤ k rows per key per partition do), the windows partition on
    left_id/right_id, and nothing is single-partition."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.similarity import margin_mining

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = margin_mining(
        emb.filter(F.col("vec_id") % 7 == 0),
        emb.filter(F.col("vec_id") % 7 != 0),
        k=4,
        threshold=1.05,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("WindowGroupLimit") >= 4  # partial+final per branch
    assert "Exchange hashpartitioning(left_id" in plan
    assert "Exchange hashpartitioning(right_id" in plan
    assert "Exchange SinglePartition" not in plan


def test_distinct_ngrams_single_scan_digest_shuffle(spark):
    """distinct_ngrams: all per-n gram arrays explode inside ONE corpus
    scan (the drift-report in-scan multi-dim idiom — a per-n loop would
    pay len(ns) scans), and nothing is single-partition."""
    from pdtable_spark.operators.text import distinct_ngrams

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        distinct_ngrams(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert n_scans(plan) == 1
    assert "Exchange SinglePartition" not in plan


def test_source_divergence_broadcast_vocab_tiny_tail(spark):
    """source_divergence: the vocabulary probe is a BROADCAST hash join
    (the corpus never shuffles on token for membership), the only
    corpus-domain shuffle is the map-side-combinable (source, key)
    count, and the pair stage never plans an un-broadcast cartesian."""
    from pdtable_spark.operators.text import source_divergence

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        source_divergence(docs, vocab_size=50)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_histogram_ledger_partial_aggregation(spark):
    """histogram_ledger: ONE corpus scan into a map-side-combinable
    (group, bin) count — partial HashAggregate before the exchange, a
    shuffle of at most groups x (n_bins + 2) rows, nothing
    single-partition; the quantile stage runs on ledger rows only (no
    second corpus scan)."""
    from pdtable_spark.operators.monitor import (
        histogram_ledger,
        quantiles_from_ledger,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    led = histogram_ledger(docs, "n_chars", 0.0, 500.0, 50)
    plan = led._jdf.queryExecution().executedPlan().toString()
    assert n_scans(plan) == 1
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "Exchange SinglePartition" not in plan

    out = quantiles_from_ledger(led, (0.5, 0.9), 0.0, 500.0, 50)
    plan2 = out._jdf.queryExecution().executedPlan().toString()
    assert n_scans(plan2) == 1  # the ledger's scan, not a second one
    assert "Exchange SinglePartition" not in plan2


def test_sq_query_dequantizes_in_scan_broadcast_queries(spark):
    """sq_query: dequantization is a scan-local projection over the
    tinyint codes (no extra exchange beyond cosine_topk's top-k window),
    queries broadcast, nothing single-partition."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.similarity import sq_bounds, sq_index, sq_query

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    b = sq_bounds(emb)
    idx = sq_index(emb, b)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = sq_query(idx, q, b, k=10)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning(query_id" in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # only the top-k window


def test_filter_agreement_single_aggregate_no_shuffle_of_rows(spark):
    """filter_agreement: one corpus scan into one map-side-combinable
    aggregate row (the threshold-sweep shape); the pair matrix explodes
    from that single row — no row-sized shuffle, no join."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.monitor import filter_agreement

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    flagged = docs.select(
        (F.col("n_chars") >= 200).alias("f_len"),
        F.col("text").contains("the").alias("f_the"),
    )
    plan = (
        filter_agreement(flagged, ["f_len", "f_the"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert n_scans(plan) == 1
    assert "Join" not in plan
    assert n_exchanges(plan) == 0  # single-row agg shuffles no hash partitions


def test_collocations_single_scan_takeordered(spark):
    """collocations: one corpus scan into the bigram-domain count, both
    marginals as window sums over that frame (no second scan), the
    grand total a broadcast 1-row frame, and the global top-k a
    TakeOrdered — never a single-partition sort of the bigram domain."""
    from pdtable_spark.operators.text import collocations

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        collocations(docs, k=20, min_count=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # two scans: the bigram-count branch and the scalar-total branch —
    # the total is a pure scan+count (NO bigram re-aggregation: exactly
    # three hash exchanges total — the groupBy and the two marginal
    # windows), and the global top-k is a TakeOrdered, never a
    # single-partition sort of the bigram domain
    assert n_scans(plan) == 2
    assert n_exchanges(plan) == 3
    assert "TakeOrderedAndProject" in plan


def test_gram_matrix_single_scan_domain_shuffle(spark):
    """gram_matrix: each row explodes its d(d+1)/2 upper-triangle cells
    inside ONE corpus scan; the only exchange is the d²-domain
    map-side-combinable sum; pca_project is a pure scan+projection
    (zero exchanges — the basis is a broadcast matrix column)."""
    from pdtable_spark.operators.similarity import (
        gram_matrix,
        pca_basis,
        pca_project,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    g = gram_matrix(emb)
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert n_scans(plan) == 1
    assert n_exchanges(plan) == 1
    assert "Exchange SinglePartition" not in plan

    comps, _ = pca_basis(g.collect(), 64, top_k=8)
    plan2 = (
        pca_project(emb, comps)._jdf.queryExecution().executedPlan().toString()
    )
    assert n_scans(plan2) == 1
    assert n_exchanges(plan2) == 0


def test_bucket_pairs_guard_collapses_when_no_hot_buckets(spark):
    """The hot-bucket guard's two-regime union must cost ~nothing at
    runtime when no bucket exceeds max_bucket: AQE's empty-relation
    propagation eliminates the self-join branch, leaving ONE scan and
    ONE exchange in the FINAL plan.  (The r8 docstring claimed static
    ReuseExchange served both branches — round-9 plan audit showed the
    actual mechanism is runtime branch elimination: the initial plan
    carries three scans, the executed one carries one.  Pinned here so
    a Spark upgrade or refactor that silently revives the triple
    evaluation fails CI instead of only showing up at 100 TB.)"""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.dedup import bucket_pairs

    df = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", (F.col("doc_id") % 50).alias("b"))
    )
    bp = bucket_pairs(df, ["b"], F.col("doc_id"), max_bucket=1000)
    assert bp.count() > 0
    bp.collect()
    s = bp._jdf.queryExecution().executedPlan().toString()
    final = s.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert final.count("FileScan") == 1
    assert final.count("Exchange hashpartitioning") == 1
    assert "Join" not in final
    # and the guard path DOES engage when a bucket is genuinely hot
    hot = bucket_pairs(df, ["b"], F.col("doc_id"), max_bucket=2)
    hot.collect()
    sh = hot._jdf.queryExecution().executedPlan().toString()
    assert "Join" in sh.split("== Initial Plan ==")[0]


def test_heavy_hitter_ledger_windowgrouplimit_single_count_shuffle(spark):
    """heavy_hitter_ledger: the token count is one map-side-combinable
    aggregate (partial_count before its exchange), the rank window is
    WindowGroupLimit-pruned (only m+1 rows per group survive the
    group shuffle), and nothing is single-partition — the shuffles are
    the (by, key) count domain and the (by) rank domain, never rows."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.monitor import heavy_hitter_ledger
    from pdtable_spark.operators.text import tokens

    tok = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .select("source", F.explode(tokens(F.col("text"))).alias("key"))
    )
    led = heavy_hitter_ledger(tok, "key", m=16)
    plan = led._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "partial_count" in plan  # map-side combine before the count shuffle
    assert n_exchanges(plan) == 2  # (by, key) count + (by) rank window
    assert "Exchange SinglePartition" not in plan


def test_margin_mining_ivf_broadcast_probes_pruned_windows(spark):
    """margin_mining_ivf: the probe side broadcasts (never the index),
    both rescore windows are WindowGroupLimit-pruned exactly like the
    exact miner's (shared tail), and nothing is single-partition."""
    from pyspark.sql import functions as F

    from pdtable_spark.operators.similarity import ivf_index, margin_mining_ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = [
        list(r["v"])
        for r in emb.filter(F.col("vec_id") < 4)
        .orderBy("vec_id")
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .collect()
    ]
    lp = F.col("vec_id") % 7 == 0
    idx = ivf_index(emb.filter(~lp), cents)
    df = margin_mining_ivf(idx, emb.filter(lp), cents, k=4, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # probes joined broadcast on cell
    assert plan.count("WindowGroupLimit") >= 4  # partial+final per branch
    assert "Exchange SinglePartition" not in plan


# ---------------------------------------------------------------------------
# plan_lint: the automated plan-contract gate
# ---------------------------------------------------------------------------

def test_plan_lint_detects_each_smell(spark, tmp_path):
    import pandas as pd
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pdtable_spark.plans import assert_clean, plan_lint

    def codes(df):
        return {f["code"] for f in plan_lint(df)}

    a = spark.range(100).select(F.col("id"), (F.col("id") % 7).alias("k"))
    b = spark.range(50).select(F.col("id").alias("id2"))

    # row-at-a-time Python UDF -> error
    slow = F.udf(lambda x: x + 1, T.LongType())
    assert "python-row-eval" in codes(a.select(slow("id")))
    with pytest.raises(AssertionError, match="python-row-eval"):
        assert_clean(a.select(slow("id")))

    # cartesian product -> error (hint forces the shuffle-replicate
    # spelling; an unhinted tiny side would broadcast-nested-loop)
    assert "cartesian-product" in codes(
        a.hint("shuffle_replicate_nl").crossJoin(b)
    )

    # broadcast nested loop -> warn; allowlist lets it pass as documented
    bnl = a.join(F.broadcast(b), F.col("id") > F.col("id2"))
    assert "broadcast-nested-loop" in codes(bnl)
    assert_clean(bnl, allow=["broadcast-nested-loop"])

    # global window -> single-partition exchange warn
    from pyspark.sql import Window

    gw = a.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    assert "single-partition-exchange" in codes(gw)

    # arrow-batched pandas stage -> info only; clean at warn level
    @F.pandas_udf("long")
    def fast(s: pd.Series) -> pd.Series:
        return s + 1

    arrow = a.select(fast("id"))
    assert "python-arrow-eval" in codes(arrow)
    assert_clean(arrow)  # info does not gate
    assert "python-arrow-eval" in codes(a.mapInArrow(lambda batches: batches, a.schema))

    # unpushed filter: predicate on a computed column over parquet
    p = str(tmp_path / "t")
    a.write.parquet(p)
    unpushed = spark.read.parquet(p).filter((F.col("id") * 3 % 11) == 1)
    assert "filter-not-pushed" in codes(unpushed)
    # pushed filter on a raw column: no finding
    pushed = spark.read.parquet(p).filter(F.col("id") > 50)
    assert "filter-not-pushed" not in codes(pushed)

    # a clean aggregation: one shuffle, reported as info only
    agg = a.groupBy("k").count()
    fs = assert_clean(agg)
    assert {"shuffle-count"} >= {f["code"] for f in fs}


def test_plan_lint_execute_reads_final_adaptive_plan(spark):
    # ADVICE r10: on an UNEXECUTED frame plan_lint sees the adaptive
    # plan's INITIAL shape; execute=True drives this frame's own plan so
    # AQE conversions (here SMJ -> broadcast via the adaptive threshold)
    # are reflected in the findings.
    from pyspark.sql import functions as F

    from pdtable_spark.plans import plan_lint

    conf = spark.conf
    old_static = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_adapt = conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")

        def frame():
            a = spark.range(10_000).select((F.col("id") % 97).alias("k"), "id")
            b = spark.range(50).select(F.col("id").alias("k2"))
            return a.join(b, F.col("k") == F.col("k2"))

        # unexecuted: the initial plan carries the sort-merge join
        initial = {f["code"] for f in plan_lint(frame())}
        assert "sort-merge-join" in initial

        # execute=True: AQE converts to broadcast at runtime; the lint
        # must read the FINAL plan (no SMJ finding any more)
        df = frame()
        final = {f["code"] for f in plan_lint(df, execute=True)}
        assert "sort-merge-join" not in final
        assert "isFinalPlan=true" in (
            df._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        if old_adapt is None:
            conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_adapt)


def test_certificate_read_paths_plan_clean(spark, tmp_path):
    """The returned frames of the certificate-driven reads carry no
    scale red flags: no Python stages (the sidecars and key sets stay
    JVM lineages), no cartesians, nothing unpushed — the lint gate over
    exactly what a caller would embed in a bigger plan."""
    from pyspark.sql import functions as F

    from pdtable_spark.io import maintenance as mnt
    from pdtable_spark.plans import assert_clean

    df = spark.range(20_000).select(
        (F.col("id") % 100).alias("x"),
        ((F.col("id") * 48271 + 11) % 100).alias("y"),
        (F.col("id") % 997).alias("k"),
    )
    zp = str(tmp_path / "lint_lake")
    mnt.write_zordered_parquet(df, zp, ["x", "y"], bits_per_col=6,
                               partitions=8)
    mnt.write_zone_map(spark, zp, ["x", "y"])
    mnt.write_bloom_sidecar(spark, zp, "k", num_hashes=3, num_bits=1 << 16)

    zm = mnt.zone_map(spark, zp, ["x", "y"])
    pruned, _ = mnt.pruned_read(spark, zp, {"x": (10, 20), "y": (30, 60)},
                                stats=zm)
    assert_clean(pruned)

    keys = spark.range(5).select((F.col("id") + 10).alias("x"))
    semi, _ = mnt.pruned_semi_read(spark, zp, "x", keys)
    assert_clean(semi)
    # the residual semi side reuses the caller's JVM lineage — no
    # Python-local relation may hide in the returned plan (ADVICE r11)
    semi_plan = semi._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in semi_plan and "PythonRDD" not in semi_plan

    bkeys = spark.range(3).select((F.col("id") + 7).alias("k"))
    bl, _ = mnt.bloom_pruned_read(spark, zp, "k", bkeys, num_hashes=3,
                                  num_bits=1 << 16)
    assert_clean(bl)


STARTABLE_CSV = """**m;
all
run;depth;at
text;mm;datetime
a;1.5;2020-03-08 02:30
b;-;2021-01-02 03:04

"""


def test_startable_driver_frames_are_local_scans(spark, tmp_path):
    """Tables parsed on the driver (read_csv, load_files) and rows appended
    with Table.append_row reach Spark as local relations: no Python-RDD
    scan in the executed plan, and the unit metadata stays on the fields."""
    from pdtable_spark.frame import column_metadata_from_df
    from pdtable_spark.io.csv import read_csv
    from pdtable_spark.io.load import load_files
    from pdtable_spark.parsers.blocks import BlockType

    path = tmp_path / "m.csv"
    path.write_text(STARTABLE_CSV)

    def table_of(blocks):
        (t,) = [b for k, b in blocks if k == BlockType.TABLE]
        return t

    read = table_of(read_csv(str(path)))
    loaded = table_of(load_files([str(path)]))
    appended = read.append_row(["c", 2.0, "2022-05-06 07:08"])
    for t in (read, loaded, appended):
        plan = t.df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
        # a fresh projection reads the schema back from the JVM
        units = {c: m.unit for c, m in column_metadata_from_df(t.df.select("*")).items()}
        assert units == {"run": "text", "depth": "mm", "at": "datetime"}
    assert appended.df.count() == 3


def test_scan_csv_path_frame_has_no_exchange(spark, tmp_path):
    """scan_csv parses straight off its path frame: no shuffle and no
    Python RDD sit below MapInArrow, and the files still spread over
    min_partitions tasks."""
    from pdtable_spark.io.csv import scan_csv

    for i in range(5):
        (tmp_path / f"f{i}.csv").write_text(STARTABLE_CSV)
    t = scan_csv(spark, f"{tmp_path}/f*.csv", "m", min_partitions=3)
    plan = t.df._jdf.queryExecution().executedPlan().toString()
    below = plan[plan.index("MapInArrow"):]
    assert "Exchange" not in below, plan
    assert "ExistingRDD" not in below, plan
    assert t.df.rdd.getNumPartitions() == 3
    assert t.df.count() == 10


def test_e2e_curation_composed_plan_clean(spark):
    """The composed curation DAG (pipeline_e2e_curation) stays lint-clean end to
    end: no Python row stages, no raw cartesians.  r15: pack_budget no
    longer truncates the lineage behind an eager localCheckpoint, so
    the lint now sees the WHOLE composed plan — including the
    sanctioned bounded warns it could never inspect before: the
    single-row centroid matrix-frame broadcast cross joins
    (similarity._matrix_frame — one Cross BNL per plan reference of the
    persisted index) and the inline computed-column quality gate, whose
    predicate cannot reach parquet pushdown by design (it trades the
    pushdown for one corpus scan instead of two plus a join — the r14
    gate inlining).  Plus the pack stage's documented global
    running-sum window (shard by key at 100 TB)."""
    from pdtable_spark.plans import assert_clean

    df = QUERIES["pipeline_e2e_curation"](spark, SF_DIR)
    try:
        findings = assert_clean(
            df,
            allow=[
                "single-partition-exchange",
                "broadcast-nested-loop",
                "filter-not-pushed",
            ],
        )
        # the allowed BNLs must all be the bounded matrix-frame shape
        # (BuildRight Cross of a 1-row broadcast), never a real cartesian
        plan = df._jdf.queryExecution().executedPlan().toString()
        import re

        for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
            assert "BuildRight, Cross" in m.group(0), m.group(0)
    finally:
        df.e2e_survivors_index.unpersist()
        df.e2e_band_index.unpersist()


def test_bucketed_join_query_plan_no_exchange_on_join(spark):
    """q_bucketed_colocated_join must actually take the bucket path: no
    shuffle exchange feeding either join side (the whole point of paying
    the write-time shuffle once)."""
    df = QUERIES["q_bucketed_colocated_join"](spark, SF_DIR)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        join_idx = plan.find("SortMergeJoin")
        assert join_idx >= 0, plan
        # exchanges may exist ABOVE the join (the final aggregate shuffles
        # on returnflag) but none may feed the join's children: every
        # Exchange in the plan string must appear BEFORE the join node
        # (higher in the tree), never after it
        below = plan[join_idx:]
        assert "Exchange hashpartitioning" not in below, below[:2000]
    finally:
        spark.sql("DROP TABLE IF EXISTS r13_bucketed_orders")
        spark.sql("DROP TABLE IF EXISTS r13_bucketed_lineitem")


def test_operator_driver_frames_are_local_scans(spark, tmp_path, monkeypatch):
    """Driver-held matrices, PQ codebooks, trained classifier weights, the
    mixture, epoch-plan and profile-diff frames, and the prior state of
    the streaming ledger and upsert batches reach Spark as local
    relations: no Python-RDD scan in any plan they return or write."""
    from pyspark.sql import DataFrameWriter

    from pdtable_spark.operators import monitor as M
    from pdtable_spark.operators import sampling as Smp
    from pdtable_spark.operators import similarity as S
    from pdtable_spark.operators import text as T
    from pdtable_spark.streaming import ingest
    from pdtable_spark.streaming import monitor as SM

    base = spark.range(2).selectExpr("id", "array(1.0D, 2.0D) AS v")
    matrix = S._matrix_frame(base, "__m", [[1.0, 0.0], [0.0, 1.0]], 2)
    books = S._pq_cent_frame(spark, [[[1.0], [2.0]], [[3.0], [4.0]]])
    docs = spark.createDataFrame(
        [("good clean text", 1), ("spam spam buy now", 0)] * 4, "text string, label int"
    )
    weights, _ = T.train_quality_classifier(docs, "label", max_iter=5)
    for df in (matrix, books, weights):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, plan
        assert "LocalTableScan" in plan, plan
    assert books.count() == 4 and weights.count() > 0

    corpus = spark.range(40).selectExpr(
        "id AS doc_id", "IF(id % 3 = 0, 'a', 'b') AS source", "'w w w' AS text"
    )
    targets = {"a": 0.5, "b": 0.5}
    prof_old = M.json_profile(spark.range(3).selectExpr("'{\"a\": 1}' AS js"), "js")
    prof_new = M.json_profile(spark.range(3).selectExpr("'{\"b\": [1]}' AS js"), "js")
    frames = {
        "apply_mixture": Smp.apply_mixture(corpus, targets),
        "mixture_temperature_weights": Smp.mixture_temperature_weights(corpus),
        "mixture_temperature_weights(empty)": Smp.mixture_temperature_weights(
            corpus.filter("doc_id < 0")
        ),
        "epochs_plan": Smp.epochs_plan(corpus, targets, token_budget=100),
        "json_profile_diff": M.json_profile_diff(prof_old, prof_new),
    }

    written = []
    parquet = DataFrameWriter.parquet

    def record(self, path, *args, **kwargs):
        written.append((path, self._df))
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", record)
    batch = spark.range(6).selectExpr("id % 3 AS k", "id AS v", "'s' AS source")
    SM._heavy_hitter_batch(
        spark, batch, 0, str(tmp_path / "ledger"), str(tmp_path / "hh"),
        "k", "source", 4, 2,
    )
    ingest._upsert_batch(
        spark, batch.select("k", "v").dropDuplicates(["k"]), 0,
        str(tmp_path / "table"), str(tmp_path / "changes"), ["k"], ["v"], None,
    )
    assert len(written) >= 4
    frames.update({f"write {path}": df for path, df in written})
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan, (name, plan)
    assert frames["mixture_temperature_weights"].count() == 2
    assert frames["mixture_temperature_weights(empty)"].count() == 0
    assert frames["epochs_plan"].count() == 2
    assert {r["status"] for r in frames["json_profile_diff"].collect()} == {
        "added", "removed", "stable"
    }

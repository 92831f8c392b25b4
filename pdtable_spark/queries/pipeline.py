"""Curation-pipeline queries (``pipeline_*``): drift reports, sampling and
mixture weights, splits, packing, decontamination, curation funnels,
monitoring ledgers, profiling, privacy, and the composed end-to-end
curation DAGs.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pdtable_spark.operators import dedup, sampling, similarity, text
from pdtable_spark.queries.embedding import seed_centroids
from pdtable_spark.queries.suite import (
    _BLOOM_BITS,
    _C4_KEPT_SQL,
    _CLF_BIAS,
    _CLF_WEIGHTS,
    _GOPHER_DERIVED_SQL,
    _GOPHER_M,
    _GOPHER_MIN_WORDS,
    _IVF_CELLS,
    _SEMDEDUP_THRESHOLD,
    _SHARD_N,
    _SQL_CLUSTERS,
    _SQL_CLUSTER_ASSIGN,
    _SQL_MD5_60,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _sql_band_index,
    _sql_bloom_pos,
    _sql_clf_weights,
    _sql_cos_ns,
    _sql_dist2,
    _sql_dsum,
    _sql_gopher_ok,
    load,
    q,
    scratch_dir,
)


def _sql_drift_counts(side_filter: str, out: str) -> str:
    return f"""
      SELECT 'source' AS dim, CAST(source AS VARCHAR) AS value,
             COUNT(*) AS {out}
      FROM documents WHERE {side_filter} GROUP BY 2
      UNION ALL
      SELECT 'lang', CAST(lang AS VARCHAR), COUNT(*)
      FROM documents WHERE {side_filter} GROUP BY 2
    """


_SQL_DRIFT_REPORT = f"""
    WITH oc AS ({_sql_drift_counts("doc_id % 2 = 0", "n_old")}),
    nc AS ({_sql_drift_counts("doc_id % 2 = 1", "n_new")}),
    t AS (SELECT COUNT(*) FILTER (doc_id % 2 = 0) AS t_old,
                 COUNT(*) FILTER (doc_id % 2 = 1) AS t_new
          FROM documents),
    j AS (
      SELECT COALESCE(oc.dim, nc.dim) AS dim,
             COALESCE(oc.value, nc.value) AS value,
             COALESCE(oc.n_old, 0) AS n_old,
             COALESCE(nc.n_new, 0) AS n_new
      FROM oc FULL OUTER JOIN nc
        ON nc.dim = oc.dim AND nc.value IS NOT DISTINCT FROM oc.value
    ),
    m AS (
      SELECT dim, value,
             CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
             CASE WHEN t_old > 0
                  THEN CAST(n_old AS DOUBLE) / CAST(t_old AS DOUBLE)
                  ELSE 0.0 END AS share_old,
             CASE WHEN t_new > 0
                  THEN CAST(n_new AS DOUBLE) / CAST(t_new AS DOUBLE)
                  ELSE 0.0 END AS share_new
      FROM j CROSS JOIN t
    )
    SELECT *, share_new - share_old AS delta,
           abs(share_new - share_old) AS abs_delta
    FROM m
"""


@q("pipeline_drift_report", _SQL_DRIFT_REPORT)
def pipeline_drift_report(spark, sf_dir):
    """Composition drift between two corpus snapshots (here the even- vs
    odd-id halves) along source and lang: per category value, exact
    counts, integer-ratio shares, and the share delta — the standing
    alarm that catches a crawler or filter regression by distribution
    shift long before any single document looks wrong."""
    from pdtable_spark.operators.monitor import corpus_drift_report

    docs = load(spark, sf_dir, "documents")
    return corpus_drift_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        ["source", "lang"],
    )


@q(
    "pipeline_drift_tvd",
    f"""
    WITH rep AS ({_SQL_DRIFT_REPORT})
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(CAST(FLOOR(abs_delta * 1e9) AS BIGINT)) AS DOUBLE)
             / 1e9 / 2.0 AS tvd
    FROM rep GROUP BY dim
    """,
)
def pipeline_drift_tvd(spark, sf_dir):
    """The one-number drift alarm: per-dimension total-variation distance
    between the snapshot halves, in quantize=1e9 mode so the Σ|delta| is
    an exact integer sum on both engines (the suite's double-sum
    determinism recipe)."""
    from pdtable_spark.operators.monitor import corpus_drift_tvd

    docs = load(spark, sf_dir, "documents")
    return corpus_drift_tvd(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        ["source", "lang"],
        quantize=1e9,
    )


@q(
    "pipeline_decontaminate",
    f"""
    WITH base AS (SELECT doc_id, source = 'src0' AS is_bench, {_SQL_SHINGLES} AS sh
                  FROM documents),
    bench AS (SELECT doc_id AS bench_id, len(sh) AS bench_size, unnest(sh) AS g
              FROM base WHERE is_bench),
    train AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM base WHERE NOT is_bench),
    m AS (
      SELECT train_id, bench_id, bench_size, COUNT(*) AS n_common
      FROM train JOIN bench USING (g) GROUP BY 1, 2, 3
    )
    SELECT train_id, bench_id, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common AS DOUBLE) / CAST(bench_size AS DOUBLE) AS containment
    FROM m
    WHERE CAST(n_common AS DOUBLE) / CAST(bench_size AS DOUBLE) >= 0.3
    """,
)
def pipeline_decontaminate(spark, sf_dir):
    """Eval-set decontamination: training docs whose shingle overlap CONTAINS
    a benchmark doc (here: source='src0' plays the eval set) at >= 0.3
    containment.  Benchmark postings broadcast; one scan of the corpus."""
    d = load(spark, sf_dir, "documents")
    return dedup.contamination_report(
        d, F.col("source") == "src0", shingle_n=5, min_containment=0.3
    ).select(
        F.col("train_id"), F.col("bench_id"), F.col("n_common"), F.col("containment")
    )


@q(
    "pipeline_source_overlap",
    f"""
    WITH posts AS (
      SELECT DISTINCT src, g FROM (
        SELECT source AS src, unnest({_SQL_SHINGLES}) AS g FROM documents
      )
    ),
    sizes AS (SELECT src, COUNT(*) AS n FROM posts GROUP BY src),
    common AS (
      SELECT a.src AS source_a, b.src AS source_b, COUNT(*) AS n_common
      FROM posts a JOIN posts b ON a.g = b.g AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT c.source_a, c.source_b, CAST(c.n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           CAST(c.n_common AS DOUBLE) / CAST(sa.n + sb.n - c.n_common AS DOUBLE)
             AS jaccard
    FROM common c
    JOIN sizes sa ON sa.src = c.source_a
    JOIN sizes sb ON sb.src = c.source_b
    """,
)
def pipeline_source_overlap(spark, sf_dir):
    """Cross-source leakage matrix: distinct-shingle Jaccard between every
    pair of ingest sources — the curation diagnostic for 'which of my
    sources duplicate each other'.  One corpus-sized shuffle (per-shingle
    collect_set over a bounded source domain); all downstream stages are
    vocabulary- or n_sources²-sized.  md5_60 mode for the value oracle."""
    d = load(spark, sf_dir, "documents")
    return dedup.source_overlap(d, shingle_n=5, hash_fn="md5_60")


@q(
    "pipeline_train_split",
    """
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100
                AS INT) AS split_bucket,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 < 90
                THEN 'train' ELSE 'val' END AS split
    FROM documents
    """,
)
def pipeline_train_split(spark, sf_dir):
    """Deterministic hash-based train/val split (content-stable across
    re-runs and engines — reproducible eval sets, no RNG, no shuffle)."""
    d = load(spark, sf_dir, "documents")
    return text.hash_split(d, train_pct=90).select("doc_id", "split_bucket", "split")


@q(
    "pipeline_apply_mixture",
    f"""
    WITH tgt(source, share) AS (
      VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)
    ),
    cnt AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    j AS (SELECT c.source, c.n, t.share FROM cnt c JOIN tgt t USING (source)),
    tt AS (SELECT MIN(n / share) AS t FROM j),
    frac AS (
      SELECT j.source, LEAST(1.0, j.share * tt.t / j.n) AS f FROM j, tt
    )
    SELECT d.doc_id, d.source FROM documents d JOIN frac ON frac.source = d.source
    WHERE CAST(CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 100000 AS DOUBLE) < f * 100000
    """,
)
def pipeline_apply_mixture(spark, sf_dir):
    """Realize a 50/30/20 target mixture over three sources: the binding
    source keeps everything, the rest downsample via the content-stable
    hash test — deterministic mixture materialization, fully lazy (no
    driver collect)."""
    from pdtable_spark.operators import sampling

    d = load(spark, sf_dir, "documents")
    return sampling.apply_mixture(
        d, {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    ).select("doc_id", "source")


# leakage-safe split oracle: the clusters closure + the md5_60 bucket test
# applied to the COMPONENT id (so a clique's members always agree)
@q(
    "pipeline_leakage_safe_split",
    f"""
    WITH clusters AS ({_SQL_CLUSTERS})
    SELECT d.doc_id, d.source, c.component,
           CAST({_SQL_MD5_60.format(x="CAST(c.component AS VARCHAR)")} % 100
                AS INT) AS split_bucket,
           CASE WHEN {_SQL_MD5_60.format(x="CAST(c.component AS VARCHAR)")} % 100 < 90
                THEN 'train' ELSE 'val' END AS split
    FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
""",
)
def pipeline_leakage_safe_split(spark, sf_dir):
    """Train/val split hashed on the near-dup CLUSTER id, so paraphrase
    cliques never straddle the split — the leakage-safe composition of
    cluster closure + content-stable hash split."""
    from pdtable_spark.operators import dedup as _dedup
    from pdtable_spark.operators import sampling

    d = load(spark, sf_dir, "documents")
    pairs = _dedup.ngram_jaccard_pairs(d, shingle_n=5, threshold=0.5).select(
        "id_a", "id_b"
    )
    comp = _dedup.connected_components(pairs, d.select(F.col("doc_id").alias("id")))
    return sampling.leakage_safe_split(d.select("doc_id", "source"), comp)


@q(
    "pipeline_clean_corpus",
    f"""
    WITH scored AS (
      SELECT doc_id, text, lang,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
             md5(text) AS digest
      FROM documents
    ),
    kept AS (
      SELECT * FROM scored
      WHERE n_tokens >= 10
        AND doc_id = (SELECT MIN(s2.doc_id) FROM scored s2 WHERE s2.digest = scored.digest)
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM kept GROUP BY lang
    """,
)
def pipeline_clean_corpus(spark, sf_dir):
    """A composed training-data pipeline stage: length filter → exact dedup
    (keep min doc_id) → per-language corpus stats.  Window-based dedup: one
    shuffle on the digest, no join back."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        text.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.md5("text").alias("digest"),
    ).filter(F.col("n_tokens") >= 10)
    w = Window.partitionBy("digest")
    kept = (
        scored.withColumn("keep_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep_id"))
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@q(
    "pipeline_stratified_sample",
    """
    SELECT doc_id, lang,
           CAST(CAST('0x' || substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                % 1000 AS INT) AS sample_bucket
    FROM documents
    WHERE CAST('0x' || substr(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 1000
          < CASE lang WHEN 'en' THEN 250 WHEN 'zh' THEN 900 ELSE 500 END
    """,
)
def pipeline_stratified_sample(spark, sf_dir):
    """Deterministic per-language sampling (data-mixing): en down to 25%,
    zh up to 90%, everything else 50%.  Content-stable md5 buckets — the
    same rows survive on every engine and partitioning; zero shuffles."""
    d = load(spark, sf_dir, "documents")
    return sampling.stratified_hash_sample(
        d,
        strata_col="lang",
        rates={"en": 0.25, "zh": 0.9},
        default_rate=0.5,
        salt="mix1",
    ).select("doc_id", "lang", "sample_bucket")


@q(
    "pipeline_source_stats",
    f"""
    WITH der AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 19 = 0
                  THEN 'boilerplate notice from ' || source
                  ELSE text END AS text
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*) AS dup_ratio,
           {_sql_dsum(f'len({_SQL_TOKS})', 'total_tokens', 'DECIMAL(18,0)')},
           CAST(SUM(CAST(len({_SQL_TOKS}) AS DECIMAL(18,0))) AS DOUBLE) / COUNT(*)
             AS avg_tokens
    FROM der
    GROUP BY source
    """,
)
def pipeline_source_stats(spark, sf_dir):
    """Per-source corpus health: doc counts, exact-dup ratio (distinct md5
    digests — 16 B/doc shuffle, never bodies), token totals.  The per-domain
    triage report every crawl pipeline starts from."""
    # the raw fixtures contain ZERO exact-duplicate texts (verified at
    # every SF), so dup_ratio was a constant 0.0 and the dup-detection
    # arithmetic dead under the oracle (round-8 constant-column audit):
    # the %19 slice collapses onto a per-source boilerplate string —
    # intra-source duplicate groups at every SF
    d = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 19 == 0,
            F.concat(F.lit("boilerplate notice from "), F.col("source")),
        ).otherwise(F.col("text")),
    )
    n_tok = text.token_count(F.col("text")).cast("decimal(18,0)")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        (
            (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_ratio"),
        F.sum(n_tok).cast("double").alias("total_tokens"),
        (F.sum(n_tok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
    )


@q(
    "pipeline_pack_budget",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    meta AS (SELECT doc_id, toks, len(toks) AS L,
                    1 + CAST(floor((greatest(len(toks) - 50, 0) + 39) / 40) AS INT) AS n
             FROM t),
    ch AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS chunk_idx, L
           FROM meta),
    chunks AS (
      SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
             CAST(least(L - chunk_idx*40, 50) AS BIGINT) AS chunk_n_tokens
      FROM ch
    )
    SELECT doc_id, chunk_idx, chunk_n_tokens,
           CAST(floor((SUM(chunk_n_tokens) OVER (ORDER BY doc_id, chunk_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - chunk_n_tokens) / 200.0) AS BIGINT) AS pack_id
    FROM chunks
    """,
)
def pipeline_pack_budget(spark, sf_dir):
    """Chunk → token-budget sharding: 50-token chunks packed into ~200-token
    trainer work units by running-total bucketing (a row never splits; packs
    overhang by at most one row).  Integer cumsum over an explicit total
    order — deterministic; see pack_budget's docstring for the global-window
    scale note (shard by key at 100 TB)."""
    d = load(spark, sf_dir, "documents")
    chunks = text.chunk_counts(d, chunk_tokens=50, overlap=10)
    # bounds from a column-pruned scan of the raw table (a superset of the
    # chunk frame's doc_id domain — identical pack ids, see pack_budget):
    # saves the bucketing pass over the tokenize lineage (r15)
    b = d.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    return text.pack_budget(
        chunks,
        capacity=200,
        order_cols=("doc_id", "chunk_idx"),
        bounds=(b[0], b[1]),
    )


@q(
    "pipeline_weighted_sample",
    """
    SELECT doc_id, n_chars
    FROM documents
    WHERE CAST(CAST('0x' || substr(md5('w1' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 100000 AS DOUBLE)
          < least(1.0, CAST(n_chars AS DOUBLE) / 500.0) * 100000.0
    """,
)
def pipeline_weighted_sample(spark, sf_dir):
    """Importance resampling: acceptance probability proportional to doc
    length (capped at 1) — longer docs kept preferentially, decided by a
    content-stable hash so every engine/run keeps the same rows.  Zero
    shuffles."""
    d = load(spark, sf_dir, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars").cast("double") / 500.0)
    return sampling.weighted_hash_sample(d, w, salt="w1").select("doc_id", "n_chars")


@q(
    "pipeline_mix_report",
    f"""
    WITH kept AS (
      SELECT d.*
      FROM documents d
      WHERE d.doc_id = (SELECT MIN(d2.doc_id) FROM documents d2
                        WHERE md5(d2.text) = md5(d.text))
        AND CAST('0x' || substr(md5('mix1' || CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
              % 1000
            < CASE d.lang WHEN 'en' THEN 250 WHEN 'zh' THEN 900 ELSE 500 END
    ),
    split AS (
      SELECT *,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                       % 100 < 90
                  THEN 'train' ELSE 'val' END AS split
      FROM kept
    )
    SELECT lang, split,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(len({_SQL_TOKS}) AS DECIMAL(18,0))) AS BIGINT) AS total_tokens
    FROM split
    GROUP BY lang, split
    """,
)
def pipeline_mix_report(spark, sf_dir):
    """The end-to-end mixing report a training run starts from: exact-dedup
    (keep min doc_id per digest) → per-language stratified sampling →
    hash split → per-(lang, split) doc/token totals.  Composes four
    operators in one plan: the dedup semi-join is the only body-keyed
    shuffle (on digests), sampling/splitting are scan-side expressions, and
    the final rollup is a tiny two-key aggregate."""
    d = load(spark, sf_dir, "documents")
    kept = dedup.exact_dedup_keep_first(d)
    sampled = sampling.stratified_hash_sample(
        kept, strata_col="lang", rates={"en": 0.25, "zh": 0.9}, default_rate=0.5, salt="mix1"
    )
    split = text.hash_split(sampled, train_pct=90)
    return split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count(F.col("text")).cast("decimal(18,0)"))
        .cast("long")
        .alias("total_tokens"),
    )


@q(
    "pipeline_corpus_shuffle",
    """
    SELECT doc_id, md5('sh1' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    """,
)
def pipeline_corpus_shuffle(spark, sf_dir):
    """Deterministic global corpus shuffle (decorrelate source/crawl order
    before writing training shards): total order by md5(salt ‖ id), realized
    as a range repartition + per-partition sort — no global window, no
    single task.  The oracle verifies the permutation KEY per row (the
    driver compares order-insensitively; order follows from the key)."""
    from pdtable_spark.operators import sampling

    d = load(spark, sf_dir, "documents")
    return sampling.corpus_shuffle(d, salt="sh1").select("doc_id", "shuffle_key")


@q(
    "pipeline_length_buckets",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens FROM documents
    )
    SELECT CAST(floor(log2(CAST(n_tokens AS DOUBLE) + 1.0)) AS INT) AS len_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens
    FROM t GROUP BY 1
    """,
)
def pipeline_length_buckets(spark, sf_dir):
    """Padding-efficiency batching profile: log2 length buckets (stable as
    the corpus grows — quantile boundaries drift, log boundaries never
    move) with per-bucket doc/token stats; one keyed aggregate with a
    ~log2(max length)-row output."""
    d = load(spark, sf_dir, "documents")
    out = text.length_bucket_stats(d)
    return out.select(
        "len_bucket",
        F.col("n_docs"),
        F.col("total_tokens"),
        F.col("min_tokens").cast("long").alias("min_tokens"),
        F.col("max_tokens").cast("long").alias("max_tokens"),
    )


@q(
    "pipeline_cluster_keywords",
    f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    cd AS (
      SELECT c.vec_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY {_sql_dist2('ca', 'ce', 64)}, cent.cid) AS rn
      FROM c CROSS JOIN cent
    ),
    asg AS (SELECT vec_id, cid AS cell FROM cd WHERE rn = 1),
    toks AS (
      SELECT a.cell, unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS term
      FROM documents d JOIN asg a ON a.vec_id = d.doc_id
    ),
    tc AS (SELECT cell, term, COUNT(*) AS n FROM toks GROUP BY 1, 2),
    ranked AS (
      SELECT cell, term, n,
             ROW_NUMBER() OVER (PARTITION BY cell ORDER BY n DESC, term) AS rank
      FROM tc
    )
    SELECT CAST(cell AS INT) AS cell, term, CAST(n AS BIGINT) AS n,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def pipeline_cluster_keywords(spark, sf_dir):
    """Cross-modal composition: embedding-space clusters (ivf_index cell
    assignment over seed centroids) joined back to the TEXT of their
    member documents, then per-cluster top-5 terms by in-cluster count —
    the "what is each cluster about" topic readout of a curation
    pipeline.  One broadcast-literal assignment scan, one doc_id join,
    one (cell, term) aggregate, one per-cell top-k window."""
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents")
    cents = seed_centroids(emb)
    asg = similarity.ivf_index(emb, cents).select("vec_id", "cell")
    toks = (
        docs.join(asg, docs["doc_id"] == asg["vec_id"])
        .select(F.col("cell"), F.explode(text.tokens(F.lower(F.col("text")))).alias("term"))
    )
    tc = toks.groupBy("cell", "term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("cell").orderBy(F.desc("n"), F.asc("term"))
    return (
        tc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select(F.col("cell").cast("int").alias("cell"), "term", "n", "rank")
    )


_MIX_ALPHA = 0.7


@q(
    "pipeline_mixture_temperature",
    f"""
    WITH c AS (
      SELECT source, COUNT(*) AS n_docs FROM documents
      WHERE (doc_id % 97) % (CAST(substr(source, 4) AS INT) % 4 + 2) <> 0
      GROUP BY source
    ),
    t AS (SELECT SUM(n_docs) AS total FROM c),
    w AS (
      SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
             CAST(FLOOR(POW(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE),
                            {_MIX_ALPHA}) * 1e9 + 0.5) AS BIGINT) AS wq
      FROM c CROSS JOIN t
    ),
    s AS (SELECT SUM(wq) AS wtot FROM w)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, share,
           CAST(wq AS DOUBLE) / 1e9 AS temp_weight,
           CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE) AS mix_share
    FROM w CROSS JOIN s
    """,
)
def pipeline_mixture_temperature(spark, sf_dir):
    """Temperature-scaled domain mixing (p_i^0.7 renormalized, mT5-style):
    upsamples small high-quality sources.  The pow() output is quantized
    to 9 decimals as BIGINT before the renormalizing sum, so the weights
    are bit-reproducible across engines (pow differs by ulps).

    The fixture corpus is perfectly UNIFORM (equal docs per source), so
    on the raw table every share/weight was one constant and the
    upsampling math was invisible to the oracle (round-8
    constant-column audit) — a deterministic source-dependent skew
    (keep fraction varies by source number mod 4) gives four share
    levels, so mix_share genuinely diverges from share."""
    docs = load(spark, sf_dir, "documents")
    # doc ids are round-robin-correlated with source, so a direct
    # doc_id %% m test keeps all-or-none per source — mod 97 first
    docs = docs.filter(
        (F.col("doc_id") % 97)
        % (F.substring(F.col("source"), 4, 10).cast("int") % 4 + 2)
        != 0
    )
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    return mixture_temperature_weights(docs, alpha=_MIX_ALPHA)


@q(
    "pipeline_mixture_tokens",
    f"""
    WITH c AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len({_SQL_TOKS})) AS total_weight
      FROM documents GROUP BY source
    ),
    t AS (SELECT SUM(total_weight) AS total FROM c),
    w AS (
      SELECT source, n_docs, total_weight,
             CAST(total_weight AS DOUBLE) / CAST(total AS DOUBLE) AS share,
             CAST(FLOOR(POW(CAST(total_weight AS DOUBLE) / CAST(total AS DOUBLE),
                            {_MIX_ALPHA}) * 1e9 + 0.5) AS BIGINT) AS wq
      FROM c CROSS JOIN t
    ),
    s AS (SELECT SUM(wq) AS wtot FROM w)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_weight AS BIGINT) AS total_weight, share,
           CAST(wq AS DOUBLE) / 1e9 AS temp_weight,
           CAST(wq AS DOUBLE) / CAST(wtot AS DOUBLE) AS mix_share
    FROM w CROSS JOIN s
    """,
)
def pipeline_mixture_tokens(spark, sf_dir):
    """TOKEN-budgeted temperature mixing: source shares are whitespace-token
    sums, not document counts — the unit training mixtures are actually
    specified in (a source of few huge documents is a bigger slice than
    its doc count suggests).  Same bit-reproducible quantized-pow recipe
    as the per-document spelling."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "n_toks", F.size(text.tokens(F.col("text"))).cast("long")
    )
    from pdtable_spark.operators.sampling import mixture_temperature_weights

    return mixture_temperature_weights(docs, alpha=_MIX_ALPHA, weight_col="n_toks")


@q(
    "pipeline_dataset_card",
    f"""
    WITH der AS (
      SELECT doc_id, source, lang,
             CASE WHEN doc_id % 19 = 0
                  THEN 'boilerplate notice from ' || source
                  ELSE text END AS text
      FROM documents
    ),
    f AS (
      SELECT source, lang, md5(text) AS h,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks,
             CASE WHEN {_sql_gopher_ok("text")} THEN 1 ELSE 0 END AS ok
      FROM der
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS dup_rate,
           CAST(SUM(ok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS quality_pass_rate
    FROM f GROUP BY source
    """,
)
def pipeline_dataset_card(spark, sf_dir):
    """The dataset card: per-source corpus summary — docs, tokens, language
    count, exact-dup rate (via text digests), Gopher-rule pass rate — the
    one-page answer to "what is in this corpus" before training on it.
    One scan; the two exact distincts expand the aggregate (documented
    cost at 100 TB — swap in approx_count_distinct when ±2% is fine)."""
    # same %19 derived-dup slice as pipeline_source_stats: the raw
    # fixtures have no exact-dup texts, so dup_rate was constant 0.0
    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 19 == 0,
            F.concat(F.lit("boilerplate notice from "), F.col("source")),
        ).otherwise(F.col("text")),
    )
    flags = text.gopher_quality_flags(docs, min_words=_GOPHER_MIN_WORDS).select(
        "doc_id", "pass_all"
    )
    f = docs.join(flags, "doc_id").select(
        "source",
        "lang",
        F.md5("text").alias("h"),
        F.size(text.tokens(F.col("text"))).cast("long").alias("n_toks"),
        F.col("pass_all").alias("ok"),
    )
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("h").alias("n_distinct"),
        (
            (F.count(F.lit(1)) - F.countDistinct("h")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_rate"),
        (F.sum("ok").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "quality_pass_rate"
        ),
    )


#: Derived corpus for the composite recipe: line structure only (sentence-
#: terminated breaks from ' sort', bare breaks from ' merge') — no symbol
#: injection, so the C4 brace/lorem flags stay all-pass and the gate is
#: driven by the sentence minimum, the Gopher rules, and the blocklist.
_RECIPE_DER_SQL = (
    "replace(replace(replace(text, ' sort', '.' || chr(10)),"
    " ' key', '.' || chr(10)), ' merge', chr(10))"
)
_RECIPE_KEPT_SQL = _C4_KEPT_SQL  # same C4 line-keep rule, over column `der`
_RECIPE_MIN_WORDS = 10


@q(
    "pipeline_modern_recipe",
    f"""
    WITH t AS (SELECT doc_id, source, {_RECIPE_DER_SQL} AS der FROM documents),
    c AS (
      SELECT doc_id, source,
             COALESCE(array_to_string({_RECIPE_KEPT_SQL}, chr(10)), '') AS clean,
             CAST(len({_RECIPE_KEPT_SQL}) AS BIGINT) AS n_kept_lines,
             len(regexp_extract_all(
               COALESCE(array_to_string({_RECIPE_KEPT_SQL}, chr(10)), ''),
               '[.!?]')) AS n_sent,
             contains(lower(der), 'lorem ipsum') AS hl,
             contains(der, '{{') AS hb
      FROM t
    ),
    c4pass AS (SELECT * FROM c WHERE n_sent >= 3 AND NOT hl AND NOT hb),
    gate AS (
      SELECT * FROM c4pass
      WHERE {_sql_gopher_ok("clean", min_words=_RECIPE_MIN_WORDS)}
        AND len(list_filter(['window'],
              b -> list_contains(
                list_transform(regexp_split_to_array(trim(clean), '\\s+'),
                               w -> lower(w)), b))) = 0
    )
    SELECT doc_id, source, n_kept_lines,
           CAST(len(regexp_split_to_array(trim(clean), '\\s+')) AS BIGINT)
             AS n_clean_tokens
    FROM gate
    """,
)
def pipeline_modern_recipe(spark, sf_dir):
    """The operators composed as a production curation recipe: C4 line
    cleaning (keep punctuation-terminated ≥5-word lines, page gates) →
    the full Gopher rule set over the CLEANED text → term blocklist —
    survivors with their cleaned-line/token accounting, every stage
    value-oracled end-to-end through one SQL expression chain.  All three
    three stages are scan-local column expressions; the composition pays
    two id-keyed semi joins to apply the gate verdicts (fuse the stages
    into one projection — or persist the cleaned frame — when the extra
    scans matter at full corpus scale)."""
    docs = load(spark, sf_dir, "documents")
    der = docs.select(
        "doc_id",
        "source",
        F.replace(
            F.replace(
                F.replace(F.col("text"), F.lit(" sort"), F.lit(".\n")),
                F.lit(" key"),
                F.lit(".\n"),
            ),
            F.lit(" merge"),
            F.lit("\n"),
        ).alias("text"),
    )
    surv = text.curate_recipe(
        der,
        passthrough=["source"],
        min_words=_RECIPE_MIN_WORDS,
        blocklist=["window"],
    )
    return surv.select(
        "doc_id",
        "source",
        "n_kept_lines",
        F.size(text.tokens(F.col("clean_text"))).cast("long").alias("n_clean_tokens"),
    )


#: Per-source score calibration, BOTH spellings in one frame: the exact
#: window cume_dist and the crawl-scale approx (aggregated
#: percentile_approx boundaries + broadcast join).  The approx oracle
#: reproduces Spark bit-for-bit because (a) with per-source n below
#: accuracy/2 (= 5000 rows at the default accuracy=10000) the GK sketch's
#: rank error is < 0.5, i.e. exact, and Spark's selection is the value at
#: rank ceil(p·n) with p·n computed in IEEE doubles — so the oracle
#: spells the SAME double product (DuckDB shares the float artifacts,
#: e.g. 0.28·25 = 7.000000000000001 → rank 8, verified identical at
#: sf0.01 and sf1); and (b) the percentile fold is the same
#: count-of-boundaries-≤-score array expression on both engines.
_SQL_SCORE_CALIBRATION = """
    WITH s AS (
      SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score FROM documents
    ),
    r AS (
      SELECT doc_id, source, score,
             CAST(cume_dist() OVER (PARTITION BY source
                                    ORDER BY score ASC, doc_id ASC) AS DOUBLE)
               AS score_pct
      FROM s
    ),
    ranked AS (
      SELECT source, score AS v,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY score) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM s
    ),
    bounds AS (
      SELECT source, list(v ORDER BY i) AS bl
      FROM ranked
      JOIN generate_series(1, 100) t(i)
        ON rk = CAST(ceil((CAST(i AS DOUBLE) / 100.0) * n) AS BIGINT)
      GROUP BY source
    )
    SELECT r.doc_id, r.source, r.score, r.score_pct,
           CAST(len(list_filter(b.bl, x -> x <= r.score)) AS DOUBLE) / 100.0
             AS score_pct_approx
    FROM r JOIN bounds b ON b.source = r.source
"""


@q("pipeline_score_calibration", _SQL_SCORE_CALIBRATION)
def pipeline_score_calibration(spark, sf_dir):
    """Per-source percentile calibration of a quality proxy (n_chars) —
    the "keep every source's top q%" primitive — in BOTH spellings
    side-by-side: ``score_pct`` is the exact window cume_dist (one task
    per source under WindowExec — fine to tens of millions of rows per
    source), ``score_pct_approx`` the crawl-scale aggregate spelling
    (per-source approx_percentile boundaries at 1/100 granularity,
    broadcast-joined back; no task ever holds a whole source).  Both are
    value-pinned so the scale-safe path cannot silently drift from the
    exact contract it approximates; the oracle is exact while per-source
    counts stay below accuracy/2 = 5000 (see _SQL_SCORE_CALIBRATION)."""
    from pdtable_spark.operators.sampling import (
        per_source_percentile,
        per_source_percentile_approx,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("score")
    )
    exact = per_source_percentile(docs, "score")
    return per_source_percentile_approx(exact, "score", out_col="score_pct_approx")


#: PSI over the same even/odd snapshot halves (and the same report CTE) as
#: the registered drift queries — the three standard drift gates (report /
#: TVD / PSI) then share one oracle lineage.
_SQL_PSI = f"""
    WITH rep AS ({_SQL_DRIFT_REPORT})
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(SUM(CAST(FLOOR(round(
                 (GREATEST(share_new, 0.000001) - GREATEST(share_old, 0.000001))
                 * ln(GREATEST(share_new, 0.000001)
                      / GREATEST(share_old, 0.000001)), 9)
               * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1000000000.0 AS psi
    FROM rep GROUP BY dim
"""


@q("pipeline_drift_psi", _SQL_PSI)
def pipeline_drift_psi(spark, sf_dir):
    """Population Stability Index between the even/odd snapshot halves
    along source and lang — the rare-category-sensitive companion to
    pipeline_drift_tvd, quantized-BIGINT-summed for bit reproducibility."""
    from pdtable_spark.operators.monitor import corpus_psi

    docs = load(spark, sf_dir, "documents")
    return corpus_psi(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        ["source", "lang"],
    )


#: Numeric drift: n_chars over [0, 600) in 12 fixed bins (width 50.0 —
#: exact in binary, so floor((x-0)/50) is engine-identical).
_SQL_NUMERIC_DRIFT = """
    WITH ob AS (
      SELECT CAST(CAST(LEAST(GREATEST(
               FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 50.0), 0), 11)
             AS BIGINT) AS VARCHAR) AS value, COUNT(*) AS n_old
      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    nb AS (
      SELECT CAST(CAST(LEAST(GREATEST(
               FLOOR((CAST(n_chars AS DOUBLE) - 0.0) / 50.0), 0), 11)
             AS BIGINT) AS VARCHAR) AS value, COUNT(*) AS n_new
      FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
    ),
    j AS (
      SELECT COALESCE(ob.value, nb.value) AS value,
             COALESCE(ob.n_old, 0) AS n_old, COALESCE(nb.n_new, 0) AS n_new
      FROM ob FULL OUTER JOIN nb ON nb.value IS NOT DISTINCT FROM ob.value
    ),
    m AS (
      SELECT value, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
             CASE WHEN SUM(n_old) OVER () > 0
                  THEN CAST(n_old AS DOUBLE) / CAST(SUM(n_old) OVER () AS DOUBLE)
                  ELSE 0.0 END AS share_old,
             CASE WHEN SUM(n_new) OVER () > 0
                  THEN CAST(n_new AS DOUBLE) / CAST(SUM(n_new) OVER () AS DOUBLE)
                  ELSE 0.0 END AS share_new
      FROM j
    )
    SELECT 'n_chars' AS dim, value, n_old, n_new, share_old, share_new,
           share_new - share_old AS delta,
           abs(share_new - share_old) AS abs_delta
    FROM m
"""


@q("pipeline_numeric_drift", _SQL_NUMERIC_DRIFT)
def pipeline_numeric_drift(spark, sf_dir):
    """Numeric-dimension drift between the snapshot halves: n_chars
    bucketized into 12 shared fixed-width bins over [0, 600), then the
    standard categorical report — the length-distribution alarm a filter
    regression trips first."""
    from pdtable_spark.operators.monitor import numeric_drift_report

    docs = load(spark, sf_dir, "documents")
    return numeric_drift_report(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        lo=0.0,
        hi=600.0,
        bins=12,
    )


#: DSIR importance weights: raw = the full documents table, target = its
#: lang='en' slice; 4096 hashed-ngram buckets.  The oracle rebuilds the
#: whole method in SQL — md5_60 buckets, Laplace bucket models with the
#: exact operand order, ln floored at 1e-9 — so the per-doc weights
#: hash-match bit-for-bit.
_SQL_DSIR_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_SQL_DSIR_GRAMS = (
    f"list_concat({_SQL_DSIR_TOKS}, "
    f"CASE WHEN len({_SQL_DSIR_TOKS}) >= 2 THEN "
    f"list_transform(generate_series(1, len({_SQL_DSIR_TOKS}) - 1), "
    f"i -> array_to_string(list_slice({_SQL_DSIR_TOKS}, i, i + 1), ' ')) "
    f"ELSE [array_to_string({_SQL_DSIR_TOKS}, ' ')] END)"
)

_SQL_DSIR = f"""
    WITH gb AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % 4096 AS b
      FROM (SELECT doc_id, unnest({_SQL_DSIR_GRAMS}) AS gram FROM documents)
    ),
    tgb AS (
      SELECT CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) % 4096 AS b
      FROM (SELECT unnest({_SQL_DSIR_GRAMS}) AS gram FROM documents
            WHERE lang = 'en')
    ),
    sc AS (SELECT b, COUNT(*) AS cs FROM gb GROUP BY 1),
    tc AS (SELECT b, COUNT(*) AS ct FROM tgb GROUP BY 1),
    tots AS (SELECT (SELECT COUNT(*) FROM gb) AS ts,
                    (SELECT COUNT(*) FROM tgb) AS tt),
    q AS (
      SELECT sc.b,
             CAST(FLOOR(ln(((COALESCE(tc.ct, 0) + 1.0) / (tt + 4096.0))
                           / ((sc.cs + 1.0) / (ts + 4096.0)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS qv
      FROM sc LEFT JOIN tc ON tc.b = sc.b CROSS JOIN tots
    )
    SELECT gb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(q.qv) AS DOUBLE) / 1000000000.0 AS log_importance
    FROM gb JOIN q ON q.b = gb.b
    GROUP BY gb.doc_id
"""


@q("pipeline_dsir_weights", _SQL_DSIR)
def pipeline_dsir_weights(spark, sf_dir):
    """DSIR importance log-weights (hashed-ngram importance resampling,
    Xie et al. 2023) for steering the raw corpus toward its lang='en'
    slice — the modern "select data that looks like the target" primitive,
    scored scan-locally off a bounded broadcast log-ratio table."""
    from pdtable_spark.operators.sampling import dsir_log_importance

    docs = load(spark, sf_dir, "documents")
    # fused slice spelling: one gram pass builds BOTH bucket models
    # (bit-identical to the two-frame spelling, pytest-pinned)
    return dsir_log_importance(
        docs, target_pred=F.col("lang") == "en", hash_fn="md5_60"
    )


#: The filter-tuning curve over doc length: how much of the corpus (docs
#: AND tokens) survives each candidate n_chars cutoff — one scan, the
#: curve unpivots from a single aggregate row.
_SQL_THRESHOLD_SWEEP = r"""
    WITH t(threshold) AS (VALUES (100.0), (200.0), (300.0), (400.0)),
    base AS (SELECT source, CAST(n_chars AS DOUBLE) AS s,
                    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tok
             FROM documents)
    SELECT base.source, CAST(t.threshold AS DOUBLE) AS threshold,
           CAST(SUM(CASE WHEN s >= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CASE WHEN COUNT(*) > 0
                THEN CAST(SUM(CASE WHEN s >= t.threshold THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                ELSE 0.0 END AS share_kept,
           CAST(SUM(CASE WHEN s >= t.threshold THEN tok ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CASE WHEN SUM(tok) > 0
                THEN CAST(SUM(CASE WHEN s >= t.threshold THEN tok ELSE 0 END)
                          AS DOUBLE) / CAST(SUM(tok) AS DOUBLE)
                ELSE 0.0 END AS token_share
    FROM base CROSS JOIN t GROUP BY base.source, t.threshold
"""


@q("pipeline_threshold_sweep", _SQL_THRESHOLD_SWEEP)
def pipeline_threshold_sweep(spark, sf_dir):
    """Per-source threshold sweep over n_chars at 100/200/300/400: docs
    kept, WITHIN-source share, tokens kept, token share per cutoff — the
    per-source cut a mixture rebalance is tuned from, still one scan (T
    cutoffs as codegen literals in one aggregate row per source,
    unpivoted via inline)."""
    from pdtable_spark.operators.monitor import threshold_sweep

    return threshold_sweep(
        load(spark, sf_dir, "documents"),
        "n_chars",
        [100.0, 200.0, 300.0, 400.0],
        by=["source"],
    )


#: Per-rule rejection funnel over the FULL Gopher flag set, on the same
#: deterministic multi-line fixture variant as text_gopher_rules (so the
#: line-level rules take non-trivial values).


_FUNNEL_RULES = [
    "pass_word_count",
    "pass_mean_word_len",
    "pass_alpha_ratio",
    "pass_stopwords",
    "pass_symbol_ratio",
    "pass_bullet_lines",
    "pass_ellipsis_lines",
    "pass_dup_lines",
]


def _sql_funnel() -> str:
    flags = f"""
    WITH t AS (SELECT doc_id, {_GOPHER_DERIVED_SQL} AS der FROM documents),
    m AS (
      SELECT doc_id,
             {_GOPHER_M['n_words']} AS n_words,
             {_GOPHER_M['mean_word_len']} AS mean_word_len,
             {_GOPHER_M['alpha_ratio']} AS alpha_ratio,
             {_GOPHER_M['n_stopwords']} AS n_stopwords,
             {_GOPHER_M['symbol_word_ratio']} AS symbol_word_ratio,
             {_GOPHER_M['bullet_line_frac']} AS bullet_line_frac,
             {_GOPHER_M['ellipsis_line_frac']} AS ellipsis_line_frac,
             {_GOPHER_M['dup_line_frac']} AS dup_line_frac
      FROM t
    ),
    fl AS (
      SELECT CAST(n_words >= {_GOPHER_MIN_WORDS} AND n_words <= 100000 AS INT)
               AS pass_word_count,
             CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT)
               AS pass_mean_word_len,
             CAST(alpha_ratio >= 0.8 AS INT) AS pass_alpha_ratio,
             CAST(n_stopwords >= 2 AS INT) AS pass_stopwords,
             CAST(symbol_word_ratio <= 0.1 AS INT) AS pass_symbol_ratio,
             CAST(bullet_line_frac <= 0.9 AS INT) AS pass_bullet_lines,
             CAST(ellipsis_line_frac <= 0.3 AS INT) AS pass_ellipsis_lines,
             CAST(dup_line_frac <= 0.3 AS INT) AS pass_dup_lines
      FROM m
    )"""
    arms = []
    for c in _FUNNEL_RULES:
        others = " AND ".join(f"{o} = 1" for o in _FUNNEL_RULES if o != c)
        arms.append(f"""
    SELECT '{c}' AS rule,
           CAST(SUM(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
           CASE WHEN COUNT(*) > 0
                THEN CAST(SUM(CASE WHEN {c} = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE)
                ELSE 0.0 END AS share_failed,
           CAST(SUM(CASE WHEN {c} = 0 AND {others} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_failed_alone
    FROM fl""")
    return flags + "\n    UNION ALL".join(arms)


_SQL_FUNNEL = _sql_funnel()


@q("pipeline_curation_funnel", _SQL_FUNNEL)
def pipeline_curation_funnel(spark, sf_dir):
    """Per-rule rejection funnel over the full Gopher flag set: n_failed
    (double-counts multi-rule failures by design), within-corpus failure
    share, and the MARGINAL n_failed_alone (what dropping the rule would
    recover) — one aggregate row unpivoted via inline."""
    from pdtable_spark.operators.text import curation_funnel, gopher_quality_flags
    from pdtable_spark.queries.suite import _gopher_derived_col

    docs = load(spark, sf_dir, "documents").withColumn(
        "text", _gopher_derived_col()
    )
    return curation_funnel(gopher_quality_flags(docs, min_words=_GOPHER_MIN_WORDS))


_SQL_BLOOM = f"""
    WITH base AS (SELECT doc_id, source = 'src0' AS is_bench, {_SQL_SHINGLES} AS sh
                  FROM documents),
    bench_g AS (SELECT DISTINCT unnest(sh) AS g FROM base WHERE is_bench),
    bloom AS (
      SELECT DISTINCT pos FROM (
        SELECT {_sql_bloom_pos('g', 0)} AS pos FROM bench_g
        UNION ALL SELECT {_sql_bloom_pos('g', 1)} FROM bench_g
        UNION ALL SELECT {_sql_bloom_pos('g', 2)} FROM bench_g
      )
    ),
    train AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM base WHERE NOT is_bench),
    probes AS (
      SELECT train_id, g, pos FROM (
        SELECT train_id, g, {_sql_bloom_pos('g', 0)} AS pos FROM train
        UNION ALL SELECT train_id, g, {_sql_bloom_pos('g', 1)} FROM train
        UNION ALL SELECT train_id, g, {_sql_bloom_pos('g', 2)} FROM train
      )
    ),
    hits AS (
      SELECT train_id, g FROM probes JOIN bloom USING (pos)
      GROUP BY train_id, g HAVING COUNT(*) = 3
    ),
    fl AS (SELECT train_id, COUNT(*) AS n_hits FROM hits GROUP BY 1),
    per_doc AS (SELECT train_id, COUNT(*) AS n_grams FROM train GROUP BY 1)
    SELECT p.train_id,
           CAST(p.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(f.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(f.n_hits, 0) AS DOUBLE) / CAST(p.n_grams AS DOUBLE)
             AS hit_rate,
           CAST(CAST(COALESCE(f.n_hits, 0) AS DOUBLE)
                / CAST(p.n_grams AS DOUBLE) >= 0.5 AS INT) AS flagged
    FROM per_doc p LEFT JOIN fl f USING (train_id)
"""


@q("pipeline_bloom_screen", _SQL_BLOOM)
def pipeline_bloom_screen(spark, sf_dir):
    """Bloom-filter decontamination screen: every non-benchmark doc's
    shingles probed against a 2^16-bit / 3-hash Bloom filter of the
    src0 eval set — the cheap first pass whose flags feed the exact
    contamination_report verifier.  The filter is a ≤ num_bits-row
    broadcast however large the benchmark; one corpus scan."""
    from pdtable_spark.operators.dedup import bloom_decontaminate

    docs = load(spark, sf_dir, "documents")
    return bloom_decontaminate(
        docs,
        F.col("source") == "src0",
        shingle_n=5,
        num_hashes=3,
        num_bits=_BLOOM_BITS,
        min_hit_rate=0.5,
    )


# ---------------------------------------------------------------------------
# Two-stage decontamination funnel: Bloom screen -> exact verify on flagged
# ---------------------------------------------------------------------------

_SQL_DECON_FUNNEL = f"""
    WITH screen AS ({_SQL_BLOOM}),
    flagged AS (SELECT train_id FROM screen WHERE flagged = 1),
    base AS (SELECT doc_id, source = 'src0' AS is_bench, {_SQL_SHINGLES} AS sh
             FROM documents),
    bench AS (SELECT doc_id AS bench_id, len(sh) AS bench_size, unnest(sh) AS g
              FROM base WHERE is_bench),
    train AS (
      SELECT doc_id AS train_id, unnest(sh) AS g FROM base
      WHERE NOT is_bench AND doc_id IN (SELECT train_id FROM flagged)
    ),
    m AS (
      SELECT train_id, bench_id, bench_size, COUNT(*) AS n_common
      FROM train JOIN bench USING (g) GROUP BY 1, 2, 3
    )
    SELECT train_id, bench_id, CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common AS DOUBLE) / CAST(bench_size AS DOUBLE) AS containment
    FROM m
    WHERE CAST(n_common AS DOUBLE) / CAST(bench_size AS DOUBLE) >= 0.3
"""


@q("pipeline_decon_funnel", _SQL_DECON_FUNNEL)
def pipeline_decon_funnel(spark, sf_dir):
    """The production decontamination shape: the Bloom screen prunes the
    corpus to its flagged docs, and the exact (train, bench) containment
    verifier runs ONLY on those — the quadratic-looking pair stage sees a
    screen-sized input.  As ONE composed plan (this value-oracled
    spelling) the corpus is re-scanned per stage branch; at 100 TB the
    stages run separately — land the screen verdicts (a doc-id-sized
    table), then verify against the flagged ids — so the full corpus
    pays one scan plus a broadcast hash probe, exactly the batch screen's
    plan, and only flagged docs are read again."""
    from pdtable_spark.operators.dedup import (
        bloom_decontaminate,
        contamination_report,
    )

    docs = load(spark, sf_dir, "documents")
    bench_pred = F.col("source") == "src0"
    flagged = (
        bloom_decontaminate(
            docs, bench_pred, shingle_n=5, num_hashes=3,
            num_bits=_BLOOM_BITS, min_hit_rate=0.5,
        )
        .filter(F.col("flagged") == 1)
        .select(F.col("train_id").alias("doc_id"))
    )
    pruned = docs.filter(bench_pred).unionByName(
        docs.join(flagged, "doc_id", "left_semi")
    )
    return contamination_report(
        pruned, bench_pred, shingle_n=5, min_containment=0.3
    ).select("train_id", "bench_id", "n_common", "containment")


# ---------------------------------------------------------------------------
# Data-constrained epochs plan (operators/sampling.py::epochs_plan)
# ---------------------------------------------------------------------------


_EPOCHS_TARGETS = {"src1": 0.5, "src2": 0.3, "src3": 0.2}
_EPOCHS_MAX = 2.0

_SQL_EPOCHS = f"""
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(len({_SQL_TOKS}) AS DECIMAL(18,0))) AS BIGINT)
               AS total_tokens
      FROM documents WHERE source IN ('src1', 'src2', 'src3') GROUP BY 1
    ),
    b AS (
      SELECT CAST(6 * total_tokens AS DOUBLE) AS budget
      FROM per WHERE source = 'src2'
    ),
    t(source, target_share) AS (VALUES ('src1', 0.5), ('src2', 0.3), ('src3', 0.2))
    SELECT p.source, n_docs, total_tokens,
           CAST(target_share AS DOUBLE) AS target_share,
           CAST(FLOOR(CAST(target_share AS DOUBLE) * budget)
                AS BIGINT) AS target_tokens,
           CAST(CAST(FLOOR(CAST(target_share AS DOUBLE) * budget)
                AS BIGINT) AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS epochs,
           CAST(CAST(CAST(FLOOR(CAST(target_share AS DOUBLE) * budget)
                AS BIGINT) AS DOUBLE) / CAST(total_tokens AS DOUBLE)
                > {_EPOCHS_MAX} AS INT) AS repeat_risk
    FROM per p JOIN t USING (source) CROSS JOIN b
"""


@q("pipeline_epochs_plan", _SQL_EPOCHS)
def pipeline_epochs_plan(spark, sf_dir):
    """Data-constrained pre-flight: how many epochs of each targeted
    source the (budget, mixture) pair implies, with the >max_epochs
    over-repetition flag (Muennighoff et al. 2023 — marginal value of a
    repeated epoch decays toward zero past ~4) — the rebalance-or-collect
    warning BEFORE a training run commits to a mixture.

    The budget is CORPUS-RELATIVE (6x src2's token count, a bounded
    scalar collect): the old fixed 6000 left src1 at 1.95 implied
    epochs — a hair under the 2.0 flag at sf0.01 and far under it at
    sf1, so repeat_risk was a constant 0 and the flag path was
    invisible to the value oracle (round-8 constant-column audit).
    Relative sizing keeps the flags MIXED (src1 fires, src2/src3 do
    not) at every SF because all per-source token totals scale
    together."""
    from pdtable_spark.operators.sampling import epochs_plan
    from pdtable_spark.operators.text import tokens

    docs = load(spark, sf_dir, "documents")
    t2 = docs.filter(F.col("source") == "src2").agg(
        F.sum(
            F.when(F.col("text").isNotNull(), F.size(tokens(F.col("text"))))
        )
    ).collect()[0][0]
    return epochs_plan(
        docs, _EPOCHS_TARGETS, 6 * int(t2), max_epochs=_EPOCHS_MAX
    )


# ---------------------------------------------------------------------------
# Semantic packing: in-context-pretraining shards (cluster-then-pack)
# ---------------------------------------------------------------------------

_SQL_SEMANTIC_PACK = f"""
    WITH {_SQL_CLUSTER_ASSIGN},
    a AS (SELECT vec_id AS doc_id, CAST(cid AS INT) AS cell FROM cd WHERE rn = 1),
    d AS (SELECT doc_id, cell, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
          FROM documents JOIN a USING (doc_id))
    SELECT doc_id, cell, n_tokens,
           CAST(floor((SUM(n_tokens) OVER (PARTITION BY cell ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 400.0) AS BIGINT) AS pack_id
    FROM d
"""


@q("pipeline_semantic_pack", _SQL_SEMANTIC_PACK)
def pipeline_semantic_pack(spark, sf_dir):
    """In-context-pretraining shards (Shi et al. 2023, ICP): related
    documents land in the SAME trainer work unit — cluster assignment
    under the seed centroids, then token-budget packing WITHIN each cell
    (pack_budget's partitioned spelling: an ordinary per-cell window, no
    global order).  A long-context model then sees topically-coherent
    concatenations instead of random ones."""
    from pdtable_spark.operators import similarity
    from pdtable_spark.operators.text import pack_budget, token_count

    emb = load(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb)
    idx = similarity.ivf_index(emb, cents).select(
        F.col("vec_id").alias("doc_id"), F.col("cell")
    )
    docs = load(spark, sf_dir, "documents")
    d = docs.join(idx, "doc_id").select(
        "doc_id",
        F.col("cell").cast("int").alias("cell"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    packed = pack_budget(
        d, capacity=400, n_tokens_col="n_tokens",
        order_cols=("doc_id",), partition_cols=("cell",),
    )
    return packed.select("doc_id", "cell", "n_tokens", "pack_id")


# ---------------------------------------------------------------------------
# Uncertainty sampling for active learning (sampling.py::uncertainty_sample)
# ---------------------------------------------------------------------------


_SQL_UNCERTAINTY = f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    w(term, weight) AS (VALUES {_sql_clf_weights()}),
    s AS (SELECT doc_id, SUM(weight) AS wsum FROM toks JOIN w USING (term) GROUP BY 1),
    scored AS (
      SELECT d.doc_id,
             CAST({_CLF_BIAS!r} AS DOUBLE) + COALESCE(s.wsum, 0.0) AS score
      FROM documents d LEFT JOIN s USING (doc_id)
    ),
    m AS (SELECT doc_id, score, abs(score - (-0.25)) AS margin FROM scored)
    SELECT doc_id, score, margin,
           CAST(row_number() OVER (ORDER BY margin, doc_id) AS INT) AS rank
    FROM m ORDER BY margin, doc_id LIMIT 20
"""


@q("pipeline_uncertainty_sample", _SQL_UNCERTAINTY)
def pipeline_uncertainty_sample(spark, sf_dir):
    """Active-learning batch selection: the 20 docs whose linear-classifier
    score sits nearest the keep/drop threshold — margin-based uncertainty
    sampling, the label-what-the-model-doubts loop that grows a quality
    classifier's training set.  Global top-k is sort+limit (TakeOrdered),
    never a corpus-wide single-partition window.

    threshold = -0.25 (-16/64, an exact binary fraction like the
    weights): at 0.0 dozens of fixture docs score exactly zero, so the
    top-20 margins were a constant 0.0 and the margin ORDERING was only
    ever exercised as a doc_id tie-break (round-8 constant-column
    audit); off-mode the top-20 spans margins 1/64..8/64 with a real
    tie-break boundary inside the last group."""
    from pdtable_spark.operators.sampling import uncertainty_sample
    from pdtable_spark.operators.text import classifier_score

    docs = load(spark, sf_dir, "documents")
    scored = classifier_score(docs, _CLF_WEIGHTS, bias=_CLF_BIAS)
    return uncertainty_sample(scored, k=20, score_col="clf_score", threshold=-0.25)


# ---------------------------------------------------------------------------
# Per-source cap (operators/sampling.py) — both spellings value-pinned
# ---------------------------------------------------------------------------

_SQL_SOURCE_CAP = """
    WITH s AS (
      SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score FROM documents
    ),
    r AS (
      SELECT doc_id, source, score,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id ASC) AS rn
      FROM s
    )
    SELECT doc_id, source, score, CAST(2 AS BIGINT) AS n_spellings
    FROM r WHERE rn <= 10
"""


@q("pipeline_source_cap", _SQL_SOURCE_CAP)
def pipeline_source_cap(spark, sf_dir):
    """Per-domain cap (keep each source's best 10 by a quality proxy) in
    BOTH spellings pinned against each other: the exact window
    row_number and the crawl-scale screen-then-trim (per-source
    approx_percentile threshold broadcast back, then the exact window
    over the ~cap-sized survivors).  The union's per-row count is the
    pin — a row either spelling got wrong surfaces as n_spellings=1 (or
    an extra row), which the value oracle rejects."""
    from pdtable_spark.operators.sampling import (
        cap_per_source,
        cap_per_source_threshold,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("score")
    )
    exact = cap_per_source(docs, 10, score_col="score")
    thr = cap_per_source_threshold(docs, 10, score_col="score")
    return (
        exact.unionAll(thr)
        .groupBy("doc_id", "source", "score")
        .agg(F.count(F.lit(1)).cast("long").alias("n_spellings"))
    )


# ---------------------------------------------------------------------------
# Record-level privacy (operators/privacy.py): k-anonymity + risk report
# ---------------------------------------------------------------------------

_SQL_K_ANONYMIZE = """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment FROM customer
      GROUP BY 1, 2 HAVING COUNT(*) >= 10
    )
    SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment
    FROM customer c
    JOIN g ON c.c_nationkey IS NOT DISTINCT FROM g.c_nationkey
          AND c.c_mktsegment IS NOT DISTINCT FROM g.c_mktsegment
"""


@q("pipeline_k_anonymize", _SQL_K_ANONYMIZE)
def pipeline_k_anonymize(spark, sf_dir):
    """k-anonymity suppression over customer metadata: only rows whose
    (nation, segment) combination occurs >= 10 times survive — the
    pre-release privacy floor for record-level corpus metadata.  One
    map-side-combinable groupBy + a null-safe semi-join back."""
    from pdtable_spark.operators.privacy import k_anonymize

    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    return k_anonymize(cust, ["c_nationkey", "c_mktsegment"], 10)


_SQL_ANONYMITY_REPORT = """
    WITH s AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
             COUNT(DISTINCT c_acctbal) AS l
      FROM customer GROUP BY 1, 2
    ),
    ks(k) AS (VALUES (5), (10), (20))
    SELECT CAST(k AS INTEGER) AS k,
           CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_below,
           CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_below,
           CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE) AS share_rows_below,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(n) AS BIGINT) AS min_group_size,
           CAST(MIN(l) AS BIGINT) AS min_l_diversity
    FROM s CROSS JOIN ks GROUP BY k
"""


@q("pipeline_anonymity_report", _SQL_ANONYMITY_REPORT)
def pipeline_anonymity_report(spark, sf_dir):
    """Re-identification risk report over customer (nation, segment)
    groups at thresholds 5/10/20, with account balance as the sensitive
    attribute (min_l_diversity) — the audit that picks k for
    :func:`~pdtable_spark.operators.privacy.k_anonymize`.  The per-k
    expansion runs on the distinct-combination-sized group frame, never
    the corpus."""
    from pdtable_spark.operators.privacy import anonymity_report

    cust = load(spark, sf_dir, "customer")
    return anonymity_report(
        cust,
        ["c_nationkey", "c_mktsegment"],
        ks=(5, 10, 20),
        sensitive_col="c_acctbal",
    )


# ---------------------------------------------------------------------------
# Snapshot diff (io/maintenance.py) — dataset-release bookkeeping as a query
# ---------------------------------------------------------------------------

_SQL_SNAPSHOT_DIFF = """
    SELECT doc_id, 'removed' AS change_type FROM documents
    WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id, 'changed' FROM documents
    WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0
    UNION ALL
    SELECT doc_id + 1000000, 'added' FROM documents
    WHERE doc_id % 11 = 0
"""


@q("pipeline_snapshot_diff", _SQL_SNAPSHOT_DIFF)
def pipeline_snapshot_diff(spark, sf_dir):
    """Keyed diff between two corpus releases (what did this ingest DO):
    the new snapshot deterministically removes doc_id%7, rewrites the
    text of doc_id%5, and lands doc_id%11 again under shifted ids —
    diff_snapshots must classify every key as removed/changed/added with
    null-safe text comparison.  One key shuffle (full-outer on doc_id)."""
    from pdtable_spark.io.maintenance import diff_snapshots

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        docs.filter(F.col("doc_id") % 7 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    return diff_snapshots(docs, new, "doc_id", compare_cols=["text"])


# ---------------------------------------------------------------------------
# Table-facade mutation chain (table.py R10-R14) under the value gate
# ---------------------------------------------------------------------------

def _sql_facade_ops():
    from pdtable_spark.queries.suite import _sql_dsum

    filled = "CASE WHEN o_orderkey % 3 = 0 THEN 0.0 ELSE o_totalprice END"
    return f"""
    SELECT CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FILLED'
                              WHEN 'P' THEN 'PART' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           {_sql_dsum(filled, 'price_filled_sum')},
           CAST(MAX(CAST(o_custkey AS INTEGER)) AS INTEGER) AS max_cust
    FROM orders GROUP BY 1
"""


@q("pipeline_facade_ops", _sql_facade_ops())
def pipeline_facade_ops(spark, sf_dir):
    """The reference's mutation surface (R10 replace, R11 cast, R12
    fillna, R14 rename — previously pytest-only) chained through the
    unit-checked Table facade in the graded path: replace order-status
    codes, cast the customer key to int, fill a deterministically-nulled
    price, rename it, then aggregate.  The facade's metadata bookkeeping
    must cost nothing: the plan is the raw DataFrame plan."""
    from pdtable_spark.frame import attach_units
    from pdtable_spark.queries.suite import dsum
    from pdtable_spark.table import Table

    df = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .withColumn(
            "price_or_null",
            F.when(F.col("o_orderkey") % 3 == 0, F.lit(None).cast("double"))
            .otherwise(F.col("o_totalprice")),
        )
    )
    t = Table(
        attach_units(
            df,
            unit_map={
                "o_orderkey": "-",
                "o_orderstatus": "text",
                "o_totalprice": "usd",
                "o_custkey": "-",
                "price_or_null": "usd",
            },
        ),
        name="orders",
    )
    t = t.replace({"O": "OPEN", "F": "FILLED", "P": "PART"}, subset=["o_orderstatus"])
    t = t.astype({"o_custkey": "int"})
    t = t.fillna(0.0, subset=["price_or_null"])
    t = t.rename_column("price_or_null", "price_filled")
    assert t["price_filled"].unit == "usd"
    g = t.group_by("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum("price_filled", "price_filled_sum"),
        F.max("o_custkey").alias("max_cust"),
    )
    return g.df.select(
        F.col("o_orderstatus").alias("status"), "n", "price_filled_sum", "max_cust"
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count ledger (operators/monitor.py::distinct_sketch /
# novelty_estimate, new round 8 — DataSketches HLL, JVM-native)
# ---------------------------------------------------------------------------

_SQL_NOVELTY_LEDGER = """
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_batch_exact,
           CAST(COUNT(DISTINCT CASE WHEN (doc_id % 97) % 3 = 0 THEN doc_id END)
                AS BIGINT) AS n_new_exact,
           CAST(1 AS INT) AS sketch_ok
    FROM documents WHERE (doc_id % 97) % 2 = 0
    GROUP BY source
"""


@q("pipeline_novelty_ledger", _SQL_NOVELTY_LEDGER)
def pipeline_novelty_ledger(spark, sf_dir):
    """Continuous-ingest novelty bookkeeping from sketches alone: a
    ledger of per-source HLL distinct sketches over the already-seen
    corpus ((doc_id%97)%3<>0), probed by a new batch ((doc_id%97)%2=0)
    — ``est_new`` estimates the never-seen keys ((doc_id%97)%6=0)
    without storing or rescanning historical ids.  The exact columns are
    fully value-oracled; ``sketch_ok`` pins both sketch estimates within
    max(2, 2%) of exact — deterministic (fixed hash, associative merge),
    so a green row stays green at every layout.

    lgk=16 (64 KB/sketch — still a KB-scale ledger): est_new is a
    DIFFERENCE of two estimates, so its error scales with the union
    cardinality, not the (smaller) new-key count; lgk=12's ~1.6% RSE
    breaks the 2% pin at sf1 (~25k keys/source — measured 7.8% worst
    rel err on est_new), while lgk=16 measures 0.12% worst — a 16x
    margin.  At true crawl cardinalities users size lgk the same way:
    RSE ~1.04/sqrt(2^lgk) against the TIGHTEST pinned quantity."""
    from pdtable_spark.operators import monitor

    docs = load(spark, sf_dir, "documents")
    # (doc_id %% 97) decorrelates from the fixtures' round-robin
    # doc->source assignment: plain %%2 gave every source EXACTLY 25
    # batch docs (n_batch_exact constant)
    seen = docs.filter((F.col("doc_id") % 97) % 3 != 0)
    batch = docs.filter((F.col("doc_id") % 97) % 2 == 0)
    led = monitor.distinct_sketch(seen, "doc_id", "source", lgk=16)
    nov = monitor.novelty_estimate(led, batch, "doc_id", "source", lgk=16)
    exact = batch.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_batch_exact"),
        F.count_distinct(
            F.when((F.col("doc_id") % 97) % 3 == 0, F.col("doc_id"))
        ).alias("n_new_exact"),
    )

    def ok(est, ex):
        tol = F.greatest(F.lit(2.0), ex.cast("double") * F.lit(0.02))
        return F.abs(est.cast("double") - ex.cast("double")) <= tol

    return nov.join(exact, "source").select(
        "source",
        F.col("n_batch_exact").cast("long").alias("n_batch_exact"),
        F.col("n_new_exact").cast("long").alias("n_new_exact"),
        (
            ok(F.col("n_batch_distinct"), F.col("n_batch_exact"))
            & ok(F.col("est_new"), F.col("n_new_exact"))
        )
        .cast("int")
        .alias("sketch_ok"),
    )


# ---------------------------------------------------------------------------
# Per-source unigram divergence matrix
# (operators/text.py::source_divergence, new round 8)
# ---------------------------------------------------------------------------

_SQL_SOURCE_DIVERGENCE = r"""
    WITH tok AS (
      SELECT source AS src, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    vocab AS (
      SELECT t FROM (SELECT t, COUNT(*) AS n FROM tok GROUP BY t)
      ORDER BY n DESC, t ASC LIMIT 16
    ),
    keyed AS (
      SELECT src, CASE WHEN t IN (SELECT t FROM vocab) THEN t END AS k FROM tok
    ),
    counts AS (SELECT src, k, COUNT(*) AS c FROM keyed GROUP BY src, k),
    totals AS (SELECT src, SUM(c) AS tot FROM counts GROUP BY src),
    dom AS (SELECT DISTINCT k FROM counts),
    dens AS (
      SELECT totals.src, dom.k,
             CAST(COALESCE(c, 0) AS DOUBLE) / CAST(tot AS DOUBLE) AS p
      FROM totals CROSS JOIN dom
      LEFT JOIN counts ON counts.src = totals.src
                      AND counts.k IS NOT DISTINCT FROM dom.k
    ),
    terms AS (
      SELECT a.src AS source_a, b.src AS source_b,
             CAST(FLOOR((SQRT(a.p) - SQRT(b.p)) * (SQRT(a.p) - SQRT(b.p))
                        * 1000000000000000.0 + 0.5) AS BIGINT) AS h2q,
             CAST(FLOOR(ABS(a.p - b.p) * 1000000000000000.0 + 0.5) AS BIGINT)
               AS tvq
      FROM dens a JOIN dens b ON a.k IS NOT DISTINCT FROM b.k
      WHERE a.src < b.src
    )
    SELECT source_a, source_b,
           SQRT(CAST(SUM(h2q) AS DOUBLE) / 1000000000000000.0 / 2.0)
             AS hellinger,
           CAST(SUM(tvq) AS DOUBLE) / 1000000000000000.0 / 2.0 AS tvd
    FROM terms GROUP BY source_a, source_b
"""


@q("pipeline_source_divergence", _SQL_SOURCE_DIVERGENCE)
def pipeline_source_divergence(spark, sf_dir):
    """Pairwise Hellinger + total-variation distance between per-source
    unigram distributions over the corpus top-16 vocabulary plus one
    OOV mass bucket — the "which domains are lexically close" matrix
    that sizes mixture weights and flags register drift.  Hellinger
    (sqrt is correctly rounded — no ln ulp drift) with 1e-15-quantized
    BIGINT term sums: exact integer arithmetic in any row order.

    vocab_size=16 < the fixtures' 31-token domain, so the OOV bucket is
    NON-EMPTY at every SF — the oracle permanently gates the null-safe
    OOV join (a name-list EqualTo join silently zeroed the OOV mass;
    found by the brute-force fuzz test, invisible at vocab_size=200
    where the fixtures have no OOV)."""
    from pdtable_spark.operators import text

    return text.source_divergence(load(spark, sf_dir, "documents"), vocab_size=16)


# ---------------------------------------------------------------------------
# Mergeable histogram ledger (operators/monitor.py::histogram_ledger /
# quantiles_from_ledger, new round 8 — the quantile sibling of the HLL
# distinct-count ledger)
# ---------------------------------------------------------------------------

_SQL_QUANTILE_LEDGER = r"""
    WITH led AS (
      SELECT source,
             CASE WHEN v < 0.0 THEN -1
                  WHEN v >= 500.0 THEN 50
                  ELSE LEAST(CAST(FLOOR((v - 0.0) / 10.0) AS INT), 49) END AS bin,
             COUNT(*) AS n
      FROM (SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents
            WHERE n_chars IS NOT NULL)
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, bin, n,
             SUM(n) OVER (PARTITION BY source ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS c,
             SUM(n) OVER (PARTITION BY source) AS tot
      FROM led
    ),
    cand AS (
      SELECT source, q, bin, n, c, tot,
             ROW_NUMBER() OVER (PARTITION BY source, q ORDER BY bin) AS r
      FROM cum CROSS JOIN (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
      WHERE CAST(c AS DOUBLE) >= q * CAST(tot AS DOUBLE)
    )
    SELECT source, q,
           CASE WHEN bin < 0 THEN 0.0
                WHEN bin >= 50 THEN 500.0
                ELSE 0.0 + CAST(bin AS DOUBLE) * 10.0
                     + ((q * CAST(tot AS DOUBLE) - CAST(c - n AS DOUBLE))
                        / CAST(n AS DOUBLE)) * 10.0 END AS est
    FROM cand WHERE r = 1
"""


@q("pipeline_quantile_ledger", _SQL_QUANTILE_LEDGER)
def pipeline_quantile_ledger(spark, sf_dir):
    """Cross-snapshot quantiles from histogram ledgers ALONE: two
    snapshot ledgers (even/odd doc ids) of fixed-boundary n_chars bin
    counts union by addition — the mergeability approx_percentile's GK
    state lacks across separately-written snapshots — and the merged
    ledger answers p50/p90/p99 per source with at most one bin width of
    error, no corpus rescan.  Overflow mass (n_chars > 500 here) is an
    explicit bin whose estimate clamps to the grid edge — visible, not
    silently absorbed.  Counts are exact BIGINTs and the interpolation
    is spelled identically in SQL, so estimates carry a FULL value
    oracle (no tolerance pin needed, unlike the HLL ledger)."""
    from pdtable_spark.operators import monitor

    docs = load(spark, sf_dir, "documents")
    a = monitor.histogram_ledger(
        docs.filter(F.col("doc_id") % 2 == 0), "n_chars", 0.0, 500.0, 50
    )
    b = monitor.histogram_ledger(
        docs.filter(F.col("doc_id") % 2 == 1), "n_chars", 0.0, 500.0, 50
    )
    merged = monitor.ledger_union(a.unionByName(b))
    return monitor.quantiles_from_ledger(merged, (0.5, 0.9, 0.99), 0.0, 500.0, 50)


# ---------------------------------------------------------------------------
# Right-to-erasure sweep (io/maintenance.py::forget_keys, new round 8 —
# the key-set sibling of retention_delete, under the query gate via its
# erasure certificate like pipeline_snapshot_diff)
# ---------------------------------------------------------------------------

_SQL_FORGET_AUDIT = """
    SELECT source,
           CAST(SUM(CASE WHEN (doc_id % 97) % 9 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_forgotten,
           CAST(SUM(CASE WHEN (doc_id % 97) % 9 = 0 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_kept
    FROM documents GROUP BY source
    HAVING SUM(CASE WHEN (doc_id % 97) % 9 = 0 THEN 1 ELSE 0 END) > 0
"""


@q("pipeline_forget_audit", _SQL_FORGET_AUDIT)
def pipeline_forget_audit(spark, sf_dir):
    """The GDPR/takedown sweep end-to-end under the value gate: a
    partitioned copy of documents, a deterministic takedown key set
    ((doc_id%97)%9==0), `forget_keys` rewriting ONLY the affected partition
    directories, and the per-partition erasure certificate as the
    result — n_forgotten/n_kept per touched source.  Disk-level effects
    (untouched dirs absent from out, fully-erased dirs write nothing)
    are pinned in tests/test_maintenance.py."""

    from pdtable_spark.io.maintenance import forget_keys

    d = scratch_dir("forget")
    docs = load(spark, sf_dir, "documents")
    docs.write.partitionBy("source").mode("overwrite").parquet(f"{d}/lake")
    # (doc_id%97)%9: ~6%% of docs, decorrelated from the round-robin
    # doc->source assignment so per-source certificate counts VARY (the
    # old %97 set hit exactly one doc in each touched source — constant
    # certificate)
    keys = docs.filter((F.col("doc_id") % 97) % 9 == 0).select("doc_id")
    return forget_keys(
        spark, f"{d}/lake", keys, "doc_id", partition_col="source"
    )


# ---------------------------------------------------------------------------
# Filter agreement / Cohen's kappa matrix
# (operators/monitor.py::filter_agreement, new round 8)
# ---------------------------------------------------------------------------

_SQL_FILTER_AGREEMENT = r"""
    WITH fl AS (
      SELECT CAST(n_chars >= 200 AS INT) AS f0,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) >= 40 AS INT)
               AS f1,
             CAST(contains(text, 'the') AS INT) AS f2
      FROM documents
      WHERE text IS NOT NULL AND n_chars IS NOT NULL
    ),
    agg AS (
      SELECT COUNT(*) AS n, SUM(f0) AS s0, SUM(f1) AS s1, SUM(f2) AS s2,
             SUM(f0*f1) AS s01, SUM(f0*f2) AS s02, SUM(f1*f2) AS s12
      FROM fl
    ),
    pairs AS (
      SELECT 'f_len' AS filter_a, 'f_words' AS filter_b,
             n, s0 AS si, s1 AS sj, s01 AS sij FROM agg
      UNION ALL SELECT 'f_len', 'f_the', n, s0, s2, s02 FROM agg
      UNION ALL SELECT 'f_words', 'f_the', n, s1, s2, s12 FROM agg
    )
    SELECT filter_a, filter_b, CAST(n AS BIGINT) AS n,
           CAST(2.0*CAST(sij AS DOUBLE) - CAST(si AS DOUBLE)
                - CAST(sj AS DOUBLE) + CAST(n AS DOUBLE) AS BIGINT) AS n_agree,
           (2.0*CAST(sij AS DOUBLE) - CAST(si AS DOUBLE) - CAST(sj AS DOUBLE)
            + CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS po,
           CASE WHEN (CAST(si AS DOUBLE)/CAST(n AS DOUBLE))
                     * (CAST(sj AS DOUBLE)/CAST(n AS DOUBLE))
                     + (1.0 - CAST(si AS DOUBLE)/CAST(n AS DOUBLE))
                     * (1.0 - CAST(sj AS DOUBLE)/CAST(n AS DOUBLE)) < 1.0
                THEN ((2.0*CAST(sij AS DOUBLE) - CAST(si AS DOUBLE)
                       - CAST(sj AS DOUBLE) + CAST(n AS DOUBLE))
                      / CAST(n AS DOUBLE)
                      - ((CAST(si AS DOUBLE)/CAST(n AS DOUBLE))
                         * (CAST(sj AS DOUBLE)/CAST(n AS DOUBLE))
                         + (1.0 - CAST(si AS DOUBLE)/CAST(n AS DOUBLE))
                         * (1.0 - CAST(sj AS DOUBLE)/CAST(n AS DOUBLE))))
                     / (1.0 - ((CAST(si AS DOUBLE)/CAST(n AS DOUBLE))
                         * (CAST(sj AS DOUBLE)/CAST(n AS DOUBLE))
                         + (1.0 - CAST(si AS DOUBLE)/CAST(n AS DOUBLE))
                         * (1.0 - CAST(sj AS DOUBLE)/CAST(n AS DOUBLE))))
           END AS kappa
    FROM pairs
"""


@q("pipeline_filter_agreement", _SQL_FILTER_AGREEMENT)
def pipeline_filter_agreement(spark, sf_dir):
    """Curation QA: pairwise observed agreement + Cohen's kappa between
    three deterministic quality flags (length, word count, a content
    membership) — kappa near 1 says two filters are redundant compute,
    kappa near 0 at high raw agreement is the chance-agreement illusion
    kappa exists to correct.  ONE corpus scan into ONE
    map-side-combinable aggregate row; the pair matrix explodes from
    that single row, so F filters cost F(F−1)/2 codegen sums, never a
    shuffle of anything row-sized."""
    from pdtable_spark.operators import monitor
    from pdtable_spark.operators.text import tokens

    # explicit NULL lockstep with the oracle: the operator raises
    # loudly on NULL flags, the oracle's SUMs would silently skip them
    # — both sides exclude unscorable rows up front
    docs = load(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    flagged = docs.select(
        (F.col("n_chars") >= 200).alias("f_len"),
        (F.size(tokens(F.col("text"))) >= 40).alias("f_words"),
        F.col("text").contains("the").alias("f_the"),
    )
    return monitor.filter_agreement(flagged, ["f_len", "f_words", "f_the"])


# ---------------------------------------------------------------------------
# Heavy-hitters ledger (operators/monitor.py::heavy_hitter_ledger /
# heavy_hitters_from_ledgers, new round 9 — the frequent-items leg that
# completes the monitoring-ledger trio: HLL distinct counts, histogram
# quantiles, heavy hitters)
# ---------------------------------------------------------------------------

_SQL_HEAVY_HITTERS = r"""
    WITH tok AS (
      SELECT doc_id % 2 AS snap, source,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS key
      FROM documents WHERE text IS NOT NULL
    ),
    counts AS (
      SELECT snap, source, key, COUNT(*) AS n FROM tok GROUP BY 1, 2, 3
    ),
    rn AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY snap, source
                                   ORDER BY n DESC, key ASC) AS rn
      FROM counts
    ),
    led AS (
      SELECT snap, source, key, n, rn,
             COALESCE(MAX(CASE WHEN rn = 17 THEN n END)
                      OVER (PARTITION BY snap, source), 0) AS floor
      FROM rn WHERE rn <= 17
    ),
    kept AS (SELECT * FROM led WHERE rn <= 16),
    floors AS (SELECT DISTINCT snap, source, floor FROM kept),
    tot AS (SELECT source, SUM(floor) AS tot_floor FROM floors GROUP BY source),
    merged AS (
      SELECT source, key, SUM(n) AS est_lo, SUM(floor) AS present_floor
      FROM kept GROUP BY source, key
    )
    SELECT source, key, est_lo, est_hi, rank FROM (
      SELECT m.source, m.key, CAST(m.est_lo AS BIGINT) AS est_lo,
             CAST(m.est_lo + t.tot_floor - m.present_floor AS BIGINT) AS est_hi,
             CAST(ROW_NUMBER() OVER (PARTITION BY m.source
                                     ORDER BY m.est_lo DESC, m.key ASC) AS INT)
               AS rank
      FROM merged m JOIN tot t ON t.source = m.source
    ) WHERE rank <= 8
"""


@q("pipeline_heavy_hitters", _SQL_HEAVY_HITTERS)
def pipeline_heavy_hitters(spark, sf_dir):
    """The frequent-items ledger end-to-end under the value gate: two
    snapshot ledgers (even/odd doc ids) of per-source token counts
    truncated to top-16 with their truncation floors, merged to the
    per-source top-8 with DETERMINISTIC two-sided bounds — est_lo sums
    observed counts, est_hi adds the floors of the snapshots each key
    is absent from, and est_lo ≤ true ≤ est_hi is an exact-integer
    invariant (pytest-pinned alongside the surfacing guarantee: a key
    whose true total beats the summed floors cannot be truncated
    everywhere).  m=16 < the fixtures' token domain, so truncation and
    the absent-snapshot bound are both EXERCISED at every SF, not just
    passed through.  Everything after the one token count is
    ledger-domain work; no corpus rescan at merge time."""
    from pdtable_spark.operators import monitor
    from pdtable_spark.operators.text import tokens

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("key")
    )
    stacked = None
    for s in (0, 1):
        led = monitor.heavy_hitter_ledger(
            tok.filter(F.col("doc_id") % 2 == s), "key", m=16
        ).withColumn("snapshot", F.lit(s))
        stacked = led if stacked is None else stacked.unionByName(led)
    return monitor.heavy_hitters_from_ledgers(stacked, k=8).select(
        "source", "key", "est_lo", "est_hi", "rank"
    )


# ---------------------------------------------------------------------------
# The model-based quality recipe end-to-end: a frozen
# trained classifier + the frozen n-gram LM scorer feeding one
# threshold-sweep decision table — train → freeze → score → sweep.
# ---------------------------------------------------------------------------

#: The FROZEN classifier artifact — produced by ONE documented run of
#: ``text.train_quality_classifier`` on the sf0.001 labeled split
#: (label 1 = ``lang == 'en'``, the CCNet-shape "reference language"
#: classifier; vocab_size=256, reg=0.01, max_iter=40) then
#: ``text.freeze_classifier(…, quantum_bits=6, top_k=24)``.  Train-once
#: discipline: LBFGS accumulates float gradients in partition order, so
#: the PUBLISHED binary-fraction artifact — not a per-run retrain — is
#: what serves and what both engines embed (the ``text_classifier_
#: filter`` convention).  Frozen train accuracy 0.634 on the split (the
#: synthetic corpus' token soup is weakly language-separable — the
#: recipe gates the MECHANISM; ``tests/test_operators.py`` pins the
#: train→freeze→serve loop on a separable fixture).
_RECIPE_CLF_WEIGHTS = {
    "a": -6 / 64, "batch": 2 / 64, "big": 5 / 64, "column": 9 / 64,
    "customer": -2 / 64, "data": 2 / 64, "dup": 18 / 64, "filter": -3 / 64,
    "group": -8 / 64, "hash": -2 / 64, "join": 5 / 64, "key": 5 / 64,
    "line": -3 / 64, "merge": 2 / 64, "order": -7 / 64, "part": -3 / 64,
    "query": 4 / 64, "row": -3 / 64, "sort": 6 / 64, "table": -4 / 64,
    "the": -9 / 64, "value": 2 / 64, "vector": -3 / 64, "window": 2 / 64,
}
_RECIPE_CLF_BIAS = -15 / 64

#: CCNet-style LM buckets: head/middle/tail cuts on the frozen bigram
#: model's mean NLL (measured tertiles of the corpus at sf0.001/0.01 —
#: both engines compute bit-identical mean_nll doubles, so the cuts are
#: safe even at an exact boundary).
_RECIPE_NLL_HEAD = 3.38
_RECIPE_NLL_TAIL = 3.41

#: Sweep thresholds on the classifier score (binary fractions — the
#: ``>= t`` comparisons are exact in both engines).
_RECIPE_THRESHOLDS = [-16 / 64, -8 / 64, 0.0, 8 / 64, 16 / 64]


def _sql_recipe_weights() -> str:
    return ", ".join(
        f"('{t}', CAST({v!r} AS DOUBLE))"
        for t, v in _RECIPE_CLF_WEIGHTS.items()
    )


_SQL_MODEL_QUALITY_RECIPE = rf"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws,
             regexp_split_to_array(trim(lower(text)), '\s+') AS lws
      FROM documents WHERE text IS NOT NULL
    ),
    tk AS (SELECT doc_id, unnest(lws) AS term FROM d),
    w(term, weight) AS (VALUES {_sql_recipe_weights()}),
    cs AS (SELECT doc_id, SUM(weight) AS wsum
           FROM tk JOIN w USING (term) GROUP BY 1),
    clf AS (
      SELECT d.doc_id,
             CAST({_RECIPE_CLF_BIAS!r} AS DOUBLE) + COALESCE(cs.wsum, 0.0)
               AS clf_score
      FROM d LEFT JOIN cs USING (doc_id)
    ),
    rt AS (SELECT unnest(ws) AS w FROM d WHERE doc_id % 2 = 0),
    uni AS (SELECT w, COUNT(*) AS cu FROM rt GROUP BY w),
    scal AS (SELECT COUNT(*) AS n, COUNT(DISTINCT w) AS v FROM rt),
    rb AS (
      SELECT ws[i] AS w1, ws[i+1] AS w2
      FROM d CROSS JOIN LATERAL unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2 AND doc_id % 2 = 0
    ),
    big AS (SELECT w1, w2, COUNT(*) AS cb FROM rb GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(cb) AS cw1 FROM big GROUP BY w1),
    sb AS (
      SELECT doc_id, ws[i] AS w1, ws[i+1] AS w2
      FROM d CROSS JOIN LATERAL unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    scoredq AS (
      SELECT sb.doc_id,
             CAST(floor(round(-ln(
                 0.7 * (CASE WHEN big.cb IS NOT NULL
                             THEN CAST(big.cb AS DOUBLE) / CAST(ctx.cw1 AS DOUBLE)
                             ELSE 0.0 END)
                 + (1.0 - 0.7)
                   * (CAST(COALESCE(uni.cu, 0) + 1 AS DOUBLE)
                      / CAST(scal.n + scal.v + 1 AS DOUBLE))
             ), 9) * 1000000000.0) AS BIGINT) AS q
      FROM sb
      LEFT JOIN big ON big.w1 = sb.w1 AND big.w2 = sb.w2
      LEFT JOIN ctx ON ctx.w1 = sb.w1
      LEFT JOIN uni ON uni.w = sb.w2
      CROSS JOIN scal
    ),
    nll AS (
      SELECT doc_id,
             CAST(SUM(q) AS DOUBLE) / (1000000000.0 * CAST(COUNT(*) AS DOUBLE))
               AS mean_nll
      FROM scoredq GROUP BY doc_id
    ),
    base AS (
      SELECT CASE WHEN nll.mean_nll IS NULL THEN 'unscored'
                  WHEN nll.mean_nll < {_RECIPE_NLL_HEAD!r} THEN 'head'
                  WHEN nll.mean_nll < {_RECIPE_NLL_TAIL!r} THEN 'middle'
                  ELSE 'tail' END AS lm_bucket,
             clf.clf_score AS s,
             CAST(len(d.ws) AS BIGINT) AS tok
      FROM d JOIN clf USING (doc_id) LEFT JOIN nll USING (doc_id)
    ),
    t(threshold) AS (VALUES (-0.25), (-0.125), (0.0), (0.125), (0.25))
    SELECT base.lm_bucket, CAST(t.threshold AS DOUBLE) AS threshold,
           CAST(SUM(CASE WHEN s >= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CASE WHEN COUNT(*) > 0
                THEN CAST(SUM(CASE WHEN s >= t.threshold THEN 1 ELSE 0 END)
                          AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                ELSE 0.0 END AS share_kept,
           CAST(SUM(CASE WHEN s >= t.threshold THEN tok ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           CASE WHEN SUM(tok) > 0
                THEN CAST(SUM(CASE WHEN s >= t.threshold THEN tok ELSE 0 END)
                          AS DOUBLE) / CAST(SUM(tok) AS DOUBLE)
                ELSE 0.0 END AS token_share
    FROM base CROSS JOIN t GROUP BY base.lm_bucket, t.threshold
"""


@q("pipeline_model_quality_recipe", _SQL_MODEL_QUALITY_RECIPE)
def pipeline_model_quality_recipe(spark, sf_dir):
    """The full model-based curation recipe under ONE value gate: the
    published FROZEN classifier (trained once by
    ``train_quality_classifier``, quantized by ``freeze_classifier`` —
    provenance on ``_RECIPE_CLF_WEIGHTS``) scores every document via the
    zero-shuffle map-literal fold; the frozen bigram LM (trained on the
    even-doc_id reference half) buckets every document CCNet-style into
    head/middle/tail by mean NLL (docs too short to carry a bigram land
    in 'unscored'); and one single-scan :func:`threshold_sweep` per LM
    bucket emits the decision table — docs kept, share, tokens kept,
    token share per classifier cutoff — that a curation run actually
    reads to pick its operating point.

    Everything downstream of the two frozen artifacts is exact or
    bit-deterministic cross-engine: binary-fraction weights (exact
    sums, exact ``>=`` cuts), quantized-ln NLL (bit-equal doubles), and
    integer sweep counts — so the full recipe carries a FULL value
    oracle, while the training legs stay pytest-pinned (LBFGS float
    reduction is layout-sensitive by nature; that is exactly WHY the
    recipe serves a frozen artifact).

    Scale shape: one corpus scan for the classifier fold, one for the
    LM windows (reference-count frames broadcast), one for the sweep —
    no pairwise stage, no driver data path; at 100 TB the sweep output
    stays |buckets| × |thresholds| rows."""
    from pdtable_spark.operators import text
    from pdtable_spark.operators.monitor import threshold_sweep

    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    scored = text.classifier_score(
        docs, _RECIPE_CLF_WEIGHTS, bias=_RECIPE_CLF_BIAS
    ).select("doc_id", "text", "clf_score")
    nll = text.bigram_lm_nll(docs, F.col("doc_id") % 2 == 0).select(
        "doc_id", "mean_nll"
    )
    bucket = (
        F.when(F.col("mean_nll").isNull(), F.lit("unscored"))
        .when(F.col("mean_nll") < F.lit(_RECIPE_NLL_HEAD), F.lit("head"))
        .when(F.col("mean_nll") < F.lit(_RECIPE_NLL_TAIL), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    staged = scored.join(nll, "doc_id", "left").withColumn("lm_bucket", bucket)
    return threshold_sweep(
        staged, "clf_score", _RECIPE_THRESHOLDS, text_col="text",
        by=["lm_bucket"],
    )


# ---------------------------------------------------------------------------
# Per-column table profile under the value gate
# (operators/monitor.py::table_profile, new round 10 — the ANALYZE-TABLE
#  pre-flight: one-pass row/null/ndv stats per column)
# ---------------------------------------------------------------------------

def _sql_profile_arm(table: str, col: str) -> str:
    return f"""
      SELECT '{table}' AS table_name, '{col}' AS col_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
             CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS null_frac,
             CAST(COUNT(DISTINCT {col}) AS BIGINT) AS ndv
      FROM {table}"""


_PROFILE_COLS = {
    "documents": ["doc_id", "lang", "source", "n_chars"],
    "events": ["event_type", "user_id", "value", "props"],
}

_SQL_COLUMN_PROFILE = (
    " UNION ALL ".join(
        _sql_profile_arm(t, c) for t, cs in _PROFILE_COLS.items() for c in cs
    )
    + " ORDER BY table_name, col_name"
)


@q("pipeline_column_profile", _SQL_COLUMN_PROFILE)
def pipeline_column_profile(spark, sf_dir):
    """The ANALYZE-TABLE pre-flight under the value gate: one-pass
    (n_rows, n_null, null_frac, ndv) per column over two tables — the
    numbers that size a join's shuffle key domain and flag null-heavy
    foreign keys before anything shuffles.  Exact NDV here (what the
    oracle checks, planned through one Expand per table); production at
    100 TB flips ``exact_ndv=False`` for the single-pass HLL spelling
    with the same output shape.

    Plan shape per table: one scan → one aggregate row → a row-count-1
    unpivot; the two profiles union.  Nothing row-sized shuffles."""
    from pdtable_spark.operators.monitor import table_profile

    out = None
    for t, cs in _PROFILE_COLS.items():
        prof = table_profile(load(spark, sf_dir, t), cs).withColumn(
            "table_name", F.lit(t)
        )
        out = prof if out is None else out.unionByName(prof)
    return out.select(
        "table_name", "col_name", "n_rows", "n_null", "null_frac", "ndv"
    ).orderBy("table_name", "col_name")


# ---------------------------------------------------------------------------
# JSON schema profile under the value gate
# (operators/monitor.py::json_profile, new round 10 — the semi-structured
#  ingest-QA pass: (path, kind, n) over the key paths actually present)
# ---------------------------------------------------------------------------

_SQL_JSON_PROFILE = """
    WITH e AS (SELECT event_id FROM events)
    SELECT path, kind, CAST(n AS BIGINT) AS n FROM (
      SELECT '$' AS path, 'object' AS kind, COUNT(*) AS n FROM e
      UNION ALL
      SELECT '$.t', 'scalar', COUNT(*) FROM e
      UNION ALL
      SELECT '$.v', 'scalar', COUNT(*) FROM e WHERE event_id % 2 = 0
      UNION ALL
      SELECT '$.ctx', 'object', COUNT(*) FROM e WHERE event_id % 3 = 0
      UNION ALL
      SELECT '$.ctx.u', 'scalar', COUNT(*) FROM e WHERE event_id % 3 = 0
      UNION ALL
      SELECT '$.ctx.m', 'scalar', COUNT(*) FROM e WHERE event_id % 3 = 0
      UNION ALL
      SELECT '$.tags', 'array', COUNT(*) FROM e WHERE event_id % 4 = 0
    ) ORDER BY path, kind
"""


@q("pipeline_json_profile", _SQL_JSON_PROFILE)
def pipeline_json_profile(spark, sf_dir):
    """The semi-structured ingest-QA pass under the value gate: per-event
    JSON documents are synthesized in-engine with VARYING shape —
    ``t`` always present, ``v`` a scalar on even event_ids, ``ctx`` a
    nested object (two scalar children) on every third, ``tags`` an
    array on every fourth; ``to_json``'s null-field omission makes
    absence REAL absence, not a null placeholder — then ``json_profile``
    reconstructs the (path, kind, n) census and the oracle states every
    count as pure arithmetic over event_id (no JSON functions on the
    oracle side at all: shape IS a function of the source columns).

    Scale shape: one scan, bounded per-level explodes, one
    path-domain aggregate."""
    from pdtable_spark.operators.monitor import json_profile

    ev = load(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.when(
                F.col("event_id") % 2 == 0, F.coalesce(F.col("value"), F.lit(0.0))
            ).alias("v"),
            F.when(
                F.col("event_id") % 3 == 0,
                F.struct(
                    F.col("user_id").alias("u"),
                    (F.col("event_id") % 5).alias("m"),
                ),
            ).alias("ctx"),
            F.when(
                F.col("event_id") % 4 == 0,
                F.array(F.col("event_id") % 3, F.col("event_id") % 7),
            ).alias("tags"),
        ),
        {"ignoreNullFields": "true"},
    )
    return json_profile(ev.select(doc.alias("j")), "j")


# ---------------------------------------------------------------------------
# Typed drill-down after json_profile: compile a
# profile-derived path→type plan into ONE from_json schema and aggregate
# the typed columns — the VARIANT-shaped step the profile defers.
# ---------------------------------------------------------------------------

_SQL_JSON_EXTRACT_TYPED = """
    WITH e AS (
      SELECT event_id, user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             CASE event_id % 3 WHEN 0 THEN 'ios' WHEN 1 THEN 'android'
                  ELSE 'web' END AS device,
             (user_id * 7919) % 181 AS lat,
             (user_id * 104729) % 361 AS lon,
             CASE WHEN event_id % 5 = 0 THEN
               CAST(FLOOR(COALESCE(value, 0.0) * 100 + 0.5) AS BIGINT)
             END AS amount_cents
      FROM events
    )
    SELECT device,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(SUM(lat) AS BIGINT) AS sum_lat,
           CAST(SUM(lon) AS BIGINT) AS sum_lon,
           CAST(COUNT(amount_cents) AS BIGINT) AS n_priced,
           CAST(SUM(amount_cents) AS BIGINT) AS sum_amount_cents
    FROM e GROUP BY device ORDER BY device
"""


@q("pipeline_json_extract_typed", _SQL_JSON_EXTRACT_TYPED)
def pipeline_json_extract_typed(spark, sf_dir):
    """Typed extraction end-to-end under the value gate: each event is
    re-serialized as a nested JSON document (the ``k`` from the real
    ``props`` column, a derived device string, an integer-degree geo
    object, an integer-cents amount present only on every fifth event —
    integers throughout so serialization is engine-independent), then
    ``monitor.json_extract_typed`` compiles the 5-path plan into ONE
    ``from_json`` schema — one parse per document, not one per path —
    and the typed columns aggregate per device.  The oracle recomputes
    every value from the raw columns (plus DuckDB's own JSON extraction
    for ``k``), so a wrong type coercion, a dropped nested field, or a
    null-vs-absent confusion in the extraction shows up as a value
    mismatch.

    Scale shape: one scan, codegen JSON parse (no Python), one 3-group
    aggregate."""
    from pdtable_spark.operators.monitor import json_extract_typed

    ev = load(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.from_json(F.col("props"), "map<string,string>")["k"]
            .cast("long")
            .alias("k"),
            F.element_at(
                F.array(F.lit("ios"), F.lit("android"), F.lit("web")),
                (F.col("event_id") % 3 + 1).cast("int"),
            ).alias("device"),
            F.struct(
                ((F.col("user_id") * 7919) % 181).alias("lat"),
                ((F.col("user_id") * 104729) % 361).alias("lon"),
            ).alias("geo"),
            F.when(
                F.col("event_id") % 5 == 0,
                F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5))
                .cast("long"),
            ).alias("amount_cents"),
        ),
        {"ignoreNullFields": "true"},
    )
    typed = json_extract_typed(
        ev.select(doc.alias("j")),
        "j",
        {
            "$.k": "long",
            "$.device": "string",
            "$.geo.lat": "long",
            "$.geo.lon": "long",
            "$.amount_cents": "long",
        },
    )
    return (
        typed.groupBy("device")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.sum("geo_lat").cast("long").alias("sum_lat"),
            F.sum("geo_lon").cast("long").alias("sum_lon"),
            F.count("amount_cents").cast("long").alias("n_priced"),
            F.sum("amount_cents").cast("long").alias("sum_amount_cents"),
        )
        .orderBy("device")
    )


# ---------------------------------------------------------------------------
# Plan inference closing the profile→plan→extract loop: json_infer_plan
# classifies every scalar path's values lexically and promotes along the
# standard lattice — the automation that turns an unknown feed into a
# typed schema with no human in the loop.
# ---------------------------------------------------------------------------

_SQL_JSON_INFER_PLAN = """
    WITH e AS (SELECT event_id FROM events),
    n AS (SELECT COUNT(*) AS n_all FROM e),
    thirds AS (SELECT COUNT(*) AS n_3 FROM e WHERE event_id % 3 = 0),
    mixl AS (SELECT COUNT(*) AS n_ml FROM e WHERE event_id % 4 <> 3),
    mixs AS (SELECT COUNT(*) AS n_ms FROM e WHERE event_id % 4 = 3)
    SELECT path, inferred_type,
           CAST(n_values AS BIGINT) AS n_values,
           CAST(n_long AS BIGINT) AS n_long,
           CAST(n_double AS BIGINT) AS n_double,
           CAST(n_boolean AS BIGINT) AS n_boolean,
           CAST(n_string AS BIGINT) AS n_string
    FROM (
      SELECT '$.id' AS path, 'long' AS inferred_type, n_all AS n_values,
             n_all AS n_long, 0 AS n_double, 0 AS n_boolean, 0 AS n_string
      FROM n
      UNION ALL
      SELECT '$.ratio', 'double', n_all, 0, n_all, 0, 0 FROM n
      UNION ALL
      SELECT '$.flag', 'boolean', n_all, 0, 0, n_all, 0 FROM n
      UNION ALL
      SELECT '$.mix', 'string', n_ml + n_ms, n_ml, 0, 0, n_ms
      FROM mixl CROSS JOIN mixs
      UNION ALL
      SELECT '$.tag', 'string', n_all, 0, 0, 0, n_all FROM n
      UNION ALL
      SELECT '$.ctx.r', 'double', n_3, 0, n_3, 0, 0 FROM thirds
      UNION ALL
      SELECT '$.ctx.u', 'long', n_3, n_3, 0, 0, 0 FROM thirds
    ) ORDER BY path
"""


@q("pipeline_json_infer_plan", _SQL_JSON_INFER_PLAN)
def pipeline_json_infer_plan(spark, sf_dir):
    """Schema inference under the value gate: events re-serialize as
    JSON documents carrying one path per primitive type — a long id, an
    always-fractional double, a boolean, a pure string, a MIXED column
    (numeric on 3 of 4 events, a word on the fourth — the promotion
    case), and a nested object on every third event —
    then ``monitor.json_infer_plan`` reconstructs (path, inferred_type,
    per-class counts) from the values alone.  The oracle states every
    count as event_id arithmetic and every inferred type as the lattice
    answer, so a wrong classification regex, a missed promotion, or a
    nested path leak shows up as a value mismatch.

    Scale shape: identical to the profile — one scan, bounded explodes,
    one path-domain aggregate."""
    from pdtable_spark.operators.monitor import json_infer_plan

    ev = load(spark, sf_dir, "events")
    doc = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            # +0.5 keeps every value fractional so both engines agree
            # the path is double-only without leaning on a serializer
            (F.floor(F.coalesce(F.col("value"), F.lit(0.0)) * 100 + F.lit(0.5))
             / F.lit(2.0)).alias("ratio"),
            (F.col("event_id") % 2 == 0).alias("flag"),
            F.when(F.col("event_id") % 4 == 3, F.col("event_type"))
            .otherwise((F.col("event_id") % 97).cast("string"))
            .alias("mix"),
            F.col("event_type").alias("tag"),
            F.when(
                F.col("event_id") % 3 == 0,
                F.struct(
                    F.col("user_id").alias("u"),
                    ((F.col("user_id") % 7).cast("double") + F.lit(0.25))
                    .alias("r"),
                ),
            ).alias("ctx"),
        ),
        {"ignoreNullFields": "true"},
    )
    return json_infer_plan(ev.select(doc.alias("j")), "j")


# ---------------------------------------------------------------------------
# JSON schema drift between two feed generations: json_profile_diff —
# the "did yesterday's producer change the schema" alarm the profile
# docstring promises, as one path-domain-sized report.
# ---------------------------------------------------------------------------

_SQL_JSON_PROFILE_DIFF = """
    WITH n0 AS (SELECT COUNT(*) AS c FROM events WHERE event_id % 2 = 0),
    n1 AS (SELECT COUNT(*) AS c FROM events WHERE event_id % 2 = 1),
    v0 AS (SELECT COUNT(*) AS c FROM events
           WHERE event_id % 2 = 0 AND event_id % 3 = 0),
    rows_(path, kind, n_old, n_new) AS (
      SELECT '$', 'object', (SELECT c FROM n0), (SELECT c FROM n1)
      UNION ALL
      SELECT '$.t', 'scalar', (SELECT c FROM n0), (SELECT c FROM n1)
      UNION ALL
      SELECT '$.v', 'scalar', (SELECT c FROM v0), 0
      UNION ALL
      SELECT '$.m', 'scalar', (SELECT c FROM n0), 0
      UNION ALL
      SELECT '$.m', 'object', 0, (SELECT c FROM n1)
      UNION ALL
      SELECT '$.m.x', 'scalar', 0, (SELECT c FROM n1)
      UNION ALL
      SELECT '$.m.y', 'scalar', 0, (SELECT c FROM n1)
      UNION ALL
      SELECT '$.fresh', 'scalar', 0, (SELECT c FROM n1)
    )
    SELECT path, kind,
           CAST(n_old AS BIGINT) AS n_old,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_old AS DOUBLE) / CAST((SELECT c FROM n0) AS DOUBLE)
             AS share_old,
           CAST(n_new AS DOUBLE) / CAST((SELECT c FROM n1) AS DOUBLE)
             AS share_new,
           CAST(n_new AS DOUBLE) / CAST((SELECT c FROM n1) AS DOUBLE)
             - CAST(n_old AS DOUBLE) / CAST((SELECT c FROM n0) AS DOUBLE)
             AS delta,
           CASE WHEN n_old = 0 THEN 'added'
                WHEN n_new = 0 THEN 'removed'
                ELSE 'stable' END AS status
    FROM rows_ ORDER BY path, kind
"""


@q("pipeline_json_profile_diff", _SQL_JSON_PROFILE_DIFF)
def pipeline_json_profile_diff(spark, sf_dir):
    """Schema drift under the value gate: the even-event feed plays
    generation OLD (``t`` + an every-third ``v`` + a scalar ``m``), the
    odd-event feed plays generation NEW (``t`` kept, ``v`` dropped,
    ``m`` PROMOTED to an object with two children — the kind change the
    diff must report as a removed/added pair, not a netted zero — and a
    ``fresh`` field added); ``json_profile_diff`` reconstructs the per
    (path, kind) report with shares normalized by each generation's own
    document count (volume changes are not drift).  The oracle states
    every count as event_id arithmetic and re-derives the shares with
    the identical division order."""
    from pdtable_spark.operators.monitor import json_profile, json_profile_diff

    ev = load(spark, sf_dir, "events")
    old_doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.when(
                F.col("event_id") % 3 == 0,
                F.coalesce(F.col("value"), F.lit(0.0)),
            ).alias("v"),
            (F.col("event_id") % 7).alias("m"),
        ),
        {"ignoreNullFields": "true"},
    )
    new_doc = F.to_json(
        F.struct(
            F.col("event_type").alias("t"),
            F.struct(
                (F.col("event_id") % 5).alias("x"),
                F.col("user_id").alias("y"),
            ).alias("m"),
            (F.col("event_id") % 2 == 1).alias("fresh"),
        ),
        {"ignoreNullFields": "true"},
    )
    prof_old = json_profile(
        ev.filter(F.col("event_id") % 2 == 0).select(old_doc.alias("j")), "j"
    )
    prof_new = json_profile(
        ev.filter(F.col("event_id") % 2 == 1).select(new_doc.alias("j")), "j"
    )
    return json_profile_diff(prof_old, prof_new)


# ---------------------------------------------------------------------------
# The composed end-to-end curation DAG: every stage
# is individually registered and value-oracled, but the 100 TB story is
# the CHAINED lineage — ingest → Gopher gate → exact dedup → MinHash-LSH
# → semantic dedup → per-source mixture cap → chunk → token-budget pack →
# logical shard accounting — run as ONE job, so plan-size / driver-latency
# regressions across operator boundaries get caught the way
# multimodal_audio_meta's 26 s plan-analysis bug was.  The oracle chains
# the SAME stage spellings the individual queries already pin
# (dedup_exact's keep-min, dedup_incremental's band CTE,
# embedding_semantic_dedup's cell prune, pipeline_source_cap's window,
# pipeline_pack_budget's running-sum pack) through one SQL expression.
# ---------------------------------------------------------------------------

_E2E_CAP = 40  # per-source mixture cap (keep each source's best 40 by n_chars)
_E2E_SHARDS = 4  # logical shard fan-out of the packed work units

#: cache handles of the LAST e2e invocation: harness callers (bench
#: loops, oracle sweeps, the driver) call the query fn repeatedly and
#: never touch the result's unpersist attributes, so each call evicts
#: its predecessor's persisted intermediates here — the session never
#: holds more than one generation (a prior result still in flight just
#: recomputes; correctness is unaffected).
_E2E_LAST_HANDLES: list = []

_SQL_E2E_CURATION = f"""
    WITH {_sql_band_index(16, 4)},
    ok AS (
      SELECT doc_id, text, source, n_chars FROM documents
      WHERE {_sql_gopher_ok("text")}
    ),
    kx AS (SELECT md5(text) AS h, MIN(doc_id) AS keep_id FROM ok GROUP BY 1),
    ex AS (SELECT ok.* FROM ok
           JOIN kx ON kx.keep_id = ok.doc_id AND kx.h = md5(ok.text)),
    coll AS (
      SELECT DISTINCT hb.doc_id
      FROM bands hb JOIN bands lb
        ON lb.band = hb.band AND lb.bucket = hb.bucket
       AND lb.doc_id < hb.doc_id
      WHERE hb.doc_id IN (SELECT doc_id FROM ex)
        AND lb.doc_id IN (SELECT doc_id FROM ex)
    ),
    lsh AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM coll)),
    cvec AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings
             WHERE vec_id IN (SELECT doc_id FROM lsh)),
    cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    cd AS (
      SELECT cvec.vec_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY cvec.vec_id
                                ORDER BY {_sql_dist2('ca', 'ce')}, cent.cid)
               AS rn
      FROM cvec CROSS JOIN cent
    ),
    bb AS (
      SELECT cvec.vec_id, ca, cid AS cell
      FROM cvec JOIN (SELECT vec_id, cid FROM cd WHERE rn = 1) a USING (vec_id)
    ),
    sdrop AS (
      SELECT DISTINCT y.vec_id
      FROM bb x JOIN bb y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE {_sql_cos_ns('x.ca', 'y.ca')}
            >= CAST({_SEMDEDUP_THRESHOLD!r} AS DOUBLE)
    ),
    sem AS (SELECT * FROM lsh WHERE doc_id NOT IN (SELECT vec_id FROM sdrop)),
    rr AS (
      SELECT doc_id, text,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY CAST(n_chars AS DOUBLE) DESC,
                                         doc_id ASC) AS rn
      FROM sem
    ),
    mix AS (SELECT doc_id, text FROM rr WHERE rn <= {_E2E_CAP}),
    t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM mix),
    meta AS (
      SELECT doc_id, len(toks) AS L,
             1 + CAST(floor((greatest(len(toks) - 50, 0) + 39) / 40) AS INT)
               AS n
      FROM t
    ),
    ch AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS chunk_idx, L
           FROM meta),
    chunks AS (
      SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
             CAST(least(L - chunk_idx * 40, 50) AS BIGINT) AS ck
      FROM ch
    ),
    packed AS (
      SELECT doc_id, chunk_idx, ck,
             CAST(floor((SUM(ck) OVER (ORDER BY doc_id, chunk_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - ck) / 200.0) AS BIGINT) AS pack_id
      FROM chunks
    )
    SELECT pack_id, CAST(pack_id % {_E2E_SHARDS} AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(ck) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM packed GROUP BY pack_id
"""


@q("pipeline_e2e_curation", _SQL_E2E_CURATION)
def pipeline_e2e_curation(spark, sf_dir):
    """The full curation recipe as ONE chained lineage: Gopher quality
    gate → exact dedup (keep-min per md5 digest) → MinHash-LSH greedy
    bucket dedup (drop on collision with a smaller surviving id; md5_60
    so DuckDB rebuilds identical buckets) → SemDeDup semantic prune over
    the survivors' embeddings (fixed seed centroids) → per-source
    mixture cap (best 40 by n_chars) → 50-token chunks → 200-token packs
    → per-pack shard accounting.

    Scale shape of the composition: the gate is scan-local codegen, both
    dedups shuffle digests/buckets (never documents), the semantic prune
    is Σ|cell|² inside cells, the cap is one per-source window, and the
    pack is the documented global-running-sum work unit (shard by key at
    100 TB — pipeline_pack_budget's scale note applies verbatim).  The
    value oracle chains the SAME stage spellings the individual queries
    pin, so a drift in ANY stage moves pack membership and fails the
    hash."""
    from pyspark import StorageLevel

    from pdtable_spark.operators import dedup, sampling, similarity, text

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")

    # r14 opt: the gate is an inline predicate (identical metric
    # expressions via text.gopher_pass_all), not a flags-frame semi join —
    # one corpus scan instead of two plus a doc_id join, same survivors
    ok = docs.filter(text.gopher_pass_all(min_words=_GOPHER_MIN_WORDS))
    # the exact-dedup survivors and the band index are each referenced by
    # MULTIPLE downstream branches (the LSH self-join's two sides, the
    # embedding semi join, the post-semantic outer side) — persist the two
    # bounded intermediates once instead of re-running the gate + digest
    # lineage per branch (the semantic_dedup persist-index idiom; measured
    # 13.5 s → ~5 s warm at sf0.1).  Lifecycle: exposed on the result as
    # ``e2e_survivors_index`` / ``e2e_band_index`` for the caller to
    # unpersist; repeated harness calls evict the previous generation via
    # _E2E_LAST_HANDLES so the cache footprint is bounded at one run.
    while _E2E_LAST_HANDLES:
        _E2E_LAST_HANDLES.pop().unpersist()
    ex = dedup.exact_dedup_keep_first(ok).persist(StorageLevel.MEMORY_AND_DISK)

    bb = dedup.band_buckets(ex, num_hashes=16, bands=4, hash_fn="md5_60").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    coll = (
        bb.alias("hb")
        .join(
            bb.alias("lb"),
            (F.col("lb.band") == F.col("hb.band"))
            & (F.col("lb.bucket") == F.col("hb.bucket"))
            & (F.col("lb.doc_id") < F.col("hb.doc_id")),
        )
        .select(F.col("hb.doc_id").alias("doc_id"))
        .distinct()
    )
    lsh = ex.join(coll, "doc_id", "anti")

    cents = seed_centroids(emb)
    embedded = emb.join(
        lsh.select(F.col("doc_id").alias("vec_id")), "vec_id", "semi"
    )
    surv = similarity.semantic_dedup(
        embedded, cents, threshold=_SEMDEDUP_THRESHOLD
    )
    # docs WITHOUT an embedding row pass through: you cannot semantically
    # dedup what you did not embed (and the embeddings table need not
    # cover every doc — it doesn't at sf1).  The drop set is embedded
    # minus survivors, anti-joined back, exactly the oracle's NOT IN.
    dropped = embedded.select(F.col("vec_id").alias("doc_id")).join(
        surv.select(F.col("vec_id").alias("doc_id")), "doc_id", "anti"
    )
    sem = lsh.join(dropped, "doc_id", "anti")

    mix = sampling.cap_per_source(
        sem.select(
            "doc_id", "source", "text", F.col("n_chars").cast("double").alias("score")
        ),
        _E2E_CAP,
        score_col="score",
    )
    # r14 opt: counts-only chunk spelling (identical rows; chunk_text was
    # built per chunk and immediately dropped — 1.6 s single-task CPU)
    chunks = text.chunk_counts(mix, chunk_tokens=50, overlap=10)
    # r15 opt: pack bounds from a column-pruned scan of the RAW table (a
    # superset of the surviving doc_id domain gives identical pack ids —
    # pack_budget docstring) instead of pack_budget's own bounds pass
    # over the whole gate→dedup→cap→tokenize lineage; together with the
    # checkpoint-free pack this leaves ONE compute of the deep upstream
    db = docs.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    packed = text.pack_budget(
        chunks,
        capacity=200,
        order_cols=("doc_id", "chunk_idx"),
        bounds=(db[0], db[1]),
    )
    out = packed.groupBy("pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    result = out.select(
        F.col("pack_id").cast("long").alias("pack_id"),
        (F.col("pack_id") % _E2E_SHARDS).cast("long").alias("shard_id"),
        "n_chunks",
        "n_tokens",
        "n_docs",
    )
    result.e2e_survivors_index = ex
    result.e2e_band_index = bb
    _E2E_LAST_HANDLES.extend([ex, bb])
    return result


# ---------------------------------------------------------------------------
# The shard-EXPORT leg under the value gate: write_training_shards'
# default range assignment balances well but its boundaries are not
# bit-stable (repartitionByRange samples), so it could never carry a
# value oracle.  assignment="hash" (new, round 12) makes shard
# membership a pure md5_60 function of the row — the manifest every
# training job reads becomes cross-engine checkable.
# ---------------------------------------------------------------------------


_SQL_SHARD_EXPORT = f"""
    SELECT CAST((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT)) % {_SHARD_N} AS VARCHAR) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS n_tokens
    FROM documents
    GROUP BY 1
"""


@q("pipeline_shard_export", _SQL_SHARD_EXPORT)
def pipeline_shard_export(spark, sf_dir):
    """Deterministic training-shard export end-to-end: every document
    lands in shard ``md5_60(doc_id) % {n}`` — bit-stable across runs,
    engines and parallelism — written as ``shard=N/`` partition
    directories with one content-stable-shuffled file each, and the
    returned manifest (what the training job's loader reads for epoch
    planning) is recomputed by the oracle as pure md5 arithmetic over
    the source table.  A wrong shard route, a dropped row, or a
    miscounted token total all move the manifest and fail the hash.

    Scale shape: one scan + one num_shards-way shuffle for the write,
    one read-back aggregate for the manifest; balance is binomial
    (±√(n/shards)) — the documented trade against the range writer's
    near-exact split when reproducible membership matters more."""

    from pdtable_spark.io.maintenance import write_training_shards
    from pdtable_spark.operators import text

    d = scratch_dir("shards")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(text.tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    manifest = write_training_shards(
        docs, d, num_shards=_SHARD_N, assignment="hash"
    )
    return manifest.select(
        "shard",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# pack_budget's PARTITIONED production spelling under the value gate:
# the two-phase global cumsum is already oracled
# (pipeline_pack_budget, pipeline_e2e_curation); the 100 TB posture —
# per-shard packing where the cumulative sum is an ordinary partitioned
# window and pack_id restarts per shard (operators/text.py:340-344) —
# was pytest-only.  Here every chunk packs per SOURCE and the oracle
# restates the per-partition running sum in SQL.
# ---------------------------------------------------------------------------

_SQL_PACK_PARTITIONED = f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    meta AS (SELECT doc_id, toks, len(toks) AS L,
                    1 + CAST(floor((greatest(len(toks) - 50, 0) + 39) / 40) AS INT) AS n
             FROM t),
    ch AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS chunk_idx, L
           FROM meta),
    chunks AS (
      SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
             CAST(least(L - chunk_idx*40, 50) AS BIGINT) AS chunk_n_tokens
      FROM ch
    ),
    j AS (
      SELECT d.source, c.doc_id, c.chunk_idx, c.chunk_n_tokens
      FROM chunks c JOIN documents d USING (doc_id)
    )
    SELECT source, doc_id, chunk_idx, chunk_n_tokens,
           CAST(floor((SUM(chunk_n_tokens) OVER (PARTITION BY source
                       ORDER BY doc_id, chunk_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - chunk_n_tokens) / 200.0) AS BIGINT) AS pack_id
    FROM j
"""


@q("pipeline_pack_partitioned", _SQL_PACK_PARTITIONED)
def pipeline_pack_partitioned(spark, sf_dir):
    """Token-budget packing per SHARD — the spelling that actually runs
    at 100 TB: ``pack_budget(partition_cols=("source",))`` makes the
    running total an ordinary partitioned window (every source packs in
    parallel, no cross-partition coordination at all), with ``pack_id``
    restarting per source.  The oracle restates the per-source running
    sum, so a window that leaked rows across sources, mis-ordered
    within one, or got the overhang arithmetic wrong moves pack_id and
    fails the hash.

    Scale shape: one chunk explode (pure codegen), one hash join on
    doc_id to attach the shard key, ONE shuffle on source for the
    window — the global two-phase cumsum machinery never engages."""
    from pdtable_spark.operators import text

    d = load(spark, sf_dir, "documents")
    chunks = text.chunk_counts(d, chunk_tokens=50, overlap=10)
    ch = chunks.join(d.select("doc_id", "source"), "doc_id")
    packed = text.pack_budget(
        ch,
        capacity=200,
        order_cols=("doc_id", "chunk_idx"),
        partition_cols=("source",),
    )
    return packed.select(
        "source", "doc_id", "chunk_idx", "chunk_n_tokens", "pack_id"
    )


# ---------------------------------------------------------------------------
# Curriculum-learning data ordering under the value gate: phase = how
# many exact interpolated quantile thresholds of the difficulty score
# the row strictly exceeds — NO global NTILE/sort (the every-row-
# through-one-task shape), one percentile aggregate + a scan-local
# comparison.  The oracle restates thresholds with quantile_cont (the
# identical interpolation formula, parity proven since
# q_quantity_percentiles) and the same strict comparison.
# ---------------------------------------------------------------------------

_SQL_CURRICULUM = f"""
    WITH s AS (
      SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS score
      FROM documents
    ),
    t AS (
      SELECT quantile_cont(score, 0.25) AS q1,
             quantile_cont(score, 0.50) AS q2,
             quantile_cont(score, 0.75) AS q3
      FROM s
    ),
    p AS (
      SELECT doc_id, score,
             CAST(score > q1 AS INT) + CAST(score > q2 AS INT)
               + CAST(score > q3 AS INT) AS phase
      FROM s CROSS JOIN t
    )
    SELECT CAST(phase AS BIGINT) AS phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score) AS BIGINT) AS n_tokens,
           CAST(MIN(score) AS BIGINT) AS min_score,
           CAST(MAX(score) AS BIGINT) AS max_score
    FROM p GROUP BY phase ORDER BY phase
"""


@q("pipeline_curriculum", _SQL_CURRICULUM)
def pipeline_curriculum(spark, sf_dir):
    """The length-curriculum schedule under the value gate: documents
    tier into four difficulty phases by whitespace token count
    (``curriculum_phases`` — exact interpolated quantile thresholds,
    strict-exceed counting, no global sort), and
    ``curriculum_schedule`` reduces each phase to the (n_docs,
    n_tokens, score range) row a trainer sizes its stages from.  A
    threshold computed wrong, a boundary row phased differently, or a
    leaked comparison all move a phase population and fail the hash."""
    from pdtable_spark.operators.sampling import curriculum_schedule
    from pdtable_spark.operators.text import token_count

    d = load(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("score")
    )
    return curriculum_schedule(d, "score", n_phases=4)


# ---------------------------------------------------------------------------
# Per-SOURCE curriculum under the value gate — the production shape
# (per-language/per-domain curricula): each source phases against its
# OWN quantile thresholds via one group-domain percentile aggregate
# broadcast back onto the scan.  The oracle restates the per-source
# thresholds with quantile_cont and the same strict-exceed counting.
# ---------------------------------------------------------------------------

_SQL_CURRICULUM_BY = f"""
    WITH s AS (
      SELECT doc_id, source, CAST(len({_SQL_TOKS}) AS BIGINT) AS score
      FROM documents
    ),
    t AS (
      SELECT source,
             quantile_cont(score, 0.25) AS q1,
             quantile_cont(score, 0.50) AS q2,
             quantile_cont(score, 0.75) AS q3
      FROM s GROUP BY source
    ),
    p AS (
      SELECT s.source, doc_id, score,
             CAST(score > q1 AS INT) + CAST(score > q2 AS INT)
               + CAST(score > q3 AS INT) AS phase
      FROM s JOIN t USING (source)
    )
    SELECT source, CAST(phase AS BIGINT) AS phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(score) AS BIGINT) AS n_tokens
    FROM p GROUP BY source, phase ORDER BY source, phase
"""


@q("pipeline_curriculum_by_source", _SQL_CURRICULUM_BY)
def pipeline_curriculum_by_source(spark, sf_dir):
    """Per-source length curricula under the value gate: every source
    tiers its documents against its OWN interpolated quantile
    thresholds (``curriculum_phases_by`` — one |sources|-row percentile
    aggregate broadcast onto the scan; a verbose source cannot crowd a
    terse one out of its hard phases), reduced to the per-(source,
    phase) schedule.  A joint-threshold bug, a group mix-up in the
    broadcast join, or a boundary-row drift all move a population."""
    from pdtable_spark.operators.sampling import curriculum_phases_by
    from pdtable_spark.operators.text import token_count

    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source",
        token_count(F.col("text")).cast("long").alias("score"),
    )
    return (
        curriculum_phases_by(d, "score", "source", n_phases=4)
        .groupBy("source", "phase")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("score").cast("long").alias("n_tokens"),
        )
        .orderBy("source", "phase")
    )

"""Embedding queries (``embedding_*``, ``hybrid_*``): exact, LSH, IVF and
PQ top-k with their recall diagnostics, semantic dedup, clustering
profiles, hard-negative and margin mining, label propagation, PCA and the
gram ledger, and hybrid lexical+vector retrieval.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from pdtable_spark.operators import similarity
from pdtable_spark.queries.suite import (
    _BM25_TERMS,
    _IVF_CELLS,
    _SEMDEDUP_THRESHOLD,
    _SQL_BM25,
    _SQL_CLUSTER_ASSIGN,
    _STALE_Q,
    _sql_cos_ns,
    _sql_dist2,
    load,
    q,
)


def seed_centroids(emb) -> list:
    """The first ``_IVF_CELLS`` vectors of ``emb`` by vec_id, as double
    lists: the deterministic seed centroids of every IVF / cluster query
    (FAISS-style sampled init), which an oracle can select the same way."""
    return [
        list(r["v"])
        for r in emb.filter(F.col("vec_id") < _IVF_CELLS)
        .orderBy("vec_id")
        .select(F.transform("embedding", lambda x: x.cast("double")).alias("v"))
        .collect()
    ]


# Explicit sequential-fold cosine (NOT list_cosine_similarity: DuckDB's
# native kernel accumulates in a different order → last-ulp drift vs Spark's
# aggregate() fold; list_sum over list_transform is element-order sequential
# and matches Spark bit-for-bit).
_COSINE_SQL = (
    "list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i]*ca[i]))"
    " / sqrt(list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i]*qa[i]))"
    "      * list_sum(list_transform(generate_series(1, len(ca)), i -> ca[i]*ca[i])))"
)


@q(
    "embedding_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    scored AS (
      SELECT q.query_id, c.vec_id, {_COSINE_SQL} AS cosine_sim
      FROM c CROSS JOIN q
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 10
    """,
)
def embedding_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 5 probe vectors — the exact baseline;
    rhp_lsh_topk is the approximate scale path."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(emb, queries, k=10)


# --- Approximate ANN with FULL value oracles -------------------------------
#
# The LSH hyperplanes are generated by a seeded driver-side LCG
# (similarity._lcg_hyperplanes) and travel into the Spark plan as column
# literals — so the SAME float literals can be embedded in the oracle SQL at
# import time, and DuckDB recomputes the identical buckets (both engines
# fold the dot product sequentially: Spark `aggregate`, DuckDB
# `list_sum(list_transform(...))`).  The approximate queries are therefore
# exactly reproducible, not merely "rows-only approximate".


def _sql_vec_list(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _sql_dot_plane(vec: str, plane) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {len(plane)}), "
        f"i -> {vec}[i] * ({_sql_vec_list(plane)})[i]))"
    )


def _sql_rhp_bucket(vec: str, planes) -> str:
    bits = [
        f"(CASE WHEN {_sql_dot_plane(vec, p)} >= 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(bits) + ")"


def _sql_cos(a: str, b: str, dim: int = 64) -> str:
    gs = f"generate_series(1, {dim})"
    return (
        f"list_sum(list_transform({gs}, i -> {a}[i]*{b}[i]))"
        f" / sqrt(list_sum(list_transform({gs}, i -> {a}[i]*{a}[i]))"
        f" * list_sum(list_transform({gs}, i -> {b}[i]*{b}[i])))"
    )


def _sql_lsh_topk(
    k: int, dim: int, bits_per_table: int, num_tables: int, seed: int,
    corpus_where: str = "",
) -> str:
    tables = [
        similarity._lcg_hyperplanes(dim, bits_per_table, seed + 1000 * t)
        for t in range(num_tables)
    ]
    cb = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_sql_rhp_bucket('ca', tables[t])} AS bkt FROM c"
        for t in range(num_tables)
    )
    qb = "\n      UNION ALL ".join(
        f"SELECT query_id, {t} AS tbl, {_sql_rhp_bucket('qa', tables[t])} AS bkt FROM q"
        for t in range(num_tables)
    )
    return f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca
               FROM embeddings {corpus_where}),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
          FROM embeddings WHERE vec_id < 5),
    cb AS ({cb}),
    qb AS ({qb}),
    cand AS (
      SELECT DISTINCT qb.query_id, cb.vec_id
      FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bkt = qb.bkt
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id, {_sql_cos('qa', 'ca', dim)} AS cosine_sim
      FROM cand JOIN c ON c.vec_id = cand.vec_id JOIN q ON q.query_id = cand.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= {k}
    """


@q("embedding_lsh_topk", _sql_lsh_topk(k=10, dim=64, bits_per_table=8, num_tables=4, seed=42))
def embedding_lsh_topk(spark, sf_dir):
    """RHP-LSH bucketed ANN top-k.  Deterministic seeded hyperplanes make
    the approximate result exactly reproducible — the oracle recomputes the
    same buckets from the same plane literals and must match value-for-value."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.rhp_lsh_topk(
        emb, queries, k=10, dim=64, bits_per_table=8, num_tables=4, seed=42
    )


_IVF_NPROBE = 4


def _sql_ivf_topk(k: int, dim: int = 64) -> str:
    return f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
          FROM embeddings WHERE vec_id < 5),
    cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    cd AS (
      SELECT c.vec_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY {_sql_dist2('ca', 'ce', dim)}, cent.cid) AS rn
      FROM c CROSS JOIN cent
    ),
    cassign AS (SELECT vec_id, cid AS cell FROM cd WHERE rn = 1),
    qd AS (
      SELECT q.query_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {_sql_dist2('qa', 'ce', dim)}, cent.cid) AS rn
      FROM q CROSS JOIN cent
    ),
    qprobe AS (SELECT query_id, cid AS cell FROM qd WHERE rn <= {_IVF_NPROBE}),
    scored AS (
      SELECT qprobe.query_id, cassign.vec_id, {_sql_cos('qa', 'ca', dim)} AS cosine_sim
      FROM cassign JOIN qprobe ON cassign.cell = qprobe.cell
      JOIN c ON c.vec_id = cassign.vec_id
      JOIN q ON q.query_id = qprobe.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= {k}
    """


@q("embedding_ivf_topk", _sql_ivf_topk(k=10))
def embedding_ivf_topk(spark, sf_dir):
    """IVF ANN top-k: cell assignment + nprobe probing + exact cosine
    re-rank — the partition-pruned scale path for similarity search.

    The suite runs IVF-flat with FIXED seed centroids (the first
    ``_IVF_CELLS`` corpus vectors, FAISS-style sampled init without Lloyd
    refinement) so cell assignment is deterministic and the oracle can
    recompute it; production training uses pyspark.ml KMeans
    (``centroids=None``)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = seed_centroids(emb)
    return similarity.ivf_topk(
        emb, queries, k=10, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE, centroids=cents
    )


def _sql_near_dups(threshold: float, bits: int, seed: int, dim: int = 64) -> str:
    planes = similarity._lcg_hyperplanes(dim, bits, seed)
    return f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    b AS (SELECT vec_id, ca, {_sql_rhp_bucket('ca', planes)} AS bkt FROM c)
    SELECT id_a, id_b, cosine_sim FROM (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             {_sql_cos_ns('x.ca', 'y.ca', dim)} AS cosine_sim
      FROM b x JOIN b y ON x.bkt = y.bkt AND x.vec_id < y.vec_id
    )
    WHERE cosine_sim >= CAST({threshold!r} AS DOUBLE)
    """


@q("embedding_near_dups", _sql_near_dups(threshold=0.3, bits=6, seed=7))
def embedding_near_dups_q(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (bucketed, exact-verified).
    Seeded hyperplanes → deterministic buckets → full value oracle.
    Threshold tuned to the synthetic corpus (random-ish vectors: pairwise
    cosine tops out ≈0.44)."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dups(emb, threshold=0.3, bits=6, seed=7)


def _sql_semantic_dedup(threshold: float, n_cells: int, dim: int = 64) -> str:
    return f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id < {n_cells}),
    cd AS (
      SELECT c.vec_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY {_sql_dist2('ca', 'ce', dim)}, cent.cid) AS rn
      FROM c CROSS JOIN cent
    ),
    b AS (
      SELECT c.vec_id, ca, cid AS cell
      FROM c JOIN (SELECT vec_id, cid FROM cd WHERE rn = 1) a USING (vec_id)
    ),
    drops AS (
      SELECT DISTINCT y.vec_id
      FROM b x JOIN b y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE {_sql_cos_ns('x.ca', 'y.ca', dim)} >= CAST({threshold!r} AS DOUBLE)
    )
    SELECT b.vec_id, CAST(b.cell AS INT) AS cell FROM b
    WHERE b.vec_id NOT IN (SELECT vec_id FROM drops)
    """


@q(
    "embedding_semantic_dedup",
    _sql_semantic_dedup(_SEMDEDUP_THRESHOLD, _IVF_CELLS),
)
def embedding_semantic_dedup(spark, sf_dir):
    """SemDeDup (cluster, then prune within cluster): nearest-centroid cell
    assignment restricts the quadratic cosine comparison to cells; a vector
    drops iff a smaller-id SAME-CELL vector is >= 0.3 cosine-similar.
    Fixed seed centroids (first _IVF_CELLS corpus vectors, FAISS-style
    sampled init) make assignment deterministic → full value oracle;
    production uses KMeans centroids (centroids=None)."""
    emb = load(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb)
    return similarity.semantic_dedup(
        emb, cents, threshold=_SEMDEDUP_THRESHOLD
    ).select("vec_id", F.col("cell").cast("int").alias("cell"))


@q(
    "embedding_lsh_filtered",
    _sql_lsh_topk(
        k=10, dim=64, bits_per_table=8, num_tables=4, seed=42,
        corpus_where="WHERE label <= 5",
    ),
)
def embedding_lsh_filtered(spark, sf_dir):
    """Filtered ("hybrid") ANN: top-k restricted to candidates whose
    metadata passes a predicate (here label <= 5).  The label travels IN the index
    (ann_index metadata_cols), so the where= filter evaluates inside the
    index scan — parquet row-group pushdown at serving time, no metadata
    join.  Same seeded hyperplanes → full value oracle."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = similarity.ann_index(emb, metadata_cols=["label"])
    return similarity.ann_query(idx, queries, k=10, where=F.col("label") <= 5)


def _recall_at_10(exact, approx):
    """Shared recall@10 rollup for the ANN diagnostic trio: per query, how
    many of the exact top-10 the approximate method recovered."""
    hits = (
        exact.alias("e")
        .join(
            approx.alias("l"),
            (F.col("l.query_id") == F.col("e.query_id"))
            & (F.col("l.vec_id") == F.col("e.vec_id")),
            "left",
        )
        .groupBy(F.col("e.query_id").alias("query_id"))
        .agg(F.count(F.col("l.vec_id")).alias("n_hits"))
    )
    return hits.select(
        "query_id",
        "n_hits",
        (F.col("n_hits").cast("double") / F.lit(10.0)).alias("recall_at_10"),
    )


_RECALL_EXACT_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    scored AS (
      SELECT q.query_id, c.vec_id, {_COSINE_SQL} AS cosine_sim
      FROM c CROSS JOIN q
    ),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id FROM ranked WHERE rank <= 10
"""


@q(
    "embedding_ann_recall",
    f"""
    WITH lsh AS (
      SELECT query_id, vec_id
      FROM ({_sql_lsh_topk(k=10, dim=64, bits_per_table=8, num_tables=4, seed=42)})
    ),
    exact AS ({_RECALL_EXACT_SQL}),
    hits AS (
      SELECT e.query_id, COUNT(l.vec_id) AS n_hits
      FROM exact e LEFT JOIN lsh l
        ON l.query_id = e.query_id AND l.vec_id = e.vec_id
      GROUP BY e.query_id
    )
    SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits AS DOUBLE) / 10.0 AS recall_at_10
    FROM hits
    """,
)
def embedding_ann_recall(spark, sf_dir):
    """ANN quality diagnostic: recall@10 of the RHP-LSH path against the
    exact brute-force baseline, per query — the measurement that decides
    bits/tables tuning before pointing the index at 100 TB.  Both sides
    are deterministic (seeded planes; total-order tie-breaks), so even
    this meta-metric carries a full value oracle."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = similarity.rhp_lsh_topk(
        emb, queries, k=10, dim=64, bits_per_table=8, num_tables=4, seed=42
    ).select("query_id", "vec_id")
    exact = similarity.cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    return _recall_at_10(exact, lsh)


def _sql_incremental_embedding_dedup(
    threshold: float, dim: int, bits_per_table: int, num_tables: int, seed: int
) -> str:
    tables = [
        similarity._lcg_hyperplanes(dim, bits_per_table, seed + 1000 * t)
        for t in range(num_tables)
    ]
    cb = "\n      UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, {_sql_rhp_bucket('ca', tables[t])} AS bkt FROM corp"
        for t in range(num_tables)
    )
    nb = "\n      UNION ALL ".join(
        f"SELECT vec_id AS new_id, {t} AS tbl, {_sql_rhp_bucket('na', tables[t])} AS bkt FROM newb"
        for t in range(num_tables)
    )
    return f"""
    WITH corp AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca
                  FROM embeddings WHERE vec_id % 2 = 0),
    newb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS na
             FROM embeddings WHERE vec_id % 2 = 1),
    cb AS ({cb}),
    nb AS ({nb}),
    cand AS (
      SELECT DISTINCT nb.new_id, cb.vec_id
      FROM cb JOIN nb ON cb.tbl = nb.tbl AND cb.bkt = nb.bkt
    ),
    dropped AS (
      SELECT DISTINCT cand.new_id
      FROM cand
      JOIN corp ON corp.vec_id = cand.vec_id
      JOIN newb ON newb.vec_id = cand.new_id
      WHERE {_sql_cos('na', 'ca', dim)} >= CAST({threshold!r} AS DOUBLE)
    )
    SELECT n.vec_id, n.label FROM embeddings n
    WHERE n.vec_id % 2 = 1 AND n.vec_id NOT IN (SELECT new_id FROM dropped)
    """


@q(
    "embedding_incremental_dedup",
    _sql_incremental_embedding_dedup(
        threshold=0.3, dim=64, bits_per_table=8, num_tables=4, seed=42
    ),
)
def embedding_incremental_dedup(spark, sf_dir):
    """Continuous-ingestion embedding dedup: odd vec_ids play the new
    ingest batch, even ids the persisted corpus ann_index; bucket
    collisions nominate candidates, exact cosine >= 0.3 confirms the drop.
    No corpus rescan — seeded planes give the full value oracle."""
    emb = load(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    idx = similarity.ann_index(corpus)
    return similarity.incremental_embedding_dedup(new, idx, threshold=0.3).select(
        "vec_id", "label"
    )


_PQ_CODES = 16
_PQ_M = 8
_PQ_DSUB = 8  # 64-dim / 8 subspaces


def _sql_pq_topk(k: int) -> str:
    dsub, m_max, n_codes = _PQ_DSUB, _PQ_M - 1, _PQ_CODES
    d2 = (
        f"CAST(FLOOR(list_sum(list_transform(generate_series(1, {dsub}), "
        f"i -> (sv[i]-cvec[i])*(sv[i]-cvec[i]))) * 1e9) AS BIGINT)"
    )
    return f"""
    WITH ms AS (SELECT unnest(generate_series(0, {m_max})) AS m),
    cent AS (
      SELECT ms.m, cb.vec_id AS code,
             cb.ce[ms.m*{dsub}+1 : ms.m*{dsub}+{dsub}] AS cvec
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
            FROM embeddings ORDER BY vec_id LIMIT {n_codes}) cb
      CROSS JOIN ms
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    sub AS (
      SELECT vec_id, ms.m, ca[ms.m*{dsub}+1 : ms.m*{dsub}+{dsub}] AS sv
      FROM c CROSS JOIN ms
    ),
    enc AS (
      SELECT vec_id, m, code,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dq, code) AS rn
      FROM (SELECT s.vec_id, s.m, cent.code, {d2} AS dq
            FROM sub s JOIN cent ON cent.m = s.m)
    ),
    codes AS (SELECT vec_id, m, code FROM enc WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
          FROM embeddings WHERE vec_id < 5),
    qsub AS (
      SELECT query_id, ms.m, qa[ms.m*{dsub}+1 : ms.m*{dsub}+{dsub}] AS sv
      FROM q CROSS JOIN ms
    ),
    lut AS (
      SELECT s.query_id, s.m, cent.code, {d2} AS dq
      FROM qsub s JOIN cent ON cent.m = s.m
    ),
    scored AS (
      SELECT lut.query_id, codes.vec_id, SUM(lut.dq) AS adist
      FROM codes JOIN lut ON lut.m = codes.m AND lut.code = codes.code
      GROUP BY lut.query_id, codes.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id,
             CAST(adist AS DOUBLE) / 1e9 AS approx_dist2,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adist, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, approx_dist2, rank FROM ranked WHERE rank <= {k}
    """


@q("embedding_pq_topk", _sql_pq_topk(k=10))
def embedding_pq_topk(spark, sf_dir):
    """Product-quantization ANN: 64-dim float corpus compressed to 8
    one-byte codes per vector (32× memory), queries answered by
    asymmetric-distance table lookup over the compressed index.
    Codebooks are the FAISS-style sampled init (first 16 corpus vectors,
    id-ordered, split into 8 subspaces) so the oracle recomputes the
    identical encoding; per-subspace distances are quantized to BIGINT
    before the ADC sum (order-independent, engine-exact)."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = similarity.pq_codebooks(
        emb, n_codes=_PQ_CODES, num_subspaces=_PQ_M
    )
    return similarity.pq_topk(
        emb, queries, k=10, num_subspaces=_PQ_M, codebooks=books
    )


_PQ_REFINE = 4


@q(
    "embedding_pq_refined",
    f"""
    WITH cand AS (
      SELECT query_id, vec_id FROM ({_sql_pq_topk(k=10 * _PQ_REFINE)})
    ),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
          FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT cand.query_id, cand.vec_id, {_sql_cos('qa', 'ca', 64)} AS cosine_sim
      FROM cand JOIN c ON c.vec_id = cand.vec_id
      JOIN q ON q.query_id = cand.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cosine_sim, rank FROM ranked WHERE rank <= 10
    """,
)
def embedding_pq_refined(spark, sf_dir):
    """Two-stage PQ serving: ADC over the compressed index retrieves
    k×4 candidates, exact cosine over their raw vectors ranks the final
    top-10 — coarse recall from the 32×-smaller index, precision from a
    bounded by-id fetch.  Both stages deterministic → full value oracle."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = similarity.pq_codebooks(emb, n_codes=_PQ_CODES, num_subspaces=_PQ_M)
    idx = similarity.pq_encode(emb, books)
    return similarity.pq_query_refined(
        idx, queries, books, emb, k=10, refine_factor=_PQ_REFINE
    )


@q(
    "embedding_ivf_recall",
    f"""
    WITH ivf AS (
      SELECT query_id, vec_id FROM ({_sql_ivf_topk(k=10)})
    ),
    exact AS ({_RECALL_EXACT_SQL}),
    hits AS (
      SELECT e.query_id, COUNT(l.vec_id) AS n_hits
      FROM exact e LEFT JOIN ivf l
        ON l.query_id = e.query_id AND l.vec_id = e.vec_id
      GROUP BY e.query_id
    )
    SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits AS DOUBLE) / 10.0 AS recall_at_10
    FROM hits
    """,
)
def embedding_ivf_recall(spark, sf_dir):
    """IVF recall@10 against the exact baseline, per query — the nprobe /
    n_cells tuning measurement, completing the diagnostic pair with
    `embedding_ann_recall` (LSH).  Deterministic seeded centroids → full
    value oracle even for the meta-metric."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = seed_centroids(emb)
    ivf = similarity.ivf_topk(
        emb, queries, k=10, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE, centroids=cents
    ).select("query_id", "vec_id")
    exact = similarity.cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    return _recall_at_10(exact, ivf)


_RECALL_EXACT_L2_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    scored AS (
      SELECT q.query_id, c.vec_id, {_sql_dist2('qa', 'ca', 64)} AS d2
      FROM c CROSS JOIN q
    ),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY d2, vec_id) AS rank
      FROM scored
    )
    SELECT query_id, vec_id FROM ranked WHERE rank <= 10
"""


@q(
    "embedding_pq_recall",
    f"""
    WITH pq AS (
      SELECT query_id, vec_id FROM ({_sql_pq_topk(k=10)})
    ),
    exact AS ({_RECALL_EXACT_L2_SQL}),
    hits AS (
      SELECT e.query_id, COUNT(l.vec_id) AS n_hits
      FROM exact e LEFT JOIN pq l
        ON l.query_id = e.query_id AND l.vec_id = e.vec_id
      GROUP BY e.query_id
    )
    SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits AS DOUBLE) / 10.0 AS recall_at_10
    FROM hits
    """,
)
def embedding_pq_recall(spark, sf_dir):
    """PQ recall@10 against the exact squared-L2 baseline (PQ approximates
    L2, so its baseline is L2 — the LSH/IVF twins use cosine), per query:
    the n_codes / num_subspaces tuning measurement completing the ANN
    diagnostic trio.  Deterministic codebooks → full value oracle."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = similarity.pq_codebooks(emb, n_codes=_PQ_CODES, num_subspaces=_PQ_M)
    pq_hits = similarity.pq_topk(
        emb, queries, k=10, num_subspaces=_PQ_M, codebooks=books
    ).select("query_id", "vec_id")
    qd = queries.select("query_id", similarity._as_double("embedding").alias("qa"))
    cd = emb.select("vec_id", similarity._as_double("embedding").alias("ca"))
    scored = cd.crossJoin(F.broadcast(qd)).select(
        "query_id", "vec_id", similarity._dist2(F.col("qa"), F.col("ca")).alias("d2")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id")
    )
    return _recall_at_10(exact, pq_hits)


#: Hybrid retrieval: the BM25 lexical top-25 fused with the exact-cosine
#: top-25 for probe vector 0 (documents and embeddings share the 0..N id
#: space in the driver testdata) via Reciprocal Rank Fusion — only RANKS
#: cross the fusion boundary, so the oracle needs no score calibration.


_SQL_HYBRID = f"""
    WITH lex AS (SELECT doc_id, rank FROM ({_SQL_BM25})),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qa FROM embeddings WHERE vec_id = 0),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    scored AS (SELECT c.vec_id, {_COSINE_SQL} AS s FROM c CROSS JOIN q),
    sem AS (
      SELECT vec_id AS doc_id,
             CAST(row_number() OVER (ORDER BY s DESC, vec_id) AS INT) AS rank
      FROM scored QUALIFY rank <= 25
    ),
    u AS (SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM sem),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
             SUM(CAST(FLOOR(1000000000000.0 / (60.0 + CAST(rank AS DOUBLE)))
                 AS BIGINT)) AS qsum
      FROM u GROUP BY doc_id
    )
    SELECT doc_id, n_lists,
           CAST(qsum AS DOUBLE) / 1000000000000.0 AS rrf_score,
           CAST(row_number() OVER (ORDER BY qsum DESC, doc_id) AS INT) AS rank
    FROM agg
"""


@q("hybrid_rrf_topk", _SQL_HYBRID)
def hybrid_rrf_topk(spark, sf_dir):
    """Hybrid retrieval end-to-end: BM25 lexical ranks ⊕ embedding cosine
    ranks fused by RRF (k=60) — the standard RAG retrieval stack as one
    value-oracled composition of three operators."""
    from pdtable_spark.operators import similarity
    from pdtable_spark.operators.text import bm25_topk

    docs = load(spark, sf_dir, "documents")
    lex = bm25_topk(docs, _BM25_TERMS, k=25, round_digits=9).select(
        "doc_id", "rank"
    )
    emb = load(spark, sf_dir, "embeddings")
    q0 = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sem = similarity.cosine_topk(emb, q0, k=25).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return similarity.rrf_fuse([lex, sem], k=60)


_SQL_CLUSTER_PROFILE = f"""
    WITH {_SQL_CLUSTER_ASSIGN},
    a AS (SELECT vec_id, CAST(cid AS INT) AS cell,
                 CAST(FLOOR(round(d2, 9) * 1000000000.0) AS BIGINT) AS qd
          FROM cd WHERE rn = 1),
    g AS (SELECT cell, COUNT(*) AS n, SUM(qd) AS sd FROM a GROUP BY 1),
    cells AS (SELECT CAST(range AS INT) AS cell FROM range({_IVF_CELLS})),
    tot AS (SELECT SUM(n) AS t FROM g)
    SELECT cells.cell,
           CAST(COALESCE(g.n, 0) AS BIGINT) AS n_vectors,
           CASE WHEN tot.t > 0
                THEN CAST(COALESCE(g.n, 0) AS DOUBLE) / CAST(tot.t AS DOUBLE)
                ELSE 0.0 END AS share,
           CASE WHEN g.n > 0
                THEN CAST(g.sd AS DOUBLE) / CAST(g.n AS DOUBLE) / 1000000000.0
                ELSE 0.0 END AS avg_dist2
    FROM cells LEFT JOIN g USING (cell) CROSS JOIN tot
"""


@q("embedding_cluster_profile", _SQL_CLUSTER_PROFILE)
def embedding_cluster_profile(spark, sf_dir):
    """Per-cell corpus composition under the fixed seed centroids: count,
    share, and quantized mean squared distance — empty cells included (a
    cluster silently emptying is the alarm the profile exists for).  One
    scan; the aggregate is map-side-combinable at centroid cardinality."""
    from pdtable_spark.operators.similarity import cluster_profile

    emb = load(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb)
    return cluster_profile(emb, cents)


_SQL_CLUSTER_SAMPLE = f"""
    WITH {_SQL_CLUSTER_ASSIGN},
    a AS (SELECT vec_id, CAST(cid AS INT) AS cell FROM cd WHERE rn = 1),
    h AS (SELECT vec_id, cell,
                 CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)
                      AS BIGINT) % 1000000000 AS hb
          FROM a),
    r AS (SELECT vec_id, cell,
                 CAST(ROW_NUMBER() OVER (PARTITION BY cell
                                         ORDER BY hb, vec_id) AS INT)
                   AS sample_rank
          FROM h)
    SELECT vec_id, cell, sample_rank FROM r WHERE sample_rank <= 5
"""


@q("embedding_cluster_sample", _SQL_CLUSTER_SAMPLE)
def embedding_cluster_sample(spark, sf_dir):
    """Cluster-balanced subsample: ≤5 vectors per seed-centroid cell in
    deterministic hash order — uniform over topics, not over documents
    (head topics capped, tail topics survive whole)."""
    from pdtable_spark.operators.similarity import cluster_balanced_sample

    emb = load(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb)
    return cluster_balanced_sample(emb, cents, per_cell=5)


_SQL_CLUSTER_DRIFT = f"""
    WITH {_SQL_CLUSTER_ASSIGN},
    a AS (SELECT vec_id, CAST(cid AS INT) AS cell FROM cd WHERE rn = 1),
    oc AS (SELECT CAST(cell AS VARCHAR) AS value, COUNT(*) AS n_old
           FROM a WHERE vec_id % 2 = 0 GROUP BY 1),
    nc AS (SELECT CAST(cell AS VARCHAR) AS value, COUNT(*) AS n_new
           FROM a WHERE vec_id % 2 = 1 GROUP BY 1),
    j AS (
      SELECT COALESCE(oc.value, nc.value) AS value,
             CAST(COALESCE(oc.n_old, 0) AS BIGINT) AS n_old,
             CAST(COALESCE(nc.n_new, 0) AS BIGINT) AS n_new
      FROM oc FULL OUTER JOIN nc ON nc.value = oc.value
    ),
    m AS (
      SELECT value, n_old, n_new,
             CASE WHEN SUM(n_old) OVER () > 0
                  THEN CAST(n_old AS DOUBLE) / CAST(SUM(n_old) OVER () AS DOUBLE)
                  ELSE 0.0 END AS share_old,
             CASE WHEN SUM(n_new) OVER () > 0
                  THEN CAST(n_new AS DOUBLE) / CAST(SUM(n_new) OVER () AS DOUBLE)
                  ELSE 0.0 END AS share_new
      FROM j
    )
    SELECT 'cell' AS dim, value, n_old, n_new, share_old, share_new,
           share_new - share_old AS delta,
           abs(share_new - share_old) AS abs_delta
    FROM m
"""


@q("embedding_cluster_drift", _SQL_CLUSTER_DRIFT)
def embedding_cluster_drift(spark, sf_dir):
    """Embedding-space drift between the even/odd snapshot halves under
    the fixed seed centroids: the standard categorical report over the
    cell dimension — topic shifts surface here before any metadata
    column moves, and the output feeds the report-level TVD/PSI gates
    unchanged."""
    from pdtable_spark.operators.monitor import cluster_drift

    emb = load(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb)
    return cluster_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        cents,
    )


# ---------------------------------------------------------------------------
# Hard-negative mining + kNN label propagation (operators/similarity.py)
# ---------------------------------------------------------------------------

_SQL_HARD_NEG = f"""
    WITH a AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS qa,
                      label AS a_label
               FROM embeddings WHERE vec_id % 25 = 0),
    c AS (SELECT vec_id AS neg_id, CAST(embedding AS DOUBLE[]) AS ca,
                 label AS neg_label
          FROM embeddings),
    scored AS (
      SELECT anchor_id, neg_id, neg_label, {_COSINE_SQL} AS cosine_sim
      FROM c CROSS JOIN a WHERE neg_label <> a_label
    ),
    r AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY anchor_id
                     ORDER BY cosine_sim DESC, neg_id) AS INT) AS rank
      FROM scored WHERE cosine_sim < 0.999
    )
    SELECT anchor_id, neg_id, neg_label, cosine_sim, rank FROM r WHERE rank <= 5
"""


@q("embedding_hard_negatives", _SQL_HARD_NEG)
def embedding_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each of 20
    anchors, the top-5 most-similar vectors with a DIFFERENT label, under
    a 0.999 cosine ceiling (cross-label near-exacts are mislabel
    suspects, not negatives).  Anchor batch broadcasts; one corpus scan."""
    from pdtable_spark.operators.similarity import hard_negatives

    emb = load(spark, sf_dir, "embeddings")
    return hard_negatives(emb, F.col("vec_id") % 25 == 0, k=5, ceiling=0.999)


_SQL_LABEL_PROP = f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
               FROM embeddings WHERE vec_id % 10 = 0),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca, label
          FROM embeddings WHERE vec_id % 10 <> 0),
    scored AS (SELECT query_id, vec_id, label, {_COSINE_SQL} AS s
               FROM c CROSS JOIN q),
    nn AS (
      SELECT query_id, label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, vec_id) AS rn
        FROM scored) WHERE rn <= 10
    ),
    v AS (SELECT query_id, label, COUNT(*) AS votes FROM nn GROUP BY 1, 2)
    SELECT query_id, label AS predicted_label, CAST(votes AS BIGINT) AS votes,
           CAST(votes AS DOUBLE) / 10.0 AS confidence
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY votes DESC, label) AS rr FROM v)
    WHERE rr = 1
"""


@q("embedding_label_propagation", _SQL_LABEL_PROP)
def embedding_label_propagation(spark, sf_dir):
    """kNN label propagation: every 10th vector plays unlabeled and takes
    the majority label of its 10 nearest labeled neighbors (ties toward
    the smaller label) — the seed-classifier expansion step of a
    quality-labeling pipeline, with confidence = votes/k."""
    from pdtable_spark.operators.similarity import knn_label_propagation

    emb = load(spark, sf_dir, "embeddings")
    return knn_label_propagation(emb, F.col("vec_id") % 10 == 0, k=10)


# ---------------------------------------------------------------------------
# Matryoshka truncation recall (operators/similarity.py::truncated_topk)
# ---------------------------------------------------------------------------


_TRUNC_DIM = 16

_SQL_TRUNC_RECALL = f"""
    WITH tq AS (SELECT vec_id AS query_id,
                       list_slice(CAST(embedding AS DOUBLE[]), 1, {_TRUNC_DIM}) AS qa
                FROM embeddings WHERE vec_id < 5),
    tc AS (SELECT vec_id,
                  list_slice(CAST(embedding AS DOUBLE[]), 1, {_TRUNC_DIM}) AS ca
           FROM embeddings),
    tscored AS (SELECT query_id, vec_id, {_COSINE_SQL} AS s
                FROM tc AS c CROSS JOIN tq AS q),
    trunc AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, vec_id) AS rank
        FROM tscored) WHERE rank <= 10
    ),
    exact AS ({_RECALL_EXACT_SQL}),
    hits AS (
      SELECT e.query_id, COUNT(t.vec_id) AS n_hits
      FROM exact e LEFT JOIN trunc t
        ON t.query_id = e.query_id AND t.vec_id = e.vec_id
      GROUP BY e.query_id
    )
    SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits AS DOUBLE) / 10.0 AS recall_at_10
    FROM hits
"""


@q("embedding_truncation_recall", _SQL_TRUNC_RECALL)
def embedding_truncation_recall(spark, sf_dir):
    """Matryoshka truncation diagnostic: recall@10 of cosine retrieval over
    only the first 16 of 64 embedding components vs the full-dim exact
    baseline — the measurement that licenses the 4x-cheaper scan/index
    dims before pointing truncated retrieval at 100 TB (same tuning-loop
    shape as the LSH/IVF/PQ recall trio)."""
    from pdtable_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    trunc = similarity.truncated_topk(emb, queries, dim=_TRUNC_DIM, k=10).select(
        "query_id", "vec_id"
    )
    exact = similarity.cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
    return _recall_at_10(exact, trunc)


# ---------------------------------------------------------------------------
# IVF-accelerated hard negatives + recall vs the exact miner
# ---------------------------------------------------------------------------


_SQL_HARD_NEG_RECALL = f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca, label
               FROM embeddings),
    a AS (SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS qa,
                 label AS a_label
          FROM embeddings WHERE vec_id % 25 = 0),
    cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    cd AS (
      SELECT c.vec_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY {_sql_dist2('ca', 'ce')}, cent.cid) AS rn
      FROM c CROSS JOIN cent
    ),
    cassign AS (SELECT vec_id, cid AS cell FROM cd WHERE rn = 1),
    qd AS (
      SELECT a.anchor_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY a.anchor_id
                                ORDER BY {_sql_dist2('qa', 'ce')}, cent.cid) AS rn
      FROM a CROSS JOIN cent
    ),
    qprobe AS (SELECT anchor_id, cid AS cell FROM qd WHERE rn <= {_IVF_NPROBE}),
    ivf_scored AS (
      SELECT a.anchor_id, c.vec_id AS neg_id, {_sql_cos('qa', 'ca')} AS s
      FROM cassign JOIN qprobe USING (cell)
      JOIN c ON c.vec_id = cassign.vec_id
      JOIN a ON a.anchor_id = qprobe.anchor_id
      WHERE c.label <> a.a_label
    ),
    ivf AS (
      SELECT anchor_id, neg_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY s DESC, neg_id) AS rank
        FROM ivf_scored WHERE s < 0.999) WHERE rank <= 5
    ),
    exact_scored AS (
      SELECT a.anchor_id, c.vec_id AS neg_id, {_sql_cos('qa', 'ca')} AS s
      FROM c CROSS JOIN a WHERE c.label <> a.a_label
    ),
    exact AS (
      SELECT anchor_id, neg_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                     ORDER BY s DESC, neg_id) AS rank
        FROM exact_scored WHERE s < 0.999) WHERE rank <= 5
    ),
    hits AS (
      SELECT e.anchor_id, COUNT(i.neg_id) AS n_hits
      FROM exact e LEFT JOIN ivf i
        ON i.anchor_id = e.anchor_id AND i.neg_id = e.neg_id
      GROUP BY e.anchor_id
    )
    SELECT anchor_id, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_hits AS DOUBLE) / 5.0 AS recall_at_5
    FROM hits
"""


@q("embedding_hard_negative_recall", _SQL_HARD_NEG_RECALL)
def embedding_hard_negative_recall(spark, sf_dir):
    """Recall@5 of IVF-mined hard negatives (label-carrying persisted
    index, nprobe-pruned probes) against the exact cross-label miner —
    the tuning measurement that licenses index-accelerated mining at
    100 TB, same loop as the retrieval recall trio."""
    from pdtable_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb)
    idx = similarity.ivf_index(emb, cents, metadata_cols=["label"])
    anchors = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    ivf = similarity.hard_negatives_ivf(
        idx, anchors, cents, k=5, nprobe=_IVF_NPROBE, ceiling=0.999
    ).select("anchor_id", "neg_id")
    exact = similarity.hard_negatives(
        emb, F.col("vec_id") % 25 == 0, k=5, ceiling=0.999
    ).select("anchor_id", "neg_id")
    hits = (
        exact.alias("e")
        .join(
            ivf.alias("i"),
            (F.col("i.anchor_id") == F.col("e.anchor_id"))
            & (F.col("i.neg_id") == F.col("e.neg_id")),
            "left",
        )
        .groupBy(F.col("e.anchor_id").alias("anchor_id"))
        .agg(F.count(F.col("i.neg_id")).alias("n_hits"))
    )
    return hits.select(
        "anchor_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits").cast("double") / F.lit(5.0)).alias("recall_at_5"),
    )


# ---------------------------------------------------------------------------
# IVF-accelerated kNN label propagation + agreement vs the exact spelling
# (operators/similarity.py::knn_label_propagation_ivf, new round 8 — the
#  index-accelerated sibling: the exact spelling was
#  the suite's slowest sf1 row at 430 s)
# ---------------------------------------------------------------------------

_SQL_LABEL_PROP_AGREEMENT = f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca, label
               FROM embeddings WHERE vec_id % 10 <> 0),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
          FROM embeddings WHERE vec_id % 10 = 0),
    cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    cd AS (
      SELECT c.vec_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY {_sql_dist2('ca', 'ce')}, cent.cid) AS rn
      FROM c CROSS JOIN cent
    ),
    cassign AS (SELECT vec_id, cid AS cell FROM cd WHERE rn = 1),
    qd AS (
      SELECT q.query_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY q.query_id
                                ORDER BY {_sql_dist2('qa', 'ce')}, cent.cid) AS rn
      FROM q CROSS JOIN cent
    ),
    qprobe AS (SELECT query_id, cid AS cell FROM qd WHERE rn <= {_IVF_NPROBE}),
    ivf_scored AS (
      SELECT q.query_id, c.vec_id, c.label, {_sql_cos('qa', 'ca')} AS s
      FROM cassign JOIN qprobe USING (cell)
      JOIN c ON c.vec_id = cassign.vec_id
      JOIN q ON q.query_id = qprobe.query_id
    ),
    ivf_nn AS (
      SELECT query_id, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, vec_id) AS rn
        FROM ivf_scored) WHERE rn <= 10
    ),
    ivf_v AS (SELECT query_id, label, COUNT(*) AS votes
              FROM ivf_nn GROUP BY 1, 2),
    ivf_p AS (
      SELECT query_id, label, votes FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY votes DESC, label) AS rr
        FROM ivf_v) WHERE rr = 1
    ),
    ex_scored AS (
      SELECT query_id, c.vec_id, c.label, {_COSINE_SQL} AS s
      FROM c CROSS JOIN q
    ),
    ex_nn AS (
      SELECT query_id, label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, vec_id) AS rn
        FROM ex_scored) WHERE rn <= 10
    ),
    ex_v AS (SELECT query_id, label, COUNT(*) AS votes
             FROM ex_nn GROUP BY 1, 2),
    ex_p AS (
      SELECT query_id, label, votes FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY votes DESC, label) AS rr
        FROM ex_v) WHERE rr = 1
    )
    SELECT e.query_id,
           e.label AS exact_label, CAST(e.votes AS BIGINT) AS exact_votes,
           p.label AS ivf_label, CAST(p.votes AS BIGINT) AS ivf_votes,
           CAST(e.label = p.label AS INT) AS agree
    FROM ex_p e JOIN ivf_p p ON p.query_id = e.query_id
"""


@q("embedding_label_prop_agreement", _SQL_LABEL_PROP_AGREEMENT)
def embedding_label_prop_agreement(spark, sf_dir):
    """Per-query agreement of IVF-accelerated label propagation
    (label-carrying persisted index over the labeled pool, nprobe-pruned
    probes) against the exact broadcast spelling — the tuning
    measurement that licenses index-accelerated labeling at 100 TB
    before pointing it at a corpus the exact spelling can't scan per
    batch (same measure-then-scale loop as the retrieval recall trio;
    at nprobe = n_cells the two spellings are pytest-pinned identical)."""
    from pdtable_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb)
    pred = F.col("vec_id") % 10 == 0
    idx = similarity.ivf_index(emb.filter(~pred), cents, metadata_cols=["label"])
    queries = emb.filter(pred).select(F.col("vec_id").alias("query_id"), "embedding")
    ivf = similarity.knn_label_propagation_ivf(
        idx, queries, cents, k=10, nprobe=_IVF_NPROBE
    )
    exact = similarity.knn_label_propagation(emb, pred, k=10)
    return (
        exact.alias("e")
        .join(ivf.alias("i"), "query_id")
        .select(
            "query_id",
            F.col("e.predicted_label").alias("exact_label"),
            F.col("e.votes").cast("long").alias("exact_votes"),
            F.col("i.predicted_label").alias("ivf_label"),
            F.col("i.votes").cast("long").alias("ivf_votes"),
            (F.col("e.predicted_label") == F.col("i.predicted_label"))
            .cast("int")
            .alias("agree"),
        )
    )


# ---------------------------------------------------------------------------
# Margin-based pair mining (operators/similarity.py::margin_mining, new
# round 8 — Artetxe & Schwenk 2019, the LASER/CCMatrix bitext miner)
# ---------------------------------------------------------------------------

_SQL_MARGIN_MINING = f"""
    WITH l AS (SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS qa
               FROM embeddings WHERE vec_id % 7 = 0),
    r AS (SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS ca
          FROM embeddings WHERE vec_id % 7 <> 0),
    p AS (SELECT left_id, right_id, {_sql_cos('qa', 'ca')} AS c
          FROM l CROSS JOIN r),
    fk AS (SELECT left_id, right_id, c,
                  CAST(FLOOR(c * 1000000000.0 + 0.5) AS BIGINT) AS cq
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
                                              ORDER BY c DESC, right_id) AS rx
                 FROM p) WHERE rx <= 4),
    degx AS (SELECT left_id, SUM(cq) AS dx, COUNT(*) AS nx
             FROM fk GROUP BY left_id),
    degy AS (SELECT right_id,
                    SUM(CAST(FLOOR(c * 1000000000.0 + 0.5) AS BIGINT)) AS dy,
                    COUNT(*) AS ny
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY right_id
                                                ORDER BY c DESC, left_id) AS ry
                   FROM p) WHERE ry <= 4 GROUP BY right_id),
    m AS (SELECT fk.left_id, fk.right_id, fk.c,
                 2.0 * CAST(cq AS DOUBLE)
                 / (CAST(dx AS DOUBLE) / CAST(nx AS DOUBLE)
                    + CAST(dy AS DOUBLE) / CAST(ny AS DOUBLE)) AS margin
          FROM fk JOIN degx USING (left_id) JOIN degy USING (right_id))
    SELECT left_id, right_id, c AS cosine_sim, margin
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
                                       ORDER BY margin DESC, right_id) AS rb
          FROM m)
    WHERE rb = 1 AND margin >= 1.05
"""


@q("embedding_margin_mining", _SQL_MARGIN_MINING)
def embedding_margin_mining(spark, sf_dir):
    """Aligned-pair mining across two embedding pools (vec_id%7 split
    standing in for the two languages/sources): per left vector, its
    best right match by RATIO margin — cos normalized by the mean of
    both sides' k-NN cosines (Artetxe & Schwenk 2019) — kept above the
    paper's 1.05 operating threshold.  Margin arithmetic runs over
    1e-9-quantized BIGINT degree sums, so the value is order-independent
    and bit-equal to the oracle; both top-k branches are
    WindowGroupLimit-pruned, so the |L|x|R| pair frame never shuffles."""
    from pdtable_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    return similarity.margin_mining(
        emb.filter(F.col("vec_id") % 7 == 0),
        emb.filter(F.col("vec_id") % 7 != 0),
        k=4,
        threshold=1.05,
    )


# ---------------------------------------------------------------------------
# Int8 scalar quantization + recall (operators/similarity.py::sq_bounds /
# sq_index / sq_query, new round 8 — the third compression leg after PQ
# and Matryoshka truncation)
# ---------------------------------------------------------------------------

def _sq_dq_cte(name: str, levels: int) -> str:
    return f"""
    {name} AS (
      SELECT vec_id,
             list_transform(ca, (x, i) -> CASE WHEN hi[i] = lo[i] THEN lo[i]
               ELSE lo[i]
                    + CAST(LEAST(GREATEST(CAST(FLOOR((x - lo[i]) / (hi[i] - lo[i])
                          * {levels}.0 + 0.5) AS INT), 0), {levels}) AS DOUBLE)
                      / {levels}.0 * (hi[i] - lo[i]) END) AS ca
      FROM ex CROSS JOIN bnd
    )"""


def _sq_topk_cte(name: str, dq: str) -> str:
    return f"""
    {name} AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_COSINE_SQL} DESC, c.vec_id) AS rank
        FROM {dq} AS c CROSS JOIN q) WHERE rank <= 10
    )"""


_SQL_SQ_RECALL = f"""
    WITH ex AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    dims AS (
      SELECT generate_subscripts(ca, 1) AS i, unnest(ca) AS v FROM ex
    ),
    bnd AS (
      SELECT list(mn ORDER BY i) AS lo, list(mx ORDER BY i) AS hi
      FROM (SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM dims GROUP BY i)
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qa
          FROM embeddings WHERE vec_id < 5),
    {_sq_dq_cte('dq8', 255)},
    {_sq_dq_cte('dq4', 15)},
    {_sq_topk_cte('sq8', 'dq8')},
    {_sq_topk_cte('sq4', 'dq4')},
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, c.vec_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY {_COSINE_SQL} DESC, c.vec_id) AS rank
        FROM ex AS c CROSS JOIN q) WHERE rank <= 10
    )
    SELECT e.query_id,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits_int8,
           CAST(COUNT(a.vec_id) AS DOUBLE) / 10.0 AS recall_int8,
           CAST(COUNT(b.vec_id) AS BIGINT) AS n_hits_4bit,
           CAST(COUNT(b.vec_id) AS DOUBLE) / 10.0 AS recall_4bit
    FROM exact e
    LEFT JOIN sq8 a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    LEFT JOIN sq4 b ON b.query_id = e.query_id AND b.vec_id = e.vec_id
    GROUP BY e.query_id
"""


@q("embedding_sq_recall", _SQL_SQ_RECALL)
def embedding_sq_recall(spark, sf_dir):
    """Scalar-quantization recall diagnostic: recall@10 of asymmetric
    retrieval over the int8 (255-level) AND 4-bit (15-level) SQ grids
    vs the exact full-precision baseline, in one frame — the
    measurement that picks the grid before committing the 4x (or 8x)
    smaller embedding store, completing the PQ/Matryoshka/SQ
    compression-tuning trio.  Codes store as true 1-byte tinyints;
    dequantization happens inside the scan projection."""
    from pdtable_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    bounds = similarity.sq_bounds(emb)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, queries, k=10).select("query_id", "vec_id")

    def hits(levels, suffix):
        idx = similarity.sq_index(emb, bounds, levels=levels)
        sq = similarity.sq_query(idx, queries, bounds, k=10, levels=levels).select(
            "query_id", "vec_id"
        )
        return (
            exact.alias("e")
            .join(
                sq.alias("a"),
                (F.col("a.query_id") == F.col("e.query_id"))
                & (F.col("a.vec_id") == F.col("e.vec_id")),
                "left",
            )
            .groupBy(F.col("e.query_id").alias("query_id"))
            .agg(
                F.count(F.col("a.vec_id")).cast("long").alias(f"n_hits_{suffix}"),
                (F.count(F.col("a.vec_id")).cast("double") / F.lit(10.0)).alias(
                    f"recall_{suffix}"
                ),
            )
        )

    return hits(255, "int8").join(hits(15, "4bit"), "query_id")


# ---------------------------------------------------------------------------
# Embedding second-moment / covariance matrix
# (operators/similarity.py::gram_matrix, new round 8 — the anisotropy /
#  embedding-collapse diagnostic and the PCA/whitening precursor)
# ---------------------------------------------------------------------------

_SQL_EMBEDDING_GRAM = """
    WITH q AS (
      SELECT list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS v
      FROM embeddings
    ),
    cells AS (
      SELECT CAST(t1.i AS INT) AS i, CAST(t2.j AS INT) AS j,
             v[t1.i + 1] * v[t2.j + 1] AS p,
             v[t1.i + 1] AS vi, v[t2.j + 1] AS vj
      FROM q, range(0, 64) t1(i), range(0, 64) t2(j)
      WHERE t2.j >= t1.i
    )
    SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(p) AS DOUBLE) / 1000000000000.0
             / CAST(COUNT(*) AS DOUBLE) AS gram,
           (CAST(SUM(p) AS DOUBLE)
            - CAST(SUM(vi) AS DOUBLE) * CAST(SUM(vj) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE))
           / 1000000000000.0 / CAST(COUNT(*) AS DOUBLE) AS cov
    FROM cells GROUP BY i, j
"""


@q("embedding_gram", _SQL_EMBEDDING_GRAM)
def embedding_gram(spark, sf_dir):
    """The embedding-health matrix: second-moment and covariance entries
    over the upper triangle of the 64-dim embedding space — a collapsing
    covariance spectrum is the standard anisotropy alarm, and this
    matrix's eigenbasis (pca_basis, driver-side over d² entries) drives
    the pca_project whitening path (numpy-parity pytest).  Components
    quantize to 1e-6 BIGINTs in-scan, so every product and mean is exact
    integer arithmetic — a FULL value oracle on a second-moment
    statistic, no tolerance pin."""
    from pdtable_spark.operators import similarity

    return similarity.gram_matrix(load(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Corpus-scale margin mining: agreement of the IVF-served spelling vs the
# exact broadcast miner (operators/similarity.py::margin_mining_ivf, new
# round 9: bitext mining uncapped from the 100k
# broadcast-scan bound)
# ---------------------------------------------------------------------------

def _sql_margin_pipeline(pair_cte: str, tag: str, k: int, threshold: float) -> str:
    """The margin rescore (_SQL_MARGIN_MINING's fk/deg/m/best chain)
    parameterized over the pair CTE it runs on — the SQL mirror of the
    shared ``_margin_rescore`` tail, so both spellings' oracles are one
    spelling too."""
    return f"""
    fk{tag} AS (SELECT left_id, right_id, c,
                  CAST(FLOOR(c * 1000000000.0 + 0.5) AS BIGINT) AS cq
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
                                              ORDER BY c DESC, right_id) AS rx
                 FROM {pair_cte}) WHERE rx <= {k}),
    degx{tag} AS (SELECT left_id, SUM(cq) AS dx, COUNT(*) AS nx
             FROM fk{tag} GROUP BY left_id),
    degy{tag} AS (SELECT right_id,
                    SUM(CAST(FLOOR(c * 1000000000.0 + 0.5) AS BIGINT)) AS dy,
                    COUNT(*) AS ny
             FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY right_id
                                                ORDER BY c DESC, left_id) AS ry
                   FROM {pair_cte}) WHERE ry <= {k} GROUP BY right_id),
    m{tag} AS (SELECT f.left_id, f.right_id, f.c,
                 2.0 * CAST(cq AS DOUBLE)
                 / (CAST(dx AS DOUBLE) / CAST(nx AS DOUBLE)
                    + CAST(dy AS DOUBLE) / CAST(ny AS DOUBLE)) AS margin
          FROM fk{tag} f JOIN degx{tag} USING (left_id)
          JOIN degy{tag} USING (right_id)),
    best{tag} AS (
      SELECT left_id, right_id, c, margin
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id
                                         ORDER BY margin DESC, right_id) AS rb
            FROM m{tag})
      WHERE rb = 1 AND margin >= {threshold})"""


_SQL_MARGIN_AGREEMENT = f"""
    WITH l AS (SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS qa
               FROM embeddings WHERE vec_id % 7 = 0),
    r AS (SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS ca
          FROM embeddings WHERE vec_id % 7 <> 0),
    p AS (SELECT left_id, right_id, {_sql_cos('qa', 'ca')} AS c
          FROM l CROSS JOIN r),
    {_sql_margin_pipeline('p', 'e', 4, 1.05)},
    cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    cd AS (
      SELECT r.right_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY r.right_id
                                ORDER BY {_sql_dist2('ca', 'ce')}, cent.cid) AS rn
      FROM r CROSS JOIN cent
    ),
    cassign AS (SELECT right_id, cid AS cell FROM cd WHERE rn = 1),
    qd AS (
      SELECT l.left_id, cent.cid,
             ROW_NUMBER() OVER (PARTITION BY l.left_id
                                ORDER BY {_sql_dist2('qa', 'ce')}, cent.cid) AS rn
      FROM l CROSS JOIN cent
    ),
    qprobe AS (SELECT left_id, cid AS cell FROM qd WHERE rn <= {_IVF_NPROBE}),
    p2 AS (
      SELECT l.left_id, r.right_id, {_sql_cos('qa', 'ca')} AS c
      FROM cassign JOIN qprobe USING (cell)
      JOIN r ON r.right_id = cassign.right_id
      JOIN l ON l.left_id = qprobe.left_id
    ),
    {_sql_margin_pipeline('p2', 'i', 4, 1.05)}
    SELECT COALESCE(e.left_id, i.left_id) AS left_id,
           e.right_id AS exact_right_id, e.margin AS exact_margin,
           i.right_id AS ivf_right_id, i.margin AS ivf_margin,
           CAST(e.right_id IS NOT DISTINCT FROM i.right_id AS INT) AS agree
    FROM beste e FULL OUTER JOIN besti i ON i.left_id = e.left_id
"""


@q("embedding_margin_agreement", _SQL_MARGIN_AGREEMENT)
def embedding_margin_agreement(spark, sf_dir):
    """Per-left agreement of IVF-served margin mining (candidate pool in
    a persisted partition-pruned index, nprobe-probed; degrees over the
    probed pair frame) against the exact broadcast miner — the tuning
    measurement that licenses index-served bitext mining at 100 TB
    before pointing it at a right side the exact spelling can't scan
    per batch (the label-prop/hard-negative measure-then-scale loop; at
    nprobe = n_cells the two spellings are pytest-pinned identical, the
    rescore tail being literally shared code).  A left mined by only
    one spelling survives the FULL OUTER join with NULLs on the other
    side — the disagreement the diagnostic exists to surface."""
    from pdtable_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb)
    lp = F.col("vec_id") % 7 == 0
    left, right = emb.filter(lp), emb.filter(~lp)
    exact = similarity.margin_mining(left, right, k=4, threshold=1.05)
    idx = similarity.ivf_index(right, cents)
    ivf = similarity.margin_mining_ivf(
        idx, left, cents, k=4, threshold=1.05, nprobe=_IVF_NPROBE
    )
    return (
        exact.alias("e")
        .join(
            ivf.alias("i"),
            F.col("i.left_id") == F.col("e.left_id"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("e.left_id"), F.col("i.left_id")).alias("left_id"),
            F.col("e.right_id").alias("exact_right_id"),
            F.col("e.margin").alias("exact_margin"),
            F.col("i.right_id").alias("ivf_right_id"),
            F.col("i.margin").alias("ivf_margin"),
            F.col("e.right_id")
            .eqNullSafe(F.col("i.right_id"))
            .cast("int")
            .alias("agree"),
        )
    )


# ---------------------------------------------------------------------------
# PCA projection under the value gate
# (operators/similarity.py::pca_basis / pca_project)
# ---------------------------------------------------------------------------

_SQL_PCA_PROJECT = """
    WITH q AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(FLOOR(x * 1000000.0 + 0.5) AS BIGINT)) AS v
      FROM embeddings WHERE vec_id < 8
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_sum(list_transform(generate_series(1, 64),
                                        i -> a.v[i] * b.v[i])) AS DOUBLE)
             / 1000000000000.0 AS dot_q,
           CAST(1 AS INT) AS rotation_ok
    FROM q a JOIN q b ON a.vec_id <= b.vec_id
"""


@q("embedding_pca_project", _SQL_PCA_PROJECT)
def embedding_pca_project(spark, sf_dir):
    """The PCA leg end-to-end under the value gate: gram_matrix (exact
    integer second moments, the registered ``embedding_gram`` statistic)
    → pca_basis (driver-side eigh over the d² bounded artifact) →
    pca_project of a probe set onto the FULL eigenbasis.  The check is
    the rotation invariance that makes an orthonormal basis an
    orthonormal basis: projected pairwise dot products equal the
    original ones.  ``dot_q`` (1e-6-quantized BIGINT dot of the ORIGINAL
    embeddings — exact integer arithmetic, the gram oracle's idiom) is
    fully value-oracled; ``rotation_ok`` pins |dot(pca_a, pca_b) −
    dot(emb_a, emb_b)| within max(1e-9, 1e-9·|dot|) — deterministic
    (the basis derives from exact integers; every fold is scan-local
    sequential), measured slack ~1e-13 vs eigh's ~1e-15 orthonormality,
    so a green row stays green at every layout.  The eigensolver itself
    is numpy-parity pytest (oracle the projection, not the eigensolver).

    Scale: the projection is a zero-shuffle scan-local fold per
    coordinate with the basis broadcast as one matrix column; the d²
    gram collect is the centroid/codebook bounded-artifact pattern —
    nothing here grows with the corpus except the one gram scan."""
    from pdtable_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    comps, _eig = similarity.pca_basis(
        similarity.gram_matrix(emb).collect(), dim=64
    )
    probe = emb.filter(F.col("vec_id") < 8)
    proj = similarity.pca_project(probe, comps, out_col="pca")

    def side(tag):
        qv = F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)).cast("long"),
        )
        return proj.select(
            F.col("vec_id").alias(f"id_{tag}"),
            F.col("embedding").cast("array<double>").alias(f"e{tag}"),
            F.col("pca").alias(f"p{tag}"),
            qv.alias(f"v{tag}"),
        )

    def ldot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # the probe set is 8 rows by construction — broadcast one side so
    # the non-equi pairing plans as a bounded BroadcastNestedLoopJoin,
    # never a raw CartesianProduct (the plans.lint error class; caught
    # by the dump_plans lint gate the round it was added)
    pairs = side("a").join(F.broadcast(side("b")), F.col("id_a") <= F.col("id_b"))
    dot_raw = similarity.dot("ea", "eb")
    dot_proj = similarity.dot("pa", "pb")
    tol = F.greatest(F.lit(1e-9), F.abs(dot_raw) * F.lit(1e-9))
    return pairs.select(
        "id_a",
        "id_b",
        (ldot(F.col("va"), F.col("vb")).cast("double") / F.lit(1e12)).alias(
            "dot_q"
        ),
        (F.abs(dot_proj - dot_raw) <= tol).cast("int").alias("rotation_ok"),
    )


# ---------------------------------------------------------------------------
# Mergeable moment (gram) ledger under the value gate
# (operators/similarity.py::gram_ledger / gram_from_ledgers, new round 10
#  — the fourth monitoring ledger: HLL novelty, histogram quantiles,
#  heavy hitters, second moments; the incremental-PCA state)
# ---------------------------------------------------------------------------

@q("embedding_gram_ledger", _SQL_EMBEDDING_GRAM)
def embedding_gram_ledger(spark, sf_dir):
    """The moment ledger end-to-end under the value gate: two snapshot
    ledgers (even/odd vec_id — per-cell exact-integer (n, sp, si, sj)
    state) merge through ``gram_from_ledgers`` into the (i, j, n, gram,
    cov) rows, and the ORACLE is the registered ``embedding_gram``
    statement itself over the whole table — the merge must reproduce
    the one-pass statistic bit-for-bit, because the state is additive
    integers and the finalize is shared code.  This is the
    incremental-PCA shape: a new batch lands as one d²-domain ledger,
    the merge never rescans earlier batches, and ``pca_basis`` runs on
    the merged bounded artifact."""
    from pdtable_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    stacked = None
    for s in (0, 1):
        led = similarity.gram_ledger(
            emb.filter(F.col("vec_id") % 2 == s)
        ).withColumn("snapshot", F.lit(s))
        stacked = led if stacked is None else stacked.unionByName(led)
    return similarity.gram_from_ledgers(stacked)


# ---------------------------------------------------------------------------
# IVF staleness diagnostic: the when-to-retrain
# companion of ivf_append — per-cell appended fraction + assigned-d²
# drift vs the train-time ledger, in the embedding_ivf_recall /
# minhash_estimate_error sketch-quality convention.
# ---------------------------------------------------------------------------


_SQL_IVF_STALENESS = f"""
    WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    d AS (
      SELECT c.vec_id, cent.cid,
             {_sql_dist2('ca', 'ce', 64)} AS d2,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY {_sql_dist2('ca', 'ce', 64)},
                                         cent.cid) AS rn
      FROM c CROSS JOIN cent
    ),
    a AS (
      SELECT vec_id, cid AS cell,
             CAST(FLOOR(d2 * {_STALE_Q} + 0.5) AS BIGINT) AS qd2
      FROM d WHERE rn = 1
    ),
    t AS (SELECT cell, COUNT(*) AS n_t, SUM(qd2) AS sq_t
          FROM a WHERE vec_id % 3 <> 0 GROUP BY cell),
    n AS (SELECT cell, COUNT(*) AS n_n, SUM(qd2) AS sq_n
          FROM a GROUP BY cell),
    j AS (
      SELECT COALESCE(n.cell, t.cell) AS cell,
             COALESCE(t.n_t, 0) AS n_train, COALESCE(n.n_n, 0) AS n_now,
             COALESCE(t.sq_t, 0) AS sq_train, COALESCE(n.sq_n, 0) AS sq_now
      FROM n FULL OUTER JOIN t ON n.cell = t.cell
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(n_train AS BIGINT) AS n_train,
           CAST(n_now AS BIGINT) AS n_now,
           CAST(n_now - n_train AS BIGINT) AS n_appended,
           CASE WHEN n_now > 0 THEN
             CAST(n_now - n_train AS DOUBLE) / CAST(n_now AS DOUBLE)
           END AS appended_frac,
           CASE WHEN n_train > 0 THEN
             CAST(sq_train AS DOUBLE) / CAST(n_train AS DOUBLE) / {_STALE_Q}
           END AS mean_d2_train,
           CASE WHEN n_now > 0 THEN
             CAST(sq_now AS DOUBLE) / CAST(n_now AS DOUBLE) / {_STALE_Q}
           END AS mean_d2_now,
           CASE WHEN n_train > 0 AND n_now > 0 AND sq_train > 0 THEN
             (CAST(sq_now AS DOUBLE) / CAST(n_now AS DOUBLE))
             / (CAST(sq_train AS DOUBLE) / CAST(n_train AS DOUBLE))
           END AS dist_ratio,
           (COALESCE(CASE WHEN n_now > 0 THEN
               CAST(n_now - n_train AS DOUBLE) / CAST(n_now AS DOUBLE)
             END > 0.3, FALSE)
            OR COALESCE(CASE WHEN n_train > 0 AND n_now > 0 AND sq_train > 0
             THEN (CAST(sq_now AS DOUBLE) / CAST(n_now AS DOUBLE))
                  / (CAST(sq_train AS DOUBLE) / CAST(n_train AS DOUBLE))
             END > 1.05, FALSE)) AS retrain
    FROM j ORDER BY cell
"""


@q("embedding_ivf_staleness", _SQL_IVF_STALENESS)
def embedding_ivf_staleness(spark, sf_dir):
    """The when-to-retrain diagnostic under the value gate: the suite's
    seeded centroids (``vec_id < 16``, the ``embedding_ivf_recall``
    convention) are "trained" on the 2/3 slice ``vec_id % 3 != 0``; the
    full corpus then plays the post-append population.
    ``similarity.ivf_cell_ledger`` (additive quantized-BIGINT state,
    the gram-ledger convention) captures both; ``similarity.
    ivf_staleness`` joins them into per-cell appended fraction,
    assigned-d² means, drift ratio and the retrain alarm bit.  The
    thresholds (0.3 / 1.05) sit inside the observed spread so the flag
    column is non-degenerate at every SF.

    Scale shape: two corpus scans (train slice + full) each folding to
    an n_cells-row ledger, then one broadcast join — the diagnostic
    costs two ledger passes regardless of corpus size, which is why it
    can run after EVERY append batch."""
    from pdtable_spark.operators import similarity

    emb = load(spark, sf_dir, "embeddings")
    cents = seed_centroids(emb)
    train = emb.filter(F.col("vec_id") % 3 != 0)
    led = similarity.ivf_cell_ledger(train, cents)
    return similarity.ivf_staleness(
        emb, cents, led, appended_frac_warn=0.3, dist_ratio_warn=1.05
    )

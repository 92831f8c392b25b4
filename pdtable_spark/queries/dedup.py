"""Near-duplicate queries (``dedup_*``, ``minhash_*``, ``simhash_*``,
``ngram_*``): exact and normalized dedup, MinHash / SimHash / n-gram
Jaccard pairs, cluster closure, incremental and span dedup, winnowing and
containment pairs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdtable_spark.operators import dedup
from pdtable_spark.queries.suite import (
    _SQL_CLUSTERS,
    _SQL_MD5_60,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _WINNOW_SEL_SQL,
    _sql_band_index,
    load,
    q,
)


@q(
    "dedup_exact",
    """
    WITH der AS (
      SELECT doc_id,
             CASE WHEN doc_id % 19 = 0
                  THEN 'boilerplate notice from ' || source
                  ELSE text END AS text
      FROM documents
    )
    SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
    FROM der GROUP BY md5(text)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup groups on the 16-byte digest, not the body (SURVEY ext).

    Derived %19 boilerplate slice (shared with pipeline_source_stats):
    the raw fixtures contain ZERO exact-duplicate texts, so every group
    had n_dups = 1 and the oracle never saw a multi-row group — group
    sizes now vary per source at every SF."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 19 == 0,
            F.concat(F.lit("boilerplate notice from "), F.col("source")),
        ).otherwise(F.col("text")),
    )
    return dedup.exact_dedup(docs)


@q(
    "ngram_jaccard_pairs",
    f"""
    WITH base AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents),
    sized AS (SELECT doc_id, len(sh) AS sz, sh FROM base),
    posts AS (SELECT doc_id, sz, unnest(sh) AS g FROM sized),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS size_a, b.sz AS size_b,
             COUNT(*) AS n_common
      FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / CAST(size_a + size_b - n_common AS DOUBLE) AS jaccard
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / CAST(size_a + size_b - n_common AS DOUBLE) >= 0.5
    """,
)
def ngram_jaccard_pairs(spark, sf_dir):
    """Exact near-dup pairs via shingle inverted index (no O(n²) cross join)."""
    d = load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(d, shingle_n=5, threshold=0.5)


def _sql_minhash_pairs(num_hashes: int, bands: int, threshold: float) -> str:
    rpb = num_hashes // bands
    h1 = _SQL_MD5_60.format(x="s")
    h2 = _SQL_MD5_60.format(x="'x' || s")
    return f"""
    WITH base AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents),
    hp AS (
      SELECT doc_id, sh,
             list_transform(sh, s -> struct_pack(
               h1 := {h1}, h2 := ({h2}) % {1 << 52})) AS pairs
      FROM base
    ),
    mh AS (
      SELECT doc_id, seed,
             list_aggregate(list_transform(pairs, p -> (p.h1 + seed * p.h2) % {1 << 60}),
                            'min') AS mh
      FROM hp, (SELECT unnest(generate_series(0, {num_hashes - 1})) AS seed) seeds
    ),
    bands AS (
      SELECT doc_id, seed // {rpb} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
      FROM mh GROUP BY doc_id, seed // {rpb}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    ver AS (
      SELECT cand.id_a, cand.id_b,
             CAST(len(list_intersect(ba.sh, bb.sh)) AS DOUBLE)
               / CAST(len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS DOUBLE)
               AS jaccard
      FROM cand
      JOIN base ba ON ba.doc_id = cand.id_a
      JOIN base bb ON bb.doc_id = cand.id_b
    )
    SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= {threshold}
    """


@q("dedup_clusters", _SQL_CLUSTERS)
def dedup_clusters(spark, sf_dir):
    """Dedup CLUSTERING: near-dup pairs (exact n-gram Jaccard >= 0.5) →
    connected components via iterative min-label propagation; survivors =
    component roots.  The oracle computes the same closure with a recursive
    CTE — an iterative Spark algorithm value-checked end-to-end."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(d, shingle_n=5, threshold=0.5).select("id_a", "id_b")
    comp = dedup.connected_components(
        pairs, d.select(F.col("doc_id").alias("id"))
    )
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component"),
        (F.col("component") == F.col("id")).alias("is_root"),
    )


@q("minhash_candidates", _sql_minhash_pairs(num_hashes=16, bands=4, threshold=0.5))
def minhash_candidates(spark, sf_dir):
    """MinHash-LSH near-dup pairs (banded signature buckets + exact-Jaccard
    verification), in md5_60 verification mode so the whole pipeline —
    shingling, per-seed minima, band bucketing, verification — hash-matches
    the DuckDB oracle.  Production corpora run hash_fn="xxhash64"."""
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_dedup(
        d, num_hashes=16, bands=4, jaccard_threshold=0.5, hash_fn="md5_60"
    )


_SIMHASH_BITS = 60  # md5_60 provides 60 hash bits


def _sql_simhash(bits: int = _SIMHASH_BITS) -> str:
    tok_hash = _SQL_MD5_60.format(x="tok")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return f"""
      SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash FROM (
        SELECT doc_id, {bit_sums}
        FROM (SELECT doc_id, {tok_hash} AS h
              FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents))
        GROUP BY doc_id
      )
    """


@q("simhash_fingerprints", f"SELECT doc_id, simhash FROM ({_sql_simhash()})")
def simhash_fingerprints(spark, sf_dir):
    """60-bit SimHash per document (md5_60 verification mode; production is
    64-bit xxhash64).  Sign-aggregated token-hash bits, one partial-agg
    shuffle of doc_count×bits sums."""
    return dedup.simhash(
        load(spark, sf_dir, "documents"), bits=_SIMHASH_BITS, hash_fn="md5_60"
    )


@q(
    "simhash_near_dups",
    f"""
    WITH sims AS ({_sql_simhash()})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
)
def simhash_near_dups_q(spark, sf_dir):
    """ALL SimHash pairs with Hamming <= 6 — pigeonhole multi-block LSH
    (max_hamming+1 blocks: any qualifying pair agrees on a full block, so
    recall is exactly 100%) + bit_count verification.  The oracle is the
    brute-force all-pairs join: identical output, bucket-join cost."""
    return dedup.simhash_near_dups(
        load(spark, sf_dir, "documents"),
        max_hamming=6,
        bits=_SIMHASH_BITS,
        hash_fn="md5_60",
    )


@q(
    "dedup_incremental",
    f"""
    WITH {_sql_band_index(16, 4)},
    collided AS (
      SELECT DISTINCT nb.doc_id
      FROM bands nb JOIN bands cb
        ON cb.band = nb.band AND cb.bucket = nb.bucket AND cb.doc_id % 2 = 0
      WHERE nb.doc_id % 2 = 1
    )
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id % 2 = 1 AND d.doc_id NOT IN (SELECT doc_id FROM collided)
    """,
)
def dedup_incremental(spark, sf_dir):
    """Continuous-ingestion dedup: the corpus half (even doc_ids) is indexed
    ONCE via band_buckets (the persistable LSH index); the new batch (odd
    doc_ids) hashes only itself and semi-joins the index — no corpus
    rescan, no all-pairs.  Survivors = new docs colliding in no band.
    md5_60 mode so DuckDB reproduces bucket identities byte-for-byte."""
    from pdtable_spark.operators import dedup

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    index = dedup.band_buckets(corpus, hash_fn="md5_60")
    return dedup.incremental_dedup(new, index, hash_fn="md5_60").select(
        "doc_id", "source"
    )


# the oracle wraps dedup_clusters' recursive-CTE closure (kept verbatim in
# one place) with a per-component row_number over (n_chars DESC, doc_id ASC)
# — the same lexicographic ordering the Spark window uses, exact for any id
# range (a packed-double score would lose integer resolution past ~9e6 chars)
@q(
    "dedup_keep_best",
    f"""
    WITH clusters AS ({_SQL_CLUSTERS}),
    scored AS (
      SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
             c.component,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY d.n_chars DESC, d.doc_id ASC
             ) AS rn
      FROM documents d JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, source, n_chars, component FROM scored WHERE rn = 1
""",
)
def dedup_keep_best(spark, sf_dir):
    """Quality-aware canonical selection: within each near-dup cluster keep
    the longest document (n_chars; ties → smallest doc_id) — composition of
    the cluster closure with a per-cluster max_by.  The curation policy
    that replaces naive keep-first."""
    from pdtable_spark.operators import dedup as _dedup

    d = load(spark, sf_dir, "documents")
    pairs = _dedup.ngram_jaccard_pairs(d, shingle_n=5, threshold=0.5).select(
        "id_a", "id_b"
    )
    comp = _dedup.connected_components(pairs, d.select(F.col("doc_id").alias("id")))
    kept = _dedup.keep_best_per_cluster(
        d.select("doc_id", "source", "n_chars"), comp, quality_col="n_chars"
    )
    return kept.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"), "component"
    )


@q(
    "dedup_incremental_verified",
    f"""
    WITH {_sql_band_index(16, 4)},
    cand AS (
      SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
      FROM bands nb JOIN bands cb
        ON cb.band = nb.band AND cb.bucket = nb.bucket AND cb.doc_id % 2 = 0
      WHERE nb.doc_id % 2 = 1
    ),
    dropped AS (
      SELECT DISTINCT cand.new_id
      FROM cand
      JOIN base ba ON ba.doc_id = cand.new_id
      JOIN base bb ON bb.doc_id = cand.corpus_id
      WHERE CAST(len(list_intersect(ba.sh, bb.sh)) AS DOUBLE)
              / CAST(len(ba.sh) + len(bb.sh) - len(list_intersect(ba.sh, bb.sh)) AS DOUBLE)
            >= 0.5
    )
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id % 2 = 1 AND d.doc_id NOT IN (SELECT new_id FROM dropped)
    """,
)
def dedup_incremental_verified(spark, sf_dir):
    """Verified continuous-ingestion dedup: band collisions against the
    persisted corpus index only NOMINATE (new, corpus) candidate pairs;
    each is confirmed with exact Jaccard over persisted shingle sets
    (shingle_store) before the new doc is dropped — the false-positive
    drop rate of the collision-only mode goes to zero while the plan stays
    corpus-rescan-free (only bucket-pruned candidate ids join the shingle
    store).  md5_60 mode so DuckDB reproduces every stage."""
    from pdtable_spark.operators import dedup

    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    index = dedup.band_buckets(corpus, hash_fn="md5_60")
    store = dedup.shingle_store(corpus, hash_fn="md5_60")
    return dedup.incremental_dedup(
        new, index, hash_fn="md5_60", verify_threshold=0.5, corpus_shingles=store
    ).select("doc_id", "source")


@q(
    "dedup_normalized",
    """
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_md5,
           MIN(doc_id) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_normalized(spark, sf_dir):
    """Soft-exact dedup: documents identical up to case / punctuation /
    whitespace collapse to one keeper (C4-style normalization pass).
    Shuffle key is the 16-byte digest of the normalized form."""
    docs = load(spark, sf_dir, "documents")
    from pdtable_spark.operators.dedup import normalized_dedup

    return normalized_dedup(docs)


_SPAN_WORDS = 8

_SQL_SPAN_DEDUP = f"""
    WITH t AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS ws FROM documents),
    w AS (
      SELECT doc_id,
             unnest(ws) AS word,
             unnest(generate_series(1, len(ws))) AS pos
      FROM t
    ),
    s AS (
      SELECT doc_id, (pos - 1) // {_SPAN_WORDS} AS span_no,
             string_agg(word, ' ' ORDER BY pos) AS span_text
      FROM w
      GROUP BY doc_id, (pos - 1) // {_SPAN_WORDS}
    ),
    k AS (
      SELECT doc_id, span_no, span_text,
             ROW_NUMBER() OVER (PARTITION BY span_text
                                ORDER BY doc_id, span_no) AS rn
      FROM s
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(span_text, ' ' ORDER BY span_no) AS clean_text,
             COUNT(*) AS kept
      FROM k WHERE rn = 1 GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_spans FROM s GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(t.n_spans AS BIGINT) AS n_spans,
           CAST(t.n_spans - COALESCE(r.kept, 0) AS BIGINT) AS removed_spans
    FROM documents d
    JOIN tot t ON t.doc_id = d.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    """


@q("dedup_spans", _SQL_SPAN_DEDUP)
def dedup_spans(spark, sf_dir):
    """Duplicated-span removal (Lee et al. arXiv:2107.06499 re-expressed at
    fixed word-chunk granularity): the globally-first occurrence of each
    8-word span survives; later copies are deleted from their documents.
    The oracle recomputes the identical keep rule (lexicographic-min
    (doc_id, span_no) per span text) in SQL."""
    docs = load(spark, sf_dir, "documents")
    from pdtable_spark.operators.dedup import span_dedup

    return span_dedup(docs, span_words=_SPAN_WORDS)


def _sql_minhash_estimate(num_hashes: int, bands: int) -> str:
    rpb = num_hashes // bands
    h1 = _SQL_MD5_60.format(x="s")
    h2 = _SQL_MD5_60.format(x="'x' || s")
    return f"""
    WITH base AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents),
    hp AS (
      SELECT doc_id, sh,
             list_transform(sh, s -> struct_pack(
               h1 := {h1}, h2 := ({h2}) % {1 << 52})) AS pairs
      FROM base
    ),
    mh AS (
      SELECT doc_id, seed,
             list_aggregate(list_transform(pairs, p -> (p.h1 + seed * p.h2) % {1 << 60}),
                            'min') AS mh
      FROM hp, (SELECT unnest(generate_series(0, {num_hashes - 1})) AS seed) seeds
    ),
    bands AS (
      SELECT doc_id, seed // {rpb} AS band,
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bucket
      FROM mh GROUP BY doc_id, seed // {rpb}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sigl AS (
      SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id
    ),
    est AS (
      SELECT cand.id_a, cand.id_b,
             CAST(len(list_filter(
               list_transform(generate_series(1, {num_hashes}),
                              i -> sa.sig[i] = sb.sig[i]), x -> x)) AS DOUBLE)
               / {float(num_hashes)} AS est_jaccard
      FROM cand JOIN sigl sa ON sa.doc_id = cand.id_a
      JOIN sigl sb ON sb.doc_id = cand.id_b
    ),
    ver AS (
      SELECT est.id_a, est.id_b, est.est_jaccard,
             CAST(len(list_intersect(ba.sh, bb.sh)) AS DOUBLE)
               / (CAST(len(ba.sh) + len(bb.sh) AS DOUBLE)
                  - CAST(len(list_intersect(ba.sh, bb.sh)) AS DOUBLE))
               AS true_jaccard
      FROM est
      JOIN base ba ON ba.doc_id = est.id_a
      JOIN base bb ON bb.doc_id = est.id_b
    )
    SELECT id_a, id_b, est_jaccard, true_jaccard,
           abs(est_jaccard - true_jaccard) AS abs_err
    FROM ver
    """


@q("minhash_estimate_error", _sql_minhash_estimate(num_hashes=16, bands=4))
def minhash_estimate_error(spark, sf_dir):
    """Sketch-quality diagnostic: per LSH candidate pair, the signature
    estimate of Jaccard vs the exact shingle-set value and the absolute
    error — tunes num_hashes/bands before 100 TB (the MinHash analog of
    embedding_ann_recall).  md5_60 mode → full value oracle."""
    d = load(spark, sf_dir, "documents")
    return dedup.minhash_estimate_report(
        d, num_hashes=16, bands=4, hash_fn="md5_60"
    )


_SQL_WINNOW_PAIRS = f"""
    WITH {_WINNOW_SEL_SQL},
    dsel AS (SELECT DISTINCT doc_id, fp FROM sel)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM dsel a JOIN dsel b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
"""


@q("dedup_winnow_pairs", _SQL_WINNOW_PAIRS)
def dedup_winnow_pairs(spark, sf_dir):
    """Document pairs sharing >= 2 winnowed fingerprints — the
    ngram-Jaccard detection shape on the winnowed subset: the postings
    index carries ~2/(window+1) of the grams with a known coverage floor
    (no shared 8-token run goes undetected)."""
    from pdtable_spark.operators.dedup import winnow_overlap_pairs

    docs = load(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        docs, gram_n=5, window=4, min_common=2, hash_fn="md5_60"
    )


# ---------------------------------------------------------------------------
# Shingle containment pairs (operators/dedup.py) — the asymmetric measure
# ---------------------------------------------------------------------------

_SQL_CONTAINMENT = f"""
    WITH base AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents),
    sized AS (SELECT doc_id, len(sh) AS sz, sh FROM base),
    posts AS (SELECT doc_id, sz, unnest(sh) AS g FROM sized),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS size_a, b.sz AS size_b,
             COUNT(*) AS n_common
      FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / CAST(size_a AS DOUBLE) AS contain_a_in_b,
           CAST(n_common AS DOUBLE) / CAST(size_b AS DOUBLE) AS contain_b_in_a,
           CAST(n_common AS DOUBLE) / CAST(least(size_a, size_b) AS DOUBLE)
             AS containment
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / CAST(least(size_a, size_b) AS DOUBLE) >= 0.6
"""


@q("dedup_containment_pairs", _SQL_CONTAINMENT)
def dedup_containment_pairs(spark, sf_dir):
    """Asymmetric doc-inside-doc near-dups: shingle containment
    (inter / min set size) >= 0.6 over the same inverted-index plan as
    ngram_jaccard_pairs — catches a short doc quoted whole inside a long
    one, where Jaccard is arbitrarily small and never fires."""
    from pdtable_spark.operators.dedup import containment_pairs

    docs = load(spark, sf_dir, "documents")
    return containment_pairs(docs, shingle_n=5, threshold=0.6)


# ---------------------------------------------------------------------------
# The LSH hot-bucket guard's CORRECTNESS on a skewed corpus (the load
# side is BENCH_SCALE.md's round-12 skew table): a derived corpus where
# 5% of documents are ONE identical boilerplate text puts every such doc
# in the same bucket per band; with max_bucket forced low, the hot
# buckets take the per-bucket self-join path while organic buckets take
# the collect_list path — and the emitted pair set must be EXACTLY the
# bucket-cohabitation closure either way.
# ---------------------------------------------------------------------------

_SKEW_BOILERPLATE = (
    "standard boilerplate navigation header terms privacy cookie notice"
)
_SKEW_DERIVED_SQL = (
    f"CASE WHEN doc_id % 20 = 0 THEN '{_SKEW_BOILERPLATE}' ELSE text END"
)

_SQL_SKEWED_BUCKETS = f"""
    WITH documents AS (
      SELECT doc_id, {_SKEW_DERIVED_SQL} AS text FROM main.documents
    ),
    {_sql_band_index(16, 4)},
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN id_a % 20 = 0 AND id_b % 20 = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_pairs,
           CAST(MIN(id_a) AS BIGINT) AS min_id_a,
           CAST(MAX(id_b) AS BIGINT) AS max_id_b
    FROM pairs
"""


@q("dedup_skewed_buckets", _SQL_SKEWED_BUCKETS)
def dedup_skewed_buckets(spark, sf_dir):
    """Hot-bucket guard correctness under deliberate skew: 5% of the
    corpus becomes ONE boilerplate text (all four bands collide), and
    ``minhash_lsh_candidates`` runs with ``max_bucket=16`` so the
    boilerplate buckets exceed the guard at every SF and stream through
    the per-bucket self-join while organic buckets stay on the
    collect_list fast path.  The oracle computes the full bucket-
    cohabitation closure with a plain join — the guard must change
    WHERE the k² expansion runs, never WHAT it emits.  n_hot_pairs
    pins the skew shape itself (h·(h−1)/2 for the boilerplate key)."""
    from pdtable_spark.operators.dedup import minhash_lsh_candidates

    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 == 0, F.lit(_SKEW_BOILERPLATE)
        ).otherwise(F.col("text")),
    )
    pairs = minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, hash_fn="md5_60", max_bucket=16
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            ((F.col("id_a") % 20 == 0) & (F.col("id_b") % 20 == 0)).cast("int")
        ).cast("long").alias("n_hot_pairs"),
        F.min("id_a").cast("long").alias("min_id_a"),
        F.max("id_b").cast("long").alias("max_id_b"),
    )

"""Text queries (``text_*``, ``doc_*``): tokenization, language id, quality
rules (Gopher, C4, repetition), PII redaction, TF-IDF / BM25 / n-gram
statistics, vocabulary reports, line-level dedup and document chunking.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdtable_spark.operators import text
from pdtable_spark.queries.suite import (
    _BM25_TERMS,
    _C4_KEPT_SQL,
    _CLF_BIAS,
    _CLF_WEIGHTS,
    _GOPHER_DERIVED_SQL,
    _GOPHER_M,
    _GOPHER_MIN_WORDS,
    _SQL_BM25,
    _SQL_MD5_60,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _WINNOW_SEL_SQL,
    _gopher_derived_col,
    _sql_clf_weights,
    load,
    q,
)


@q(
    "text_token_count",
    f"""
    SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
    )


def _sql_stopword_count(words) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"CAST(len(list_filter({_SQL_TOKS}, x -> list_contains([{lst}], x))) AS BIGINT)"


@q(
    "text_lang_id",
    f"""
    WITH c AS (
      SELECT doc_id,
             {_sql_stopword_count(text.LANG_STOPWORDS['en'])} AS c_en,
             {_sql_stopword_count(text.LANG_STOPWORDS['fr'])} AS c_fr,
             {_sql_stopword_count(text.LANG_STOPWORDS['de'])} AS c_de,
             {_sql_stopword_count(text.LANG_STOPWORDS['es'])} AS c_es,
             {_sql_stopword_count(text.LANG_STOPWORDS['zh'])} AS c_zh
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN c_en > 0 AND c_en = greatest(c_en, c_fr, c_de, c_es, c_zh) THEN 'en'
                WHEN c_fr > 0 AND c_fr = greatest(c_en, c_fr, c_de, c_es, c_zh) THEN 'fr'
                WHEN c_de > 0 AND c_de = greatest(c_en, c_fr, c_de, c_es, c_zh) THEN 'de'
                WHEN c_es > 0 AND c_es = greatest(c_en, c_fr, c_de, c_es, c_zh) THEN 'es'
                WHEN c_zh > 0 AND c_zh = greatest(c_en, c_fr, c_de, c_es, c_zh) THEN 'zh'
                ELSE 'und' END AS lang_pred
    FROM c
    """,
)
def text_lang_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.lang_id(F.col("text"), ["en", "fr", "de", "es", "zh"]).alias("lang_pred"),
    )


@q(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           list_aggregate(list_transform({_SQL_SHINGLES}, s -> md5(s)), 'min') AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", text.fingerprint("text", 5).alias("fingerprint"))


@q(
    "text_quality",
    f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len({_SQL_TOKS}) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS punct,
             CAST({_sql_stopword_count(text.LANG_STOPWORDS['en'])} AS DOUBLE) AS sw
      FROM documents
    )
    SELECT doc_id,
           0.4 * (CASE WHEN n_tok >= 10 AND n_tok <= 1000 THEN 1.0
                       WHEN n_tok > 0 THEN 0.5 ELSE 0.0 END)
         + 0.3 * (1.0 - (CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 1.0 END))
         + 0.3 * (CASE WHEN (CASE WHEN n_tok > 0 THEN sw / n_tok ELSE 0.0 END) >= 0.01
                        AND (CASE WHEN n_tok > 0 THEN sw / n_tok ELSE 0.0 END) <= 0.6
                       THEN 1.0 ELSE 0.5 END) AS quality
    FROM s
    """,
)
def text_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", text.quality_score(F.col("text")).alias("quality"))


@q(
    "text_bpe_count",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
             AS n_bpe_ish
    FROM documents
    """,
)
def text_bpe_count(spark, sf_dir):
    """Sub-word-ish token counting (BPE approximation via regex runs)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id", text.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_ish")
    )


#: PII patterns shared by the Spark query and the oracle — RE2/Java-regex
#: common subset (no backrefs, no lookaround).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\d{3}[-. ]\d{3}[-. ]\d{4}"


@q(
    "text_pii_redact",
    f"""
    WITH der AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                    THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                         || '@mail.example for access'
                  WHEN doc_id % 7 = 0
                    THEN text || ' call 555-013-4122 or 555.018.8233'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                          '{_PII_PHONE}', '[PHONE]', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones
    FROM der
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing — the standard pre-training redaction pass: emails and
    phone-shaped digit runs replaced with placeholder tags, plus per-doc
    match counts for pipeline accounting.  Pure codegen regex (RE2/Java
    common subset), no shuffle.

    Derived corpus (the c4/gopher trick): the raw fixtures contain NO
    email- or phone-shaped strings, so both counting paths sat at a
    constant 0 in the value oracle (found by the round-8 constant-column
    audit) — deterministic contacts are appended to the %5/%7 doc slices
    so redaction and counting take non-trivial values at every SF."""
    d = load(spark, sf_dir, "documents")
    t = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example for access"),
            ),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" call 555-013-4122 or 555.018.8233")),
        )
        .otherwise(F.col("text"))
    )
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(t, _PII_EMAIL, "[EMAIL]"), _PII_PHONE, "[PHONE]"
        ).alias("clean_text"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_EMAIL), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PII_PHONE), F.lit(0))).cast("long").alias("n_phones"),
    )


@q(
    "text_repetition",
    f"""
    SELECT doc_id,
           1.0 - CAST(len(list_distinct({_SQL_TOKS})) AS DOUBLE)
                   / CAST(len({_SQL_TOKS}) AS DOUBLE) AS repetition_ratio
    FROM documents
    """,
)
def text_repetition(spark, sf_dir):
    """Token-repetition ratio (1 − distinct/total) — the cheap boilerplate /
    spam signal of a training-data quality stack; codegen-only."""
    d = load(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    return d.select(
        "doc_id",
        (
            F.lit(1.0)
            - F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double")
        ).alias("repetition_ratio"),
    )


_BLOCKLIST = ["dup", "slow", "vector", "zzz_absent"]
_BLOCKLIST_SQL = "['" + "','".join(sorted(set(_BLOCKLIST))) + "']"


@q(
    "text_blocklist_filter",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_filter({_BLOCKLIST_SQL},
               b -> list_contains(
                 list_transform(regexp_split_to_array(trim(text), '\\s+'),
                                w -> lower(w)), b)) AS hits
      FROM documents
    )
    SELECT doc_id,
           CAST(len(hits) AS BIGINT) AS n_blocked_terms,
           CASE WHEN len(hits) > 0 THEN hits[1] END AS blocked_sample,
           CAST(len(hits) <= 0 AS INT) AS pass_blocklist
    FROM t
    """,
)
def text_blocklist_filter(spark, sf_dir):
    """Term-blocklist screening (C4's bad-words rule / takedown lists):
    distinct whole-token case-insensitive hits against a driver-side term
    list compiled into the codegen stage — zero shuffles.  The fixture
    list mixes present and absent vocabulary so counts, the audit sample,
    and the pass flag all take non-trivial values."""
    docs = load(spark, sf_dir, "documents")
    return text.blocklist_filter(docs, _BLOCKLIST)


#: Derived corpus for the C4-rule oracle, by the same literal-replace
#: technique as the Gopher one: ' dup'→' lorem ipsum' (placeholder
#: boilerplate), ' vector'→' {' (code marker), ' sort'→'.'+newline
#: (sentence-terminated line breaks), ' merge'→newline (unterminated
#: line breaks) — every C4 rule takes non-trivial values.
_C4_DER_SQL = (
    "replace(replace(replace(replace(text, ' dup', ' lorem ipsum'),"
    " ' vector', ' {'), ' sort', '.' || chr(10)), ' merge', chr(10))"
)


@q(
    "text_c4_rules",
    f"""
    WITH t AS (SELECT doc_id, {_C4_DER_SQL} AS der FROM documents),
    m AS (
      SELECT doc_id,
             -- COALESCE: DuckDB's array_to_string of an EMPTY list is NULL
             -- where Spark's array_join is '' — align on ''
             COALESCE(array_to_string({_C4_KEPT_SQL}, chr(10)), '') AS clean_text,
             CAST(len(regexp_split_to_array(der, '\\n')) AS BIGINT) AS n_lines,
             CAST(len({_C4_KEPT_SQL}) AS BIGINT) AS n_kept_lines,
             CAST(len(regexp_extract_all(
                 COALESCE(array_to_string({_C4_KEPT_SQL}, chr(10)), ''),
                 '[.!?]')) AS BIGINT) AS n_sentences,
             CAST(contains(lower(der), 'lorem ipsum') AS INT) AS has_lorem,
             CAST(contains(der, '{{') AS INT) AS has_brace
      FROM t
    )
    SELECT *,
           CAST(n_sentences >= 3 AND has_lorem = 0 AND has_brace = 0 AS INT)
             AS pass_c4
    FROM m
    """,
)
def text_c4_rules(spark, sf_dir):
    """C4's rule-based page cleaning (arXiv:1910.10683 §2.2 — keep
    punctuation-terminated ≥5-word lines; drop pages under 3 sentences,
    with braces, or with 'lorem ipsum') on a derived corpus where each
    rule has real positives (see ``_C4_DER_SQL``).  Zero-shuffle column
    expressions; the kept-lines transform and every flag value-oracled."""
    docs = load(spark, sf_dir, "documents").withColumn(
        "text",
        F.replace(
            F.replace(
                F.replace(
                    F.replace(F.col("text"), F.lit(" dup"), F.lit(" lorem ipsum")),
                    F.lit(" vector"),
                    F.lit(" {"),
                ),
                F.lit(" sort"),
                F.lit(".\n"),
            ),
            F.lit(" merge"),
            F.lit("\n"),
        ),
    )
    return text.c4_quality(docs)


_REP_TOP_N = 2
_REP_DUP_N = 5
#: Derived corpus for the repetition-signal oracle: each document gets its
#: own first 8 words appended (the footer-boilerplate shape the duplicate
#: n-gram rule exists to catch) — the raw synthetic corpus has no natural
#: duplicate 5-grams, which would leave the coverage path identically zero.
_REP_DER_SQL = (
    "text || ' ' || array_to_string(list_slice("
    "regexp_split_to_array(trim(text), '\\s+'), 1, 8), ' ')"
)


@q(
    "text_repetition_signals",
    f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim({_REP_DER_SQL}), '\\s+') AS ws
      FROM documents
    ),
    w AS (SELECT doc_id, unnest(ws) AS word,
                 unnest(generate_series(1, len(ws))) AS pos FROM t),
    g AS (
      SELECT doc_id, pos, word,
             CASE WHEN lead(word, {_REP_TOP_N - 1}) OVER wdoc IS NOT NULL
                  THEN concat_ws(' ', word, lead(word, 1) OVER wdoc)
             END AS gram_top,
             CASE WHEN lead(word, {_REP_DUP_N - 1}) OVER wdoc IS NOT NULL
                  THEN concat_ws(' ', word, lead(word, 1) OVER wdoc,
                                 lead(word, 2) OVER wdoc, lead(word, 3) OVER wdoc,
                                 lead(word, 4) OVER wdoc)
             END AS gram_dup
      FROM w WINDOW wdoc AS (PARTITION BY doc_id ORDER BY pos)
    ),
    c AS (
      SELECT *, CASE WHEN gram_dup IS NOT NULL
                     THEN COUNT(*) OVER (PARTITION BY doc_id, gram_dup) END AS cnt_dup
      FROM g
    ),
    cov AS (
      SELECT *, MAX(CASE WHEN cnt_dup >= 2 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN {_REP_DUP_N - 1} PRECEDING AND CURRENT ROW)
                AS covered
      FROM c
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(length(word)) AS BIGINT) AS n_word_chars,
             CAST(SUM(length(word) * covered) AS BIGINT) AS dup_chars
      FROM cov GROUP BY doc_id
    ),
    tc AS (SELECT doc_id, gram_top, COUNT(*) AS c FROM g
           WHERE gram_top IS NOT NULL GROUP BY 1, 2),
    top AS (SELECT doc_id, gram_top, c FROM (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY c DESC, gram_top) AS rn
              FROM tc) WHERE rn = 1),
    m AS (
      SELECT a.doc_id, a.n_words, a.n_word_chars,
             top.gram_top AS top_ngram,
             CAST(COALESCE(top.c, 0) AS BIGINT) AS top_ngram_count,
             COALESCE(CASE WHEN a.n_word_chars > 0 THEN
                        CAST(top.c AS DOUBLE)
                        * CAST(length(replace(top.gram_top, ' ', '')) AS DOUBLE)
                        / CAST(a.n_word_chars AS DOUBLE)
                      ELSE 0.0 END, 0.0) AS top_ngram_char_frac,
             CASE WHEN a.n_word_chars > 0 THEN
               CAST(a.dup_chars AS DOUBLE) / CAST(a.n_word_chars AS DOUBLE)
             ELSE 0.0 END AS dup_ngram_char_frac
      FROM agg a LEFT JOIN top ON top.doc_id = a.doc_id
    )
    SELECT *,
           CAST(top_ngram_char_frac <= 0.20 AS INT) AS pass_top_ngram,
           CAST(dup_ngram_char_frac <= 0.15 AS INT) AS pass_dup_ngram
    FROM m
    """,
)
def text_repetition_signals(spark, sf_dir):
    """Gopher's word-level repetition rules (top-2-gram character fraction,
    overlap-aware duplicate-5-gram character coverage) over a derived
    corpus where every document carries its own first-8-words as appended
    boilerplate — the duplication shape the rule exists to catch, making
    both signals non-trivial under the value oracle."""
    docs = load(spark, sf_dir, "documents")
    der = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" "),
            F.array_join(F.slice(text.tokens(F.col("text")), 1, 8), " "),
        ),
    )
    return text.repetition_signals(der, top_n=_REP_TOP_N, dup_n=_REP_DUP_N)


@q(
    "doc_chunks",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    meta AS (SELECT doc_id, toks, len(toks) AS L,
                    1 + CAST(floor((greatest(len(toks) - 50, 0) + 39) / 40) AS INT) AS n
             FROM t),
    ch AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS chunk_idx, toks, L
           FROM meta)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(list_slice(toks, chunk_idx*40 + 1, chunk_idx*40 + 50), ' ')
             AS chunk_text,
           CAST(least(L - chunk_idx*40, 50) AS BIGINT) AS chunk_n_tokens
    FROM ch
    """,
)
def doc_chunks(spark, sf_dir):
    """Context-window packing: 50-token chunks, 10-token overlap (stride
    40), one row per chunk — pure codegen sequence/slice fan-out."""
    d = load(spark, sf_dir, "documents")
    return text.chunk_documents(d, chunk_tokens=50, overlap=10)


#: Per-doc top-3 TF-IDF keywords at 9 decimals: the oracle of both
#: document-frequency spellings (window and aggregate).
_SQL_TFIDF_TOP3 = f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfx AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
             round(CAST(tf.tf AS DOUBLE)
                   * ln(CAST(n.n_docs AS DOUBLE) / CAST(dfx.df AS DOUBLE)), 9) AS score
      FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


@q("text_tfidf_keywords", _SQL_TFIDF_TOP3)
def text_tfidf_keywords(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords in round_digits=9 verification mode:
    JVM Math.log and libm log differ in the last ulp, so the score is rounded
    (and ranked) at 9 decimals on both engines.  Rank ties break on term
    (total order).  Pins ``df_mode="window"`` — the opt-in small-corpus
    fast path — so BOTH document-frequency spellings stay under the value
    oracle (`text_tfidf_agg` covers the default)."""
    return text.tfidf_keywords(
        load(spark, sf_dir, "documents"), k=3, round_digits=9, df_mode="window"
    )


@q("text_tfidf_agg", _SQL_TFIDF_TOP3)
def text_tfidf_agg(spark, sf_dir):
    """TF-IDF through the DEFAULT df_mode (= "aggregate" as of round 6):
    the skew-safe document-frequency spelling a caller gets without reading
    any docstring (see operators/text.py) — pinned to the same full value
    oracle as the window spelling end-to-end."""
    return text.tfidf_keywords(load(spark, sf_dir, "documents"), k=3, round_digits=9)



_SQL_BIGRAMS = (
    f"list_distinct(CASE WHEN len({_SQL_TOKS}) >= 2 THEN "
    f"list_transform(generate_series(1, greatest(len({_SQL_TOKS}) - 1, 1)), "
    f"i -> array_to_string(list_slice({_SQL_TOKS}, i, i + 1), ' ')) "
    f"ELSE [array_to_string({_SQL_TOKS}, ' ')] END)"
)


@q(
    "text_top_bigrams",
    f"""
    SELECT ngram, COUNT(*) AS doc_freq FROM (
      SELECT doc_id, unnest({_SQL_BIGRAMS}) AS ngram FROM documents
    )
    GROUP BY ngram
    ORDER BY doc_freq DESC, ngram
    LIMIT 50
    """,
)
def text_top_bigrams(spark, sf_dir):
    """Corpus top-50 bigrams by document frequency (the boilerplate-detection
    scan of a crawl pipeline).  Per-doc dedup happens inside the shingle
    expression, so the count after explode IS the doc frequency."""
    return text.ngram_doc_freq(load(spark, sf_dir, "documents"), n=2, top=50)


@q(
    "text_surprisal",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term),
    total AS (SELECT COUNT(*) AS n_total FROM toks),
    scored AS (
      SELECT t.doc_id,
             CAST(floor(round(-ln(CAST(f.cnt AS DOUBLE) / CAST(x.n_total AS DOUBLE)), 9)
                        * 1000000000.0) AS BIGINT) AS q_surprisal
      FROM toks t JOIN freq f ON t.term = f.term CROSS JOIN total x
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(q_surprisal) AS DOUBLE) / (1000000000.0 * COUNT(*))
             AS mean_surprisal
    FROM scored GROUP BY doc_id
    """,
)
def text_surprisal(spark, sf_dir):
    """Unigram surprisal score: mean −ln p(token) per document under the
    corpus's own unigram distribution — the statistics-based quality signal
    (gibberish and boilerplate sit at the distribution's tails).  Plan:
    explode → term-keyed count (the vocabulary) joined back onto postings
    (AQE-broadcast while the vocab fits) → per-doc rollup.  Cross-engine
    determinism stacks both patterns: ln rounds at 9 decimals (JVM/libm
    last-ulp), then the per-token values sum as quantized BIGINTs
    (order-independent)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(text.tokens(F.col("text"))).alias("term"))
    freq = toks.groupBy(F.col("term").alias("f_term")).agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    q_surprisal = F.floor(
        F.round(-F.log(F.col("cnt").cast("double") / F.col("n_total").cast("double")), 9)
        * 1e9
    ).cast("long")
    scored = (
        toks.join(freq, F.col("term") == F.col("f_term"))
        .join(F.broadcast(total))
        .select("doc_id", q_surprisal.alias("q_surprisal"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("q_surprisal").cast("double") / (F.lit(1e9) * F.count(F.lit(1)))).alias(
            "mean_surprisal"
        ),
    )


@q(
    "text_classifier_filter",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ),
    w(term, weight) AS (VALUES {_sql_clf_weights()}),
    s AS (SELECT doc_id, SUM(weight) AS wsum FROM toks JOIN w USING (term) GROUP BY 1)
    SELECT d.doc_id,
           CAST({_CLF_BIAS!r} AS DOUBLE) + COALESCE(s.wsum, 0.0) AS clf_score,
           (CAST({_CLF_BIAS!r} AS DOUBLE) + COALESCE(s.wsum, 0.0)) >= 0 AS keep
    FROM documents d LEFT JOIN s USING (doc_id)
    """,
)
def text_classifier_filter(spark, sf_dir):
    """fastText-style linear quality classifier (the model-based filter of
    public curation pipelines) via the zero-shuffle map-literal path: the
    score is one per-row aggregate() fold over the token array — a pure
    scan+project at any scale.  Binary-fraction weights make the fold
    order-independent and bit-exact cross-engine; keep = score >= 0 (the
    sigmoid is monotone, so the 0.5-probability cut IS the 0-score cut)."""
    d = load(spark, sf_dir, "documents")
    scored = text.classifier_score(d, _CLF_WEIGHTS, bias=_CLF_BIAS)
    return scored.select(
        "doc_id",
        F.col("clf_score"),
        (F.col("clf_score") >= 0).alias("keep"),
    )


_NOVELTY_N = 3

_SQL_NGRAM_NOVELTY = f"""
    WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
               FROM documents),
    e AS (
      SELECT doc_id, ws,
             unnest(generate_series(1, len(ws) - {_NOVELTY_N - 1})) AS i
      FROM t WHERE len(ws) >= {_NOVELTY_N}
    ),
    g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(ws[i : i + {_NOVELTY_N - 1}], ' ')) AS ng
      FROM e
    ),
    o AS (SELECT ng, MIN(doc_id) AS owner FROM g GROUP BY ng)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_ngrams,
           CAST(SUM(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(SUM(CASE WHEN o.owner = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS novelty
    FROM g JOIN o ON o.ng = g.ng
    GROUP BY g.doc_id
    """


@q("text_ngram_novelty", _SQL_NGRAM_NOVELTY)
def text_ngram_novelty(spark, sf_dir):
    """Trigram novelty per document (fraction of distinct trigrams first
    seen in this doc) — the curation signal between exact and similarity
    dedup.  Grams shuffle as md5 digests; owner = min doc_id."""
    docs = load(spark, sf_dir, "documents")
    return text.ngram_novelty(docs, n=_NOVELTY_N)


@q(
    "text_gopher_rules",
    f"""
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
    )
    SELECT *,
           CAST(pass_word_count = 1 AND pass_mean_word_len = 1
                AND pass_alpha_ratio = 1 AND pass_stopwords = 1
                AND pass_symbol_ratio = 1 AND pass_bullet_lines = 1
                AND pass_ellipsis_lines = 1 AND pass_dup_lines = 1 AS INT)
             AS pass_all
    FROM (
      SELECT *,
             CAST(n_words >= {_GOPHER_MIN_WORDS} AND n_words <= 100000 AS INT)
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
    )
    """,
)
def text_gopher_rules(spark, sf_dir):
    """The full Gopher rule set (word-count / mean-word-length bounds,
    alpha-word ratio, stopword hits, hash/ellipsis symbol-to-word ratio,
    bullet- and ellipsis-line fractions, duplicate-line fraction) —
    zero-shuffle column expressions; flags as 0/1 ints for the
    cross-engine hash.  Runs on a deterministic multi-line variant of the
    fixture (see ``_GOPHER_DERIVED_SQL``) so every line-level metric takes
    non-trivial values under the oracle."""
    # three doc slices pushed past a rule threshold each (see
    # _gopher_derived_col), so the mean-word-length / bullet-line /
    # duplicate-line FAIL paths are exercised by the value oracle
    docs = load(spark, sf_dir, "documents").withColumn(
        "text", _gopher_derived_col()
    )
    return text.gopher_quality_flags(docs, min_words=_GOPHER_MIN_WORDS)


_CDC_DIVISOR = 8

_SQL_CDC_CHUNKS = f"""
    WITH w AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS word,
             unnest(generate_series(1, len(regexp_split_to_array(trim(text), '\\s+')))) AS pos
      FROM documents
    ),
    g AS (
      SELECT doc_id, pos, word,
             concat_ws(' ',
               lag(word, 2) OVER (PARTITION BY doc_id ORDER BY pos),
               lag(word, 1) OVER (PARTITION BY doc_id ORDER BY pos),
               word) AS gram
      FROM w WHERE word <> ''
    ),
    b AS (
      SELECT doc_id, pos, word,
             CASE WHEN ({_SQL_MD5_60.format(x='gram')}) % {_CDC_DIVISOR} = 0
                  THEN 1 ELSE 0 END AS brk
      FROM g
    ),
    c AS (
      SELECT doc_id, pos, word,
             COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_no
      FROM b
    )
    SELECT doc_id, CAST(chunk_no AS BIGINT) AS chunk_no,
           string_agg(word, ' ' ORDER BY pos) AS chunk_text,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_md5
    FROM c GROUP BY doc_id, chunk_no
    """


@q("doc_cdc_chunks", _SQL_CDC_CHUNKS)
def doc_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (rolling-hash boundaries, LBFS/rsync
    family): identical content chunks identically at any offset — the
    shift-robust complement to fixed-width span dedup.  Per-document lag
    windows (bounded state), md5_60 boundary hash → full value oracle."""
    docs = load(spark, sf_dir, "documents")
    return text.cdc_chunks(docs, gram_words=3, divisor=_CDC_DIVISOR)


@q("text_bm25_topk", _SQL_BM25)
def text_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-25 over the documents table for a mixed rare/common
    term bag — zero-shuffle tf + one broadcast stats row + TakeOrdered
    (see operators/text.py::bm25_topk), in round_digits=9 verification
    mode so the idf ln matches across engines."""
    from pdtable_spark.operators.text import bm25_topk

    return bm25_topk(
        load(spark, sf_dir, "documents"),
        _BM25_TERMS,
        k=25,
        round_digits=9,
    )


#: Character-entropy quality signal; the oracle rebuilds the quantized
#: −p·ln p sum per document via explode+group (the operator's scan-local
#: array fold and this relational spelling sum the same exact integers).
_SQL_CHAR_ENTROPY = """
    WITH ch AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ''), x -> x <> '')) AS c
      FROM documents
    ),
    cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY 1, 2),
    tot AS (SELECT doc_id, COUNT(*) AS n, COUNT(DISTINCT c) AS nd
            FROM ch GROUP BY 1),
    terms AS (
      SELECT cnt.doc_id,
             CAST(FLOOR(round(
               -((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                 * ln(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))), 9)
               * 1000000000.0) AS BIGINT) AS qt
      FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id
    ),
    ent AS (SELECT doc_id, CAST(SUM(qt) AS DOUBLE) / 1000000000.0 AS e
            FROM terms GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(tot.n, 0) AS BIGINT) AS n_chars,
           CAST(COALESCE(tot.nd, 0) AS BIGINT) AS n_distinct_chars,
           COALESCE(ent.e, 0.0) AS entropy
    FROM documents d
    LEFT JOIN tot ON tot.doc_id = d.doc_id
    LEFT JOIN ent ON ent.doc_id = d.doc_id
"""


@q("text_char_entropy", _SQL_CHAR_ENTROPY)
def text_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the cheap gibberish
    and repetition signal, computed as one scan-local array fold (no
    explode, no shuffle) with the quantized-ln determinism recipe."""
    from pdtable_spark.operators.text import char_entropy

    return char_entropy(load(spark, sf_dir, "documents"))


#: Line-level boilerplate dedup (CCNet §4.1 / RefinedWeb): the synthetic
#: corpus has no newlines, so the suite pins the semantics with the
#: separator at ' ' (lines = words) and a SCALE-STABLE fractional
#: threshold — normalized "lines" in ≥78% of documents are boilerplate
#: (non-degenerate at sf0.001/sf0.01/sf1 alike: 16/15/3 boilerplate keys).
#: Real deployments split on '\n'; the plan is identical.
_SQL_LINE_BOIL = """
  SELECT k FROM (
    SELECT DISTINCT doc_id, lower(trim(line)) AS k
    FROM l WHERE lower(trim(line)) <> ''
  ) GROUP BY k
  HAVING COUNT(*) >= CEIL(0.78 * (SELECT COUNT(*) FROM documents))
"""

_SQL_LINE_DEDUP = f"""
    WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS ls
                  FROM documents),
    l AS (SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS pos
          FROM base),
    boil AS ({_SQL_LINE_BOIL}),
    kept AS (SELECT doc_id, line, pos FROM l
             WHERE lower(trim(line)) NOT IN (SELECT k FROM boil))
    SELECT b.doc_id,
           COALESCE(string_agg(k.line, ' ' ORDER BY k.pos), '') AS text_clean,
           CAST(len(b.ls) AS BIGINT) AS n_lines,
           CAST(len(b.ls) - COUNT(k.line) AS BIGINT) AS n_lines_removed,
           b.source
    FROM base b LEFT JOIN kept k USING (doc_id)
    GROUP BY b.doc_id, b.source, len(b.ls)
"""


@q("text_line_dedup", _SQL_LINE_DEDUP)
def text_line_dedup(spark, sf_dir):
    """Line-level boilerplate removal: drop every line whose normalized
    form occurs in ≥78% of documents, survivors kept in original order and
    spelling — the broadcast spelling (scan-local filter + array_join; the
    corpus is never exploded or shuffled)."""
    from pdtable_spark.operators.text import line_dedup

    return line_dedup(
        load(spark, sf_dir, "documents"),
        line_sep=" ",
        min_docs=None,
        min_doc_frac=0.78,
        passthrough=("source",),
    )


_SQL_COMMON_LINES = f"""
    WITH base AS (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
    l AS (SELECT doc_id, unnest(ls) AS line FROM base),
    c AS (
      SELECT k AS line, n_docs FROM (
        SELECT lower(trim(line)) AS k, COUNT(DISTINCT doc_id) AS n_docs
        FROM l WHERE lower(trim(line)) <> '' GROUP BY 1
      ) WHERE n_docs >= CEIL(0.78 * (SELECT COUNT(*) FROM documents))
    )
    SELECT line, CAST(n_docs AS BIGINT) AS n_docs FROM c
"""


@q("text_common_lines", _SQL_COMMON_LINES)
def text_common_lines(spark, sf_dir):
    """The boilerplate audit behind line_dedup: normalized lines in ≥78%
    of documents with their document frequency — per-doc-distinct before
    the explode, so the count is a plain map-side-combinable groupBy."""
    from pdtable_spark.operators.text import common_lines

    return common_lines(
        load(spark, sf_dir, "documents"),
        line_sep=" ",
        min_docs=None,
        min_doc_frac=0.78,
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints + overlap pairs (operators/dedup.py, MOSS scheme)
# ---------------------------------------------------------------------------


_SQL_WINNOW = f"""
    WITH {_WINNOW_SEL_SQL}
    SELECT doc_id, pos, fp FROM sel
"""


@q("text_winnow_fingerprints", _SQL_WINNOW)
def text_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
    scheme): per 4-window of positional 5-gram hashes, the minimum at its
    rightmost position — guaranteed to cover any shared run of >= 8
    tokens while keeping ~2/5 of the grams.  Scan-local array arithmetic;
    only selected prints explode."""
    from pdtable_spark.operators.dedup import winnow_fingerprints

    docs = load(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, gram_n=5, window=4, hash_fn="md5_60")


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV share (operators/text.py)
# ---------------------------------------------------------------------------

_SQL_VOCAB_COVERAGE = r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      FROM documents
    ),
    vocab AS (
      SELECT t FROM (SELECT t, COUNT(*) AS n FROM tok GROUP BY t)
      ORDER BY n DESC, t ASC LIMIT 16
    ),
    per AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             SUM(CASE WHEN t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END) AS n_oov
      FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id, d.source,
           CAST(p.n_tokens AS BIGINT) AS n_tokens,
           CAST(p.n_oov AS BIGINT) AS n_oov,
           CASE WHEN p.n_tokens > 0
                THEN CAST(p.n_oov AS DOUBLE) / p.n_tokens ELSE 0.0 END
             AS oov_share
    FROM documents d JOIN per p ON p.doc_id = d.doc_id
"""


@q("text_vocab_coverage", _SQL_VOCAB_COVERAGE)
def text_vocab_coverage(spark, sf_dir):
    """Per-doc OOV share against the corpus's top-16 token vocabulary
    (deterministic tf-desc, token-asc boundary) — the tokenizer-fertility
    / domain-shift signal.  The vocabulary is a bounded collected
    artifact folded into a zero-shuffle scan-local membership
    expression (the IVF-centroid pattern).  vocab_size=16 < the
    fixtures' 31-token domain so n_oov is NON-ZERO at every SF: at the
    original 200 the fixtures have no OOV at all and the oracle never
    exercised the OOV counting path (the blind spot the round-8
    source_divergence fuzz bug exposed)."""
    from pdtable_spark.operators.text import vocab_coverage

    docs = load(spark, sf_dir, "documents")
    return vocab_coverage(docs, vocab_size=16).select(
        "doc_id", "source", "n_tokens", "n_oov", "oov_share"
    )


# ---------------------------------------------------------------------------
# Frozen-vocabulary OOV drift (operators/text.py vocab= path as designed)
# ---------------------------------------------------------------------------

_SQL_VOCAB_DRIFT = r"""
    WITH ref_tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      FROM documents WHERE doc_id % 2 = 0
    ),
    vocab AS (
      SELECT t FROM (SELECT t, COUNT(*) AS n FROM ref_tok GROUP BY t)
      ORDER BY n DESC, t ASC LIMIT 16
    ),
    new_tok AS (
      SELECT doc_id, source,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      FROM documents WHERE doc_id % 2 = 1
    ),
    per AS (
      SELECT source, COUNT(*) AS n_tokens,
             SUM(CASE WHEN t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END)
               AS n_oov
      FROM new_tok GROUP BY source
    )
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           CASE WHEN n_tokens > 0
                THEN CAST(n_oov AS DOUBLE) / n_tokens ELSE 0.0 END
             AS oov_share
    FROM per
"""


@q("text_vocab_drift", _SQL_VOCAB_DRIFT)
def text_vocab_drift(spark, sf_dir):
    """The frozen-vocabulary drift alarm as designed: build the top-16
    vocabulary on the REFERENCE half (even doc_ids), measure per-source
    OOV share on the INCOMING half (odd doc_ids) — a rising share is the
    early signal that a fixed tokenizer will shred the new data.
    Exercises the ``vocab=`` frozen path; the per-doc pass stays the
    zero-shuffle membership projection, aggregated per source."""
    from pdtable_spark.operators.text import top_vocab, vocab_coverage

    docs = load(spark, sf_dir, "documents")
    # 16 < the fixtures' 31-token domain — OOV non-zero at every SF
    frozen = top_vocab(docs.filter(F.col("doc_id") % 2 == 0), 16)
    cov = vocab_coverage(docs.filter(F.col("doc_id") % 2 == 1), vocab=frozen)
    tot = F.sum("n_tokens").cast("long")
    oov = F.sum("n_oov").cast("long")
    return cov.groupBy("source").agg(
        tot.alias("n_tokens"),
        oov.alias("n_oov"),
        F.when(tot > 0, oov.cast("double") / tot.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("oov_share"),
    )


# ---------------------------------------------------------------------------
# Corpus lexical diversity: distinct-n (operators/text.py::distinct_ngrams,
# new round 8 — Li et al. 2016 distinct-1/2/3; n=1 is the type-token ratio)
# ---------------------------------------------------------------------------

_SQL_DISTINCT_NGRAMS = r"""
    WITH tok AS (
      SELECT source, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
      SELECT source, n, unnest(gs) AS d FROM (
        SELECT source, 1 AS n, list_transform(ws, t -> md5(t)) AS gs FROM tok
        UNION ALL
        SELECT source, 2, list_transform(range(1, len(ws) - 2 + 2),
                   i -> md5(array_to_string(list_slice(ws, i, i + 1), ' ')))
        FROM tok WHERE len(ws) >= 2
        UNION ALL
        SELECT source, 3, list_transform(range(1, len(ws) - 3 + 2),
                   i -> md5(array_to_string(list_slice(ws, i, i + 2), ' ')))
        FROM tok WHERE len(ws) >= 3
      )
    )
    SELECT source, CAST(n AS INT) AS n, CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT d) AS BIGINT) AS n_distinct,
           CAST(COUNT(DISTINCT d) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS distinct_ratio
    FROM grams GROUP BY source, n
"""


@q("text_distinct_ngrams", _SQL_DISTINCT_NGRAMS)
def text_distinct_ngrams(spark, sf_dir):
    """Per-source lexical diversity: total/distinct n-gram counts and
    their ratio for n=1,2,3 (distinct-n; n=1 is the type-token ratio) —
    the dashboard that flags template floods and generation loops while
    the docs are still byte-distinct.  ONE corpus scan: the per-n gram
    arrays explode in-scan and shuffle as md5 digests, never strings."""
    from pdtable_spark.operators import text

    return text.distinct_ngrams(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Collocations by lift (operators/text.py::collocations, new round 8 —
# log-free PMI on the bigram event space)
# ---------------------------------------------------------------------------

_SQL_COLLOCATIONS = r"""
    WITH tok AS (
      SELECT regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    bg AS (
      SELECT ws[i] AS w1, ws[i+1] AS w2
      FROM tok CROSS JOIN LATERAL unnest(range(1, len(ws))) AS t(i)
      WHERE len(ws) >= 2
    ),
    counts AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY w1, w2),
    marg AS (
      SELECT w1, w2, n_pair,
             SUM(n_pair) OVER (PARTITION BY w1) AS n_w1,
             SUM(n_pair) OVER (PARTITION BY w2) AS n_w2,
             SUM(n_pair) OVER () AS N
      FROM counts
    )
    SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
           CAST(n_w1 AS BIGINT) AS n_w1, CAST(n_w2 AS BIGINT) AS n_w2,
           (CAST(n_pair AS DOUBLE) * CAST(N AS DOUBLE))
             / (CAST(n_w1 AS DOUBLE) * CAST(n_w2 AS DOUBLE)) AS lift
    FROM marg WHERE n_pair >= 5
    ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 20
"""


@q("text_collocations", _SQL_COLLOCATIONS)
def text_collocations(spark, sf_dir):
    """Top-20 collocations by lift (min pair count 5): the
    statistically-bound word pairs that seed tokenizer-vocab candidates,
    multi-word PII patterns, and boilerplate-phrase discovery.  Lift is
    PMI's log-free rank-equivalent — a ratio of exact integer products,
    so the score is bit-equal across engines where ln would drift a
    ulp.  One corpus scan; both position marginals are window sums over
    the bigram-count frame itself."""
    from pdtable_spark.operators import text

    return text.collocations(load(spark, sf_dir, "documents"), k=20, min_count=5)


# ---------------------------------------------------------------------------
# Frozen bigram-LM quality score (operators/text.py::bigram_lm_nll, new
# round 9 — the CCNet/KenLM perplexity-filter shape at bigram order,
# next to the unigram text_surprisal)
# ---------------------------------------------------------------------------

_SQL_LM_BIGRAM = r"""
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents WHERE text IS NOT NULL
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
      WHERE len(ws) >= 2 AND doc_id % 2 = 1
    ),
    scored AS (
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
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(q) AS DOUBLE) / (1000000000.0 * CAST(COUNT(*) AS DOUBLE))
             AS mean_nll
    FROM scored GROUP BY doc_id
"""


@q("text_lm_bigram_nll", _SQL_LM_BIGRAM)
def text_lm_bigram_nll(spark, sf_dir):
    """CCNet-style frozen-LM quality scoring end-to-end under the value
    gate: the interpolated bigram model trains on the even-doc_id half
    (the curated reference pool) and scores the odd half — the
    perplexity filter that keeps fluent in-domain text and surfaces
    gibberish/out-of-domain docs, at the n-gram order the Spark-side
    quantized-ln determinism pattern can carry a FULL value oracle for.
    Unseen contexts fall to the Laplace unigram floor, so every score
    is finite and the even/odd split exercises all three join-miss
    shapes at every SF."""
    from pdtable_spark.operators import text

    docs = load(spark, sf_dir, "documents")
    scored = text.bigram_lm_nll(docs, F.col("doc_id") % 2 == 0)
    return scored.join(
        docs.filter(F.col("doc_id") % 2 == 1).select("doc_id"), "doc_id", "left_semi"
    ).select("doc_id", "n_bigrams", "mean_nll")

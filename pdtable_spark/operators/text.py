"""Text-analysis operators over a document table: token counting, quality
scoring, language ID, fingerprinting.

Every operator is a pure column-expression builder (no UDFs) so the whole
pipeline stays inside WholeStageCodegen and scales linearly with executors —
at 100 TB these run as a single scan + project, no shuffle at all.

The functions return (and accept) plain DataFrames/Columns so they compose
with both raw Spark code and the ``Table`` wrapper.
"""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdtable_spark.frame import local_frame
from pdtable_spark.operators.scanfan import fanout_small_scan
from pdtable_spark.operators.sqltext import ident, num, str_lit


def tokens(text: Column) -> Column:
    """Whitespace tokenization as an array column."""
    return F.split(F.trim(text), r"\s+")


# --- SQL-text fragments of the token/shingle pipeline ----------------------
#
# Each builds the expression as one SQL string parsed JVM-side: the same
# tree as nested Column lambdas costs tens of py4j round-trips per build.


def _tokens_sql(text_sql: str) -> str:
    return f"split(trim({text_sql}), '\\\\s+')"


def _tokens_or_empty_sql(text_sql: str) -> str:
    """:func:`_tokens_sql` with NULL text as zero tokens."""
    return f"coalesce({_tokens_sql(text_sql)}, CAST(array() AS array<string>))"


def _let_sql(value: str, var: str, body: str) -> str:
    """``body`` with ``var`` bound to ``value`` evaluated once per row (see
    :func:`_let`)."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _windows_sql(arr: str, n: int, body) -> str:
    """``transform(<n-windows of arr>, s -> body(fields))``: the windows are
    an ``arrays_zip`` of n shifted slices (structs with fields "0".."n-1",
    passed to ``body`` as SQL text); an array shorter than n yields one
    null-padded window."""
    shifted = ", ".join(
        f"slice({arr}, {i + 1}, greatest(size({arr}) - {i}, 0))" for i in range(n)
    )
    fields = [f"s.{ident(str(i))}" for i in range(n)]
    return (
        f"transform(slice(arrays_zip({shifted}), 1, "
        f"greatest(size({arr}) - {n - 1}, 1)), s -> {body(fields)})"
    )


def _shingles_sql(text_sql: str, n: int) -> str:
    """:func:`shingles` over the SQL expression ``text_sql``."""
    windows = _windows_sql("toks", n, lambda f: f"concat_ws(' ', {', '.join(f)})")
    return _let_sql(_tokens_sql(text_sql), "toks", f"array_distinct({windows})")


def _shingle_hashes_sql(text_sql: str, n: int) -> str:
    """:func:`shingle_hashes` over the SQL expression ``text_sql``."""
    windows = _windows_sql(
        "hs", n, lambda f: "xxhash64(" + ", ".join(f"coalesce({x}, 0)" for x in f) + ")"
    )
    return _let_sql(
        f"transform({_tokens_sql(text_sql)}, t -> xxhash64(t))",
        "hs",
        f"array_distinct({windows})",
    )


def token_count(text: Column) -> Column:
    """Whitespace token count (the cheap, universal proxy for doc length)."""
    return F.size(tokens(text))


#: A BPE-ish sub-word segmentation regex: runs of letters, runs of digits,
#: or single non-space symbols — approximates tokenizer piece counts without
#: shipping a vocab to executors.
_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count via regexp extraction (still JVM-side)."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_ISH), F.lit(0)))


#: Small per-language stopword lists for the n-gram/stopword language
#: heuristic.  Order matters: ties resolve to the earlier language.
LANG_STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to", "is", "in", "that"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est"],
    "de": ["der", "die", "und", "das", "ein", "nicht", "ist", "zu"],
    "es": ["el", "los", "de", "y", "que", "una", "es", "en"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}


def stopword_count(text: Column, stopwords: Iterable[str]) -> Column:
    """Number of tokens that are in the stopword list (JVM higher-order fn)."""
    arr = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(tokens(text), lambda t: F.array_contains(arr, t)))


def lang_id(text: Column, languages: Optional[List[str]] = None) -> Column:
    """Heuristic language ID: the language whose stopword list matches the
    most tokens; ties resolve to the earlier language in ``languages``;
    zero matches everywhere → 'und' (undetermined)."""
    langs = languages or list(LANG_STOPWORDS)
    counts = {lang: stopword_count(text, LANG_STOPWORDS[lang]) for lang in langs}
    best = F.greatest(*counts.values()) if len(counts) > 1 else counts[langs[0]]
    expr = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties: evaluate last → first
        expr = F.when((counts[lang] > 0) & (counts[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def quality_score(text: Column) -> Column:
    """Length/punctuation/stopword quality heuristic in [0, 1].

    score = 0.4·length_band + 0.3·(1 − punct_ratio) + 0.3·stopword_band —
    the standard cheap pre-filters of a training-data pipeline, expressed as
    one codegen-able column expression.
    """
    n_tok = token_count(text).cast("double")
    n_chars = F.length(text).cast("double")
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", "")).cast("double")
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(1.0))
    sw = stopword_count(text, LANG_STOPWORDS["en"]).cast("double")
    sw_ratio = F.when(n_tok > 0, sw / n_tok).otherwise(F.lit(0.0))
    length_band = F.when((n_tok >= 10) & (n_tok <= 1000), F.lit(1.0)).otherwise(
        F.when(n_tok > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    sw_band = F.when((sw_ratio >= 0.01) & (sw_ratio <= 0.6), F.lit(1.0)).otherwise(F.lit(0.5))
    return 0.4 * length_band + 0.3 * (1.0 - punct_ratio) + 0.3 * sw_band


def _let(value: Column, body) -> Column:
    """Expression-level let-binding: evaluate ``value`` ONCE per row and
    reference it cheaply in ``body`` — ``transform(array(v), x -> body(x))[1]``.

    Catalyst has no common-subexpression elimination across higher-order-
    function boundaries, so an expression referenced k times is evaluated k
    times; binding it as a lambda variable makes every reference a
    BoundReference.  (Measured: shingle pipeline 0.8s → 0.3s at sf0.1.)
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def shingles(text_col: str, n: int = 5) -> Column:
    """Word n-gram shingles of the column named ``text_col`` as an array of
    strings (deduplicated).

    Built as ``arrays_zip`` of ``n`` shifted slices of the token array, then
    one ``concat_ws`` per window.  NOT the obvious
    ``transform(sequence(...), i -> array_join(slice(toks, i, n)))``: a
    non-trivial expression captured in a lambda body is re-evaluated per
    element, so the tokenizer split would run once per *token* — quadratic in
    document length (measured seconds per 5k docs).  Here the token array is
    evaluated a constant ~n+2 times per row and every lambda touches only its
    own struct element.  ``concat_ws`` skips nulls, so a shorter-than-n
    doc's single window degrades to "all tokens joined" — the whole-text
    shingle.
    """
    return F.expr(_shingles_sql(ident(text_col), n))


def shingle_hashes(text_col: str, n: int = 5) -> Column:
    """64-bit hashes of word n-gram shingles, without materializing the
    shingle strings: tokens are hashed once, then each window combines its
    n token-hashes with one fixed-width ``xxhash64``.  Collision-safe for
    dedup purposes (64-bit) and several times cheaper than building
    ``n``-gram strings — use wherever only shingle *identity* matters
    (MinHash, Jaccard estimates); use :func:`shingles` when the strings
    themselves are needed.  The null-padded tail of a short doc's single
    window is coalesced to 0 for a deterministic hash.
    """
    return F.expr(_shingle_hashes_sql(ident(text_col), n))


def fingerprint(text_col: str, n: int = 5) -> Column:
    """Document fingerprint: the minimum md5 over word n-gram shingles — a
    deterministic, locality-sensitive-ish content signature (rolling-hash
    family).  Identical (even partially re-ordered) content collides."""
    return F.expr(
        f"array_min(transform({_shingles_sql(ident(text_col), n)}, s -> md5(s)))"
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Split documents into token-window chunks with overlap — the context-
    window packing step of a training pipeline: (id, chunk_idx, chunk_text,
    chunk_n_tokens), one output row per chunk.

    Pure codegen: chunk starts are an integer ``sequence``, each chunk a
    ``slice``+``concat_ws`` over the (once-evaluated) token array; the
    explode fans rows out JVM-side.  n_chunks = 1 + ceil(max(L−chunk,0)/stride),
    stride = chunk − overlap, so every token lands in ≥1 chunk and short
    docs yield exactly one chunk.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap

    def chunks(toks):
        n_tok = F.size(toks)
        n_chunks = F.lit(1) + F.floor(
            (F.greatest(n_tok - chunk_tokens, F.lit(0)) + F.lit(stride - 1)) / F.lit(stride)
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                F.concat_ws(" ", F.slice(toks, i * stride + 1, chunk_tokens)).alias(
                    "chunk_text"
                ),
                F.least(n_tok - i * stride, F.lit(chunk_tokens))
                .cast("long")
                .alias("chunk_n_tokens"),
            ),
        )

    return (
        df.select(F.col(id_col), _let(tokens(F.col(text_col)), chunks).alias("__c"))
        .select(F.col(id_col), F.explode("__c").alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.chunk_n_tokens").alias("chunk_n_tokens"),
        )
    )


def chunk_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """:func:`chunk_documents` minus the chunk text: (id, chunk_idx,
    chunk_n_tokens) with IDENTICAL values for identical parameters — the
    spelling for packing/accounting pipelines that never read
    ``chunk_text``.  Chunk boundaries depend only on the token COUNT, so
    this skips the per-chunk ``slice``+``concat_ws`` entirely (measured
    1.6 s of single-task CPU in the e2e curation chain at sf0.1, all
    spent building text nobody consumed: Catalyst cannot prune a struct
    field out of a ``transform`` lambda).  At 100 TB the difference is a
    full pass over the corpus bytes versus a pass over token counts.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap

    def counts(toks):
        n_tok = F.size(toks)
        n_chunks = F.lit(1) + F.floor(
            (F.greatest(n_tok - chunk_tokens, F.lit(0)) + F.lit(stride - 1)) / F.lit(stride)
        ).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                F.least(n_tok - i * stride, F.lit(chunk_tokens))
                .cast("long")
                .alias("chunk_n_tokens"),
            ),
        )

    return (
        df.select(F.col(id_col), _let(tokens(F.col(text_col)), counts).alias("__c"))
        .select(F.col(id_col), F.explode("__c").alias("c"))
        .select(
            id_col,
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_n_tokens").alias("chunk_n_tokens"),
        )
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 90,
    buckets: int = 100,
) -> DataFrame:
    """Deterministic train/val split: bucket = md5-hash(id) mod ``buckets``;
    rows below ``train_pct`` are 'train'.  Content-stable (re-runs and
    engine changes never reshuffle the split — the property a training
    pipeline needs for reproducible eval sets); no shuffle, no RNG."""
    from pdtable_spark.operators.dedup import md5_60

    bucket = md5_60(F.col(id_col).cast("string")) % F.lit(buckets)
    return df.withColumn("split_bucket", bucket.cast("int")).withColumn(
        "split",
        F.when(F.col("split_bucket") < train_pct, F.lit("train")).otherwise(F.lit("val")),
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    round_digits: int | None = None,
    df_mode: str = "aggregate",
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms: (id, term, tf, df, score, rank).

    score = tf · ln(N / df) with ties broken by term (total order → stable
    top-k).  Plan shape: ONE explode + (id, term) partial-count shuffle
    builds the postings (the corpus is tokenized exactly once); document
    frequency over those postings (one row per (doc, term) means
    rows-per-term IS count-distinct-docs) has two spellings, selected by
    ``df_mode``:

    - ``"aggregate"`` (the DEFAULT — skew-safe at any corpus size):
      ``groupBy(term).count()`` + join back.  The count partially
      aggregates map-side (each task emits one row per local term, so the
      df shuffle is vocabulary-sized regardless of skew) and AQE
      broadcasts the vocabulary side of the join when it is small.  The
      100-TB spelling: no single task ever buffers a hot term.
    - ``"window"`` (opt-in small-corpus fast path): a term-partitioned
      window count — no postings⋈vocabulary join at all (measured 2× over
      the join spelling at bench scale).  BUT ``WindowExec`` buffers each
      term's postings in ONE task with no map-side partial aggregation,
      so a stopword term ("the", ~every doc) becomes a single straggler
      task holding ~n_docs rows.  Only right for corpora whose hottest
      term's postings fit one task comfortably — i.e. up to tens of
      millions of documents; that caller opts in knowingly.

    The final per-doc rank is one window over the id key (per-doc row
    counts are bounded by document length — no skew analog there).

    ``round_digits`` is the cross-engine verification mode: JVM ``Math.log``
    and libm ``log`` may differ in the last ulp, so for value-oracle
    comparison the score is rounded (and RANKED) at a fixed decimal
    precision on both engines; production keeps the raw double (None).
    """
    from pyspark.sql import Window

    if df_mode not in ("window", "aggregate"):
        raise ValueError(f"df_mode must be 'window' or 'aggregate', got {df_mode!r}")
    toks = fanout_small_scan(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    if df_mode == "window":
        with_df = tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("term")))
    else:
        term_df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        with_df = tf.join(term_df, "term")
    scored = with_df.join(F.broadcast(n_docs)).withColumn(
        "score",
        F.col("tf").cast("double")
        * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
    )
    if round_digits is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_digits))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def ngram_doc_freq(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 50,
) -> DataFrame:
    """Corpus-level n-gram document frequency: the ``top`` n-grams by number
    of documents containing them (ties → lexicographic).  Shingles are
    per-doc deduplicated (array_distinct inside :func:`shingles`), so a plain
    COUNT after the explode IS the document frequency.  One explode + one
    count shuffle + TakeOrdered top-k — no joins, no full sort."""
    return (
        fanout_small_scan(df)
        .select(F.explode(shingles(text_col, n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("ngram"))
        .limit(top)
    )


def pack_budget(
    df: DataFrame,
    capacity: int,
    n_tokens_col: str = "chunk_n_tokens",
    order_cols: tuple = ("doc_id", "chunk_idx"),
    partition_cols: tuple = (),
    num_partitions: int = None,
    bounds: tuple = None,
) -> DataFrame:
    """Token-budget sharding: assign each row a ``pack_id`` so consecutive
    rows (in ``order_cols`` order) accumulate ~``capacity`` tokens per pack —
    the contiguous approximation of sequence packing used to shard a corpus
    into trainer work units.  pack_id = floor((running_total − n) / capacity):
    a row starts the pack its *preceding* tokens fill up to, so packs can
    overhang by at most one row (never split a row).

    Scale: with ``partition_cols`` (date, source bucket — the production
    spelling) the cumulative sum is an ordinary partitioned window and
    ``pack_id`` restarts per shard.  Without them the TOTAL order is honored
    via a two-phase cumsum — an unpartitioned ``Window.orderBy`` would move
    every row to ONE task:

    1. bucket each row by a MONOTONE value-range split of the leading
       order column (``_pid`` — deterministic per row, so bucket
       membership never depends on execution), using its [min, max]
       ``bounds`` (one column-pruned pass when not passed by the caller);
    2. per-bucket running sums in parallel, plus per-bucket totals
       (#buckets rows — driver-trivial) prefix-summed into offsets that
       broadcast-join back on the bucket id.

    Any monotone bucketing yields IDENTICAL pack ids (the running total
    is a pure function of the global order), so ``bounds`` may be any
    superset range — e.g. the raw table's id domain — and skewed or even
    wrong bounds only cost balance, never correctness (out-of-range
    values clamp to the edge buckets, which is still monotone).  Equal
    leading keys land in one bucket, so phase boundaries never split
    ties.  r14 used a sampled range exchange pinned by an eager
    ``localCheckpoint``; the explicit bucket replaces both the range
    sampler's extra pass over the input and the checkpoint
    materialization (r15, guide §2.4/§5 — the value split needs no
    sampling job and the deterministic ``_pid`` needs no pinning), and
    both downstream phases read the ONE ``_pid`` exchange (reused
    stage).  The leading order column must be numeric for this path;
    non-numeric leading keys keep the r14 sampled-range + checkpoint
    spelling.
    """
    from pyspark.sql import Window

    order = [F.asc(c) for c in order_cols]

    def _frame(w):
        return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    if partition_cols:
        running = F.sum(F.col(n_tokens_col)).over(
            _frame(Window.partitionBy(*partition_cols).orderBy(*order))
        )
        return df.withColumn(
            "pack_id",
            F.floor((running - F.col(n_tokens_col)) / F.lit(capacity)).cast("long"),
        )

    from pyspark.sql.types import IntegralType

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    c0 = order_cols[0]
    if isinstance(df.schema[c0].dataType, IntegralType):
        if bounds is None:
            row = df.agg(F.min(c0).alias("lo"), F.max(c0).alias("hi")).collect()[0]
            bounds = (row["lo"], row["hi"])
        lo, hi = bounds
        # ~32 distinct bucket values per shuffle partition so the hash
        # spreads evenly (guide §2.5 synthetic-key note); the offsets
        # frame stays driver-trivial (n_buckets rows)
        n_buckets = 32 * max(1, int(n))
        if lo is None or hi is None:
            pid = F.lit(0)
        else:
            # long → double is order-preserving and every IEEE op here is
            # monotone, so bucket ids never invert the global order even
            # past 2^53; integral-only gate means no NaN can enter
            frac = (F.col(c0).cast("double") - F.lit(float(lo))) / F.lit(
                float(hi) - float(lo) + 1.0
            )
            pid = F.least(
                F.lit(n_buckets - 1),
                F.greatest(F.lit(0), F.floor(frac * n_buckets).cast("int")),
            )
        # NULL keys sort first under asc → they get their own leading
        # bucket (a NULL pid would silently drop the row in the offsets
        # equi-join)
        keyed = df.withColumn(
            "_pid", F.when(F.col(c0).isNull(), F.lit(-1)).otherwise(pid)
        )
    else:
        # non-numeric leading key: sampled range split + checkpoint pin
        # (spark_partition_id is execution-dependent, so the two phases
        # must read ONE materialization of the sampled boundaries)
        keyed = (
            df.repartitionByRange(n, *order)
            .withColumn("_pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
    local = keyed.withColumn(
        "_run_local",
        F.sum(F.col(n_tokens_col)).over(_frame(Window.partitionBy("_pid").orderBy(*order))),
    )
    # per-bucket totals → exclusive prefix offsets: one row per bucket,
    # so the unpartitioned window here is over #buckets rows, not the
    # data.  Derived from ``local`` (not ``keyed``) so column pruning
    # leaves both phases reading the SAME _pid exchange — one upstream
    # compute, whether by ReuseExchange or AQE's stage cache.
    w_prefix = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(F.col(n_tokens_col)).alias("_pid_total"))
        .withColumn("_offset", F.coalesce(F.sum("_pid_total").over(w_prefix), F.lit(0)))
        .select("_pid", "_offset")
    )
    running = F.col("_run_local") + F.col("_offset")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(
            "pack_id",
            F.floor((running - F.col(n_tokens_col)) / F.lit(capacity)).cast("long"),
        )
        .drop("_pid", "_run_local", "_offset")
    )


def length_bucket(n_tokens: Column) -> Column:
    """Log2 length bucket: floor(log2(n_tokens + 1)).

    The batching key for padding-efficient training: rows batched within a
    bucket waste <50% pad tokens worst-case (bucket widths double).  A pure
    column expression — unlike quantile bucketing (ntile) it needs no
    global sort or state, so it composes with any partitioning at any
    scale, and bucket identity is stable as the corpus grows (quantile
    boundaries drift with every ingest; log boundaries never move).
    """
    return F.floor(F.log2(n_tokens.cast("double") + F.lit(1.0))).cast("int")


def length_bucket_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-bucket batching profile: (len_bucket, n_docs, total_tokens,
    min/max tokens) — the shard-planning summary a trainer reads to size
    per-bucket batch counts.  One keyed aggregate (tiny output: ~log2(max
    doc length) rows)."""
    t = F.col(text_col)
    return (
        df.select(F.col(id_col), token_count(t).alias("n_tokens"))
        .withColumn("len_bucket", length_bucket(F.col("n_tokens")))
        .groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
    )


def classifier_score(
    df: DataFrame,
    weights,
    bias: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    prob_col: str = "clf_prob",
) -> DataFrame:
    """Model-based quality filtering: a bag-of-words linear classifier
    (the fastText-style supervised filter used by public curation pipelines
    such as CCNet / LLaMA data prep) applied at corpus scale.

    ``score = bias + Σ_token weight[lower(token)]`` (every occurrence
    counts), ``prob = sigmoid(score)``.  Output: the input rows plus
    ``clf_score`` and ``prob_col`` columns.

    Two execution paths, chosen by the type of ``weights``:

    - ``dict[str, float]`` — the vocabulary travels as a **map literal**
      and the score is one per-row ``aggregate()`` fold over the token
      array: zero shuffle, zero join, whole-stage codegen end to end.  At
      100 TB this is a pure scan+project — the ideal shape.  Right for
      vocabularies up to ~10k terms (the literal lives in the plan).
    - ``DataFrame(term, weight)`` — explode tokens, **broadcast**-join the
      weight table, re-aggregate per document (map-side partial sum), join
      scores back.  Two shuffles, but the vocabulary can be arbitrarily
      large-ish (broadcast-bounded); use when the model doesn't fit a plan
      literal.

    Determinism note: the dict path folds weights in document token order;
    the DataFrame path sums in shuffle order.  With weights chosen as
    multiples of 2⁻ⁿ (binary fractions) both sums are exact and the two
    paths agree bit-for-bit — the convention the test suite pins.
    """
    score_name = "clf_score"
    toks = tokens(F.lower(F.col(text_col)))
    if isinstance(weights, dict):
        if not weights:
            scored = df.withColumn(score_name, F.lit(float(bias)))
        else:
            pairs = []
            for term, w in weights.items():
                pairs.extend([F.lit(term), F.lit(float(w))])
            wmap = F.create_map(*pairs)
            scored = df.withColumn(
                score_name,
                F.aggregate(
                    toks,
                    F.lit(float(bias)),
                    lambda acc, t: acc + F.coalesce(wmap[t], F.lit(0.0)),
                ),
            )
    else:
        exploded = df.select(F.col(id_col), F.explode(toks).alias("__term"))
        matched = exploded.join(
            F.broadcast(weights.select(F.col("term").alias("__term"), "weight")),
            "__term",
        )
        sums = matched.groupBy(id_col).agg(F.sum("weight").alias("__wsum"))
        scored = df.join(sums, id_col, "left").withColumn(
            score_name, F.lit(float(bias)) + F.coalesce(F.col("__wsum"), F.lit(0.0))
        ).drop("__wsum")
    return scored.withColumn(
        prob_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col(score_name)))
    )


def train_quality_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    vocab_size: int = 1 << 14,
    reg: float = 0.0,
    max_iter: int = 50,
    min_df: float = 1.0,
    as_dict: bool = False,
):
    """Train the linear quality filter distributed (pyspark.ml logistic
    regression over bag-of-words counts) and return ``(weights, bias)``
    where ``weights`` is a ``(term, weight)`` DataFrame ready for
    :func:`classifier_score`'s broadcast-join path — or, with
    ``as_dict=True``, the ``dict[str, float]`` (zero coefficients
    dropped) that feeds the zero-shuffle map-literal path directly.
    The objective — ``intercept + Σ count·weight`` over the SAME
    :func:`tokens`/lowercase convention — is exactly the serving score,
    so train and serve cannot diverge in formulation.

    The vocabulary (CountVectorizer, most-frequent ``vocab_size`` terms
    at document frequency ≥ ``min_df``) and the coefficient vector are
    the bounded driver-side model artifact — vocab_size floats, KBs to
    low MBs, the same contract as IVF centroids.  Fitting itself is
    distributed: LBFGS gradient aggregation over executor partitions,
    so the labeled corpus never collects — and accumulates float
    gradients in partition order, so re-training on a different layout
    can move weights in the last ulps: train ONCE, persist the frozen
    artifact (the BPE/centroid discipline; the value-oracled classifier
    queries run fixed published weights for exactly this reason).

    This is the training half of the public curation recipe (CCNet /
    LLaMA-style "quality classifier trained on reference text"): label a
    sample (reference corpus = 1, raw crawl = 0), train here, then score
    the full 100 TB corpus with :func:`classifier_score` — training
    touches only the labeled sample; inference is a scan.  Rows with
    NULL text or NULL label are rejected loudly — silently dropping
    labeled examples skews the classes.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import CountVectorizer

    bad = df.filter(
        F.col(text_col).isNull() | F.col(label_col).isNull()
    ).limit(1).count()
    if bad:
        raise ValueError(
            "train_quality_classifier: NULL text or label in the training "
            "set — clean or relabel before training"
        )
    toks = df.select(
        F.col(label_col).cast("double").alias("label"),
        tokens(F.lower(F.col(text_col))).alias("toks"),
    )
    cv = CountVectorizer(
        inputCol="toks", outputCol="features",
        vocabSize=vocab_size, minDF=float(min_df),
    )
    cvm = cv.fit(toks)
    lr = LogisticRegression(
        featuresCol="features", labelCol="label", regParam=reg, maxIter=max_iter
    )
    lrm = lr.fit(cvm.transform(toks))
    coefs = lrm.coefficients.toArray().tolist()
    if as_dict:
        weights_d = {
            term: float(c)
            for term, c in zip(cvm.vocabulary, coefs)
            if float(c) != 0.0
        }
        return weights_d, float(lrm.intercept)
    weights = local_frame(
        df.sparkSession,
        T.StructType().add("term", T.StringType()).add("weight", T.DoubleType()),
        [cvm.vocabulary, [float(c) for c in coefs]],
    )
    return weights, float(lrm.intercept)


def freeze_classifier(weights, bias: float, quantum_bits: int = 6, top_k=None):
    """Turn a :func:`train_quality_classifier` result into the PUBLISHED
    frozen artifact the value-oracled serving queries run: weights
    rounded to multiples of ``2^-quantum_bits`` (binary fractions, so a
    document's weight sum is exact in double regardless of addition
    order — the dict fold, the broadcast-join SUM and a SQL oracle's
    unordered SUM all agree bit-for-bit), optionally truncated to the
    ``top_k`` terms by |weight| (deterministic: ties break on the term),
    zero-quantized terms dropped.  Returns ``(dict, bias)`` ready for
    :func:`classifier_score`'s zero-shuffle map-literal path.

    This is the freeze step of the train-once discipline the trainer's
    docstring mandates: LBFGS accumulates float gradients in partition
    order, so re-training on a different layout moves raw weights in the
    last ulps — the frozen artifact is what gets published, versioned and
    served, and the quantum (default 2^-6 ≈ 0.016, well above last-ulp
    noise) is what makes "same model" a checkable claim."""
    if isinstance(weights, dict):
        items = list(weights.items())
    else:
        items = [(r["term"], float(r["weight"])) for r in weights.collect()]
    q = 1 << int(quantum_bits)
    if top_k is not None:
        items = sorted(items, key=lambda kv: (-abs(kv[1]), kv[0]))[: int(top_k)]
    frozen = {}
    for term, w in items:
        qw = round(float(w) * q)
        if qw:
            frozen[term] = qw / q
    return frozen, round(float(bias) * q) / q


def ngram_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    word n-grams whose FIRST corpus occurrence (min doc-id owner) is this
    document — near-1 documents contribute fresh text, near-0 documents
    restate the corpus (boilerplate, templated spam, quotations).  A
    standard curation signal between exact dedup (too strict) and
    similarity dedup (pairwise cost).

    Returns (id, n_ngrams, n_novel, novelty) for documents with at least
    ``n`` words; set semantics within a document (repeats count once).

    100 TB design: n-grams shuffle as 16-byte digests (never the gram
    text); the owner choice is one map-side-combinable ``min`` aggregate;
    the join back is digest-keyed; per-document rollup is one more keyed
    aggregate.  Nothing is pairwise and no stage holds a document's full
    gram set in one row.  The plan deliberately scans the corpus TWICE
    (Catalyst collapses the duplicate-insensitive ``min`` past the
    distinct, so the owner branch partial-combines raw grams map-side):
    re-tokenizing costs one scan-parallel pass, while forcing single-scan
    exchange reuse would push the owner branch through the full
    (doc, gram) exchange — more shuffle bytes, the thing that does NOT
    survive 100× (same trade the minhash verify measured, BENCH_NOTES).
    """
    words = df.select(F.col(id_col), tokens(F.col(text_col)).alias("ws"))
    grams = (
        words.filter(F.size("ws") >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ws") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(F.col("ws"), i, n)),
                )
            ).alias("ng"),
        )
        .select(F.col(id_col), F.md5(F.col("ng")).alias("g"))
        .distinct()
    )
    owners = grams.groupBy("g").agg(F.min(id_col).alias("__owner"))
    return (
        grams.join(owners, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(
                F.when(F.col("__owner") == F.col(id_col), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_ngrams").cast("double")).alias(
                "novelty"
            ),
        )
    )


_GOPHER_STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "that", "for"]


#: Line-level rule regexes (anchored, so partial-match semantics — Spark
#: ``rlike`` and DuckDB ``regexp_matches`` — agree by construction).
_GOPHER_BULLET_RE = r"^\s*[-*•](\s|$)"
_GOPHER_ELLIPSIS_RE = r"(\.\.\.|…)\s*$"


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 2,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    max_dup_line_frac: float = 0.3,
) -> DataFrame:
    """Gopher document quality rules (Rae et al., arXiv:2112.11446 §A1.1):
    word-count bounds, mean-word-length bounds, fraction of words
    containing an alphabetic character, minimum stopword hits,
    symbol-to-word ratio (hash / ellipsis), fraction of lines starting
    with a bullet or ending with an ellipsis, and duplicate-line fraction
    — the full rule-based pre-filter that runs before any model-based
    scoring.

    Returns (id, n_words, mean_word_len, alpha_ratio, n_stopwords,
    symbol_word_ratio, bullet_line_frac, ellipsis_line_frac,
    dup_line_frac, pass_* flags, pass_all) with the flags as 0/1 ints.

    Metric definitions (each the paper's rule spelled as one engine-exact
    expression):

    - ``symbol_word_ratio`` = max(#'#', #'...' + #'…') / n_words — the
      paper rejects when EITHER symbol's ratio exceeds 0.1, which is
      exactly max(ratios) > 0.1.  Occurrence counts come from
      length-difference over literal ``replace`` (left-to-right,
      non-overlapping — identical in every engine).
    - ``bullet_line_frac`` / ``ellipsis_line_frac``: fraction of
      newline-split lines matching the anchored regexes above, over ALL
      lines.
    - ``dup_line_frac``: over non-empty lines normalized as
      ``lower(trim(line))`` (composing the same normalization idea as
      :func:`normalize_text`), the fraction that are repeats of an
      earlier line: (n − n_distinct) / n; 0.0 for documents with no
      non-empty lines.

    All pure column expressions over one scan — zero shuffles, zero
    Python; at 100 TB the failing rows die inside the scan's codegen
    stage when this feeds a filter.
    """
    m = _gopher_metrics_sql(ident(text_col))
    # one selectExpr = one py4j call + one JVM parse for all the metrics
    out = df.selectExpr(
        ident(id_col),
        *[f"{m[key]} AS {name}" for key, name in _GOPHER_METRIC_NAMES.items()],
    )
    flags = _gopher_conds(
        _GOPHER_METRIC_NAMES,
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        min_alpha_ratio, min_stopwords, max_symbol_word_ratio,
        max_bullet_line_frac, max_ellipsis_line_frac, max_dup_line_frac,
    )
    return out.selectExpr(
        "*",
        *[f"CAST({cond} AS INT) AS {name}" for name, cond in flags.items()],
        "CAST((" + " AND ".join(flags.values()) + ") AS INT) AS pass_all",
    )


def gopher_pass_all(
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_ratio: float = 0.8,
    min_stopwords: int = 2,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    max_dup_line_frac: float = 0.3,
):
    """The :func:`gopher_quality_flags` ``pass_all`` rule as ONE inline
    predicate Column over ``text_col`` — for pipelines that only need the
    surviving rows.  ``df.filter(gopher_pass_all(...))`` keeps exactly the
    rows whose ``pass_all`` flag the operator would set (identical metric
    expressions, identical comparisons), but in a single scan with no
    flags-frame join — the shape that lets the gate run inside the scan's
    codegen stage at 100 TB instead of paying a second corpus pass plus a
    doc_id shuffle/join.
    """
    conds = _gopher_conds(
        _gopher_metrics_sql(ident(text_col)),
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        min_alpha_ratio, min_stopwords, max_symbol_word_ratio,
        max_bullet_line_frac, max_ellipsis_line_frac, max_dup_line_frac,
    )
    # one JVM-side parse of the whole predicate
    return F.expr("(" + " AND ".join(conds.values()) + ")")


#: Metric key of :func:`_gopher_metrics_sql` → output column of
#: :func:`gopher_quality_flags`.
_GOPHER_METRIC_NAMES = {
    "n_words": "n_words",
    "mean_len": "mean_word_len",
    "alpha_ratio": "alpha_ratio",
    "n_stop": "n_stopwords",
    "symbol_ratio": "symbol_word_ratio",
    "bullet_frac": "bullet_line_frac",
    "ellipsis_frac": "ellipsis_line_frac",
    "dup_frac": "dup_line_frac",
}


def _gopher_conds(
    m: dict,
    min_words, max_words, min_mean_word_len, max_mean_word_len,
    min_alpha_ratio, min_stopwords, max_symbol_word_ratio,
    max_bullet_line_frac, max_ellipsis_line_frac, max_dup_line_frac,
) -> dict:
    """``pass_*`` flag name → SQL predicate over the metric expressions
    ``m`` (keyed as :func:`_gopher_metrics_sql`).  Count thresholds stay
    integral, ratio thresholds compare as doubles."""
    return {
        "pass_word_count": (
            f"({m['n_words']} >= {num(min_words)} AND "
            f"{m['n_words']} <= {num(max_words)})"
        ),
        "pass_mean_word_len": (
            f"({m['mean_len']} >= {num(float(min_mean_word_len))} AND "
            f"{m['mean_len']} <= {num(float(max_mean_word_len))})"
        ),
        "pass_alpha_ratio": f"({m['alpha_ratio']} >= {num(float(min_alpha_ratio))})",
        "pass_stopwords": f"({m['n_stop']} >= {num(min_stopwords)})",
        "pass_symbol_ratio": (
            f"({m['symbol_ratio']} <= {num(float(max_symbol_word_ratio))})"
        ),
        "pass_bullet_lines": (
            f"({m['bullet_frac']} <= {num(float(max_bullet_line_frac))})"
        ),
        "pass_ellipsis_lines": (
            f"({m['ellipsis_frac']} <= {num(float(max_ellipsis_line_frac))})"
        ),
        "pass_dup_lines": f"({m['dup_frac']} <= {num(float(max_dup_line_frac))})",
    }


def _gopher_metrics_sql(txt_sql: str) -> dict:
    """The eight Gopher quality metrics as SQL text over the expression
    ``txt_sql`` — the one construction site of :func:`gopher_quality_flags`
    (metrics + flags frame) and :func:`gopher_pass_all` (inline filter
    predicate), so the two cannot drift."""
    ws = _tokens_sql(txt_sql)
    n_words = f"CAST(size({ws}) AS BIGINT)"
    n_chars = f"length(regexp_replace({txt_sql}, '\\\\s+', ''))"
    mean_len = f"(CAST({n_chars} AS DOUBLE) / CAST({n_words} AS DOUBLE))"
    alpha = f"CAST(size(filter({ws}, w -> w rlike '[a-zA-Z]')) AS BIGINT)"
    alpha_ratio = f"(CAST({alpha} AS DOUBLE) / CAST({n_words} AS DOUBLE))"
    stop_arr = "array(" + ", ".join(str_lit(s) for s in _GOPHER_STOPWORDS) + ")"
    n_stop = (
        f"CAST(size(filter({ws}, w -> array_contains({stop_arr}, lower(w)))) "
        "AS BIGINT)"
    )
    n_hash = (
        f"CAST((length({txt_sql}) - length(replace({txt_sql}, '#', ''))) "
        "AS BIGINT)"
    )
    n_ellipsis = (
        f"(CAST(((length({txt_sql}) - length(replace({txt_sql}, '...', ''))) / 3) "
        f"AS BIGINT) + (length({txt_sql}) - length(replace({txt_sql}, '…', ''))))"
    )
    symbol_ratio = (
        f"(CAST(greatest({n_hash}, {n_ellipsis}) AS DOUBLE) / "
        f"CAST({n_words} AS DOUBLE))"
    )
    lines = f"split({txt_sql}, '\\\\n')"
    n_lines = f"CAST(size({lines}) AS BIGINT)"
    bullet = str_lit(_GOPHER_BULLET_RE)
    ellipsis = str_lit(_GOPHER_ELLIPSIS_RE)
    bullet_frac = (
        f"(CAST(size(filter({lines}, l -> l rlike {bullet})) AS DOUBLE) / "
        f"CAST({n_lines} AS DOUBLE))"
    )
    ellipsis_frac = (
        f"(CAST(size(filter({lines}, l -> l rlike {ellipsis})) AS DOUBLE) / "
        f"CAST({n_lines} AS DOUBLE))"
    )
    norm_lines = (
        f"transform(filter({lines}, l -> trim(l) != ''), l -> lower(trim(l)))"
    )
    n_nl = f"size({norm_lines})"
    dup_frac = (
        f"(CASE WHEN {n_nl} > 0 THEN "
        f"CAST(({n_nl} - size(array_distinct({norm_lines}))) AS DOUBLE) / "
        f"CAST({n_nl} AS DOUBLE) ELSE 0.0D END)"
    )
    return {
        "n_words": n_words,
        "mean_len": mean_len,
        "alpha_ratio": alpha_ratio,
        "n_stop": n_stop,
        "symbol_ratio": symbol_ratio,
        "bullet_frac": bullet_frac,
        "ellipsis_frac": ellipsis_frac,
        "dup_frac": dup_frac,
    }


def _blocklist_hits(txt, terms: List[str]):
    """The distinct lowercased blocked terms present (whole-token,
    case-insensitive) in ``txt``, as a sorted array column — the shared
    core of :func:`blocklist_filter` and the fused gate in
    :func:`curate_recipe`, so the two spellings cannot drift apart."""
    # lowercase BEFORE dedup/sort: case-variant duplicates must collapse to
    # one term (else they double-count) and the sort must be over the
    # lowercased forms for "lexicographically first hit" to hold
    arr = F.array(*[F.lit(t) for t in sorted({t.lower() for t in terms})])
    toks_lower = F.transform(tokens(txt), F.lower)
    # filter the (sorted, distinct) list against the token set — hit order
    # is the list's own sorted order, deterministic on any engine
    return F.filter(arr, lambda t: F.array_contains(toks_lower, t))


def blocklist_filter(
    df: DataFrame,
    terms: List[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hits: int = 0,
) -> DataFrame:
    """Term-blocklist screening — C4's "bad words" rule (and every
    compliance takedown list) as a first-class operator: count how many
    DISTINCT blocked terms a document's token set contains and flag docs
    exceeding ``max_hits``.

    Matching is whole-token, case-insensitive (multi-word terms match as
    token subsequences would be a substring check — keep blocklists to
    single tokens here; phrase rules belong in :func:`c4_quality`-style
    contains flags).  Returns (id, n_blocked_terms, blocked_sample — the
    lexicographically first hit for auditability, pass_blocklist).

    Scale: the list ships as an array literal inside the codegen stage
    (the classifier-map-literal trick, fine to ~thousands of terms; past
    that, broadcast-join a terms frame against exploded tokens instead) —
    zero shuffles, zero Python.
    """
    hits = _blocklist_hits(F.col(text_col), terms)
    n_hits = F.size(hits).cast("long")
    return df.select(
        F.col(id_col),
        n_hits.alias("n_blocked_terms"),
        F.when(n_hits > 0, F.element_at(hits, 1)).alias("blocked_sample"),
        (n_hits <= max_hits).cast("int").alias("pass_blocklist"),
    )


#: C4 line-keep rule: the (trimmed) line ends in terminal punctuation.
#: The optional trailing \r makes CRLF corpora behave identically in Java
#: regex (where bare $ would also match BEFORE a final \r — a line
#: terminator to java.util.regex) and RE2-style engines (where $ is
#: end-of-string only): with \r? consumed explicitly, both engines agree.
_C4_TERMINAL_RE = r"[.!?\"]\r?$"


def c4_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_sentences: int = 3,
    passthrough: Optional[Iterable[str]] = None,
) -> DataFrame:
    """C4's rule-based page cleaning (Raffel et al. arXiv:1910.10683
    §2.2), the other canonical web-corpus filter beside Gopher: KEEP only
    lines that end in terminal punctuation and contain at least
    ``min_line_words`` words; DROP pages with fewer than
    ``min_sentences`` sentences, any curly brace (code), or the phrase
    "lorem ipsum" (placeholder boilerplate).  (C4's remaining steps —
    three-sentence-span dedup and the bad-words list — live in
    ``dedup.span_dedup`` / ``normalized_dedup`` and a caller-supplied
    term filter respectively.)

    Returns (id, clean_text — the kept lines rejoined with newlines,
    n_lines, n_kept_lines, n_sentences — terminal-punctuation marks in
    the kept text, has_lorem, has_brace as 0/1, pass_c4).
    ``passthrough`` names input columns carried into the output verbatim
    (a downstream consumer keeps its source/partition columns without an
    id-keyed self-join back to the input — one scan instead of two).

    Pure column expressions over one scan — zero shuffles, zero Python;
    the transform composes with :func:`gopher_quality_flags` (C4 cleans
    lines, Gopher then judges the cleaned page).
    """
    txt = F.col(text_col)
    lines = F.split(txt, "\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike(_C4_TERMINAL_RE)
        & (F.size(F.split(F.trim(l), r"\s+")) >= min_line_words),
    )
    clean = F.array_join(kept, "\n")
    n_sent = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"), F.lit(0))).cast("long")
    has_lorem = F.contains(F.lower(txt), F.lit("lorem ipsum"))
    has_brace = F.contains(txt, F.lit("{"))
    extra = [F.col(c) for c in (passthrough or [])]
    out = fanout_small_scan(df).select(
        F.col(id_col),
        *extra,
        clean.alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sent.alias("n_sentences"),
        has_lorem.cast("int").alias("has_lorem"),
        has_brace.cast("int").alias("has_brace"),
    )
    return out.select(
        "*",
        (
            (F.col("n_sentences") >= min_sentences)
            & (F.col("has_lorem") == 0)
            & (F.col("has_brace") == 0)
        )
        .cast("int")
        .alias("pass_c4"),
    )


def curate_recipe(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: Optional[Iterable[str]] = None,
    min_line_words: int = 5,
    min_sentences: int = 3,
    min_words: int = 50,
    min_stopwords: int = 2,
    blocklist: Optional[Iterable[str]] = None,
) -> DataFrame:
    """The modern rule-based curation recipe as ONE operator: C4 line
    cleaning (:func:`c4_quality`) → the full Gopher rule set over the
    CLEANED text (:func:`gopher_quality_flags`) → optional term blocklist
    (:func:`blocklist_filter`).  Returns the surviving documents as
    (id, *passthrough, n_kept_lines, clean_text).

    This is the batch core the `pipeline_modern_recipe` suite query (and
    any user pipeline) calls; run exact/near dedup over the survivors'
    ``clean_text`` next (:mod:`~pdtable_spark.operators.dedup`), then
    sample/mix (:mod:`~pdtable_spark.operators.sampling`).

    Plan shape: every stage is scan-local column expressions; the
    composition pays ONE id-keyed semi join (broadcast-sized once the
    gates have run) regardless of whether a blocklist is set — the
    blocklist is a fused filter on the same gate frame the Gopher rules
    read, not a second gate branch (which would re-derive the cleaned
    projection and re-scan the corpus once more per gate).  Persist the
    cleaned frame when even the two remaining scans matter at full
    corpus scale.
    """
    passthrough = list(passthrough or [])  # materialize: iterated twice below
    c4 = c4_quality(
        df,
        text_col=text_col,
        id_col=id_col,
        min_line_words=min_line_words,
        min_sentences=min_sentences,
        passthrough=passthrough,
    )
    clean = c4.filter(F.col("pass_c4") == 1).select(
        F.col(id_col),
        *[F.col(c) for c in passthrough],
        "n_kept_lines",
        F.col("clean_text"),
    )
    # r14 opt: both gates are per-row predicates over the SAME cleaned
    # text, so they apply as ONE inline filter on the cleaned frame
    # (identical metric expressions via :func:`gopher_pass_all`) — the
    # previous flags-frame semi join re-derived the cleaned projection a
    # second time and paid an id-keyed join for rows a filter decides
    # locally.  Same survivors, one corpus scan, zero joins.
    gate_pred = gopher_pass_all(
        text_col="clean_text", min_words=min_words, min_stopwords=min_stopwords
    )
    if blocklist:
        # cheap array test first; Catalyst collapses both into the scan
        gate_pred = (
            F.size(_blocklist_hits(F.col("clean_text"), list(blocklist))) <= 0
        ) & gate_pred
    return clean.filter(gate_pred)


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 2,
    dup_n: int = 5,
    max_top_ngram_char_frac: float = 0.20,
    max_dup_ngram_char_frac: float = 0.15,
) -> DataFrame:
    """Gopher's word-level repetition rules (Rae et al. arXiv:2112.11446
    §A1.1, "repetitious text"): the fraction of characters contained in
    the most frequent ``top_n``-gram, and the fraction of characters
    covered by ``dup_n``-grams that occur more than once — the signals
    that catch boilerplate and keyword-stuffed spam that the
    whole-document ratios miss.

    Returns (id, n_words, n_word_chars, top_ngram, top_ngram_count,
    top_ngram_char_frac, dup_ngram_char_frac, pass_top_ngram,
    pass_dup_ngram) — thresholds default to the paper's 2-gram (0.20) and
    5-gram (0.15) rows; instantiate once per (top_n, dup_n) pair to get
    the full battery.

    Character accounting: fractions are over WORD characters (separators
    excluded — whitespace is already normalized away by tokenization), and
    duplicate-gram coverage is overlap-AWARE, the paper's "taking care not
    to count characters that occur in overlapping n-grams more than once":
    a token position counts once iff ANY duplicate gram covers it, spelled
    as a bounded ROWS window (max of dup-start flags over the trailing
    ``dup_n-1`` positions) rather than interval arithmetic.

    Scale: one tokenize+posexplode scan; every shuffle is keyed by doc id
    (or (doc id, gram) — cardinality bounded by document length), so skew
    is bounded by the longest document, not the corpus.  No Python.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "word")
    )
    wdoc = Window.partitionBy(id_col).orderBy("pos")

    def gram_col(n: int):
        parts = [F.col("word")] + [F.lead("word", i).over(wdoc) for i in range(1, n)]
        last = parts[-1] if n > 1 else F.col("word")
        return F.when(last.isNotNull(), F.concat_ws(" ", *parts))

    g = toks.select(
        F.col(id_col), "pos", "word",
        gram_col(top_n).alias("gram_top"),
        gram_col(dup_n).alias("gram_dup"),
    )
    cnt_dup = F.count(F.lit(1)).over(Window.partitionBy(id_col, "gram_dup"))
    g = g.withColumn(
        "dup_start",
        (F.col("gram_dup").isNotNull() & (cnt_dup >= 2)).cast("int"),
    )
    covered = F.max("dup_start").over(wdoc.rowsBetween(-(dup_n - 1), 0))
    per_doc = (
        g.withColumn("covered", covered)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("word")).alias("n_word_chars"),
            F.sum(F.length("word") * F.col("covered")).alias("dup_chars"),
        )
    )
    top = (
        g.filter(F.col("gram_top").isNotNull())
        .groupBy(id_col, "gram_top")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("gram_top").alias("g"))).alias("b"))
        .select(
            F.col(id_col),
            F.col("b.g").alias("top_ngram"),
            (-F.col("b.nc")).alias("top_ngram_count"),
        )
    )
    out = per_doc.join(top, id_col, "left")
    # n_word_chars = 0 (empty / all-empty-token documents) would 0/0 both
    # ratios to NULL — define them as 0.0 (nothing is repeated in nothing)
    top_frac = F.when(
        F.col("n_word_chars") > 0,
        F.col("top_ngram_count").cast("double")
        * F.length(F.regexp_replace(F.col("top_ngram"), " ", "")).cast("double")
        / F.col("n_word_chars").cast("double"),
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        F.col("n_word_chars") > 0,
        F.col("dup_chars").cast("double") / F.col("n_word_chars").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        id_col,
        "n_words",
        F.col("n_word_chars").cast("long").alias("n_word_chars"),
        "top_ngram",
        F.coalesce(F.col("top_ngram_count"), F.lit(0)).cast("long").alias("top_ngram_count"),
        F.coalesce(top_frac, F.lit(0.0)).alias("top_ngram_char_frac"),
        dup_frac.alias("dup_ngram_char_frac"),
        (F.coalesce(top_frac, F.lit(0.0)) <= max_top_ngram_char_frac)
        .cast("int")
        .alias("pass_top_ngram"),
        (dup_frac <= max_dup_ngram_char_frac).cast("int").alias("pass_dup_ngram"),
    )


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram_words: int = 3,
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking: chunk boundaries fall where the rolling
    hash of the last ``gram_words`` words is ≡ 0 mod ``divisor`` — so the
    SAME content produces the SAME interior chunks at ANY offset.  This is
    what fixed-width spans (:func:`pdtable_spark.operators.dedup.span_dedup`)
    cannot do: insert one word at the top of a boilerplate block and every
    fixed span shifts, while CDC boundaries re-synchronize after one gram.
    The backup/dedup-literature shape (LBFS/rsync content slicing) applied
    to word streams; expected chunk length ≈ ``divisor`` words.

    Returns one row per chunk: (id, chunk_no, chunk_text, n_words,
    chunk_md5) — feed ``chunk_md5`` to a digest groupBy for shift-robust
    duplicated-content removal.

    100 TB design: the rolling hash is a ``lag`` window PARTITIONED BY
    DOCUMENT (state = one doc's words — bounded, parallel across docs; no
    global window anywhere); chunk assignment is a per-doc running count of
    boundaries; reassembly is one (id, chunk_no) aggregate.  Uses the
    md5_60 cross-engine hash so the boundary choice itself value-oracles.
    """
    from pyspark.sql import Window

    words = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(tokens(F.col(text_col)), lambda w: w != "")
        ).alias("pos", "word"),
    )
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    gram = F.concat_ws(
        " ", *[F.lag("word", k).over(w_doc) for k in range(gram_words - 1, 0, -1)], F.col("word")
    )
    from pdtable_spark.operators.dedup import md5_60

    marked = words.withColumn(
        "__b", (md5_60(gram) % F.lit(divisor) == 0).cast("int")
    )
    prior = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = marked.withColumn(
        "chunk_no", F.coalesce(F.sum("__b").over(prior), F.lit(0)).cast("long")
    )
    return (
        chunked.groupBy(id_col, "chunk_no")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
            ).alias("chunk_text"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .select(
            id_col,
            "chunk_no",
            "chunk_text",
            "n_words",
            F.md5(F.col("chunk_text")).alias("chunk_md5"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: List[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    round_digits: Optional[int] = None,
    persist_base: bool = True,
) -> DataFrame:
    """Okapi BM25 lexical retrieval: the top-``k`` documents for a bag of
    query terms — the standard sparse-retrieval scorer (Robertson &
    Zaragoza 2009), here the corpus-side primitive for RAG indexing,
    query-based decontamination audits, and keyword corpus probes.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  (Lucene's non-negative
    variant), whole-token case-insensitive matching, dl = whitespace
    token count.  Returns (id, dl, n_hits, score, rank) for the top k
    docs matching ≥1 term, rank 1-based with an id tie-break (total
    order).

    100 TB design — NO inverted index and NO postings shuffle: each query
    term's tf is a scan-local array count (the term list ships as codegen
    literals, like :func:`blocklist_filter`), the corpus statistics
    (N, Σdl, per-term df) partially aggregate map-side into ONE tiny row
    that broadcasts back, and the top-k is TakeOrdered — so the whole
    query costs one tokenize scan plus two single-row exchanges
    regardless of corpus size.  Right for the bounded ad-hoc query-term
    counts this signature accepts (≲100s of terms); a high-QPS serving
    workload should materialize postings instead.

    ``persist_base=True`` caches the narrow (id, dl, tf…) projection —
    ~16·(terms+2) bytes/row, orders of magnitude under the text it
    derives from — so the stats aggregate and the scoring join read the
    tokenize scan ONCE (the broadcast side executes first and fills the
    cache; measured 2.4× at sf1).  The handle is attached to the result
    as ``result.bm25_base`` for caller-owned ``unpersist()``;
    ``persist_base=False`` trades the cache for a second tokenize scan.

    ``round_digits``: cross-engine verification mode — JVM ``Math.log``
    and libm differ in the last ulp, so each idf is rounded
    binary-faithfully (``floor(x·10^d + 0.5)/10^d``) before the
    (fixed-order, hence IEEE-deterministic) per-term sum; production
    keeps raw doubles (None).
    """
    from pyspark.sql import Window

    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    toks_lower = F.transform(tokens(F.col(text_col)), F.lower)

    def tf_of(term: str):
        # a dedicated closure: a `lambda x, t=t:` two-parameter spelling
        # would make F.filter pass the ARRAY INDEX as the second argument
        # (its (element, index) arity), silently shadowing the term
        return F.size(F.filter(toks_lower, lambda x: x == F.lit(term)))

    base = df.select(
        F.col(id_col),
        F.size(tokens(F.col(text_col))).cast("long").alias("__dl"),
        *[tf_of(t).cast("long").alias(f"__tf_{i}") for i, t in enumerate(terms)],
    )
    if persist_base:
        from pyspark import StorageLevel

        base = base.persist(StorageLevel.MEMORY_AND_DISK)
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__dl_total"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("long")).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    n = F.col("__n").cast("double")
    avgdl = F.col("__dl_total").cast("double") / n
    score, hits = None, None
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        dfi = F.col(f"__df_{i}").cast("double")
        idf = F.ln(F.lit(1.0) + (n - dfi + F.lit(0.5)) / (dfi + F.lit(0.5)))
        if round_digits is not None:
            q = float(10**round_digits)
            idf = F.floor(idf * F.lit(q) + F.lit(0.5)) / F.lit(q)
        denom = tf + F.lit(float(k1)) * (
            F.lit(1.0 - float(b))
            + F.lit(float(b)) * F.col("__dl").cast("double") / avgdl
        )
        contrib = idf * tf * F.lit(float(k1) + 1.0) / denom
        score = contrib if score is None else score + contrib
        h = (F.col(f"__tf_{i}") > 0).cast("int")
        hits = h if hits is None else hits + h
    scored = j.select(
        F.col(id_col),
        F.col("__dl").alias("dl"),
        hits.cast("long").alias("n_hits"),
        score.alias("score"),
    ).filter(F.col("n_hits") > 0)
    topk = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    # rank attaches AFTER the TakeOrdered limit: the global window runs
    # over ≤ k rows (bounded by construction), never the corpus
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    out = topk.withColumn("rank", F.row_number().over(w).cast("int"))
    if persist_base:
        # caller-owned lifecycle (the semantic_dedup pattern): unpersist
        # here would evict before the lazy result ever materializes
        out.bm25_base = base
    return out


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character-level Shannon entropy per document (nats):
    H = −Σ_c p_c·ln p_c over the document's character distribution —
    the cheap gibberish/repetition signal (keyboard mash and one-char
    spam sit near 0; natural language clusters in a band; random base64
    runs high).  Returns (id, n_chars, n_distinct_chars, entropy).

    Plan: pure scan-local array expressions — the distinct-character
    alphabet is computed per row and each distinct character's count is
    one array traversal (O(len·alphabet) per row, alphabet-bounded; no
    shuffle, no explode).  Operates on code units of the engine's string
    split — ASCII/BMP-safe, the right contract for a quality signal.

    Determinism: each −p·ln p term is rounded at 9 decimals and floored
    to an exact integer at 1e-9 before the sum (the suite's ln recipe),
    so the entropy is bit-reproducible regardless of the engines'
    differing distinct-character orderings.
    """
    # drop empty-string artifacts of empty-pattern split (engines disagree
    # on whether "" splits to [] or [""] — filtering pins both to [])
    chars = F.filter(F.split(F.col(text_col), ""), lambda x: x != "")

    def entropy_of(cs):
        # cs is a _let-bound reference: every use below is a cheap
        # BoundReference, not a re-evaluated split (the module's CSE rule)
        n = F.size(cs).cast("double")

        def term(c):
            p = F.size(F.filter(cs, lambda x: x == c)).cast("double") / n
            return F.floor(F.round(-(p * F.ln(p)), 9) * F.lit(1e9))

        qsum = F.aggregate(
            F.transform(F.array_distinct(cs), term), F.lit(0.0), lambda a, v: a + v
        )
        return F.when(F.size(cs) > 0, qsum / F.lit(1e9)).otherwise(F.lit(0.0))

    return df.select(
        F.col(id_col),
        F.size(chars).cast("long").alias("n_chars"),
        F.size(F.array_distinct(chars)).cast("long").alias("n_distinct_chars"),
        _let(chars, entropy_of).alias("entropy"),
    )


def _line_key(line: Column) -> Column:
    """The line-dedup match key: lowercased, whitespace-trimmed — CCNet's
    normalization in spirit (case/padding variants of one boilerplate line
    must collapse), minimal enough to replicate exactly in any SQL engine."""
    return F.lower(F.trim(line))


def _split_lines(text: Column, line_sep: str) -> Column:
    """``text`` split on the LITERAL separator (regex-escaped — F.split
    takes a Java regex; a caller's '.' or '|' separator must not explode
    into per-character splits)."""
    import re as _re

    return F.split(text, _re.escape(line_sep))


def common_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    min_docs: Optional[int] = 2,
    min_doc_frac: Optional[float] = None,
) -> DataFrame:
    """The boilerplate audit behind :func:`line_dedup`: normalized lines
    occurring in at least ``min_docs`` DISTINCT documents, with their
    document frequency — CCNet §4.1 / RefinedWeb line-level dedup builds
    exactly this model (nav bars, cookie banners, share buttons recur
    across pages; prose lines don't).  Returns (line, n_docs) where
    ``line`` is the normalized key (:func:`_line_key`).

    Whitespace-only lines are excluded from the model — they are document
    structure, not repeated content, and counting them would put the
    corpus's entire blank-line mass into one key.  A NULL text contributes
    no lines (the split is NULL and the explode drops it) but the doc
    still counts toward ``min_doc_frac``'s denominator — a NULL doc is a
    doc.

    ``min_doc_frac`` (exclusive with ``min_docs``) states the threshold
    as a corpus fraction — ``ceil(frac · N_docs)`` — so one setting means
    the same thing at every scale; the doc count joins in as one
    broadcast row (no eager action).

    100 TB design: lines are deduplicated PER DOCUMENT scan-locally
    (``array_distinct`` before the explode), so the groupBy is a plain
    map-side-combinable count on the line key — no count-distinct expand,
    no (line, doc) pair shuffle beyond the per-doc-distinct stream.  The
    result is bounded above by total-line-occurrences / ``min_docs`` —
    the threshold itself caps the output.
    """
    if (min_docs is None) == (min_doc_frac is None):
        raise ValueError("common_lines: pass exactly one of min_docs / min_doc_frac")
    if min_docs is not None and min_docs < 1:
        raise ValueError("common_lines: min_docs must be >= 1")
    if min_doc_frac is not None and not (0.0 < min_doc_frac <= 1.0):
        raise ValueError("common_lines: min_doc_frac must be in (0, 1]")
    keys = F.array_distinct(F.transform(_split_lines(F.col(text_col), line_sep), _line_key))
    counts = (
        df.select(F.col(id_col), F.explode(keys).alias("line"))
        .filter(F.col("line") != "")
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    if min_docs is not None:
        return counts.filter(F.col("n_docs") >= F.lit(int(min_docs)))
    n_row = df.agg(
        F.ceil(F.count(F.lit(1)) * F.lit(float(min_doc_frac))).alias("__min_docs")
    )
    return (
        counts.crossJoin(F.broadcast(n_row))
        .filter(F.col("n_docs") >= F.col("__min_docs"))
        .drop("__min_docs")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    min_docs: Optional[int] = 2,
    min_doc_frac: Optional[float] = None,
    max_boilerplate: int = 100_000,
    via: str = "broadcast",
    passthrough: Iterable[str] = (),
) -> DataFrame:
    """Line-level boilerplate removal (CCNet §4.1, RefinedWeb): drop every
    line whose normalized form occurs in ≥ ``min_docs`` distinct documents,
    keeping the survivors in their original order and original (un-
    normalized) spelling.  Returns (id, text_clean, n_lines,
    n_lines_removed, *passthrough); real deployments split on newlines —
    the separator is a parameter so structured corpora (and engines) can
    pin the semantics on any delimiter.  A NULL text is zero lines
    (text_clean='', n_lines=0, n_lines_removed=0) in both spellings.

    Two spellings, identical results (parity-tested):

    - ``via='broadcast'`` (default): the boilerplate set aggregates into
      ONE array row that broadcast-cross-joins back, so removal and
      reassembly are scan-local ``filter``/``array_join`` — the corpus is
      never exploded, shuffled, or re-sorted.  Membership is an
      ``array_contains`` per line (linear in the set), and the set must
      fit one row: guarded by ``max_boilerplate`` with a loud runtime
      error (``raise_error``, no extra scan).  Right when the threshold
      keeps the set in the thousands — the overwhelmingly common case.
    - ``via='join'``: positional explode → left-anti join on the line key
      → per-doc ``collect_list`` + ``array_sort`` reassembly.  The corpus
      line stream shuffles once on ``id_col``; no size bound on the
      boilerplate side (Spark/AQE picks broadcast-anti when it is small
      anyway).  Right for hostile thresholds (``min_docs`` so low the
      set is corpus-sized).

    The boilerplate model itself always costs one corpus scan
    (:func:`common_lines`); at 100 TB, compute it once and reuse — pass
    a persisted ``df`` if running both the audit and the dedup.
    """
    if via not in ("broadcast", "join"):
        raise ValueError(f"line_dedup: via must be 'broadcast' or 'join', got {via!r}")
    passthrough = [c for c in passthrough if c not in (id_col,)]
    boil = common_lines(df, text_col, id_col, line_sep, min_docs, min_doc_frac)
    # NULL text is ZERO lines in BOTH spellings (text_clean='', n_lines=0,
    # n_lines_removed=0) — the vocab_coverage idiom.  Without the coalesce,
    # non-ANSI F.size(NULL) = -1 would make the spellings diverge (broadcast:
    # text_clean=NULL/n=-1; join: text_clean=''/n_removed=-1).
    lines = F.coalesce(
        _split_lines(F.col(text_col), line_sep),
        F.array().cast("array<string>"),
    )
    base = df.select(F.col(id_col), *passthrough, lines.alias("__lines"))

    if via == "broadcast":
        bl_row = boil.agg(F.collect_list("line").alias("__bl"))
        guarded = F.when(
            F.size("__bl") > F.lit(int(max_boilerplate)),
            F.raise_error(
                F.concat(
                    F.lit(
                        "line_dedup: boilerplate set exceeds "
                        f"max_boilerplate={max_boilerplate} ("
                    ),
                    F.size("__bl").cast("string"),
                    F.lit(" lines) — raise min_docs or use via='join'"),
                )
            ),
        ).otherwise(F.col("__bl"))
        j = base.crossJoin(F.broadcast(bl_row)).select(
            F.col(id_col),
            *passthrough,
            F.col("__lines"),
            F.filter(
                F.col("__lines"),
                lambda l: ~F.array_contains(guarded, _line_key(l)),
            ).alias("__kept"),
        )
        return j.select(
            F.col(id_col),
            F.array_join(F.col("__kept"), line_sep).alias("text_clean"),
            F.size("__lines").cast("long").alias("n_lines"),
            (F.size("__lines") - F.size("__kept")).cast("long").alias("n_lines_removed"),
            *passthrough,
        )

    ex = base.select(F.col(id_col), F.posexplode("__lines").alias("__pos", "__line"))
    kept = ex.join(
        boil.withColumnRenamed("line", "__k"),
        on=_line_key(F.col("__line")) == F.col("__k"),
        how="left_anti",
    )
    grouped = kept.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct(F.col("__pos"), F.col("__line")))).alias(
            "__ordered"
        )
    )
    # docs whose EVERY line was boilerplate drop out of the groupBy — the
    # left join from the per-doc base restores them (empty text_clean)
    per_doc = base.select(
        F.col(id_col), *passthrough, F.size("__lines").cast("long").alias("n_lines")
    )
    return per_doc.join(grouped, on=id_col, how="left").select(
        F.col(id_col),
        F.coalesce(
            F.array_join(
                F.transform(F.col("__ordered"), lambda s: s["__line"]), line_sep
            ),
            F.lit(""),
        ).alias("text_clean"),
        F.col("n_lines"),
        (F.col("n_lines") - F.coalesce(F.size("__ordered"), F.lit(0)))
        .cast("long")
        .alias("n_lines_removed"),
        *passthrough,
    )


def curation_funnel(
    flags: DataFrame,
    pass_cols: Optional[List[str]] = None,
) -> DataFrame:
    """The "why did documents die" table: per quality rule, how many
    documents fail it — (rule, n_failed, share_failed, n_failed_alone).
    Works on ANY flags frame with 0/1 ``pass_*`` columns
    (:func:`gopher_quality_flags`, :func:`c4_quality`,
    :func:`blocklist_filter`, or their join), auto-detecting the rule
    columns (``pass_*`` minus the ``pass_all`` conjunction) unless
    ``pass_cols`` names them.

    ``n_failed_alone`` is each rule's MARGINAL kill count — documents
    failing this rule while passing every other — i.e. exactly what you
    would recover by dropping the rule; ``n_failed`` double-counts docs
    failing several rules (the sum exceeds total rejections by design).

    100 TB design: one scan over the (already scan-local) flags frame;
    all 2T conditional sums fold into ONE map-side-combinable aggregate
    row, unpivoted via inline — the :func:`...monitor.threshold_sweep`
    shape.  Flags must be non-null 0/1 (the quality operators' contract).
    """
    cols = pass_cols or [
        c for c in flags.columns if c.startswith("pass_") and c != "pass_all"
    ]
    if not cols:
        raise ValueError("curation_funnel: no pass_* rule columns found")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        failed = (F.col(c) == 0).cast("long")
        alone = failed
        for o in cols:
            if o != c:
                alone = alone * (F.col(o) == 1).cast("long")
        aggs.append(F.sum(failed).alias(f"__f{i}"))
        aggs.append(F.sum(alone).alias(f"__a{i}"))
    row = flags.agg(*aggs)
    entries = [
        F.struct(
            F.lit(c).alias("rule"),
            F.coalesce(F.col(f"__f{i}"), F.lit(0)).cast("long").alias("n_failed"),
            F.when(
                F.col("__n") > 0,
                F.coalesce(F.col(f"__f{i}"), F.lit(0)).cast("double")
                / F.col("__n").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("share_failed"),
            F.coalesce(F.col(f"__a{i}"), F.lit(0)).cast("long").alias("n_failed_alone"),
        )
        for i, c in enumerate(cols)
    ]
    return row.select(F.inline(F.array(*entries)))


def top_vocab(
    df: DataFrame,
    vocab_size: int = 500,
    text_col: str = "text",
) -> DataFrame:
    """The corpus's ``vocab_size`` most frequent whitespace tokens as a
    ``(token, tf)`` frame — the artifact behind :func:`vocab_coverage`.

    Deterministic boundary: ties at the cut rank are broken by token
    text ascending, so the vocabulary is identical on every engine and
    the coverage numbers built on it carry a full value oracle.

    Scale: one map-side-combinable token count (shuffle is
    vocabulary-domain-sized, not corpus-sized) then global top-k via
    sort+limit — Spark plans TakeOrdered (per-partition heaps), never a
    single-partition sort of the token domain.
    """
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(vocab_size)
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: Optional[DataFrame] = None,
    method: str = "array",
) -> DataFrame:
    """Per-document vocabulary coverage: how much of each doc is
    expressible in the corpus's (or a provided) top-``vocab_size``
    vocabulary — ``n_tokens``, ``n_oov`` (token OCCURRENCES outside the
    vocabulary), and ``oov_share`` ∈ [0, 1].

    Why: OOV share against a reference vocabulary is a cheap
    tokenizer-fertility / domain-shift signal — docs that are mostly
    out-of-vocabulary relative to the training corpus are exactly the
    docs a fixed tokenizer will shred into high-fertility byte
    fallbacks, and a rising corpus-level OOV share is an early drift
    alarm (compose with ``operators.monitor``).

    Pass ``vocab`` (any 1-column-`token` frame, e.g. a frozen training
    vocabulary) to measure against a FIXED reference instead of the
    corpus's own top-k.

    Scale — two spellings, IDENTICAL outputs (``method=``):

    - ``"array"`` (default): the vocabulary is a bounded artifact
      (≤ ``vocab_size`` rows, like the IVF centroid and PQ codebook
      collects) collected and folded into a scan-local membership
      expression — the per-doc pass is ZERO shuffle, one projection
      over the scan.  The probe is a linear array_contains per token
      (O(tokens·vocab_size) comparisons) — right while the vocabulary
      stays small (≲ a few thousand entries).
    - ``"join"``: explode tokens and probe the vocabulary with a real
      BROADCAST HASH join (O(1) per token), then re-aggregate by
      ``id_col`` and join the three columns back — the big-vocab
      spelling (50k+ BPE vocabularies), paying one doc-keyed shuffle
      for the re-aggregate; exactly the window-vs-aggregate trade
      :func:`tfidf_keywords` documents.
    """
    if method not in ("array", "join"):
        raise ValueError(f"vocab_coverage: unknown method {method!r}")
    if vocab is None:
        vocab = top_vocab(df, vocab_size, text_col=text_col)
    toks = tokens(F.col(text_col))
    # Both spellings define a NULL text as zero tokens (n_tokens=0,
    # n_oov=0, share 0.0) — without this, non-ANSI F.size(NULL) = -1
    # would silently corrupt downstream sums in the array spelling while
    # the join spelling produced NULLs for the same doc.  A NULL vocab
    # token can never match a real token (equi-join semantics) — dropped
    # from both spellings for the same reason.
    if method == "join":
        posts = df.select(F.col(id_col), F.explode(toks).alias("__t"))
        v = (
            vocab.select(F.col("token").alias("__t"))
            .filter(F.col("__t").isNotNull())
            .distinct()  # a duplicated vocab entry must not fan out postings
            .withColumn("__in", F.lit(1))
        )
        per = (
            posts.join(F.broadcast(v), "__t", "left")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_oov"),
            )
        )
        out = df.join(per, id_col, "left")
        n_tokens = F.coalesce(F.col("n_tokens"), F.lit(0).cast("long"))
        n_oov = F.coalesce(F.col("n_oov"), F.lit(0).cast("long"))
        return out.withColumns(
            {
                "n_tokens": n_tokens,
                "n_oov": n_oov,
                "oov_share": F.when(
                    n_tokens > 0, n_oov.cast("double") / n_tokens.cast("double")
                ).otherwise(F.lit(0.0)),
            }
        )
    words = sorted(
        r[0] for r in vocab.select("token").collect() if r[0] is not None
    )
    n_tokens = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
        F.size(toks)
    ).cast("long")
    if not words:
        # An EMPTY vocabulary (empty corpus / empty provided frame) must
        # mean "everything is OOV" — F.array() with zero elements is an
        # array<null> literal whose array_contains against string tokens
        # fails analysis, so short-circuit instead of building it.  The
        # join spelling already yields this (left join against nothing).
        n_oov = n_tokens
    else:
        lit_vocab = F.array(*[F.lit(w) for w in words])
        n_oov = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
            F.size(F.filter(toks, lambda t: ~F.array_contains(lit_vocab, t)))
        ).cast("long")
    return df.withColumns(
        {
            "n_tokens": n_tokens,
            "n_oov": n_oov,
            "oov_share": F.when(
                n_tokens > 0, n_oov.cast("double") / n_tokens.cast("double")
            ).otherwise(F.lit(0.0)),
        }
    )


def distinct_ngrams(
    df: DataFrame,
    ns: Iterable[int] = (1, 2, 3),
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Corpus diversity per group: for each ``n`` in ``ns``, the total
    and distinct n-gram counts and their ratio (distinct-1/2/3, Li et
    al. 2016) — the standard lexical-diversity dashboard.  A collapsing
    distinct-n across snapshots of the same source flags template/
    boilerplate floods and generation loops long before exact dedup
    sees byte-identical copies; n=1 doubles as the type-token ratio.

    Returns (``by``, n, n_total, n_distinct, distinct_ratio), one row
    per group per n (a group whose every doc is shorter than n tokens
    contributes no n-grams and no row, same as the SQL spelling).
    Strict windows: a doc shorter than n yields zero n-grams (unlike
    :func:`shingles`, which degrades to the whole-text shingle for
    near-dup recall).

    Scale: ONE corpus scan — the per-n gram arrays explode in-scan (the
    drift-report multi-dim idiom), each gram shuffles as its md5 digest
    (never the string; the :func:`ngram_novelty` move), and the count
    is a map-side-combinable aggregate over the (group, n, digest)
    domain.  NULL text is zero tokens.
    """
    ns = sorted(set(int(n) for n in ns))
    if not ns or ns[0] < 1:
        raise ValueError("distinct_ngrams: ns must be >= 1")

    def gram_digests(n):
        if n == 1:
            return "transform(t, w -> md5(w))"
        windows = _windows_sql(
            "t", n, lambda f: f"md5(concat_ws(' ', {', '.join(f)}))"
        )
        return (
            f"CASE WHEN size(t) >= {n} THEN {windows} "
            "ELSE CAST(array() AS array<string>) END"
        )

    entries = F.expr(
        _let_sql(
            _tokens_or_empty_sql(ident(text_col)),
            "t",
            "array("
            + ", ".join(f"struct({n} AS n, {gram_digests(n)} AS g)" for n in ns)
            + ")",
        )
    )
    rows = (
        df.select(F.col(by), F.explode(entries).alias("e"))
        .select(by, F.col("e.n").alias("n"), F.explode("e.g").alias("__d"))
    )
    return (
        rows.groupBy(by, "n")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count_distinct("__d").alias("n_distinct"),
        )
        .select(
            by,
            "n",
            F.col("n_total").cast("long").alias("n_total"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            (F.col("n_distinct").cast("double") / F.col("n_total").cast("double")).alias(
                "distinct_ratio"
            ),
        )
    )


def source_divergence(
    df: DataFrame,
    vocab_size: int = 200,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise distribution distance between per-group unigram
    distributions over the corpus's top-``vocab_size`` vocabulary (plus
    one out-of-vocabulary mass bucket, so every distribution sums to 1):
    Hellinger distance and total variation per group pair — the
    "which domains are lexically close" matrix that sizes mixture
    weights, flags a crawl source drifting into another's register, and
    picks merge candidates before an expensive embedding pass.

    Returns (source_a, source_b, hellinger, tvd), one row per unordered
    pair (source_a < source_b); hellinger ∈ [0, 1], tvd ∈ [0, 1].
    Groups with zero tokens have no distribution and no rows.

    Determinism across engines: sqrt is correctly rounded in IEEE (no
    libm-vs-JVM ulp drift, unlike ln — why Hellinger and not JS/KL
    here), and both per-token terms accumulate as 1e-15-quantized
    BIGINTs (the PQ ``_dist2`` idiom), so each distance is exact
    integer arithmetic + one identical final expression.

    Scale: ONE corpus scan into a map-side-combinable (group, token)
    count whose shuffle is vocabulary-domain-sized; everything after
    runs on |groups| x (vocab_size + 1) rows — densified against the
    observed key domain so absent tokens contribute their full
    one-sided mass — and the pair frame is |groups|² rows.  The
    vocabulary boundary is the deterministic tf-desc/token-asc cut of
    :func:`top_vocab`.
    """
    v = (
        top_vocab(df, vocab_size, text_col=text_col)
        .select(F.col("token").alias("__vt"))
        .filter(F.col("__vt").isNotNull())
        .distinct()
        .withColumn("__in", F.lit(1))
    )
    toks = df.select(
        F.col(by).alias("src"), F.explode(tokens(F.col(text_col))).alias("__t")
    )
    # OOV bucket = NULL key (one GROUP BY group in both engines — no
    # sentinel string that a real token could collide with)
    keyed = toks.join(F.broadcast(v), toks["__t"] == v["__vt"], "left").select(
        "src", F.when(F.col("__in").isNotNull(), F.col("__t")).alias("__k")
    )
    counts = keyed.groupBy("src", "__k").agg(F.count(F.lit(1)).alias("__c"))
    totals = counts.groupBy("src").agg(F.sum("__c").alias("__tot"))
    dom = counts.select("__k").distinct()
    # null-SAFE key equality: the OOV bucket IS the NULL key, and a
    # name-list join (EqualTo) would silently zero its mass — caught by
    # the brute-force fuzz test on a corpus whose token domain actually
    # exceeds the vocabulary (the fixtures' 31-token domain never
    # exercises OOV at vocab_size=200, so the oracle alone missed it)
    dens = (
        totals.crossJoin(F.broadcast(dom)).alias("d")
        .join(
            counts.alias("c"),
            (F.col("d.src") == F.col("c.src"))
            & F.col("d.__k").eqNullSafe(F.col("c.__k")),
            "left",
        )
        .select(
            F.col("d.src").alias("src"),
            F.col("d.__k").alias("__k"),
            (
                F.coalesce(F.col("c.__c"), F.lit(0)).cast("double")
                / F.col("d.__tot").cast("double")
            ).alias("__p"),
        )
    )
    a, b = dens.alias("a"), dens.alias("b")
    Q = F.lit(1000000000000000.0)  # 1e15: term <= 1, |domain| <= vocab+1 — no overflow
    pair_terms = (
        a.join(b, F.col("a.__k").eqNullSafe(F.col("b.__k")))
        .filter(F.col("a.src") < F.col("b.src"))
        .select(
            F.col("a.src").alias("source_a"),
            F.col("b.src").alias("source_b"),
            # explicit d*d, not pow(d, 2): pow is not guaranteed correctly
            # rounded, multiplication is — both engines agree bit-for-bit
            F.floor(
                (F.sqrt(F.col("a.__p")) - F.sqrt(F.col("b.__p")))
                * (F.sqrt(F.col("a.__p")) - F.sqrt(F.col("b.__p")))
                * Q
                + F.lit(0.5)
            )
            .cast("long")
            .alias("__h2q"),
            F.floor(F.abs(F.col("a.__p") - F.col("b.__p")) * Q + F.lit(0.5))
            .cast("long")
            .alias("__tvq"),
        )
    )
    return pair_terms.groupBy("source_a", "source_b").agg(
        F.sqrt(
            F.sum("__h2q").cast("double") / Q / F.lit(2.0)
        ).alias("hellinger"),
        (F.sum("__tvq").cast("double") / Q / F.lit(2.0)).alias("tvd"),
    )


def collocations(
    df: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` collocations (statistically-bound word pairs) by LIFT on
    the bigram event space: ``lift = c(a,b)·N / (c1(a)·c2(b))`` with N
    the total bigram count and c1/c2 the first-/second-position
    marginals — the contingency-table association PMI exponentiates,
    kept LOG-FREE deliberately: lift is a ratio of exact integer
    products (one double division, bit-equal across engines and
    rank-equivalent to PMI), where ln drifts a ulp between JVM and libm.
    Collocation lists drive tokenizer-vocab candidates, multi-word PII
    patterns, and boilerplate-phrase discovery.

    ``min_count`` floors the pair count — rare pairs have unboundedly
    noisy lift (two hapaxes adjacent once score N) — and the cut is on
    the PAIR count exactly, so the oracle reproduces the boundary.
    Returns (w1, w2, n_pair, n_w1, n_w2, lift), ties broken by (w1, w2).

    Scale: ONE corpus scan — adjacent pairs explode from strict token
    windows into a map-side-combinable (w1, w2) count whose shuffle is
    bigram-domain-sized; BOTH marginals are window sums over that same
    counts frame (never a second corpus scan — on the bigram event
    space the position marginals are exactly the per-key sums), the
    grand total joins back as a broadcast 1-row frame, and the top-k is
    sort+limit → TakeOrdered per-partition heaps.
    """
    from pyspark.sql import Window

    if k < 1 or min_count < 1:
        raise ValueError("collocations: k and min_count must be >= 1")
    toks_sql = _tokens_or_empty_sql(ident(text_col))
    toks = F.expr(toks_sql)
    pairs = F.expr(
        f"CASE WHEN size({toks_sql}) >= 2 THEN "
        f"{_windows_sql(toks_sql, 2, lambda f: f'struct({f[0]} AS w1, {f[1]} AS w2)')} "
        "ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
    )
    counts = (
        fanout_small_scan(df)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    w1w = Window.partitionBy("w1")
    w2w = Window.partitionBy("w2")
    marg = counts.select(
        "w1",
        "w2",
        "n_pair",
        F.sum("n_pair").over(w1w).alias("n_w1"),
        F.sum("n_pair").over(w2w).alias("n_w2"),
    )
    # the grand total is Σ max(len−1, 0) — a pure scan + scalar count
    # (the counts-frame spelling re-derived the whole bigram groupBy just
    # to sum it: one extra bigram-domain shuffle for a number a projection
    # already knows)
    total = df.select(
        F.greatest(F.size(toks) - F.lit(1), F.lit(0)).alias("__c")
    ).agg(F.sum("__c").alias("__N"))
    lift = (
        F.col("n_pair").cast("double") * F.col("__N").cast("double")
    ) / (F.col("n_w1").cast("double") * F.col("n_w2").cast("double"))
    return (
        marg.crossJoin(F.broadcast(total))
        .filter(F.col("n_pair") >= min_count)
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_w1").cast("long").alias("n_w1"),
            F.col("n_w2").cast("long").alias("n_w2"),
            lift.alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(int(k))
    )


def ngram_lm_nll(
    df: DataFrame,
    ref_pred,
    order: int = 2,
    lam: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Frozen n-gram language-model quality score — the CCNet/KenLM
    perplexity-filter shape (Wenzek et al. 2020) at ``order``-gram
    order: an interpolated conditional model trains on the REFERENCE
    slice (``ref_pred`` — the curated/high-quality pool), then every
    document scores its mean −ln p(w | context) under that FROZEN
    model.  Low mean_nll ≈ fluent in-domain text, high ≈ gibberish or
    out-of-domain — CCNet keeps the head/middle of the distribution;
    pick thresholds per source with ``threshold_sweep``.

    Model: ``p(w|ctx) = lam·c(ctx,w)/c(ctx·) + (1−lam)·(c(w)+1)/(N+V+1)``
    with ``ctx`` the previous ``order−1`` tokens — n-gram MLE over the
    reference's n-gram event space (``c(ctx·)`` the context marginal,
    so unseen contexts contribute 0 to the n-gram term), backed by a
    Laplace unigram (the ``+1`` type is OOV), so every probability is
    strictly positive and the NLL finite.  Higher orders sharpen the
    filter and grow the model table; at crawl scale the KenLM default
    is order 5 — size ``order`` to the reference corpus like any LM.

    Returns (``id_col``, n_ngrams, mean_nll) for documents with at
    least one full window (shorter docs carry no conditional evidence).

    Determinism (the ``text_surprisal`` pattern, stacked): every count
    ratio is one double expression of exact integers spelled identically
    in the SQL oracle, ln rounds at 9 decimals (JVM/libm last-ulp), and
    the per-window values sum as quantized BIGINTs — order-independent.

    Scale: the frozen model is two reference-vocab-domain count frames
    (n-gram counts + their context marginal + unigram counts) joined
    onto the scored windows — AQE broadcasts them while they fit, and
    at crawl scale they shuffle on the term key exactly like the
    surprisal vocabulary; one scan of each side, no windows.
    """
    if order < 2:
        raise ValueError("ngram_lm_nll: need order >= 2")
    if not (0.0 <= float(lam) < 1.0):
        # lam=1.0 (or out of range) removes the strictly-positive unigram
        # share: an unseen (ctx, w) window then hits p=0, -ln(p)=inf, and
        # floor(inf*1e9).cast('long') turns the doc's mean_nll into silent
        # garbage instead of a loud error (ADVICE r9)
        raise ValueError(
            "ngram_lm_nll: need 0.0 <= lam < 1.0 — the finiteness guarantee "
            "requires a strictly positive unigram interpolation share"
        )
    toks_sql = _tokens_or_empty_sql(ident(text_col))
    toks = F.expr(toks_sql)

    def window_pairs():
        # (ctx, w) per full window: ctx = the previous order−1 tokens
        # joined on a SPACE — tokens() splits on \s+, so no token can
        # contain whitespace and the space-joined context is injective
        # (a control-char separator was NOT: \x1f survives tokenization,
        # so ('a\x1fb','c') and ('a','b\x1fc') would conflate).  For
        # order 2 the ctx is the bare token, so the bigram spelling is
        # byte-identical to the bigram oracle.
        def body(f):
            return f"struct(concat_ws(' ', {', '.join(f[:-1])}) AS cx, {f[-1]} AS w)"

        return F.expr(
            f"CASE WHEN size({toks_sql}) >= {order} THEN "
            f"{_windows_sql(toks_sql, order, body)} "
            "ELSE CAST(array() AS array<struct<cx:string,w:string>>) END"
        )

    # tokenize + window-build is compute-dense over a byte-tiny scan at
    # bench scale — fan a provably tiny local corpus to the core count
    # (identity at scale)
    df = fanout_small_scan(df)
    ref = df.filter(ref_pred)
    rtoks = ref.select(F.explode(toks).alias("w"))
    uni = rtoks.groupBy(F.col("w").alias("u_w")).agg(F.count(F.lit(1)).alias("cu"))
    scal = rtoks.agg(
        F.count(F.lit(1)).alias("__N"),
        F.count_distinct("w").alias("__V"),
    )
    big = (
        ref.select(F.explode(window_pairs()).alias("p"))
        .select(F.col("p.cx").alias("b_cx"), F.col("p.w").alias("b_w"))
        .groupBy("b_cx", "b_w")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    ctx = big.groupBy(F.col("b_cx").alias("c_cx")).agg(F.sum("cb").alias("cw1"))

    scored = (
        df.select(F.col(id_col), F.explode(window_pairs()).alias("p"))
        .select(id_col, F.col("p.cx").alias("cx"), F.col("p.w").alias("w"))
        .join(
            big,
            (F.col("cx") == F.col("b_cx")) & (F.col("w") == F.col("b_w")),
            "left",
        )
        .join(ctx, F.col("cx") == F.col("c_cx"), "left")
        .join(uni, F.col("w") == F.col("u_w"), "left")
        .crossJoin(F.broadcast(scal))
    )
    p = F.lit(float(lam)) * F.when(
        F.col("cb").isNotNull(),
        F.col("cb").cast("double") / F.col("cw1").cast("double"),
    ).otherwise(F.lit(0.0)) + F.lit(1.0 - float(lam)) * (
        (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(1)).cast("double")
        / (F.col("__N") + F.col("__V") + F.lit(1)).cast("double")
    )
    qnll = F.floor(F.round(-F.log(p), 9) * F.lit(1e9)).cast("long")
    return (
        scored.select(id_col, qnll.alias("__q"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ngrams"),
            (
                F.sum("__q").cast("double")
                / (F.lit(1e9) * F.count(F.lit(1)).cast("double"))
            ).alias("mean_nll"),
        )
    )


def bigram_lm_nll(
    df: DataFrame,
    ref_pred,
    lam: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`ngram_lm_nll` at bigram order — the registered-query
    spelling (column named ``n_bigrams``); see that docstring."""
    return ngram_lm_nll(
        df, ref_pred, order=2, lam=lam, text_col=text_col, id_col=id_col
    ).withColumnRenamed("n_ngrams", "n_bigrams")


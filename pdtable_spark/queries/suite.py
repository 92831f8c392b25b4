"""Registry core of the declared query suite.

Every query is a Spark DataFrame builder ``fn(spark, sf_dir) -> DataFrame``
registered with ``@q(name, oracle_sql)`` at its definition; the oracle is a
DuckDB-equivalent ANSI-SQL string with matching column aliases.  ``@q`` is
the only way a query enters ``QUERIES``/``ORACLES``.

Filing rule: a query lives in the module named by its name prefix —

- ``relational``: ``q*`` (TPC-H-ish and events analytics);
- ``text``: ``text_*`` and ``doc_*``;
- ``dedup``: ``dedup_*``, ``minhash_*``, ``simhash_*``, ``ngram_*``;
- ``embedding``: ``embedding_*`` and ``hybrid_*``;
- ``multimodal``: ``multimodal_*``;
- ``lake``: ``lake_*``;
- ``stream``: ``stream_*``;
- ``pipeline``: ``pipeline_*``.

This module keeps what every family shares: ``q``, ``QUERIES``,
``ORACLES``, ``load``, ``scratch_dir``, ``dsum`` and the SQL fragments used
by more than one family.  It imports the family modules last, for their
registration side effect only.

Cross-engine determinism rules used throughout (the reason these hash-match):

- **Sums of doubles are order-dependent** → every aggregated double is first
  cast to DECIMAL (exact, order-independent sum), then the sum is cast back
  to double: identical bits on both engines.  Per-row double arithmetic
  (products, ratios, cosines) is IEEE-deterministic and safe as long as both
  sides evaluate the same expression tree.
- **Top-k needs a total order** → every rank/limit has an id tie-break.
- **Counts** are BIGINT on both sides (Spark `count`, DuckDB `count`/`len`
  cast); Spark `size()` is INT and gets an explicit `long` cast.
- Column names are aliased identically in both dialects (driver sorts
  columns by name before hashing).
- **Native round() is engine-specific at .5 boundaries** (Spark rounds the
  shortest decimal repr of a double, DuckDB the binary value) → spell
  rounding binary-faithfully: ``floor(x·10^k + 0.5)/10^k`` (q_math_funcs).
- **Decimal casts of arbitrary doubles round differently too** → form
  products decimal×decimal (exact), and when a decimal must become a double
  in DuckDB with ≥6 significant decimals, route ``CAST(CAST(x AS VARCHAR)
  AS DOUBLE)`` (its direct decimal→double is not correctly rounded;
  q_corr_stats, q_price_trend_by_brand).
- **Sums of arbitrary doubles** (norms, log-probs — where decimal casts
  would themselves hit boundaries) → quantize per row as
  ``floor(x·1e9)`` BIGINT and sum exactly (q_embedding_norms,
  text_surprisal).
- **ln/log differ by 1 ulp between JVM and libm** → round at a fixed
  decimal precision on BOTH sides before comparing or ranking
  (text_tfidf_keywords round_digits=9, text_surprisal).
- **Interpolated medians**: DuckDB's quantile_cont evaluates the even-count
  case as (lo+hi)·0.5 — numpy's lerp and lo+(hi−lo)·frac differ in the
  last ulp (q_custkey_median_pandas).

Scale notes are on each query: broadcasts for dimension tables, single-shuffle
window tricks, digest-only dedup shuffles.
"""

from __future__ import annotations

import weakref as _weakref
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def q(name: str, oracle: str = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return reg


#: Lazily-created root for per-query scratch dirs (see scratch_dir).
_SCRATCH_ROOT: list = []


def scratch_dir(name: str) -> str:
    """Session-scoped scratch directory for query ``name``, REUSED
    across invocations: one ``mkdtemp`` root per interpreter (removed
    at exit via atexit), one subdir per query wiped clean at each call
    — so repeated bench/oracle-sweep invocations of the lake/ledger/
    stream queries overwrite their own scratch instead of leaking a
    fresh mkdtemp of lake data per call.  Wiping at entry
    also guarantees the empty-landing-dir precondition the streaming
    wave queries rely on.

    CONTRACT: callers sharing a ``name`` must consume any
    DataFrame rooted in the dir BEFORE the next invocation (the wipe
    invalidates live lazy handles), and sweeps must run sequentially.
    Every batch query here uses a unique per-query name; the one shared
    name is ``"stream"`` (via ``_events_stream``), whose users all
    materialize eagerly (run_to_memory + stop) inside the builder, so
    the returned memory-sink table is independent of the dir."""
    import atexit
    import os
    import shutil
    import tempfile

    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="pdtable_scratch_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _SCRATCH_ROOT.append(root)
    d = os.path.join(_SCRATCH_ROOT[0], name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


#: (session, sf_dir, table) → lazy source DataFrame.  Spark re-lists the
#: path and re-reads the parquet footer on EVERY ``read.parquet`` call
#: (~70 ms each, measured — guide §6's repeated-listing cost; catalog
#: tables get a session FileIndex cache, bare paths do not), and the
#: bench's 16 headline queries make ~30 such calls per timed pass.  The
#: inputs are immutable test fixtures, so the HANDLE (file list + schema
#: + unresolved plan) is session-cacheable; every action still computes
#: results from the parquet files — nothing materialized is reused (same
#: discipline as the serving rows, which keep their index DataFrame
#: across query batches).  Scratch-dir reads (mutable lakes) do NOT go
#: through load() and stay uncached.


#: Weakly keyed on the session: a stopped/dropped session's
#: handles become collectable instead of leaking for the process
#: lifetime in long-lived multi-session harnesses.
_LOAD_CACHE: "_weakref.WeakKeyDictionary[SparkSession, Dict[tuple, DataFrame]]" = (
    _weakref.WeakKeyDictionary()
)


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    per_session = _LOAD_CACHE.get(spark)
    if per_session is None:
        per_session = _LOAD_CACHE.setdefault(spark, {})
    key = (sf_dir, table)
    got = per_session.get(key)
    if got is not None:
        return got
    if table == "events":
        # events.parquet stores ts as TIMESTAMP(NANOS); the ns→µs handling
        # lives with the reader, not the query path
        from pdtable_spark.io.parquet import read_nanos_parquet

        df = read_nanos_parquet(spark, f"{sf_dir}/{table}.parquet")
    else:
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    per_session[key] = df
    return df


def dsum(col, alias: str, prec: str = "decimal(18,4)"):
    """Order-independent double sum: exact decimal accumulate → double."""
    c = col if not isinstance(col, str) else F.col(col)
    return F.sum(c.cast(prec)).cast("double").alias(alias)


def _sql_dsum(expr: str, alias: str, prec: str = "DECIMAL(18,4)") -> str:
    return f"CAST(SUM(CAST({expr} AS {prec})) AS DOUBLE) AS {alias}"


_SQL_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_SQL_SHINGLES = (
    f"list_distinct(CASE WHEN len({_SQL_TOKS}) >= 5 THEN "
    f"list_transform(generate_series(1, greatest(len({_SQL_TOKS}) - 4, 1)), "
    f"i -> array_to_string(list_slice({_SQL_TOKS}, i, i + 4), ' ')) "
    f"ELSE [array_to_string({_SQL_TOKS}, ' ')] END)"
)


#: The near-dup cluster closure (n-gram Jaccard >= 0.5 pairs, then
#: connected components by recursive min-label walk): dedup_clusters'
#: oracle, and the clusters CTE of the oracles built on it.
_SQL_CLUSTERS = f"""
    WITH RECURSIVE
    base AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents),
    sized AS (SELECT doc_id, len(sh) AS sz, sh FROM base),
    posts AS (SELECT doc_id, sz, unnest(sh) AS g FROM sized),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS size_a, b.sz AS size_b,
             COUNT(*) AS n_common
      FROM posts a JOIN posts b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      WHERE CAST(n_common AS DOUBLE) / CAST(size_a + size_b - n_common AS DOUBLE) >= 0.5
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    walk(id, comp) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.b, w.comp FROM walk w JOIN edges e ON e.a = w.id
    )
    SELECT id AS doc_id, MIN(comp) AS component,
           (MIN(comp) = id) AS is_root
    FROM walk GROUP BY id
    """


_C4_KEPT_SQL = (
    "list_filter(regexp_split_to_array(der, '\\n'),"
    " x -> regexp_matches(trim(x), '[.!?\"]\\r?$')"
    " AND len(regexp_split_to_array(trim(x), '\\s+')) >= 5)"
)


# --- MinHash / SimHash with FULL value oracles -----------------------------
#
# The production hash is xxhash64 (JVM codegen, no DuckDB analog); the suite
# queries run the SAME operator code in ``hash_fn="md5_60"`` mode — a 60-bit
# hash from the first 15 hex chars of md5, which DuckDB reproduces exactly as
# ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.  Every stage (shingles,
# per-seed minima, band buckets, jaccard/hamming verification) is therefore
# value-checked end-to-end; bench.py keeps timing the xxhash64 path.

_SQL_MD5_60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def _sql_cos_ns(a: str, b: str, dim: int = 64) -> str:
    """Per-side-norm cosine — dot/(‖a‖·‖b‖), matching the pair-expansion
    operators' precomputed-norm spelling (sqrt(x)·sqrt(y) differs from
    sqrt(x·y) in the last ulp, so the oracle must use the SAME form)."""
    gs = f"generate_series(1, {dim})"
    return (
        f"list_sum(list_transform({gs}, i -> {a}[i]*{b}[i]))"
        f" / (sqrt(list_sum(list_transform({gs}, i -> {a}[i]*{a}[i])))"
        f" * sqrt(list_sum(list_transform({gs}, i -> {b}[i]*{b}[i]))))"
    )


def _sql_dist2(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
    )


_IVF_CELLS = 16


def _sql_band_index(num_hashes: int, bands: int) -> str:
    """The bands CTE body of _sql_minhash_pairs, reused for the
    incremental-dedup oracle (same md5_60 double-hash construction)."""
    rpb = num_hashes // bands
    h1 = _SQL_MD5_60.format(x="s")
    h2 = _SQL_MD5_60.format(x="'x' || s")
    return f"""
    base AS (SELECT doc_id, {_SQL_SHINGLES} AS sh FROM documents),
    hp AS (
      SELECT doc_id,
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
    )"""


# --- Model-based quality filtering -----------------------------------------
#
# Weights are BINARY FRACTIONS (multiples of 2^-6) so per-document weight
# sums are exact in double regardless of addition order — the dict path
# (per-row sequential fold) and the oracle's unordered SUM agree
# bit-for-bit, and keep = (score >= 0) is an exact comparison.
_CLF_WEIGHTS = {
    "fast": 2 / 64,
    "spark": 1 / 64,
    "query": 1 / 64,
    "slow": -2 / 64,
    "dup": -8 / 64,
    "big": -1 / 64,
}
_CLF_BIAS = -2 / 64


def _sql_clf_weights() -> str:
    return ", ".join(
        f"('{t}', CAST({v!r} AS DOUBLE))" for t, v in _CLF_WEIGHTS.items()
    )


# --- SemDeDup: cluster-then-prune semantic dedup ----------------------------

_SEMDEDUP_THRESHOLD = 0.3


_GOPHER_MIN_WORDS = 20
_GOPHER_STOP_SQL = "['the','a','an','and','of','to','in','is','that','for']"


def _sql_gopher_metrics(t: str) -> Dict[str, str]:
    """DuckDB spellings of every Gopher §A1.1 metric over text expression
    ``t`` — the single source the three Gopher-consuming oracles share
    (rules query, dataset card, curation stream), mirroring
    ``operators.text.gopher_quality_flags`` expression-for-expression."""
    ws = f"regexp_split_to_array(trim({t}), '\\s+')"
    n_words = f"CAST(len({ws}) AS BIGINT)"
    n_hash = f"(length({t}) - length(replace({t}, '#', '')))"
    # '...' removal strips 3 chars per occurrence — the /3 quotient is an
    # exact integer, so the BIGINT cast is lossless in either engine
    n_ellipsis = (
        f"(CAST((length({t}) - length(replace({t}, '...', ''))) / 3 AS BIGINT)"
        f" + (length({t}) - length(replace({t}, '…', ''))))"
    )
    lines = f"regexp_split_to_array({t}, '\\n')"
    n_lines = f"CAST(len({lines}) AS BIGINT)"
    norm_lines = (
        f"list_transform(list_filter({lines}, l -> trim(l) <> ''), "
        f"l -> lower(trim(l)))"
    )
    return {
        "n_words": n_words,
        "mean_word_len": (
            f"CAST(length(regexp_replace({t}, '\\s+', '', 'g')) AS DOUBLE)"
            f" / CAST(len({ws}) AS DOUBLE)"
        ),
        "alpha_ratio": (
            f"CAST(len(list_filter({ws}, w -> regexp_matches(w, '[a-zA-Z]')))"
            f" AS DOUBLE) / CAST(len({ws}) AS DOUBLE)"
        ),
        "n_stopwords": (
            f"CAST(len(list_filter({ws}, w -> list_contains({_GOPHER_STOP_SQL},"
            f" lower(w)))) AS BIGINT)"
        ),
        "symbol_word_ratio": (
            f"CAST(greatest({n_hash}, {n_ellipsis}) AS DOUBLE)"
            f" / CAST({n_words} AS DOUBLE)"
        ),
        "bullet_line_frac": (
            f"CAST(len(list_filter({lines},"
            f" l -> regexp_matches(l, '^\\s*[-*•](\\s|$)'))) AS DOUBLE)"
            f" / CAST({n_lines} AS DOUBLE)"
        ),
        "ellipsis_line_frac": (
            f"CAST(len(list_filter({lines},"
            f" l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE)"
            f" / CAST({n_lines} AS DOUBLE)"
        ),
        "dup_line_frac": (
            f"CASE WHEN len({norm_lines}) > 0 THEN"
            f" CAST(len({norm_lines}) - len(list_distinct({norm_lines})) AS DOUBLE)"
            f" / CAST(len({norm_lines}) AS DOUBLE) ELSE 0.0 END"
        ),
    }


def _sql_gopher_ok(t: str = "text", min_words: int = _GOPHER_MIN_WORDS) -> str:
    """The full 8-rule pass_all condition over text expression ``t``."""
    m = _sql_gopher_metrics(t)
    return (
        f"({m['n_words']} >= {min_words} AND {m['n_words']} <= 100000"
        f" AND {m['mean_word_len']} >= 3.0 AND {m['mean_word_len']} <= 10.0"
        f" AND {m['alpha_ratio']} >= 0.8"
        f" AND {m['n_stopwords']} >= 2"
        f" AND {m['symbol_word_ratio']} <= 0.1"
        f" AND {m['bullet_line_frac']} <= 0.9"
        f" AND {m['ellipsis_line_frac']} <= 0.3"
        f" AND {m['dup_line_frac']} <= 0.3)"
    )


#: Deterministic multi-line variant of the fixture text: the raw corpus is
#: single-line prose with no '#'/'…'/bullets, which would leave the
#: line-level Gopher metrics identically zero — useless as a cross-engine
#: check.  Literal (non-regex, left-to-right, all-occurrence — identical
#: semantics in Spark and DuckDB) token rewrites synthesize the structures
#: the rules measure: ' line'→newline+'-' (bulleted line breaks, with
#: natural duplicate lines), ' slow'→' ...' (ellipses, some line-final),
#: ' hash'→' #' (hash symbols).
_GOPHER_DERIVED_SQL = (
    # base derivation: ellipses, symbols, bullet-ish lines — then three
    # doc slices pushed PAST a rule threshold each (de-spaced -> giant
    # word fails mean_word_len; every-word-bulleted fails bullet_lines;
    # 8 identical appended lines fail dup_lines): without them those
    # three pass-flags were constant 1 in the oracle at every SF
    # (round-8 constant-column audit)
    "CASE WHEN doc_id % 13 = 0 THEN replace("
    "replace(replace(replace(text, ' slow', ' ...'), ' hash', ' #'),"
    " ' line', chr(10) || '-'), ' ', '')"
    " WHEN doc_id % 11 = 0 THEN replace("
    "replace(replace(replace(text, ' slow', ' ...'), ' hash', ' #'),"
    " ' line', chr(10) || '-'), ' ', chr(10) || '- ')"
    " WHEN doc_id % 17 = 0 THEN "
    "replace(replace(replace(text, ' slow', ' ...'), ' hash', ' #'),"
    " ' line', chr(10) || '-') || repeat(chr(10) || 'dup dup', 8)"
    " ELSE replace(replace(replace(text, ' slow', ' ...'), ' hash', ' #'),"
    " ' line', chr(10) || '-') END"
)

def _gopher_derived_col():
    """The Spark Column mirroring ``_GOPHER_DERIVED_SQL`` — ONE shared
    spelling for every query that grades flags over the derived corpus
    (gopher rules, curation funnel), so the two sides cannot drift."""
    base = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit(" slow"), F.lit(" ...")),
            F.lit(" hash"),
            F.lit(" #"),
        ),
        F.lit(" line"),
        F.lit("\n-"),
    )
    return (
        F.when(F.col("doc_id") % 13 == 0, F.replace(base, F.lit(" "), F.lit("")))
        .when(F.col("doc_id") % 11 == 0, F.replace(base, F.lit(" "), F.lit("\n- ")))
        .when(
            F.col("doc_id") % 17 == 0,
            F.concat(base, F.repeat(F.lit("\ndup dup"), 8)),
        )
        .otherwise(base)
    )


_GOPHER_M = _sql_gopher_metrics("t.der")


#: BM25 query terms (text_bm25_topk, hybrid_rrf_topk): one rare term
#: ('dup' — df 25 of 500 docs at sf0.01) and two common ones, so idf
#: spread is real.  Sorted-lowercase order matters: the per-term score
#: sum is evaluated in this order on BOTH engines (IEEE-identical trees).
_BM25_TERMS = ["dup", "scan", "vector"]


def _sql_tf(term: str) -> str:
    return (
        "CAST(len(list_filter(list_transform("
        "regexp_split_to_array(trim(text), '\\s+'), x -> lower(x)), "
        f"x -> x = '{term}')) AS BIGINT)"
    )


def _sql_bm25(terms, k: int) -> str:
    terms = sorted({t.lower() for t in terms})
    tf_cols = ",\n             ".join(
        f"{_sql_tf(t)} AS tf{i}" for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms))
    )
    # mirrors operators/text.py::bm25_topk exactly: idf rounded
    # binary-faithfully (floor(x*1e9 + 0.5)/1e9), k1=1.2, b=0.75, and the
    # same left-associative expression shapes so doubles are bit-identical
    def contrib(i: int) -> str:
        idf = (
            f"floor(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df{i} AS DOUBLE) + 0.5)) * 1000000000.0 + 0.5)"
            " / 1000000000.0"
        )
        denom = (
            f"CAST(tf{i} AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)"
            " / (CAST(dl_total AS DOUBLE) / CAST(n AS DOUBLE)))"
        )
        return f"{idf} * CAST(tf{i} AS DOUBLE) * 2.2 / ({denom})"

    score = " + ".join(contrib(i) for i in range(len(terms)))
    n_hits = " + ".join(
        f"CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END" for i in range(len(terms))
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS dl,
             {tf_cols}
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n, SUM(dl) AS dl_total, {df_cols} FROM base
    ),
    scored AS (
      SELECT b.doc_id, b.dl,
             CAST({n_hits} AS BIGINT) AS n_hits,
             {score} AS score
      FROM base b CROSS JOIN stats
    ),
    topk AS (
      SELECT * FROM scored WHERE n_hits > 0
      ORDER BY score DESC, doc_id LIMIT {k}
    )
    SELECT doc_id, dl, n_hits, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM topk
    """


_SQL_BM25 = _sql_bm25(_BM25_TERMS, k=25)


#: Embedding-space composition + cluster-balanced selection, under the
#: suite's deterministic seed centroids (first _IVF_CELLS corpus vectors,
#: FAISS-style sampled init — the semantic-dedup oracle pattern).


_SQL_CLUSTER_ASSIGN = f"""
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ca FROM embeddings),
    cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
             FROM embeddings WHERE vec_id < {_IVF_CELLS}),
    cd AS (
      SELECT c.vec_id, cent.cid, {_sql_dist2('ca', 'ce')} AS d2,
             ROW_NUMBER() OVER (PARTITION BY c.vec_id
                                ORDER BY {_sql_dist2('ca', 'ce')}, cent.cid) AS rn
      FROM c CROSS JOIN cent
    )
"""


# ---------------------------------------------------------------------------
# Bloom-filter decontamination screen (operators/dedup.py::bloom_decontaminate)
# ---------------------------------------------------------------------------


_BLOOM_BITS = 1 << 16


def _sql_bloom_pos(expr: str, i: int, num_bits: int = _BLOOM_BITS) -> str:
    # DuckDB spelling of operators/dedup.py::bloom_positions slot i in a
    # filter of num_bits bits
    return (
        f"(CAST('0x' || substr(md5({expr} || ':{i}'), 1, 15) AS BIGINT)"
        f" % {num_bits})"
    )


_WINNOW_SEL_SQL = f"""
    t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    g AS (SELECT doc_id,
            list_transform(generate_series(1, greatest(len(toks) - 4, 1)),
              i -> CAST('0x' || substr(md5(array_to_string(
                     list_slice(toks, i, i + 4), ' ')), 1, 15) AS BIGINT)) AS h
          FROM t),
    w AS (SELECT doc_id, h,
                 unnest(generate_series(1, greatest(len(h) - 3, 1))) AS i
          FROM g),
    w2 AS (SELECT doc_id, CAST(i AS INT) AS i, list_slice(h, i, i + 3) AS s
           FROM w),
    sel AS (SELECT DISTINCT doc_id,
              CAST(i + len(s) - list_position(list_reverse(s), list_min(s))
                   AS INT) AS pos,
              list_min(s) AS fp
            FROM w2)
"""


_STALE_Q = "1000000.0"  # quantum literal: 1e6, spelled once for both engines


_SHARD_N = 8


# Registration: each family module decorates its builders with @q on import.
# Imported last so every shared name above is bound; plain ``import`` keeps
# this module's operator-module names (text, dedup, ...) unrebound.
import pdtable_spark.queries.relational  # noqa: E402,F401
import pdtable_spark.queries.text  # noqa: E402,F401
import pdtable_spark.queries.dedup  # noqa: E402,F401
import pdtable_spark.queries.embedding  # noqa: E402,F401
import pdtable_spark.queries.multimodal  # noqa: E402,F401
import pdtable_spark.queries.lake  # noqa: E402,F401
import pdtable_spark.queries.stream  # noqa: E402,F401
import pdtable_spark.queries.pipeline  # noqa: E402,F401

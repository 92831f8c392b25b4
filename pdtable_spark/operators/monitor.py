"""Corpus observability: distribution-drift measurement between two corpus
snapshots (yesterday's lake vs today's, pre- vs post-curation, batch N vs
batch N+1 of a continuous ingest).

A 100 TB pipeline fails quietly through composition shifts — a crawler
change doubles one domain, a filter regression empties a language — long
before any single document looks wrong.  The drift report is the cheap
standing alarm: per categorical dimension, how far apart are the two
snapshots' distributions, and which values moved.

Pure aggregations over categorical keys — per dimension one
map-side-combinable count per side, joined on the (bounded) category
domain; nothing corpus-sized ever sits on the driver.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdtable_spark.frame import local_frame
from pdtable_spark.operators.scanfan import fanout_small_scan
from pdtable_spark.operators.sqltext import ident, num


def corpus_drift_report(
    df_old: DataFrame,
    df_new: DataFrame,
    dim_cols: List[str],
) -> DataFrame:
    """Per-(dimension, value) composition drift between two snapshots.

    Returns one row per dimension value observed in EITHER snapshot:
    (dim, value — stringified so heterogeneous dimension types stack,
    n_old, n_new, share_old, share_new, delta = share_new − share_old,
    abs_delta).  Summing ``abs_delta / 2`` within a ``dim`` gives that
    dimension's total-variation distance (see :func:`corpus_drift_tvd`).

    Determinism: counts are exact integers and shares integer ratios, so
    the report is bit-identical on any engine — fit for a value-oracled
    regression gate, not just a dashboard.

    Scale: ONE scan per side regardless of how many dimensions are
    monitored — each row explodes into its D (dim, value) pairs inside the
    scan projection, so a 10-dimension report over 100 TB still reads the
    corpus once per snapshot (the per-dimension-loop spelling paid D scans
    per side).  The count aggregate is map-side-combinable and its shuffle
    is category-domain-sized (Σ per-dim domains), followed by one full
    outer join on the (dim, value) key.  NULL category values are
    legitimate and tracked as a value.
    """
    return corpus_drift_report_from_counts(
        drift_counts(df_old, dim_cols, "n_old"),
        drift_counts(df_new, dim_cols, "n_new"),
    )


def drift_counts(df: DataFrame, dim_cols: List[str], out: str) -> DataFrame:
    """One snapshot's (dim, value, count) frame — the aggregated form the
    drift report joins.  Exposed so a FIXED side can be aggregated (and
    persisted) ONCE and reused across many comparisons: a streaming
    monitor re-deriving its 100 TB reference's counts every micro-batch
    would pay a corpus scan per batch for an unchanging
    category-domain-sized result."""
    if not dim_cols:
        raise ValueError("drift_counts: dim_cols must be non-empty")
    pairs = F.array(
        *[
            F.struct(
                F.lit(dim).alias("dim"),
                F.col(dim).cast("string").alias("value"),
            )
            for dim in dim_cols
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.dim").alias("dim"), F.col("p.value").alias("value"))
        .agg(F.count(F.lit(1)).alias(out))
    )


def corpus_drift_report_from_counts(
    counts_old: DataFrame, counts_new: DataFrame
) -> DataFrame:
    """:func:`corpus_drift_report` from pre-aggregated
    :func:`drift_counts` frames — (dim, value, n_old) vs (dim, value,
    n_new).  Same output contract; use when one side's counts are reused
    across comparisons (pinned reference snapshots, N-way drift grids)."""
    from pyspark.sql import Window

    o = counts_old.alias("o")
    n = counts_new.alias("n")
    # null-SAFE value equality: a NULL category (real corpora have them)
    # must merge into one row, not split into an old-side and a new-side
    # orphan
    out = o.join(
        n,
        (F.col("o.dim") == F.col("n.dim"))
        & F.col("o.value").eqNullSafe(F.col("n.value")),
        "full_outer",
    ).select(
        F.coalesce(F.col("o.dim"), F.col("n.dim")).alias("dim"),
        F.coalesce(F.col("o.value"), F.col("n.value")).alias("value"),
        F.coalesce(F.col("o.n_old"), F.lit(0)).alias("n_old"),
        F.coalesce(F.col("n.n_new"), F.lit(0)).alias("n_new"),
    )
    # snapshot totals come from the count rows themselves — every row
    # belongs to exactly one category value (NULL included), so the
    # per-dim window sum IS the corpus total; aggregating the raw
    # snapshots separately would pay two more corpus scans per dimension.
    # The window partition is the (bounded) category domain of one dim.
    w = Window.partitionBy("dim")
    t_old, t_new = F.sum("n_old").over(w), F.sum("n_new").over(w)
    share_old = F.when(
        t_old > 0, F.col("n_old").cast("double") / t_old.cast("double")
    ).otherwise(F.lit(0.0))
    share_new = F.when(
        t_new > 0, F.col("n_new").cast("double") / t_new.cast("double")
    ).otherwise(F.lit(0.0))
    return out.select(
        "dim",
        "value",
        "n_old",
        "n_new",
        share_old.alias("share_old"),
        share_new.alias("share_new"),
        (share_new - share_old).alias("delta"),
        F.abs(share_new - share_old).alias("abs_delta"),
    )


def corpus_drift_tvd(
    df_old: DataFrame,
    df_new: DataFrame,
    dim_cols: List[str],
    quantize: float | None = None,
) -> DataFrame:
    """Per-dimension total-variation distance between the snapshots:
    (dim, n_values, tvd) with tvd = ½·Σ|share_new − share_old| ∈ [0, 1] —
    the one-number drift alarm to threshold in CI (0 = identical
    composition, 1 = disjoint).

    A sum of doubles is order-dependent; pass ``quantize`` (e.g. ``1e9``)
    to floor each |delta| to that precision and sum exact integers — the
    suite's cross-engine determinism recipe — when the tvd itself must be
    bit-reproducible (regression gates), not merely accurate."""
    return drift_tvd_from_report(
        corpus_drift_report(df_old, df_new, dim_cols), quantize
    )


def drift_tvd_from_report(rep: DataFrame, quantize: float | None = None) -> DataFrame:
    """:func:`corpus_drift_tvd` over an EXISTING report frame — so
    report + TVD + PSI over the same snapshot pair cost ONE report
    derivation (or one persisted report), not three."""
    if quantize is None:
        tvd = F.sum("abs_delta") / F.lit(2.0)
    else:
        tvd = quantized_tvd_scale(F.sum(quantized_tvd_term(quantize)), quantize)
    return rep.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_values"),
        tvd.alias("tvd"),
    )


def quantized_tvd_term(quantize: float):
    """Per-row exact-integer term of the quantized TVD sum over a
    :func:`corpus_drift_report` frame — ONE spelling shared by the batch
    aggregate (:func:`corpus_drift_tvd`) and the streaming per-batch
    window (:mod:`pdtable_spark.streaming.monitor`), so the two paths
    cannot drift apart on the determinism-critical quantization."""
    return F.floor(F.col("abs_delta") * F.lit(quantize)).cast("long")


def quantized_tvd_scale(summed, quantize: float):
    """Scale a summed :func:`quantized_tvd_term` back to the ½·Σ|Δ| TVD."""
    return summed.cast("double") / F.lit(quantize) / F.lit(2.0)


def corpus_psi(
    df_old: DataFrame,
    df_new: DataFrame,
    dim_cols: List[str],
    epsilon: float = 1e-6,
    quantize: float = 1e9,
) -> DataFrame:
    """Population Stability Index per dimension: (dim, n_values, psi) with
    psi = Σ_v (p_new − p_old)·ln(p_new / p_old) — the industry-standard
    drift gate (rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25
    shifted), complementing :func:`corpus_drift_tvd`: TVD weighs all mass
    movement linearly, PSI amplifies movement into/out of RARE categories
    (a vanishing language scores high PSI long before it moves the TVD).

    Zero-mass smoothing: shares are floored at ``epsilon`` before the log
    (the standard spelling — a category absent from one side contributes a
    large-but-finite term instead of ±inf).  Each term is non-negative.

    Determinism: the suite's stacked recipe — ln rounds at 9 decimals
    (JVM/libm last-ulp), then terms sum as quantized BIGINTs
    (order-independent), so the gate value is bit-reproducible anywhere.

    Scale: inherits :func:`corpus_drift_report`'s one-scan-per-side plan;
    the PSI rollup aggregates the category-domain-sized report frame.
    """
    return psi_from_report(
        corpus_drift_report(df_old, df_new, dim_cols), epsilon, quantize
    )


def psi_from_report(
    rep: DataFrame, epsilon: float = 1e-6, quantize: float = 1e9
) -> DataFrame:
    """:func:`corpus_psi` over an EXISTING report frame (see
    :func:`drift_tvd_from_report` for why)."""
    p_o = F.greatest(F.col("share_old"), F.lit(float(epsilon)))
    p_n = F.greatest(F.col("share_new"), F.lit(float(epsilon)))
    term = F.round((p_n - p_o) * F.ln(p_n / p_o), 9)
    q_term = F.floor(term * F.lit(float(quantize))).cast("long")
    return rep.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n_values"),
        (F.sum(q_term).cast("double") / F.lit(float(quantize))).alias("psi"),
    )


def bucketize(col, lo: float, hi: float, bins: int):
    """Fixed-width bin index in [0, bins) for a numeric column over
    [lo, hi): floor((x−lo)/width) with both ends clamped (outliers land in
    the edge bins, never a ghost category).  NULL stays NULL (a legitimate
    tracked category).  Pure double arithmetic — identical IEEE result on
    any engine when both spell this expression."""
    if bins <= 0 or not hi > lo:
        raise ValueError("bucketize: need bins > 0 and hi > lo")
    width = (float(hi) - float(lo)) / bins
    idx = F.floor((col.cast("double") - F.lit(float(lo))) / F.lit(width))
    return (
        F.when(col.isNull(), F.lit(None))
        .otherwise(F.least(F.greatest(idx, F.lit(0)), F.lit(bins - 1)))
        .cast("long")
    )


def numeric_drift_report(
    df_old: DataFrame,
    df_new: DataFrame,
    num_col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """:func:`corpus_drift_report` for a NUMERIC column: both snapshots are
    bucketized with SHARED fixed-width edges over [lo, hi) (clamped, so
    outliers land in the edge bins), then drift is the categorical report
    over the bin index — ``value`` is the stringified bin, ``dim`` the
    column name.  Fix lo/hi from the REFERENCE side's known range (a
    production monitor pins them in config): data-dependent edges would
    make the report incomparable across runs.

    Compose with :func:`corpus_psi` / :func:`corpus_drift_tvd` by
    bucketizing first — e.g.
    ``corpus_psi(bucketize_frame(old), bucketize_frame(new), [col])``."""

    def prep(d: DataFrame) -> DataFrame:
        return d.select(bucketize(F.col(num_col), lo, hi, bins).alias(num_col))

    return corpus_drift_report(prep(df_old), prep(df_new), [num_col])


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    thresholds: List[float],
    text_col: str | None = "text",
    by: List[str] | None = None,
) -> DataFrame:
    """The filter-tuning curve: for each candidate threshold, how much of
    the corpus survives ``score >= t`` — (threshold, n_kept, share_kept
    [, tokens_kept, token_share]).  This is the table every curation
    decision actually gets made from ("0.7 keeps 40% of docs but 55% of
    tokens"); sweeping it as ONE query replaces T filter-count jobs.

    ``text_col`` adds token-weighted columns (thresholds that keep many
    short docs and thresholds that keep few long ones can have equal doc
    share and very different token share); pass None to skip the
    tokenize cost.  NULL scores fail no threshold (kept by none) — they
    are unmeasured, not zero.

    ``by`` groups the curve (e.g. ``["source"]``): one curve per group,
    shares WITHIN the group — the per-source cut a mixture rebalance is
    tuned from.  Same single scan; the aggregate keys on the group
    columns instead of collapsing to one row.

    100 TB design: one corpus scan with T conditional sums folded into a
    single map-side-combinable aggregate row (T ships as codegen
    literals, the classifier-map-literal trick), then the curve unpivots
    from that ONE row via inline — no per-threshold pass, no shuffle
    beyond the single-row aggregate.
    """
    if not thresholds:
        raise ValueError("threshold_sweep: thresholds must be non-empty")
    ts = sorted({float(t) for t in thresholds})

    # SQL text throughout: the Column form built ~12 aggregate exprs + T
    # five-field structs through py4j (~0.4 s of driver time per sweep
    # build); the same trees parse JVM-side in a handful of calls.
    from pdtable_spark.operators.text import _tokens_sql

    by = list(by or [])
    cols = [*[ident(c) for c in by], f"{ident(score_col)} AS __s"]
    if text_col is not None:
        cols.append(f"CAST(size({_tokens_sql(ident(text_col))}) AS BIGINT) AS __tok")
    base = df.selectExpr(*cols)
    aggs = ["count(1) AS __n"]
    if text_col is not None:
        aggs.append("sum(__tok) AS __tk")
    for i, t in enumerate(ts):
        keep = f"CAST((__s >= {num(t)}) AS BIGINT)"
        aggs.append(f"sum({keep}) AS __k{i}")
        if text_col is not None:
            aggs.append(f"sum({keep} * __tok) AS __t{i}")
    agg_cols = [F.expr(a) for a in aggs]
    row = base.groupBy(*by).agg(*agg_cols) if by else base.agg(*agg_cols)

    def share(part, whole):
        return (
            f"CASE WHEN {whole} > 0 THEN CAST({part} AS DOUBLE) / "
            f"CAST({whole} AS DOUBLE) ELSE 0.0D END"
        )

    entries = []
    for i, t in enumerate(ts):
        fields = [
            f"{num(t)} AS threshold",
            f"CAST(coalesce(__k{i}, 0) AS BIGINT) AS n_kept",
            share(f"__k{i}", "__n") + " AS share_kept",
        ]
        if text_col is not None:
            fields += [
                f"CAST(coalesce(__t{i}, 0) AS BIGINT) AS tokens_kept",
                share(f"__t{i}", "__tk") + " AS token_share",
            ]
        entries.append("struct(" + ", ".join(fields) + ")")
    return row.selectExpr(
        *[ident(c) for c in by],
        "inline(array(" + ", ".join(entries) + "))",
    )


def cluster_drift(
    df_old: DataFrame,
    df_new: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Drift in EMBEDDING space: both snapshots assigned to a fixed
    centroid set, then the standard categorical report over the cell
    dimension — (dim='cell', value, n_old, n_new, share_old, share_new,
    delta, abs_delta).  Catches the shifts no metadata dimension shows
    (a crawler surfacing a new TOPIC moves cell shares before any
    source/lang column moves), and because the output IS a drift report,
    :func:`drift_tvd_from_report` / :func:`psi_from_report` gate it for
    free.

    The centroid set must be the SAME fixed artifact for both snapshots
    (and across runs) — drift against re-trained centroids measures the
    training noise, not the corpus.  Cells observed in neither snapshot
    are absent (the report contract); run :func:`...similarity.cluster_profile`
    per side when empty cells must surface.

    100 TB design: assignment is the scan-local broadcast-matrix fold
    (one scan per side), counts shuffle centroid-cardinality rows, and
    the merge window partitions on the bounded cell domain.
    """
    from pdtable_spark.operators.similarity import (
        _as_double,
        _cell_scores,
        _matrix_frame,
    )

    cents = [[float(x) for x in c] for c in centroids]

    def cell_counts(d: DataFrame, out: str) -> DataFrame:
        c = _matrix_frame(
            d.select(_as_double(ident(vec_col)).alias("vec")), "__cents", cents, 2
        )
        best = F.element_at(_cell_scores("vec", "__cents"), 1)
        return (
            c.select(best["cell"].alias("cell"))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias(out))
            .select(
                F.lit("cell").alias("dim"),
                F.col("cell").cast("string").alias("value"),
                F.col(out),
            )
        )

    return corpus_drift_report_from_counts(
        cell_counts(df_old, "n_old"), cell_counts(df_new, "n_new")
    )


# ---------------------------------------------------------------------------
# Mergeable distinct-count ledger (Apache DataSketches HLL, JVM-native)
# ---------------------------------------------------------------------------


def distinct_sketch(
    df: DataFrame,
    key_col: str = "doc_id",
    by: str = "source",
    lgk: int = 12,
) -> DataFrame:
    """Per-group MERGEABLE distinct-count sketches: (by, sketch, estimate)
    via Spark's JVM-native Apache DataSketches HLL aggregate
    (``hll_sketch_agg`` — whole-stage-codegen, partially aggregable, so
    the shuffle moves one ~2^lgk-byte sketch per group per partition,
    never keys).

    Why a sketch and not ``count_distinct``: at 100 TB the exact count is
    a key-domain shuffle EVERY time you ask, and counts from different
    snapshots/days don't compose — you must re-scan the union.  Sketches
    persist next to each snapshot and :func:`sketch_union` answers "how
    many distinct docs across all snapshots" from the ledger alone (one
    scan of sketch rows, no corpus rescan) — the standing corpus
    bookkeeping a continuous ingest needs (unique-docs-ever, per-source
    dedup-rate trends) at ~0.8% relative error for lgk=12.

    NULL keys are skipped by the sketch aggregate (a NULL identity has no
    distinct-count meaning); estimates are DETERMINISTIC for fixed data
    (fixed hash) and layout-independent (merge is associative +
    commutative) — pytest-pinned, and exact in sparse mode (small
    groups), so the test-SF oracle can bound them tightly.
    """
    return df.groupBy(by).agg(
        F.hll_sketch_agg(F.col(key_col).cast("string"), F.lit(int(lgk))).alias(
            "sketch"
        )
    ).select(
        by,
        "sketch",
        F.hll_sketch_estimate("sketch").alias("estimate"),
    )


def sketch_union(ledgers: DataFrame, by: str = "source") -> DataFrame:
    """Merge :func:`distinct_sketch` rows across snapshots (stack the
    per-snapshot ledger frames with ``unionByName`` first): per group,
    the HLL union sketch and the distinct-count estimate of the UNION of
    every contributing snapshot — no corpus rescan, sketch-sized work
    only.  Accepts mixed lgk ledgers (the union downgrades to the
    coarsest, per DataSketches semantics)."""
    return (
        ledgers.groupBy(by)
        .agg(F.hll_union_agg("sketch", F.lit(True)).alias("sketch"))
        .select(by, "sketch", F.hll_sketch_estimate("sketch").alias("estimate"))
    )


def novelty_estimate(
    ledger: DataFrame,
    batch: DataFrame,
    key_col: str = "doc_id",
    by: str = "source",
    lgk: int = 12,
) -> DataFrame:
    """How many NEVER-SEEN keys does this batch add, per group — without
    storing or rescanning historical ids: ``est(union(ledger, batch)) −
    est(ledger)``.  Returns (by, n_batch_distinct, est_seen_before,
    est_after, est_new) — the continuous-ingest novelty dashboard
    (crawl productivity collapses ⇒ est_new trends to zero long before
    storage notices).  Estimate arithmetic inherits sketch error; in
    sparse mode (test SF) it is exact.
    """
    b = distinct_sketch(batch, key_col, by, lgk)
    merged = sketch_union(
        ledger.select(by, "sketch").unionByName(b.select(by, "sketch")), by
    )
    return (
        b.select(by, F.col("estimate").alias("n_batch_distinct"))
        .join(
            ledger.select(by, F.col("estimate").alias("est_seen_before")),
            by,
            "left",
        )
        .join(merged.select(by, F.col("estimate").alias("est_after")), by)
        .select(
            by,
            "n_batch_distinct",
            F.coalesce("est_seen_before", F.lit(0)).alias("est_seen_before"),
            "est_after",
            (
                F.col("est_after") - F.coalesce("est_seen_before", F.lit(0))
            ).alias("est_new"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable score-distribution ledger (fixed-boundary histogram sketches)
# ---------------------------------------------------------------------------


def histogram_ledger(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 64,
    by: str = "source",
) -> DataFrame:
    """Per-group FIXED-BOUNDARY histogram of ``value_col`` as mergeable
    ``(by, bin, n)`` rows — the quantile sibling of the HLL
    :func:`distinct_sketch` ledger.  Snapshots persist their bin rows
    next to the data; cross-snapshot distributions merge by ADDITION
    (:func:`ledger_union` — a groupBy-sum over KB-scale rows, no corpus
    rescan), which ``approx_percentile``'s GK state cannot do across
    separately-written snapshots.  The price of mergeability is the
    fixed ``[lo, hi)`` grid: quantile estimates from
    :func:`quantiles_from_ledger` carry at most one bin width of error,
    chosen up front instead of adaptively.

    Bins: ``bin = floor((v - lo) / width)`` clamped to ``n_bins - 1``
    (the right edge lands inward, exactly as the SQL spelling), with
    explicit underflow (``-1``) and overflow (``n_bins``) bins so
    out-of-range mass is VISIBLE, never silently clamped into the grid.
    NULL values carry no distribution information and are dropped.

    Scale: one corpus scan into a map-side-combinable count over the
    ``(by, bin)`` domain — the shuffle is at most groups x (n_bins + 2)
    rows.  Counts are exact integers, so estimates are deterministic
    and layout-independent.
    """
    if not (hi > lo):
        raise ValueError("histogram_ledger: need hi > lo")
    if n_bins < 1:
        raise ValueError("histogram_ledger: need n_bins >= 1")
    width = (float(hi) - float(lo)) / float(n_bins)
    v = F.col(value_col).cast("double")
    b = (
        F.when(v < F.lit(float(lo)), F.lit(-1))
        .when(v >= F.lit(float(hi)), F.lit(int(n_bins)))
        .otherwise(
            F.least(
                F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("int"),
                F.lit(int(n_bins) - 1),
            )
        )
    )
    return (
        df.filter(v.isNotNull())
        .select(F.col(by), b.cast("int").alias("bin"))
        .groupBy(by, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        # grid stamp (the sq_index sq_levels pattern): merging or
        # interpolating under a DIFFERENT (lo, hi, n_bins) is
        # silently-wrong arithmetic — downstream ops verify these;
        # constant columns RLE to nothing in parquet
        .select(
            by, "bin", "n",
            F.lit(float(lo)).alias("grid_lo"),
            F.lit(float(hi)).alias("grid_hi"),
            F.lit(int(n_bins)).cast("int").alias("grid_bins"),
        )
    )


def ledger_union(ledgers: DataFrame, by: str = "source") -> DataFrame:
    """Merge stacked :func:`histogram_ledger` frames (``unionByName``
    the snapshots first): bin counts ADD — ledger-sized work only.
    Mixed GRIDS fail loudly (bin counts from different (lo, hi,
    n_bins) add without error but mean nothing): the check is one
    distinct over the grid-stamp columns of a KB-scale frame."""
    grid_cols = ["grid_lo", "grid_hi", "grid_bins"]
    out_grid = []
    if all(c in ledgers.columns for c in grid_cols):
        grids = ledgers.select(*grid_cols).distinct().collect()
        if len(grids) > 1:
            raise ValueError(
                f"ledger_union: mixed histogram grids {sorted(map(tuple, grids))}"
                " — re-bin to one grid before merging"
            )
        g = grids[0]
        out_grid = [
            F.lit(float(g["grid_lo"])).alias("grid_lo"),
            F.lit(float(g["grid_hi"])).alias("grid_hi"),
            F.lit(int(g["grid_bins"])).cast("int").alias("grid_bins"),
        ]
    return (
        ledgers.groupBy(by, "bin")
        .agg(F.sum("n").alias("n"))
        .select(by, "bin", "n", *out_grid)
    )


def quantiles_from_ledger(
    ledger: DataFrame,
    qs,
    lo: float,
    hi: float,
    n_bins: int = 64,
    by: str = "source",
) -> DataFrame:
    """Per-group quantile estimates from a (possibly multi-snapshot)
    histogram ledger: for each ``q``, linear interpolation inside the
    first bin whose cumulative count reaches ``q x total`` (the
    Prometheus ``histogram_quantile`` rule) — at most one bin width of
    error on the fixed grid, from ledger rows alone.  Underflow /
    overflow mass clamps its estimate to ``lo`` / ``hi`` (the grid
    cannot see beyond its boundaries — widen it if those bins matter).

    Returns (``by``, q, est).  Deterministic: counts are exact BIGINTs
    and every double expression is spelled identically in the SQL
    oracle, so estimates are bit-equal across engines and layouts.
    """
    from pyspark.sql import Window

    if n_bins < 1:
        raise ValueError("quantiles_from_ledger: need n_bins >= 1")
    grid_cols = ["grid_lo", "grid_hi", "grid_bins"]
    if all(c in ledger.columns for c in grid_cols):
        bad = ledger.filter(
            (F.col("grid_lo") != F.lit(float(lo)))
            | (F.col("grid_hi") != F.lit(float(hi)))
            | (F.col("grid_bins") != F.lit(int(n_bins)))
        ).limit(1).collect()
        if bad:
            r = bad[0]
            raise ValueError(
                "quantiles_from_ledger: ledger written at grid "
                f"({r['grid_lo']}, {r['grid_hi']}, {r['grid_bins']}) but "
                f"interpolation requested ({float(lo)}, {float(hi)}, "
                f"{int(n_bins)}) — silently-wrong arithmetic refused"
            )
    width = (float(hi) - float(lo)) / float(n_bins)
    led = ledger.groupBy(by, "bin").agg(F.sum("n").alias("n"))
    wcum = (
        Window.partitionBy(by)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(by)
    cum = led.select(
        by,
        "bin",
        "n",
        F.sum("n").over(wcum).alias("__cum"),
        F.sum("n").over(wtot).alias("__tot"),
    )
    qf = F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    cand = cum.select(by, "bin", "n", "__cum", "__tot", qf).filter(
        F.col("__cum").cast("double") >= F.col("q") * F.col("__tot").cast("double")
    )
    wpick = Window.partitionBy(by, "q").orderBy("bin")
    est = (
        F.when(F.col("bin") < 0, F.lit(float(lo)))
        .when(F.col("bin") >= n_bins, F.lit(float(hi)))
        .otherwise(
            F.lit(float(lo))
            + F.col("bin").cast("double") * F.lit(width)
            + (
                (
                    F.col("q") * F.col("__tot").cast("double")
                    - (F.col("__cum") - F.col("n")).cast("double")
                )
                / F.col("n").cast("double")
            )
            * F.lit(width)
        )
    )
    return (
        cand.withColumn("__r", F.row_number().over(wpick))
        .filter(F.col("__r") == 1)
        .select(by, "q", est.alias("est"))
    )


def table_profile(
    df: DataFrame,
    cols: Optional[List[str]] = None,
    exact_ndv: bool = True,
    ndv_rsd: float = 0.05,
) -> DataFrame:
    """Per-column table profile in ONE aggregate pass: row count, NULL
    count/fraction, and distinct count — the ANALYZE-TABLE pre-flight
    that sizes a join's shuffle key domain (NDV), flags the null-heavy
    foreign keys that serialize a reducer (the :func:`~pdtable_spark.
    operators.skew.skew_report` companion — NULLs all land on one key),
    and validates an ingest before it joins anything.

    Returns (col_name, n_rows, n_null, null_frac, ndv), one row per
    profiled column, ordered by name.  ``ndv`` counts distinct NON-NULL
    values (both engines' COUNT(DISTINCT) contract); ``null_frac`` is
    the single double division ``n_null / n_rows`` so the oracle
    reproduces it bit-for-bit.

    Scale: every statistic is an expression in one ``agg`` — no
    per-column jobs, no driver loop over columns.  ``exact_ndv=True``
    plans the multiple DISTINCT aggregates through Spark's Expand (one
    scan, rows×cols intermediate — exact, and what the value oracle
    checks); at 100 TB set ``exact_ndv=False`` for
    ``approx_count_distinct`` (HLL at ``ndv_rsd``, map-side-combinable
    single pass, no Expand) — same output shape, estimates documented
    by the rsd.  The unpivot runs on the single aggregate ROW, never on
    data.
    """
    names = list(cols) if cols is not None else list(df.columns)
    if not names:
        raise ValueError("table_profile: no columns to profile")
    missing = [c for c in names if c not in df.columns]
    if missing:
        raise ValueError(f"table_profile: columns not in frame: {missing}")
    # the unpivot goes through one F.expr(stack(...)) — a name carrying a
    # quote or backtick would splice into that string, so reject loudly
    bad = [c for c in names if "'" in c or "`" in c]
    if bad:
        raise ValueError(
            f"table_profile: column names with quotes/backticks are not "
            f"supported: {bad}"
        )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in names:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"__null_{c}")
        )
        ndv = (
            F.count_distinct(F.col(c))
            if exact_ndv
            else F.approx_count_distinct(c, ndv_rsd)
        )
        aggs.append(ndv.cast("long").alias(f"__ndv_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__null_{c}`, `__ndv_{c}`" for c in names
    )
    return (
        one.select(
            F.col("__n").cast("long").alias("n_rows"),
            F.expr(
                f"stack({len(names)}, {stack_args}) AS (col_name, n_null, ndv)"
            ),
        )
        .select(
            "col_name",
            "n_rows",
            "n_null",
            (F.col("n_null").cast("double") / F.col("n_rows").cast("double")).alias(
                "null_frac"
            ),
            "ndv",
        )
        .orderBy("col_name")
    )


def json_profile(
    df: DataFrame, json_col: str, max_depth: int = 2
) -> DataFrame:
    """Schema profile of a semi-structured JSON column: (path, kind, n)
    counts over the key paths actually present — the ingest-QA pass that
    answers "what shapes are in this events feed, and did yesterday's
    producer change them" before anything writes a typed schema.

    ``kind`` classifies each value as ``object`` / ``array`` /
    ``scalar`` / ``null`` (numbers, strings and booleans all land in
    ``scalar``: the map-typed reparse this runs on unquotes JSON
    strings, so "1" and 1 are indistinguishable — typed drill-down is
    the VARIANT/typed-schema step AFTER this profile names the paths).
    A string value that merely LOOKS like JSON does not fool the
    classifier: object/array require the bracket AND a successful
    reparse.  The root path ``$`` classifies each document —
    ``object`` or ``invalid`` (unparseable / non-object) — so feed
    corruption shows up as its own row instead of silently vanishing.

    Depth is capped at ``max_depth`` (1 or 2) BY CONSTRUCTION — each
    level is one ``explode`` of a parsed map, so codegen size is fixed
    and a pathological deeply-nested document cannot recurse.  Scale:
    one scan, per-level explodes bounded by key counts, one
    path-domain-sized aggregate — nothing row-sized shuffles.
    """
    if max_depth not in (1, 2):
        raise ValueError(f"json_profile: max_depth must be 1 or 2, got {max_depth}")

    def kind_of(val):
        obj = F.from_json(val, "map<string,string>")
        arr = F.from_json(val, "array<string>")
        return (
            F.when(val.isNull(), F.lit("null"))
            .when(val.startswith("{") & obj.isNotNull(), F.lit("object"))
            .when(val.startswith("[") & arr.isNotNull(), F.lit("array"))
            .otherwise(F.lit("scalar"))
        )

    raw = F.col(json_col)
    m1 = F.from_json(raw, "map<string,string>")
    df = fanout_small_scan(df)
    root = df.select(
        F.lit("$").alias("path"),
        F.when(raw.isNotNull() & raw.startswith("{") & m1.isNotNull(),
               F.lit("object"))
        .otherwise(F.lit("invalid"))
        .alias("kind"),
    )
    l1 = df.select(F.explode(m1).alias("k1", "v1")).select(
        F.concat(F.lit("$."), F.col("k1")).alias("path"),
        kind_of(F.col("v1")).alias("kind"),
        F.col("v1"),
        F.col("k1"),
    )
    levels = [root, l1.select("path", "kind")]
    if max_depth >= 2:
        m2 = F.from_json(F.col("v1"), "map<string,string>")
        l2 = (
            l1.filter(F.col("kind") == "object")
            .select(F.col("k1"), F.explode(m2).alias("k2", "v2"))
            .select(
                F.concat(
                    F.lit("$."), F.col("k1"), F.lit("."), F.col("k2")
                ).alias("path"),
                kind_of(F.col("v2")).alias("kind"),
            )
        )
        levels.append(l2)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return (
        out.groupBy("path", "kind")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("path", "kind")
    )


def json_extract_typed(
    df: DataFrame, json_col: str, plan: dict, prefix: str = ""
) -> DataFrame:
    """The typed drill-down AFTER :func:`json_profile` names the paths:
    compile a ``{path: spark_type}`` plan (paths in the profile's
    ``$.a`` / ``$.a.b`` spelling, types like ``"long"`` / ``"double"``
    / ``"string"`` / ``"array<long>"``) into ONE nested ``from_json``
    schema and project each path as a typed top-level column — the
    VARIANT-shaped step the profile docstring defers, as a single
    codegen-friendly parse instead of one ``get_json_object`` walk per
    path (which re-parses the document N times).

    Output columns are the paths with ``$.`` stripped and ``.`` →
    ``_`` (``$.geo.lat`` → ``geo_lat``), optionally ``prefix``-ed; the
    source columns ride through unchanged.  Missing paths and values
    that do not parse as the planned type come back NULL — the same
    permissive contract ``from_json`` gives a typed schema, so one
    malformed producer row cannot fail the batch (count the NULLs
    against the profile if you need the alarm).

    Primitive leaves parse as STRING in the compiled schema and CAST to
    the planned type afterwards: ``from_json`` itself is strictly typed
    (a producer that quotes a number — ``"40"`` — nulls out a ``long``
    field), while parse-then-cast accepts both spellings, matching the
    lexical classification :func:`json_infer_plan` does.  Complex
    planned types (``array<...>``, ``map<...>``) keep their type in the
    schema directly.

    Depth is capped at 2 like the profile itself; a plan that names
    both ``$.a`` and ``$.a.b`` is contradictory (scalar AND object) and
    fails loudly at compile time, as does a path outside the ``$.``
    grammar.
    """
    if not plan:
        raise ValueError("json_extract_typed: empty plan")
    top: dict = {}
    for path in plan:
        if not path.startswith("$.") or path == "$.":
            raise ValueError(
                f"json_extract_typed: path {path!r} must look like "
                "'$.key' or '$.key.child'"
            )
        parts = path[2:].split(".")
        if len(parts) > 2 or any(not p for p in parts):
            raise ValueError(
                f"json_extract_typed: path {path!r} exceeds the depth-2 "
                "grammar ('$.key' or '$.key.child')"
            )
        if len(parts) == 1:
            if isinstance(top.get(parts[0]), dict):
                raise ValueError(
                    f"json_extract_typed: {path!r} conflicts with a "
                    "nested path under the same key"
                )
            top[parts[0]] = plan[path]
        else:
            node = top.setdefault(parts[0], {})
            if not isinstance(node, dict):
                raise ValueError(
                    f"json_extract_typed: {path!r} conflicts with a "
                    "scalar plan entry for its parent"
                )
            node[parts[1]] = plan[path]

    def is_complex(typ: str) -> bool:
        return "<" in typ

    def ddl(node: dict) -> str:
        fields = []
        for k in sorted(node):
            v = node[k]
            if isinstance(v, dict):
                typ = ddl(v)
            else:
                # primitive leaves parse as string, cast later (see
                # docstring); complex types must parse typed
                typ = v if is_complex(v) else "string"
            fields.append(f"{ident(k)}:{typ}")
        return "struct<" + ",".join(fields) + ">"

    names = [prefix + "_".join(p[2:].split(".")) for p in plan]
    dup = {n for n in names if names.count(n) > 1}
    if dup:
        raise ValueError(
            "json_extract_typed: output name collision after '.' -> '_' "
            f"flattening: {sorted(dup)} — rename or drop one of the "
            "colliding paths (e.g. '$.a_b' vs '$.a.b')"
        )
    parsed = F.from_json(F.col(json_col), ddl(top))
    outs = []
    for path, typ in plan.items():
        parts = path[2:].split(".")
        col = parsed[parts[0]]
        if len(parts) == 2:
            col = col[parts[1]]
        if not is_complex(typ) and typ != "string":
            # try_cast, not cast: malformed values must NULL out, not
            # fail the batch under ANSI mode
            col = col.try_cast(typ)
        outs.append(col.alias(prefix + "_".join(parts)))
    return df.select("*", *outs)


def json_profile_diff(prof_old: DataFrame, prof_new: DataFrame) -> DataFrame:
    """The "did yesterday's producer change the schema" answer the
    :func:`json_profile` docstring promises: diff two collected
    profiles per (path, kind) — occurrence counts, per-document shares (normalized
    by each profile's own root count, so a feed that doubled in volume
    does not read as drift), the share delta, and a status:
    ``added`` / ``removed`` / ``stable``.  A TYPE change surfaces as an
    added/removed row PAIR on the same path (the profile keys kinds
    separately — exactly what you want: "$.amount was scalar, now
    arrives as an object" is two alarms, not a netted zero).

    Exact integer counts; shares and deltas divide them in one fixed
    order each, so the frame carries a full value oracle.  Cost: each
    profile EVALUATES ONCE (collected — path-domain-sized, KBs), the
    diff runs driver-side over those rows, and ONE local result frame
    comes back — the corpus behind each side is scanned exactly once.
    The result itself IS a Python-local relation (path-domain-sized):
    collect or write it; persist first if it must feed a hot plan.
    """
    # collect each profile ONCE (path-domain-sized — KBs), diff in
    # plain Python, and return ONE local result frame: every extra
    # Python-local DataFrame costs a Python worker per task downstream
    # (the write_zone_map lesson), and the totals + join need nothing
    # Spark-shaped at this size
    spark = prof_old.sparkSession
    # ONE action for both sides (r14): the tagged union collects both
    # profiles in a single job, so the two corpus scans run as
    # concurrent stages instead of two sequential driver round-trips
    # (two collects measured 1.7 s of the diff's 2.0 s cell at sf0.1,
    # ~half of it the second job waiting on the first)
    both = (
        prof_old.select("path", "kind", "n").withColumn("__side", F.lit(0))
        .unionByName(
            prof_new.select("path", "kind", "n").withColumn("__side", F.lit(1))
        )
        .collect()
    )
    rows_old = [r for r in both if r["__side"] == 0]
    rows_new = [r for r in both if r["__side"] == 1]
    tot_old = sum(r["n"] for r in rows_old if r["path"] == "$")
    tot_new = sum(r["n"] for r in rows_new if r["path"] == "$")
    if not tot_old or not tot_new:
        raise ValueError(
            "json_profile_diff: a profile has no root ('$') rows — diff "
            "needs both sides' document counts to normalize shares"
        )
    o = {(r["path"], r["kind"]): r["n"] for r in rows_old}
    n = {(r["path"], r["kind"]): r["n"] for r in rows_new}
    out = []
    for key in sorted(set(o) | set(n)):
        n_old, n_new = o.get(key, 0), n.get(key, 0)
        share_old = float(n_old) / float(tot_old)
        share_new = float(n_new) / float(tot_new)
        status = (
            "added" if n_old == 0 else "removed" if n_new == 0 else "stable"
        )
        out.append(
            (key[0], key[1], n_old, n_new, share_old, share_new,
             share_new - share_old, status)
        )
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(
        "path string, kind string, n_old long, n_new long, "
        "share_old double, share_new double, delta double, status string"
    )
    return local_frame(spark, schema, rows=out)


def json_infer_plan(
    df: DataFrame, json_col: str, max_depth: int = 2
) -> DataFrame:
    """Close the profile→plan→extract loop: infer a TYPED extraction
    plan for every scalar path in a JSON column — the step between
    :func:`json_profile` (which names the paths) and
    :func:`json_extract_typed` (which wants ``{path: type}``).

    Per scalar path (depth ≤ ``max_depth``, the profile grammar):
    classify each value as ``long`` / ``double`` / ``boolean`` /
    ``string`` by shape (the map-typed reparse unquotes JSON strings,
    so classification is lexical: an all-digits value infers ``long``
    whether the producer wrote ``7`` or ``"7"`` — width, not quoting,
    is what a typed schema needs), then promote along the standard
    lattice: any string ⇒ ``string``; boolean mixed with numerics ⇒
    ``string``; long mixed with double ⇒ ``double``.  Returns
    ``(path, inferred_type, n_values, n_long, n_double, n_boolean,
    n_string)`` — exact integer counts, so the whole frame (including
    the CASE-derived type) is value-oracle-able.  Feed the result to
    :func:`typed_plan` for the dict ``json_extract_typed`` takes.

    Object/array/null values do not contribute rows (they are the
    profile's business); a path whose values are ALL null-literals
    infers ``string`` (no evidence → the widest type).  Scale shape:
    identical to the profile — one scan, bounded per-level explodes,
    one path-domain aggregate.
    """
    if max_depth not in (1, 2):
        raise ValueError(
            f"json_infer_plan: max_depth must be 1 or 2, got {max_depth}"
        )
    raw = F.col(json_col)
    m1 = F.from_json(raw, "map<string,string>")
    l1 = fanout_small_scan(df).select(F.explode(m1).alias("k1", "v1")).select(
        F.concat(F.lit("$."), F.col("k1")).alias("path"),
        F.col("v1").alias("val"),
        F.col("k1"),
        F.col("v1"),
    )
    levels = [l1.select("path", "val")]
    if max_depth >= 2:
        m2 = F.from_json(F.col("v1"), "map<string,string>")
        l2 = (
            l1.filter(
                F.col("v1").startswith("{") & m2.isNotNull()
            )
            .select(F.col("k1"), F.explode(m2).alias("k2", "v2"))
            .select(
                F.concat(
                    F.lit("$."), F.col("k1"), F.lit("."), F.col("k2")
                ).alias("path"),
                F.col("v2").alias("val"),
            )
        )
        levels.append(l2)
    vals = levels[0]
    for lv in levels[1:]:
        vals = vals.unionByName(lv)
    v = F.col("val")
    is_obj = v.startswith("{") & F.from_json(v, "map<string,string>").isNotNull()
    is_arr = v.startswith("[") & F.from_json(v, "array<string>").isNotNull()
    scalar = vals.filter(v.isNotNull() & ~is_obj & ~is_arr)
    # NOTE no "null" branch: a real JSON null is SQL NULL after the
    # map reparse (already excluded above), while a QUOTED "null" is a
    # four-character string and must classify as string — a null branch
    # here would suppress promotion and break the exact-counts
    # invariant n_values == n_long + n_double + n_boolean + n_string.
    cls = (
        F.when(v.rlike("^-?[0-9]+$"), F.lit("long"))
        .when(
            v.rlike(
                "^-?([0-9]+\\.[0-9]*|\\.[0-9]+|[0-9]+)([eE][+-]?[0-9]+)?$"
            ),
            F.lit("double"),
        )
        .when(v.isin("true", "false"), F.lit("boolean"))
        .otherwise(F.lit("string"))
    )
    counts = scalar.select("path", cls.alias("cls")).groupBy("path").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum((F.col("cls") == "long").cast("long")).alias("n_long"),
        F.sum((F.col("cls") == "double").cast("long")).alias("n_double"),
        F.sum((F.col("cls") == "boolean").cast("long")).alias("n_boolean"),
        F.sum((F.col("cls") == "string").cast("long")).alias("n_string"),
    )
    nl, nd, nb, ns = (
        F.col("n_long"), F.col("n_double"), F.col("n_boolean"),
        F.col("n_string"),
    )
    inferred = (
        F.when(ns > 0, F.lit("string"))
        .when((nb > 0) & ((nl > 0) | (nd > 0)), F.lit("string"))
        .when(nb > 0, F.lit("boolean"))
        .when(nd > 0, F.lit("double"))
        .when(nl > 0, F.lit("long"))
        .otherwise(F.lit("string"))
    )
    return counts.select(
        "path",
        inferred.alias("inferred_type"),
        "n_values",
        "n_long",
        "n_double",
        "n_boolean",
        "n_string",
    ).orderBy("path")


def typed_plan(infer_df: DataFrame) -> dict:
    """Collect a :func:`json_infer_plan` frame into the ``{path: type}``
    dict :func:`json_extract_typed` takes — path-domain-bounded, the
    profile's own size cap.  Paths whose parent is itself extracted as
    a scalar cannot coexist (the extract compiler rejects them); the
    inference never produces that shape because a value classifies as
    scalar or object, not both."""
    return {
        r["path"]: r["inferred_type"] for r in infer_df.collect()
    }


def filter_agreement(df: DataFrame, flag_cols: List[str]) -> DataFrame:
    """Pairwise agreement between boolean filter columns — observed
    agreement and Cohen's kappa per unordered pair: the curation-QA
    dashboard that says whether two quality filters measure the same
    thing (kappa near 1: drop one, they are redundant compute) or
    genuinely different signals (kappa near 0 at high observed
    agreement just means the flags are imbalanced — exactly the
    chance-agreement illusion kappa corrects).

    Returns (filter_a, filter_b, n, n_agree, po, kappa): ``po`` is the
    observed agreement share, kappa = (po − pe)/(1 − pe) with pe the
    rate-product chance agreement.  ``kappa`` is NULL when pe == 1
    (both flags constant and equal — agreement is vacuous).  NULL flag
    values fail loudly: an unevaluated filter in an agreement study is
    a bug upstream, not a category.

    Scale: ONE corpus scan into ONE map-side-combinable aggregate row —
    n, per-flag sums, and per-pair co-occurrence sums as int casts of
    the flags (F flags → F(F−1)/2 pair columns, all codegen; no
    shuffle of anything row-sized) — then the pair matrix explodes from
    that single row.  Exact integer counts → every ratio is one
    identical double expression, bit-equal to the SQL oracle.
    """
    flags = list(flag_cols)
    if len(flags) < 2:
        raise ValueError("filter_agreement: need at least 2 flag columns")
    # the NULL check runs on the CAST result, not the raw column: a
    # non-ANSI cast of a malformed value PRODUCES a NULL that a
    # raw-column guard would miss (silently skipped by SUM while
    # COUNT(*) still counts the row — exactly the quiet corruption
    # this guard exists to prevent)
    checked = [
        F.when(F.col(c).cast("boolean").isNull(), F.raise_error(F.lit(
            f"filter_agreement: NULL in flag column {c!r} (raw NULL or a "
            "value that does not cast to boolean) — evaluate or filter "
            "the unscored rows first"
        ))).otherwise(F.col(c).cast("boolean")).cast("int").alias(f"__f{i}")
        for i, c in enumerate(flags)
    ]
    base = df.select(*checked)
    aggs = [F.count(F.lit(1)).alias("__n")]
    aggs += [F.sum(F.col(f"__f{i}")).alias(f"__s{i}") for i in range(len(flags))]
    aggs += [
        F.sum(F.col(f"__f{i}") * F.col(f"__f{j}")).alias(f"__s{i}_{j}")
        for i in range(len(flags))
        for j in range(i + 1, len(flags))
    ]
    one = base.agg(*aggs)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(flags[i]).alias("filter_a"),
                    F.lit(flags[j]).alias("filter_b"),
                    F.col(f"__s{i}").alias("__si"),
                    F.col(f"__s{j}").alias("__sj"),
                    F.col(f"__s{i}_{j}").alias("__sij"),
                )
                for i in range(len(flags))
                for j in range(i + 1, len(flags))
            ]
        )
    ).alias("p")
    n = F.col("__n").cast("double")
    si, sj = F.col("p.__si").cast("double"), F.col("p.__sj").cast("double")
    agree = (
        F.lit(2.0) * F.col("p.__sij").cast("double")
        - si
        - sj
        + n
    )
    po = agree / n
    pe = (si / n) * (sj / n) + (F.lit(1.0) - si / n) * (F.lit(1.0) - sj / n)
    return one.select(F.col("__n"), pairs).select(
        F.col("p.filter_a").alias("filter_a"),
        F.col("p.filter_b").alias("filter_b"),
        F.col("__n").cast("long").alias("n"),
        agree.cast("long").alias("n_agree"),
        po.alias("po"),
        F.when(pe < F.lit(1.0), (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def heavy_hitter_ledger(
    df: DataFrame,
    key_col: str,
    by: str = "source",
    m: int = 64,
) -> DataFrame:
    """Per-group TRUNCATED frequency ledger of ``key_col`` as mergeable
    ``(by, key, n, floor)`` rows — the frequent-items sibling of the HLL
    :func:`distinct_sketch` and :func:`histogram_ledger` summaries,
    completing the monitoring-ledger trio (distinct counts, quantiles,
    heavy hitters).  Each snapshot keeps the EXACT counts of its top-m
    keys (count desc, key asc — deterministic boundary) plus the
    group's truncation ``floor``: the LARGEST count that was dropped
    (0 when nothing was).  That floor is what makes truncation honest
    at merge time — a key absent from a snapshot's ledger has true
    count ≤ that snapshot's floor, so
    :func:`heavy_hitters_from_ledgers` can bound every merged estimate
    from both sides (the SpaceSaving/Mergeable-Summaries guarantee,
    Agarwal et al. 2013, carried by exact integers instead of counter
    arithmetic).  NULL keys carry no frequency information and are
    dropped.

    Scale: one map-side-combinable count over the (by, key) domain,
    then ONE group-partitioned rank window whose ``rn ≤ m+1`` filter is
    WindowGroupLimit-pruned map-side — per group only m+1 rows survive
    the shuffle of the (already key-domain-sized) count frame; the
    floor is read off the (m+1)-th row, never a second pass.
    """
    if m < 1:
        raise ValueError("heavy_hitter_ledger: need m >= 1")
    from pyspark.sql import Window

    counts = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(by), F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(by).orderBy(F.desc("n"), F.asc("key"))
    wg = Window.partitionBy(by)
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= m + 1)
        .withColumn(
            "floor",
            F.coalesce(
                F.max(F.when(F.col("__rn") == m + 1, F.col("n"))).over(wg),
                F.lit(0),
            ).cast("long"),
        )
        .filter(F.col("__rn") <= m)
        .select(by, "key", F.col("n").cast("long").alias("n"), "floor")
    )


def heavy_hitters_from_ledgers(
    ledgers: DataFrame,
    k: int = 10,
    by: str = "source",
    snapshot_col: str = "snapshot",
) -> DataFrame:
    """Merged per-group top-k from stacked :func:`heavy_hitter_ledger`
    snapshots (``unionByName`` them with a ``snapshot_col`` id first):
    ledger-sized work only, no corpus rescan — the merge
    ``approx_count_distinct``-style one-shot aggregates cannot do
    across separately-written snapshots.

    Deterministic two-sided bounds instead of a point estimate:
    ``est_lo`` = the counts actually observed (a key absent from a
    snapshot contributes 0), ``est_hi`` = ``est_lo`` + the floors of
    every snapshot the key is ABSENT from (its count there can hide
    anywhere in [0, floor]).  ``est_lo ≤ true ≤ est_hi`` always, and
    any key whose true group total exceeds the group's summed floors is
    GUARANTEED to surface (it cannot have been truncated everywhere) —
    both properties are exact integer arithmetic, pytest-pinned.
    Returns (``by``, key, est_lo, est_hi, rank) — top-k by (est_lo
    desc, key asc).

    Scale: every frame here is ledger-domain (≤ m x snapshots rows per
    group); the rank window is WindowGroupLimit-pruned.
    """
    if k < 1:
        raise ValueError("heavy_hitters_from_ledgers: need k >= 1")
    from pyspark.sql import Window

    # one floor row per (snapshot, group): floor is constant within it
    floors = ledgers.select(snapshot_col, by, "floor").distinct()
    total_floor = floors.groupBy(by).agg(
        F.sum("floor").alias("__tot_floor")
    )
    merged = ledgers.groupBy(by, "key").agg(
        F.sum("n").alias("est_lo"),
        # floors of the snapshots this key IS present in
        F.sum("floor").alias("__present_floor"),
    )
    w = Window.partitionBy(by).orderBy(F.desc("est_lo"), F.asc("key"))
    return (
        merged.join(total_floor, by)
        .select(
            by,
            "key",
            F.col("est_lo").cast("long").alias("est_lo"),
            (F.col("est_lo") + F.col("__tot_floor") - F.col("__present_floor"))
            .cast("long")
            .alias("est_hi"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )

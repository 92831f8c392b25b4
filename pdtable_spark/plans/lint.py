"""Physical-plan linting: detect the scale red flags this repo's plan
contracts pin per query, for ANY DataFrame — the pre-flight you run on a
new pipeline before pointing it at 100 TB.

Every check reads the EXECUTED plan (what will actually run, after AQE
re-planning where applicable), so the findings are about the real
physical strategy, not the unresolved logical tree.  The checks are
pattern-level heuristics over the plan text — they name suspects, the
plan fragment is the evidence, and ``assert_clean`` turns the
high-severity subset into a test gate.

Severities:

- ``error`` — almost always wrong at scale: row-at-a-time Python eval
  (``BatchEvalPython``: every row crosses the JVM/Python boundary
  unbatched), a cartesian product (``CartesianProduct``: |L|x|R| pairs
  with no bound).
- ``warn`` — legitimate in bounded spots, serial at scale elsewhere: a
  single-partition exchange (global window/sort — one reducer owns the
  world), a broadcast nested-loop join (fine when one side is a bounded
  scored frame, quadratic otherwise), a parquet scan whose
  ``PushedFilters`` is empty while a Filter sits in the plan (the
  predicate runs AFTER reading every row group).
- ``info`` — worth a look, often fine: Arrow-batched Python eval (the
  sanctioned Pandas-UDF path — still off-JVM), sort-merge joins (the
  right strategy for big-big; a missed broadcast for small-big), and
  the shuffle count.
"""

from __future__ import annotations

import re
from typing import Dict, List, Optional

from pyspark.sql import DataFrame

#: (code, severity, pattern, message)
_PATTERN_CHECKS = [
    (
        "python-row-eval",
        "error",
        r"BatchEvalPython",
        "row-at-a-time Python UDF: every row crosses the JVM/Python "
        "boundary unbatched — rewrite with built-in expressions or a "
        "Pandas UDF (Arrow-batched)",
    ),
    (
        "cartesian-product",
        "error",
        r"CartesianProduct",
        "unbounded cartesian product: |L|x|R| pairs — add a join key, "
        "bucket the pairing, or broadcast a bounded side",
    ),
    (
        "single-partition-exchange",
        "warn",
        r"Exchange SinglePartition",
        "a global exchange serializes everything through one task — "
        "usually an un-partitioned window or global sort; partition it "
        "or use a TakeOrdered-shaped top-k",
    ),
    (
        "broadcast-nested-loop",
        "warn",
        r"BroadcastNestedLoopJoin",
        "non-equi broadcast join: each task scans the whole broadcast "
        "side per row — fine for a bounded scored frame, quadratic "
        "otherwise",
    ),
    (
        "python-arrow-eval",
        "info",
        r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|MapInArrow",
        "Arrow-batched Python stage: the sanctioned UDF path, but still "
        "off-JVM — keep it out of the hottest scan if an expression "
        "spelling exists",
    ),
    (
        "sort-merge-join",
        "info",
        r"SortMergeJoin",
        "sort-merge join: right for big-big; if one side is dimension-"
        "sized, check why it did not broadcast (stats, threshold, hint)",
    ),
]


def plan_lint(df: DataFrame, execute: bool = False) -> List[Dict[str, str]]:
    """Lint a DataFrame's physical plan; returns findings as
    ``{code, severity, detail, evidence}`` dicts, errors first.

    AQE honesty: on a frame that has already RUN (the PLANS.md sweep
    collects each query before linting), ``executedPlan()`` is the final
    adaptive plan and AQE conversions (SMJ→broadcast, coalesced
    exchanges) are reflected.  On an UNEXECUTED frame it is the
    AdaptiveSparkPlan's *initial* plan (``isFinalPlan=false``), so a
    shape AQE would fix at runtime can still surface as a finding —
    pass ``execute=True`` to drive THIS frame's plan first (a JVM-side
    RDD count over the executed plan: full execution cost, nothing
    shipped to the driver) so the lint reads what will actually run.
    A noop-sink write would NOT work here — ``df.write`` builds a new
    QueryExecution and leaves this frame's adaptive plan initial.

    The unpushed-filter check compares the formatted explain's per-scan
    ``PushedFilters`` against Filter nodes in the plan: a scan that
    reads every row group while a Filter discards rows above it is the
    classic silent 100x — unless the predicate is on a computed column,
    in which case materialize or restructure so it reaches the scan.
    """
    if execute and "isFinalPlan=false" in (
        df._jdf.queryExecution().executedPlan().toString()
    ):
        # AdaptiveSparkPlanExec.doExecute resolves the final plan and
        # runs it; the RDD count stays on the JVM side.
        df._jdf.queryExecution().executedPlan().execute().count()
    qe = df._jdf.queryExecution()
    # an executed AdaptiveSparkPlan prints the FINAL plan followed by an
    # "== Initial Plan ==" echo — lint only the final (a pre-AQE
    # sort-merge join that converted to broadcast is not a finding)
    plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    spark = df.sparkSession
    formatted = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    findings: List[Dict[str, str]] = []
    for code, sev, pat, msg in _PATTERN_CHECKS:
        hits = re.findall(pat, plan)
        if hits:
            findings.append(
                {
                    "code": code,
                    "severity": sev,
                    "detail": f"{msg} ({len(hits)} node(s))",
                    "evidence": hits[0],
                }
            )
    # A scan whose pushed set is EMPTY or IsNotNull-only while a
    # substantive Filter runs above it: the selective predicate reads
    # every row group first.  (IsNotNull alone pushes for ANY filter —
    # it is not evidence the real predicate reached the scan.)
    pushed_sets = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
    substantive_pushed = any(
        re.sub(r"IsNotNull\([^)]*\)|[\s,]", "", ps) for ps in pushed_sets
    )
    conds = re.findall(r"Condition : (.+)", formatted)
    residual = [re.sub(r"isnotnull\([^)]*\)", "", c) for c in conds]
    substantive_filter = any(re.search(r"[=<>]", r) for r in residual)
    if pushed_sets and not substantive_pushed and substantive_filter:
        findings.append(
            {
                "code": "filter-not-pushed",
                "severity": "warn",
                "detail": (
                    f"{len(pushed_sets)} scan(s) push nothing beyond "
                    "null checks while the plan filters rows — the "
                    "selective predicate runs after reading every row "
                    "group (computed-column predicate? materialize it)"
                ),
                "evidence": "; ".join(pushed_sets) or "PushedFilters: []",
            }
        )
    n_shuffles = len(re.findall(r"Exchange (hash|range)partitioning", plan))
    if n_shuffles:
        findings.append(
            {
                "code": "shuffle-count",
                "severity": "info",
                "detail": f"{n_shuffles} shuffle exchange(s) in the plan",
                "evidence": f"{n_shuffles}",
            }
        )
    order = {"error": 0, "warn": 1, "info": 2}
    findings.sort(key=lambda f: (order[f["severity"]], f["code"]))
    return findings


def assert_clean(
    df: DataFrame,
    max_severity: str = "warn",
    allow: Optional[List[str]] = None,
) -> List[Dict[str, str]]:
    """The test/CI gate: raise ``AssertionError`` listing every finding
    at or above ``max_severity`` (``"error"`` gates only errors,
    ``"warn"`` also gates warnings) unless its code is in ``allow`` —
    the allowlist is how a pipeline documents its sanctioned exceptions
    (e.g. a bounded broadcast-nested-loop scorer).  Returns the full
    findings list on success so callers can log the infos."""
    order = {"error": 0, "warn": 1, "info": 2}
    if max_severity not in order:
        raise ValueError(f"assert_clean: unknown severity {max_severity!r}")
    findings = plan_lint(df)
    allowed = set(allow or [])
    bad = [
        f
        for f in findings
        if order[f["severity"]] <= order[max_severity] and f["code"] not in allowed
    ]
    if bad:
        lines = "\n".join(
            f"  [{f['severity']}] {f['code']}: {f['detail']}" for f in bad
        )
        raise AssertionError(f"plan_lint found scale red flags:\n{lines}")
    return findings

"""Measurement from outside the program: spans, Spark status, process RSS.

Nothing here changes the program.  The traced run wraps public functions
of the program's layers by replacing the attribute where each caller looks
it up (``Tracer.install``) and reads Spark's public status APIs; spans are
kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time
from typing import Dict, List, Optional

# -- process-tree RSS -------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> Dict[int, List[int]]:
    children: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root: int) -> List[int]:
    """Every live process below ``root`` in the process tree."""
    children = _children_map()
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (the JVM
    and the Python workers) on a background thread.  ``window_peak()``
    returns the peak in bytes since the previous call."""

    PERIOD_S = 0.2

    def __init__(self):
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        rss = _tree_rss_bytes(os.getpid())
        with self._lock:
            self._peak = max(self._peak, rss)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.PERIOD_S)

    def window_peak(self) -> int:
        self._sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- spans ---------------------------------------------------------------------


class Tracer:
    """In-memory spans: one root per operation, children at each layer
    boundary, each with name, start, end and parent."""

    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.op_id: Optional[str] = None
        self.counts: Dict[str, float] = {}
        self._patches: List[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "op": self.op_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    # -- wrapping the program's public functions --------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper(original))

    def wrap_call(self, owner, attr: str, span_name: str, before=None, after=None) -> None:
        """``before(args, kwargs)`` runs ahead of the call; its value goes
        to ``after(tracer, pre, out)``."""
        tracer = self

        def wrapper(fn):
            def traced(*args, **kwargs):
                pre = before(args, kwargs) if before is not None else None
                with tracer.span(span_name):
                    out = fn(*args, **kwargs)
                if after is not None:
                    after(tracer, pre, out)
                return out

            traced.__wrapped__ = fn
            return traced

        self._patch(owner, attr, wrapper)

    def wrap_generator(self, owner, attr: str, span_name: str, count_key: str) -> None:
        """Generators do their work while consumed: one span per item, and
        ``count_key`` counts the items."""
        tracer = self

        def wrapper(fn):
            def traced(*args, **kwargs):
                it = iter(fn(*args, **kwargs))
                while True:
                    with tracer.span(span_name):
                        try:
                            item = next(it)
                        except StopIteration:
                            return
                    tracer.count(count_key)
                    yield item

            traced.__wrapped__ = fn
            return traced

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap each layer's public functions where their callers look
        them up (a name bound at import is patched in the importing module
        too)."""
        import pdtable_spark.frame as frame
        import pdtable_spark.io.csv as io_csv
        import pdtable_spark.io.maintenance as mnt
        import pdtable_spark.parsers.blocks as blocks
        from pdtable_spark.table import Table

        for owner in (blocks, io_csv):
            self.wrap_generator(owner, "parse_blocks", "parsers.parse_blocks", "parsers.blocks")

        def fixer_of(args, kwargs):
            fixer = kwargs.get("fixer", args[2] if len(args) > 2 else None)
            return fixer, (fixer.fixes if fixer is not None else 0)

        def parsed(tracer, pre, out):
            fixer, fixes_before = pre
            tracer.count("parsers.rows", out.num_rows)
            if fixer is not None:
                tracer.count("parsers.fixes", fixer.fixes - fixes_before)

        self.wrap_call(blocks, "make_parsed_table", "parsers.make_parsed_table",
                       before=fixer_of, after=parsed)
        self.wrap_call(frame, "table_from_parsed", "table.from_parsed")
        self.wrap_call(Table, "convert_units", "table.convert_units")
        for name in dir(mnt):
            fn = getattr(mnt, name)
            if name.startswith("_") or not callable(fn) or getattr(fn, "__module__", "") != mnt.__name__:
                continue
            self.wrap_call(mnt, name, f"io.maintenance.{_maintenance_kind(name)}.{name}",
                           after=_pruning_report)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()


def _pruning_report(tracer, _pre, out) -> None:
    """Files skipped, from the ``(frame, report)`` pruned reads return:
    the useful-outcome ratio of the maintenance layer."""
    if isinstance(out, tuple) and len(out) == 2 and isinstance(out[1], dict):
        rep = out[1]
        if "n_files_skipped" in rep and "n_files_total" in rep:
            tracer.count("io.maintenance.files_skipped", rep["n_files_skipped"])
            tracer.count("io.maintenance.files_total", rep["n_files_total"])


_MAINTENANCE_WRITES = ("write_", "upsert_", "compact_", "optimize_", "refresh_", "retention_", "forget_")


def _maintenance_kind(fn_name: str) -> str:
    """``write`` for the functions that write files, ``read`` for the rest."""
    return "write" if fn_name.startswith(_MAINTENANCE_WRITES) else "read"


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span duration minus the part of it that child spans cover.  Spans
    on one thread nest, so children never overlap each other."""
    child_time: Dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (s["end"] - s["start"])
    return {s["id"]: (s["end"] - s["start"]) - child_time.get(s["id"], 0.0) for s in spans}


# -- Spark status --------------------------------------------------------------

def job_stats(spark, job_ids) -> dict:
    """Jobs, stages, tasks, run and executor time, shuffle and spill bytes
    of the given jobs, from the status tracker and status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "executor_run_s": 0.0,
           "shuffle_read_b": 0, "shuffle_write_b": 0, "spill_b": 0, "input_b": 0}
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        job = store.job(jid)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            out["run_s"] += (job.completionTime().get().getTime()
                             - job.submissionTime().get().getTime()) / 1000.0
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # a stage skipped by shuffle reuse has no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["shuffle_read_b"] += st.shuffleReadBytes()
            out["shuffle_write_b"] += st.shuffleWriteBytes()
            out["spill_b"] += st.diskBytesSpilled()
            out["input_b"] += st.inputBytes()
    return out


def scan_files_read(executed_plan) -> int:
    """Sum of the ``numFiles`` scan metric over an executed physical plan,
    following adaptive query stages and reused exchanges."""
    total, todo, seen = 0, [executed_plan], 0
    while todo and seen < 2000:
        node, seen = todo.pop(), seen + 1
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            todo.append(node.child())
            continue
        m = node.metrics().get("numFiles")
        if m.isDefined():
            total += int(m.get().value())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return total


def python_nodes(plan_text: str) -> Dict[str, int]:
    """Python evaluation nodes in a plan, by the patterns of
    ``pdtable_spark.plans.lint``."""
    from pdtable_spark.plans.lint import _PATTERN_CHECKS

    pats = {code: pat for code, _sev, pat, _msg in _PATTERN_CHECKS}
    lines = plan_text.splitlines()
    return {
        "arrow_nodes": sum(1 for ln in lines if re.search(pats["python-arrow-eval"], ln)),
        "row_eval_nodes": sum(1 for ln in lines if re.search(pats["python-row-eval"], ln)),
    }


def catalyst_phases(query_execution) -> Dict[str, float]:
    """Seconds per phase from ``QueryPlanningTracker.phases()``."""
    phases = query_execution.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
    return out


def files_under(roots, since: float):
    """Files (and their bytes) under ``roots`` modified at or after ``since``."""
    n = b = 0
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                try:
                    st = os.stat(os.path.join(dirpath, f))
                except OSError:
                    continue
                if st.st_mtime >= since:
                    n += 1
                    b += st.st_size
    return n, b


def bytes_under(roots) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for root in roots for d, _s, fs in os.walk(root) for f in fs
        if os.path.isfile(os.path.join(d, f))
    )

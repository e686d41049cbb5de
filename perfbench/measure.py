"""Measurement helpers that sit outside the engine.

Nothing here changes what the engine does. The helpers time calls from
the benchmark's side of the public API, read Spark's own status stores,
count CommitStore calls through the engine's ``set_commit_store`` seam
and diff directory trees between operations.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import time
from contextlib import contextmanager

# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values, beyond: int = 10) -> tuple:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` samples, the sample of
    rank ``n - beyond`` (1-based, ascending) has exactly ``beyond``
    samples after it, so it sits at percentile ``100 * (n - beyond) / n``.
    With ``beyond`` or fewer samples no such percentile exists; the
    maximum is returned as percentile 100 so the caller still gets a
    worst case, and ``n`` says how little it rests on.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return float(xs[-1]), 100.0, n
    return float(xs[n - beyond - 1]), 100.0 * (n - beyond) / n, n


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


def self_times(spans) -> dict:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover (overlapping children are
    merged first). ``spans`` are dicts with ``id``, ``parent``,
    ``start`` and ``end``; returns ``{id: seconds}``."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children.get(s["id"], [])
        )
        out[s["id"]] = max(0.0, s["end"] - s["start"] - covered)
    return out


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Spans kept in memory: name, start, end, parent and run id. When
    tracing is off, ``span`` only yields, so untraced runs pay nothing
    but the context-manager call.

    With the ``set_group``/``group_jobs`` callbacks, each span also tags
    the Spark jobs it starts with its own job group (restoring the
    parent's on exit) so the status store can attribute jobs to spans
    afterwards.
    """

    def __init__(self, on: bool, run_id: str, set_group=None,
                 group_jobs=None):
        self.on = on
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self._set_group = set_group
        self._group_jobs = group_jobs
        self.bookkeeping_s = 0.0  # tracer's own time inside spans

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run": self.run_id, "jobs": [], **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._set_group:
            self._set_group(f"pb-{self.run_id}-{rec['id']}")
        rec["wall0"] = time.time()
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall1"] = time.time()
            self._stack.pop()
            if self._group_jobs:
                rec["jobs"] = self._group_jobs(f"pb-{self.run_id}-{rec['id']}")
            if self._set_group:
                self._set_group(
                    f"pb-{self.run_id}-{parent}" if parent is not None else None
                )
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def descendants(self, sid: int) -> list:
        kids = [s for s in self.spans if s["parent"] == sid]
        out = list(kids)
        for k in kids:
            out.extend(self.descendants(k["id"]))
        return out


# --------------------------------------------------------------------------
# directory trees
# --------------------------------------------------------------------------


def tree_snapshot(*roots) -> dict:
    """``{path: (size, mtime_ns)}`` for every regular file under the
    roots (missing roots are empty)."""
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue  # removed while walking
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def tree_diff(before: dict, after: dict) -> dict:
    """Files created (new path, or same path rewritten) and removed
    between two snapshots, with the bytes of the created files."""
    created = [p for p, v in after.items() if before.get(p) != v]
    removed = [p for p in before if p not in after]
    return {
        "files_created": len(created),
        "bytes_created": sum(after[p][0] for p in created),
        "files_removed": len(removed),
    }


def tree_bytes(*roots) -> int:
    return sum(v[0] for v in tree_snapshot(*roots).values())


# --------------------------------------------------------------------------
# process memory
# --------------------------------------------------------------------------


def vm_hwm_kb(pid) -> int:
    """Peak resident set (VmHWM) of a process, in KiB; 0 if unknown."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_times() -> list:
    """The machine-wide ``cpu`` line of /proc/stat, in jiffies."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list, after: list) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: a run with a high share was measured on a
    busy host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1)


def child_pids(pid: int) -> list:
    """Every live descendant of ``pid`` (from /proc)."""
    parent_of = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        parent_of[int(d)] = ppid
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


# --------------------------------------------------------------------------
# CommitStore counting through the engine's seam
# --------------------------------------------------------------------------


def counting_commit_store(inner):
    """A CommitStore that delegates every call to ``inner`` and counts
    calls, seconds and refusals (a False from put_if_absent or claim,
    or a raise) per method."""
    from engage_spark.commitstore import CommitStore

    methods = ("put_if_absent", "read", "delete", "claim", "move",
               "replace_dir", "delete_dir")

    class CountingCommitStore(CommitStore):
        def __init__(self):
            self.ops = dict.fromkeys(methods, 0)
            self.seconds = 0.0
            self.refused = 0

        def snapshot(self) -> dict:
            return {"ops": dict(self.ops), "s": self.seconds,
                    "refused": self.refused}

    def make(name):
        def call(self, *args, **kw):
            self.ops[name] += 1
            t0 = time.perf_counter()
            try:
                out = getattr(inner, name)(*args, **kw)
            except Exception:
                self.refused += 1
                raise
            finally:
                self.seconds += time.perf_counter() - t0
            if name in ("put_if_absent", "claim") and out is False:
                self.refused += 1
            return out

        call.__name__ = name
        return call

    for m in methods:
        setattr(CountingCommitStore, m, make(m))
    return CountingCommitStore()


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------

_DUR = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """Spark's SQL metric display string as a number: a count
    ("20,000"), a duration in seconds ("707 ms", "1.2 s") or a size in
    bytes ("80.5 KiB"). Aggregated metrics show a header line and then
    ``total (min, med, max ...)``; the total is taken."""
    text = text.strip()
    if "\n" in text:
        text = text.split("\n", 1)[1]
        text = text.split(" (", 1)[0]
    parts = text.split()
    if len(parts) == 2 and parts[1] in _DUR:
        return float(parts[0].replace(",", "")) * _DUR[parts[1]]
    if len(parts) == 2 and parts[1] in _SIZE:
        return float(parts[0].replace(",", "")) * _SIZE[parts[1]]
    try:
        return float(text.replace(",", ""))
    except ValueError:
        return math.nan


_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.+?),(\d+),(\w+)\)")
_MAP_ENTRY = re.compile(r"(\d+) -> (.*?)(?=, \d+ -> |\)$)", re.S)
_SEQ = re.compile(r"\d+")


class SparkStatus:
    """Reads Spark's job, stage and SQL status stores (these work with
    ``spark.ui.enabled=false``). Jobs are attributed to spans through
    job groups; SQL executions through the jobs they ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def set_group(self, group) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def group_jobs(self, group) -> list:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status stores."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, job_ids) -> dict:
        """``{job_id: {start, end (epoch s), stages}}`` for known jobs."""
        out = {}
        for j in job_ids:
            try:
                jd = self._store.job(int(j))
            except Exception:  # noqa: BLE001 - evicted or unknown job
                continue
            sub, comp = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1e3 if sub.isDefined() else None
            end = comp.get().getTime() / 1e3 if comp.isDefined() else None
            out[int(j)] = {
                "start": start, "end": end,
                "stages": [int(s) for s in
                           _SEQ.findall(jd.stageIds().toString())],
            }
        return out

    def stages(self, stage_ids) -> dict:
        """Per-stage task totals, summed over the given stage ids."""
        tot = dict(stages=0, tasks=0, executor_run_ms=0.0, executor_cpu_ms=0.0,
                   gc_ms=0.0, shuffle_write_bytes=0)
        for sid in set(stage_ids):
            try:
                sd = self._store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 - evicted or never run
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += sd.numCompleteTasks()
            tot["executor_run_ms"] += sd.executorRunTime()
            tot["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            tot["gc_ms"] += sd.jvmGcTime()
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return tot

    def executions_by_job(self) -> dict:
        """``{job_id: execution_id}`` over every retained SQL execution."""
        out = {}
        # ids count up from 0; the margin covers ids never posted
        for i in range(int(self._sql.executionsCount()) + 64):
            e = self._sql.execution(i)
            if not e.isDefined():
                continue
            for j in _MAP_ENTRY.findall(e.get().jobs().toString()):
                out[int(j[0])] = i
        return out

    def execution_metrics(self, exec_id: int, names) -> dict:
        """Sum of each named SQL plan metric over one execution."""
        values = dict.fromkeys(names, 0.0)
        e = self._sql.execution(exec_id)
        if not e.isDefined():
            return values
        ids = {}
        for name, acc, _kind in _PLAN_METRIC.findall(e.get().metrics().toString()):
            if name in names:
                ids[int(acc)] = name
        text = self._sql.executionMetrics(exec_id).toString()
        for acc, val in _MAP_ENTRY.findall(text):
            name = ids.get(int(acc))
            if name is not None:
                v = parse_metric(val)
                if not math.isnan(v):
                    values[name] += v
        return values

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

"""The repo benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload covid_pipeline --seed 1 \\
        --seconds 20 --trace 0

Run it from the root of a checkout. The engine is imported from that
checkout and driven only through its public functions on inputs made
from ``--seed``. With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
from spans recorded around every engine call. The line before it is a
full report: run conditions, every metric with its unit, the percentile
and sample count behind each tail, and the checks.

Workloads (see BENCHMARK.json for why each was chosen), and what their
write and read operations are:
  covid_pipeline  the paper's three-stage batch. Write: a
                  dag.run_local (pipeline_s). Read: loading its outputs.
  corpus_ingest   versioned corpus. Writes: gated append + near-dup
                  index append, with an upsert or a takedown every few
                  batches and a maintenance pass now and then. Reads:
                  latest, time-travel and point reads.
Set-up ends with a warm-up round of each workload's operations, which
is not timed: the first calls in a process pay JIT compilation and
Python-worker start-up. The timed loop then runs whole steps (a
pipeline pass, a fixed mix of corpus batches) that fit in
``--seconds``, at least one.

Every workload reports the same end-to-end metrics: setup_s, write and
read p50, items per busy second (locations, admitted docs), write
amplification (file bytes created by writes / Arrow bytes of the rows
written) and peak RSS of the JVM plus this process.
Tails (the highest percentile with ten samples beyond it, with its
percentile and sample count) and workload-only figures sit in the
report line.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import measure  # noqa: E402

WRITE_KINDS = ("pipeline", "ingest", "upsert", "takedown", "maintenance")
COMMIT_METHODS = ("put_if_absent", "read", "delete", "claim", "move",
                  "replace_dir", "delete_dir")
# span name -> per-layer metric (median self time per call, seconds)
LAYER_SPANS = (
    "pipelines.weather_forecast", "pipelines.covid_transform",
    "pipelines.simulator",
    "io.append_dataset", "io.upsert_dataset", "io.delete_rows",
    "io.apply_deletes", "io.read_with_deletes",
    "versioning.read_version", "versioning.vacuum_versions",
    "indexes.read_keys",
    "api.minhash_index_query", "api.minhash_index_append",
    "api.minhash_index_delete", "api.minhash_index_build",
)
SPARK_TOTALS = ("python_worker_ms", "executor_run_ms", "executor_cpu_ms",
                "gc_ms", "shuffle_write_bytes")
PY_WORKER_METRIC = "time to run Python workers"
FILES_READ_METRIC = "number of files read"

END_TO_END_UNITS = {
    "setup_s": "s", "write_p50_s": "s", "read_p50_s": "s",
    "items_per_s": "1/s", "write_amp": "ratio",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict:
    units = {f"{n}.s": "s" for n in LAYER_SPANS}
    units.update({f"spark.{n}": ("B" if n.endswith("bytes") else "ms")
                  for n in SPARK_TOTALS})
    units.update({
        "driver.s": "s", "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.sql_executions": "count",
        "versioning.log_bytes": "B", "versioning.log_entries": "count",
        "commitstore.s": "s", "commitstore.refused": "count",
        "spark.input_files_per_lookup": "count",
        "api.neardup_gate.recall": "ratio",
        "spark.persisted_rdds_after": "count", "trace.bookkeeping_s": "s",
    })
    for k in WRITE_KINDS:
        units[f"io.bytes_written.{k}"] = "B"
        units[f"io.files_written.{k}"] = "count"
    for m in COMMIT_METHODS:
        units[f"commitstore.ops.{m}"] = "count"
    return units


class Run:
    """State of one benchmark run: the session, the timed operations,
    the checks, and (when tracing) the spans and counters."""

    def __init__(self, spark, work: Path, seed: int, seconds: float,
                 trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.status = measure.SparkStatus(spark)
        self.tracer = measure.Tracer(
            trace, f"s{seed}",
            set_group=self.status.set_group if trace else None,
            group_jobs=self.status.group_jobs if trace else None)
        self.ops: list = []  # {cls, kind, s, span}
        self.writes: dict = {k: [] for k in WRITE_KINDS}  # tree diffs
        self.user_bytes = 0  # Arrow bytes handed to writers
        self.items = 0
        self.iterations = 0  # closed-loop steps: pipeline passes or batch mixes
        self.attempted = 0
        self.failed = 0
        self.check_notes: list = []
        self.persisted_after: list = []
        self.extra: dict = {}  # workload-specific report entries
        self.per_layer_extra: dict = {}
        self.commit_store = None
        self.loop_start = None

    # -- timing -------------------------------------------------------------

    def layer(self, name: str):
        """Span around one public engine call (no-op when untraced)."""
        return self.tracer.span(name)

    def loop(self, step) -> None:
        """The closed loop: one client runs ``step`` back to back for
        ``seconds``. A step starts only if one as long as the last one
        still fits, so a run never overshoots by a partial step and the
        number of steps does not jump on a step that barely starts in
        time; the first step always runs."""
        self.loop_start = time.perf_counter()
        last = 0.0
        while (not self.iterations
               or time.perf_counter() - self.loop_start + last
               <= self.seconds):
            t0 = time.perf_counter()
            self.iterations += 1
            step()
            last = time.perf_counter() - t0

    @contextmanager
    def warm_up(self):
        """Operations run inside are a warm-up: their checks count, but
        no span and no timed sample of theirs is kept."""
        self.tracer.on = False
        try:
            yield
        finally:
            self.tracer.on = self.trace
            self.ops.clear()
            self.writes = {k: [] for k in WRITE_KINDS}
            self.user_bytes = 0
            self.items = 0

    def op(self, cls: str, kind: str, fn):
        """Run one user operation in the closed loop and time it.

        ``cls`` is ``write``, ``read`` or ``other``. A raise counts as a
        failed operation and returns None. Afterwards, outside the
        timer, Spark's cached data is counted and cleared so the next
        operation cannot reuse it."""
        out, ok = None, True
        with self.tracer.span(f"op.{kind}") as sp:
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception:  # noqa: BLE001 - a failed op is a result
                traceback.print_exc(file=sys.stderr)
                ok = False
            dt = time.perf_counter() - t0
        self.attempted += 1
        self.failed += not ok
        self.ops.append({"cls": cls, "kind": kind, "s": dt,
                         "span": sp["id"] if sp else None})
        self.persisted_after.append(self.status.persisted_rdds())
        self.clear_cache()
        return out

    def clear_cache(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs()
                        .values()):
            rdd.unpersist(True)

    def write_op(self, kind: str, roots, fn, user_bytes: int):
        """A write op with a tree diff of ``roots`` taken around it,
        outside its timer."""
        before = measure.tree_snapshot(*roots)
        out = self.op("write", kind, fn)
        self.writes[kind].append(
            measure.tree_diff(before, measure.tree_snapshot(*roots)))
        self.user_bytes += user_bytes
        return out

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.check_notes.append(what)
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    # -- results --------------------------------------------------------------

    def busy_s(self) -> float:
        return sum(o["s"] for o in self.ops)

    def end_to_end(self, setup_s: float, jvm_pid: int) -> tuple:
        w = [o["s"] for o in self.ops if o["cls"] == "write"]
        r = [o["s"] for o in self.ops if o["cls"] == "read"]
        tail, pct, n = measure.tail(w + r)
        written = sum(d["bytes_created"] for ds in self.writes.values()
                      for d in ds)
        rss_kb = measure.vm_hwm_kb(jvm_pid) + measure.vm_hwm_kb("self")
        metrics = {
            "setup_s": setup_s,
            "write_p50_s": measure.median(w),
            "read_p50_s": measure.median(r),
            "items_per_s": self.items / max(self.busy_s(), 1e-9),
            "write_amp": written / max(self.user_bytes, 1),
            "peak_rss_mb": rss_kb / 1024.0,
        }
        detail = {
            "n_writes": len(w), "n_reads": len(r),
            "op_tail_s": tail, "op_tail_percentile": round(pct, 1),
            "op_tail_n": n,
            "items": self.items, "busy_s": self.busy_s(),
            "bytes_written": written, "user_bytes": self.user_bytes,
        }
        return metrics, detail

    def per_layer(self) -> dict:
        units = per_layer_units()
        out = dict.fromkeys(units, 0.0)
        spans = self.tracer.spans
        selfs = measure.self_times(spans)
        for name in LAYER_SPANS:
            vals = [selfs[s["id"]] for s in spans if s["name"] == name]
            out[f"{name}.s"] = measure.median(vals)
        for k, ds in self.writes.items():
            out[f"io.bytes_written.{k}"] = measure.median(
                d["bytes_created"] for d in ds)
            out[f"io.files_written.{k}"] = measure.median(
                d["files_created"] for d in ds)
        # the worst op: what one op left cached before the harness cleared it
        out["spark.persisted_rdds_after"] = max(self.persisted_after, default=0)
        out.update(self._spark_layers(spans))
        if self.commit_store is not None:
            snap = self.commit_store.snapshot()
            n = max(self.iterations, 1)
            for m in COMMIT_METHODS:
                out[f"commitstore.ops.{m}"] = snap["ops"][m] / n
            out["commitstore.s"] = snap["s"] / n
            out["commitstore.refused"] = snap["refused"]
        # the tracer's own time per iteration (span records, job-group
        # tagging); the counting CommitStore and the tagging's effect on
        # Spark are not in it, so it is a floor on the tracing overhead
        out["trace.bookkeeping_s"] = self.tracer.bookkeeping_s / max(
            self.iterations, 1)
        out.update(self.per_layer_extra)
        return out

    def _spark_layers(self, spans) -> dict:
        """Status-store numbers per timed op, attributed through the
        job groups each span set."""
        st = self.status
        st.drain()
        by_id = {s["id"]: s for s in spans}
        exec_of = st.executions_by_job()
        exec_cache: dict = {}

        def exec_metrics(eid):
            if eid not in exec_cache:
                exec_cache[eid] = st.execution_metrics(
                    eid, (PY_WORKER_METRIC, FILES_READ_METRIC))
            return exec_cache[eid]

        def jobs_under(span):
            js = list(span["jobs"])
            for d in self.tracer.descendants(span["id"]):
                js.extend(d["jobs"])
            return js

        tot_keys = ("driver.s", "spark.jobs", "spark.stages", "spark.tasks",
                    "spark.sql_executions",
                    *(f"spark.{n}" for n in SPARK_TOTALS))
        out = dict.fromkeys(tot_keys, 0.0)
        for o in self.ops:
            if o["span"] is None:
                continue
            span = by_id[o["span"]]
            jobs = st.jobs(jobs_under(span))
            busy = measure.union_length(
                (max(j["start"], span["wall0"]), min(j["end"], span["wall1"]))
                for j in jobs.values() if j["start"] and j["end"])
            tot = st.stages([s for j in jobs.values() for s in j["stages"]])
            execs = {exec_of[j] for j in jobs if j in exec_of}
            out["driver.s"] += max(0.0, o["s"] - busy)
            out["spark.jobs"] += len(jobs)
            out["spark.stages"] += tot["stages"]
            out["spark.tasks"] += tot["tasks"]
            out["spark.sql_executions"] += len(execs)
            out["spark.python_worker_ms"] += 1e3 * sum(
                exec_metrics(e)[PY_WORKER_METRIC] for e in execs)
            for n in SPARK_TOTALS[1:]:
                out[f"spark.{n}"] += tot[n]
        # every timed op's share per closed-loop step (a pipeline pass or
        # a mix of corpus batches)
        out = {k: v / max(self.iterations, 1) for k, v in out.items()}

        files = []
        for s in spans:
            if s["name"] == "indexes.read_keys":
                execs = {exec_of[j] for j in s["jobs"] if j in exec_of}
                files.append(sum(exec_metrics(e)[FILES_READ_METRIC]
                                 for e in execs))
        out["spark.input_files_per_lookup"] = measure.median(files)
        return out


# --------------------------------------------------------------------------
# session and process lifetime
# --------------------------------------------------------------------------


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: Path, cpus: int, driver_mem: str) -> None:
    """Everything Spark and the JVM write goes under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(2 * cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions":
            # a fixed heap (-Xms = spark.driver.memory) keeps the JVM's
            # resident size from depending on when the heap grows
            f"-Xms{driver_mem} -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={work / 'derby'}",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and every process
    it started (Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = measure.child_pids(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def versions() -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    return {"python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": java[0] if java else "unknown"}


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if importlib.util.find_spec("engage_spark") is None:
        print(f"engage_spark is not importable from {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2

    t_start = time.perf_counter()
    cpu_before = measure.cpu_times()
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cpus, driver_mem = cpu_count(), "1g"
    configure_env(work, cpus, driver_mem)

    from engage_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t_start
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    run = Run(spark, work / "data", args.seed, args.seconds, bool(args.trace))
    try:
        setup_s = workloads.ALL[args.workload](run, t_start)
        e2e, detail = run.end_to_end(setup_s, jvm_pid)
        layers = run.per_layer() if run.trace else None
        conditions = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "cpus": cpus,
            "master": spark.sparkContext.master, "driver_memory": driver_mem,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "session_start_s": session_s,
            "cpu_steal_share": measure.steal_share(cpu_before,
                                                   measure.cpu_times()),
            **versions(),
        }
    finally:
        stop_spark(spark)
    if run.trace:
        spans = work.parent / f"spans-{args.workload}-{args.seed}.json"
        spans.write_text(json.dumps(run.tracer.spans))

    units = per_layer_units() if run.trace else END_TO_END_UNITS
    chosen = layers if run.trace else e2e
    report = {
        "conditions": conditions,
        "end_to_end": {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                       for k, v in e2e.items()},
        "end_to_end_detail": detail,
        "workload_metrics": run.extra,
        "checks_failed": run.check_notes,
    }
    if layers is not None:
        report["per_layer"] = {k: {"value": v, "unit": units[k]}
                               for k, v in layers.items()}
    print(json.dumps(report, default=float))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in chosen.items()},
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Measurement plumbing: op timing and CPU time, spans, Spark
status-store counters, leak counters and peak memory.

Untraced runs only time ops. Traced runs additionally open a span around
every call the benchmark makes into a package layer; each span runs under
its own Spark job group, so the jobs a layer triggers are read back from
Spark's status store (outside every timed span) and charged to that
layer. Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# per-op counters read from the status store; stage inputBytes is left out
# on purpose: the vectorized parquet reader under-reports it
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "driver_gap_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_records", "executor_run_s",
    "executor_cpu_s", "jvm_gc_s", "spill_bytes", "peak_exec_memory_bytes",
)


TAIL_BEYOND = 10


def tail(values: list[float]) -> dict:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it, with its percentile and sample count. Below 22 samples that order
    statistic is not above the median, so no tail is reported."""
    xs = sorted(values)
    n = len(xs)
    k = n - TAIL_BEYOND - 1  # index with TAIL_BEYOND samples above it
    if k <= (n - 1) // 2:
        return {"value": None, "pct": None, "n": n}
    return {"value": xs[k], "pct": round(100.0 * (k + 1) / n, 1), "n": n}


class StatusReader:
    """Reads the Spark jobs, stages and tasks of one job group from the
    application status store."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.tracker = sc.statusTracker()
        gw = sc._gateway
        self._empty_q = gw.new_array(sc._jvm.double, 0)
        self._skew_q = gw.new_array(sc._jvm.double, 2)
        self._skew_q[0], self._skew_q[1] = 0.5, 1.0

    def read(self, group: str) -> tuple[dict, list[tuple[float, float]], list[float]]:
        """(counters, job intervals in epoch seconds, per-stage skews)."""
        c = dict.fromkeys(SPARK_COUNTERS, 0.0)
        intervals, skews, seen = [], [], set()
        for jid in self.tracker.getJobIdsForGroup(group):
            job = self.store.job(jid)
            c["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((
                    job.submissionTime().get().getTime() / 1000.0,
                    job.completionTime().get().getTime() / 1000.0,
                ))
            ids = job.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                self._stage(sid, c, skews)
        return c, intervals, skews

    def _stage(self, sid: int, c: dict, skews: list[float]) -> None:
        attempts = self.store.stageData(
            sid, False, self.sc._jvm.java.util.ArrayList(), False, self._empty_q
        )
        for i in range(attempts.length()):
            s = attempts.apply(i)
            if s.status().toString() != "COMPLETE":
                continue  # skipped stages reuse an earlier shuffle
            c["stages"] += 1
            c["tasks"] += s.numCompleteTasks()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["shuffle_records"] += s.shuffleWriteRecords()
            c["executor_run_s"] += s.executorRunTime() / 1e3
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["jvm_gc_s"] += s.jvmGcTime() / 1e3
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            c["peak_exec_memory_bytes"] = max(
                c["peak_exec_memory_bytes"], s.peakExecutionMemory()
            )
            if s.numCompleteTasks() >= 2:
                q = self.store.taskSummary(sid, s.attemptId(), self._skew_q)
                if q.isDefined():
                    run = q.get().executorRunTime()
                    if run.apply(0) > 0:
                        skews.append(run.apply(1) / run.apply(0))


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Recorder:
    """Op latencies, op CPU time and failures for one run; spans and
    status-store counters when ``traced``."""

    def __init__(self, spark, traced: bool, scratch_dirs: tuple[str, ...] = (),
                 lock_roots: tuple[str, ...] = ()):
        self.sc = spark.sparkContext
        self.pid = os.getpid()
        self.traced = traced
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0
        self.check_s = 0.0  # time spent checking results, inside a pass
        self.scratch_dirs = scratch_dirs
        self.lock_roots = lock_roots
        self.status = StatusReader(self.sc) if traced else None
        self.layer_spark: dict[str, dict] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
        self.op_spark: list[dict] = []
        self.skews: list[float] = []
        self.leaks: list[dict] = []
        self._scratch_base = self._scratch_entries()

    # --- ops -------------------------------------------------------------

    def op(self, kind: str, name: str, fn, check=None):
        """Run one closed-loop op: time it and take the CPU time the
        client's process tree used meanwhile, check its result outside the
        timed region, count it as failed if it raises or is wrong."""
        op_id = len(self.ops)
        rec = {"id": op_id, "kind": kind, "name": name, "ok": False}
        self.ops.append(rec)
        cpu0 = tree_cpu_s(self.pid)
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.span("op", name, op_id=op_id):
                result = fn()
            rec["s"] = time.perf_counter() - t0
            rec["cpu"] = tree_cpu_s(self.pid) - cpu0
            t1 = time.perf_counter()
            rec["ok"] = True if check is None else bool(check(result))
            self.check_s += time.perf_counter() - t1
        except Exception as exc:  # a failed op is counted, not fatal
            rec["s"] = time.perf_counter() - t0
            rec["cpu"] = tree_cpu_s(self.pid) - cpu0
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            result = None
        rec["wall"] = (wall0, time.time())
        if self.traced:
            self._read_op(rec)
        return result

    # --- spans -----------------------------------------------------------

    @contextmanager
    def span(self, layer: str, name: str = "", op_id: int | None = None):
        """A span around one call into ``layer``; its Spark jobs run under
        the span's own job group. A no-op when tracing is off."""
        if not self.traced:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op_id is None:
            op_id = self.spans[parent]["op"] if parent is not None else -1
        sid = len(self.spans)
        rec = {"id": sid, "parent": parent, "layer": layer, "name": name,
               "op": op_id, "group": f"perfbench-{os.getpid()}-{sid}"}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], f"{layer} {name}", False)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.spans[parent]["group"], "", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _read_op(self, rec: dict) -> None:
        """After an op: status-store counters of each of its spans, the
        op-level totals, and the leak counters. Runs outside the op's
        timed region."""
        t0 = time.perf_counter()
        total = dict.fromkeys(SPARK_COUNTERS, 0.0)
        intervals = []
        for sp in self.spans:
            if sp["op"] != rec["id"] or "spark" in sp:
                continue
            c, iv, sk = self.status.read(sp["group"])
            sp["spark"] = c
            intervals += iv
            self.skews += sk
            for k, v in c.items():
                if k == "peak_exec_memory_bytes":
                    total[k] = max(total[k], v)
                    self.layer_spark[sp["layer"]][k] = max(self.layer_spark[sp["layer"]][k], v)
                else:
                    total[k] += v
                    self.layer_spark[sp["layer"]][k] += v
        lo, hi = rec["wall"]
        total["driver_gap_s"] = max(0.0, (hi - lo) - _covered(intervals, lo, hi))
        self.op_spark.append(total)
        self.leaks.append({
            "persisted_rdds": self.sc._jsc.getPersistentRDDs().size(),
            "scratch_entries": self._scratch_entries() - self._scratch_base,
            "locks": sum(
                name == "_LOCK"
                for root in self.lock_roots
                for _d, _s, files in os.walk(root)
                for name in files
            ),
        })
        self.overhead_s += time.perf_counter() - t0

    def _scratch_entries(self) -> int:
        return sum(len(os.listdir(d)) for d in self.scratch_dirs if os.path.isdir(d))

    # --- summaries -------------------------------------------------------

    def latencies(self, kind: str) -> list[float]:
        return [o["s"] for o in self.ops if o["kind"] == kind]

    def cpu(self, kind: str | None = None) -> float:
        """CPU seconds of the ops of ``kind`` (of every op if None)."""
        return sum(o["cpu"] for o in self.ops if kind is None or o["kind"] == kind)

    def failed(self) -> list[dict]:
        return [o for o in self.ops if not o["ok"]]

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus what child spans
        cover."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp["layer"]] += (sp["end"] - sp["start"]) - child[sp["id"]]
        return out

    def layer_time(self, layer: str, name: str | None = None) -> float:
        return sum(
            sp["end"] - sp["start"] for sp in self.spans
            if sp["layer"] == layer and (name is None or sp["name"] == name)
        )

    def spark_layer_metrics(self) -> dict[str, float]:
        """Status-store counters summed over every op of the pass, plus
        the end-of-op leak and skew figures."""
        out = {}
        for k in SPARK_COUNTERS:
            vals = [o[k] for o in self.op_spark]
            out[f"spark.{k}"] = max(vals) if k == "peak_exec_memory_bytes" else sum(vals)
        out["spark.task_skew"] = statistics.median(self.skews) if self.skews else 1.0
        out["spark.persisted_rdds_after"] = self.leaks[-1]["persisted_rdds"] if self.leaks else 0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"ops": self.ops, "spans": self.spans, "leaks": self.leaks}, fh)


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every live
    process under it: the client, the driver JVM and Spark's Python
    workers, plus the children each has reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, used = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed it
        parent[int(name)] = int(fields[1])
        used[int(name)] = sum(int(x) for x in fields[11:15]) / tick
    total = 0.0
    for pid in used:
        p = pid
        while p in parent and p != root:
            p = parent[p]
        if p == root:
            total += used[pid]
    return total


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(sc) -> dict[str, float]:
    """Peak resident memory (VmHWM) of the driver JVM and of this Python
    process, in MiB. Input generation and the DuckDB oracles run in child
    processes, so the Python figure is the client's own."""
    jvm = _vm_hwm_kb(sc._jvm.java.lang.ProcessHandle.current().pid()) / 1024.0
    py = _vm_hwm_kb("self") / 1024.0
    return {"jvm": jvm, "python": py, "total": jvm + py}

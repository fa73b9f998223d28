"""Per-operation spans and per-layer counters, recorded from outside the engine.

Everything here observes the engine through public surfaces: the Spark
status store (jobs, stages, task metrics), a DataFrame's own
``queryExecution().tracker()`` (planning phases), ``/proc`` (Python worker
CPU and resident memory) and the versioned table's files on disk.

``NullTracer`` is the untraced path: its context managers do nothing, so
a run with tracing off times the engine calls and nothing else.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_QUANTILES = (0.5, 1.0)


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # Field 2 (comm) may hold spaces; everything after the last ')' is fixed.
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def python_worker_cpu_s(jvm_pid: int) -> float:
    """utime+stime of every live PySpark worker process, plus the
    cutime+cstime that the daemon and the JVM collected from workers that
    already exited. A difference of two readings is the Python-worker CPU
    spent in between."""
    ticks = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        if pid == jvm_pid:
            st = _proc_stat(pid)
            if st:
                ticks += int(st[13]) + int(st[14])  # cutime, cstime
            continue
        cmd = _cmdline(pid)
        if "pyspark.daemon" not in cmd and "pyspark.worker" not in cmd:
            continue
        st = _proc_stat(pid)
        if not st:
            continue
        ticks += int(st[11]) + int(st[12])  # utime, stime
        if int(st[1]) == jvm_pid:  # a daemon: add its reaped workers
            ticks += int(st[13]) + int(st[14])
    return ticks / _CLK_TCK


def total_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and the Python
    workers."""
    st = _proc_stat(jvm_pid)
    jvm = (int(st[11]) + int(st[12])) / _CLK_TCK if st else 0.0
    me = os.times()
    return me.user + me.system + jvm + python_worker_cpu_s(jvm_pid)


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the JVM."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def tree_bytes_files(path: str) -> dict[str, int]:
    """Size of every regular file under ``path``, keyed by path."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _date_s(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class NullTracer:
    """Tracing off: the same call shape as ``Tracer``, doing nothing."""

    enabled = False

    @contextmanager
    def op(self, name: str, kind: str):
        yield _NullOp()


class _NullOp:
    def span(self, name: str):
        return _null_cm()

    def count(self, key: str, value: float) -> None:
        pass

    def mark_build_done(self) -> None:
        pass

    def plan(self, df) -> None:
        pass

    def add_group(self, group: str) -> None:
        pass


@contextmanager
def _null_cm():
    yield


class Tracer:
    """Root span per operation, child spans for build/plan/action/commit/
    read, and job and stage spans from the status store. Spans of one
    operation share its id; all stay in memory until ``dump``."""

    enabled = True

    def __init__(self, spark, jvm_pid: int):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._next = 0

    @contextmanager
    def op(self, name: str, kind: str):
        self._next += 1
        op_id = f"op{self._next}"
        group = f"graftbench-{op_id}"
        rec = _TracedOp(self, op_id, name, kind, group)
        self.sc.setJobGroup(group, name)
        cpu0 = python_worker_cpu_s(self.jvm_pid)
        start = time.time()
        try:
            yield rec
        finally:
            end = time.time()
            rec.counters["python_worker.cpu_s"] = max(
                0.0, python_worker_cpu_s(self.jvm_pid) - cpu0
            )
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(
                {"id": op_id, "span": op_id, "parent": None, "name": name,
                 "kind": kind, "start": start, "end": end}
            )
            self.spans.extend(rec.spans)
            self._harvest_jobs(rec)
            rec.counters["op_s"] = end - start
            self.ops.append({"id": op_id, "name": name, "kind": kind,
                             "layers": rec.counters})

    def _harvest_jobs(self, rec: "_TracedOp") -> None:
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, len(_QUANTILES))
        for i, v in enumerate(_QUANTILES):
            q[i] = v
        c = rec.counters
        tracker = self.sc.statusTracker()
        job_ids = sorted(j for g in rec.groups for j in tracker.getJobIdsForGroup(g))
        c["registry.build_jobs"] = rec.build_jobs if rec.build_jobs is not None else 0
        c["spark.jobs"] = len(job_ids) - c["registry.build_jobs"]
        for k in ("spark.stages", "spark.tasks", "spark.executor_run_s",
                  "spark.executor_cpu_s", "spark.gc_s", "scan.input_bytes",
                  "scan.input_rows", "shuffle.write_bytes", "shuffle.read_bytes",
                  "shuffle.spill_bytes"):
            c.setdefault(k, 0)
        longest = (0.0, 0.0)  # (stage run time, its task max/median)
        seen = set()
        for jid in job_ids:
            jd = store.job(jid)
            js = f"{rec.op_id}.job{jid}"
            submitted = _date_s(jd.submissionTime())
            # A job's parent is the child span (build, action, ...) it ran in.
            parent = next(
                (s["span"] for s in rec.spans
                 if submitted is not None and s["start"] <= submitted <= s["end"]),
                rec.op_id,
            )
            self.spans.append(
                {"id": rec.op_id, "span": js, "parent": parent, "name": f"job {jid}",
                 "kind": "job", "start": submitted, "end": _date_s(jd.completionTime())}
            )
            for sid in _seq(jd.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in _seq(store.stageData(sid, False, gw.jvm.java.util.ArrayList(), True, q)):
                    if sd.status().toString() != "COMPLETE":
                        continue
                    run_s = sd.executorRunTime() / 1000.0
                    c["spark.stages"] += 1
                    c["spark.tasks"] += sd.numTasks()
                    c["spark.executor_run_s"] += run_s
                    c["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["spark.gc_s"] += sd.jvmGcTime() / 1000.0
                    c["scan.input_bytes"] += sd.inputBytes()
                    c["scan.input_rows"] += sd.inputRecords()
                    c["shuffle.write_bytes"] += sd.shuffleWriteBytes()
                    c["shuffle.read_bytes"] += sd.shuffleReadBytes()
                    c["shuffle.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    dist = sd.taskMetricsDistributions()
                    if dist.isDefined() and run_s >= longest[0]:
                        rt = dist.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        longest = (run_s, mx / med if med > 0 else 1.0)
                    self.spans.append(
                        {"id": rec.op_id, "span": f"{js}.stage{sid}", "parent": js,
                         "name": f"stage {sid}", "kind": "stage",
                         "start": _date_s(sd.submissionTime()),
                         "end": _date_s(sd.completionTime())}
                    )
        c["spark.task_skew"] = longest[1]
        run, cpu = c["spark.executor_run_s"], c["spark.executor_cpu_s"]
        c["spark.cpu_ratio"] = cpu / run if run > 0 else 0.0

    def dump(self) -> dict:
        by_parent: dict = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            s["self_s"] = self_time(s, by_parent.get(s["span"], []))
        return {"spans": self.spans, "ops": self.ops}


class _TracedOp:
    def __init__(self, tracer: Tracer, op_id: str, name: str, kind: str, group: str):
        self.tracer, self.op_id, self.name, self.kind, self.group = (
            tracer, op_id, name, kind, group
        )
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.build_jobs: int | None = None
        self.groups = [group]

    @contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.spans.append(
                {"id": self.op_id, "span": f"{self.op_id}.{name}", "parent": self.op_id,
                 "name": name, "kind": name, "start": start, "end": end}
            )
            key = {"build": "registry.build_s", "action": "spark.action_s"}.get(name)
            if key:
                self.counters[key] = self.counters.get(key, 0.0) + end - start

    def count(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def mark_build_done(self) -> None:
        """Jobs already in the group ran while the DataFrame was built."""
        sc = self.tracer.sc
        self.build_jobs = len(sc.statusTracker().getJobIdsForGroup(self.group))

    def add_group(self, group: str) -> None:
        """Count the jobs of another job group too (a streaming query runs
        its batches under its own run id)."""
        self.groups.append(group)

    def plan(self, df) -> None:
        """Plan the DataFrame's own QueryExecution (the noop write plans a
        separate one) and record its analysis/optimization/planning time."""
        with self.span("plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
        it = qe.tracker().phases().iterator()
        total = 0.0
        while it.hasNext():
            kv = it.next()
            total += kv._2().durationMs() / 1000.0
        self.counters["spark.plan_s"] = total


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that its children cover."""
    start, end = span["start"], span["end"]
    if start is None or end is None:
        return 0.0
    ivs = sorted(
        (max(start, c["start"]), min(end, c["end"]))
        for c in children
        if c["start"] is not None and c["end"] is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)

"""Seeded benchmark of the engine on a single machine: one closed-loop client.

Usage, from the repository root:

    python3 graftbench/run.py --workload query_mix --seed 1 --seconds 14 --trace 0

Workloads (``graftbench/workloads.py``): ``query_mix`` and ``lake_dml``.
A run is:

1. input preparation, untimed: generate the seeded corpus and, for query
   workloads, compute the DuckDB oracle digests or read them from the
   per-seed cache in ``.graftbench/oracle/``;
2. a fresh engine process (this script with ``--engine``). Its set-up,
   from its own process start to its first timed operation, is
   ``setup_s``: interpreter and imports, JVM and Spark session start, the
   corpus and oracle cache check, fixture staging, and an untimed warm-up
   pass that checks every operation (DuckDB oracle digests for queries, a
   pandas replay for ``lake_dml``);
3. ``round(seconds / pass_s)`` timed passes in the engine process, inside
   ``catalog.timed_region()``, each over the seed-ordered operation list.

With ``--trace 1`` at least two passes run and every second one is traced
(spans and per-layer counters, see ``graftbench/layers.py``); the spans go
to ``.graftbench/traces/<workload>-seed<seed>.json``. The last stdout line
is one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``. Everything the run writes stays under
``.graftbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".graftbench")
DRIVER_MEMORY = "4g"
#: Seconds from the start of a run by which the engine process must end.
DEADLINE_S = 170

#: End-to-end metrics with a bound. Pass wall time spread by up to 0.19
#: (IQR/median over ten seeds) on lake_dml on the shared 4-core VM the
#: benchmark was built on, too close to the 0.25 ceiling on a bound, so
#: wall-latency regressions are not gated: pass_s, op_p50_s, op_tail_s and
#: the lake_dml store metrics are printed on every run, and reported as
#: ``wall.*`` per-layer metrics, but not bounded.
END_TO_END = {  # name -> unit
    "setup_s": "s",
    "pass_cpu_s": "s",
}

#: Per-layer metrics: name -> (unit, how ops combine: "sum" per traced
#: pass, "max" over ops, or "last" value seen).
PER_LAYER = {
    "session.start_s": ("s", None),
    "catalog.staging_s": ("s", None),
    "registry.build_s": ("s", "sum"),
    "registry.build_jobs": ("count", "sum"),
    "spark.plan_s": ("s", "sum"),
    "spark.action_s": ("s", "sum"),
    "spark.jobs": ("count", "sum"),
    "spark.stages": ("count", "sum"),
    "spark.tasks": ("count", "sum"),
    "spark.executor_run_s": ("s", "sum"),
    "spark.executor_cpu_s": ("s", "sum"),
    "spark.cpu_ratio": ("ratio", None),
    "spark.task_skew": ("ratio", "max"),
    "spark.gc_s": ("s", "sum"),
    "scan.input_bytes": ("bytes", "sum"),
    "scan.input_rows": ("count", "sum"),
    "shuffle.write_bytes": ("bytes", "sum"),
    "shuffle.read_bytes": ("bytes", "sum"),
    "shuffle.spill_bytes": ("bytes", "sum"),
    "python_worker.cpu_s": ("s", "sum"),
    "peak_rss_mb": ("MB", None),
    "versioned.commit_s.append": ("s", "sum"),
    "versioned.commit_s.delete": ("s", "sum"),
    "versioned.commit_s.update": ("s", "sum"),
    "versioned.commit_s.merge": ("s", "sum"),
    "versioned.commit_s.compact": ("s", "sum"),
    "versioned.commit_s.vacuum": ("s", "sum"),
    "versioned.bytes_written": ("bytes", "sum"),
    "versioned.files_written": ("count", "sum"),
    "versioned.live_segments": ("count", "last"),
    "versioned.versions": ("count", "last"),
    "manifest_log.read_s": ("s", "sum"),
    "python_datasource.read_s": ("s", "sum"),
    "streaming.tail_s": ("s", "sum"),
    "streaming.batches": ("count", "sum"),
    "streaming.rows": ("count", "sum"),
    "commit_p50_s": ("s", None),
    "read_p50_s": ("s", None),
    "space_amp": ("ratio", None),
    "cpu.pass_s": ("s", None),
    "cpu.other_s": ("s", None),
    "trace.overhead_s": ("s", None),
    "wall.pass_s": ("s", None),
    "wall.op_p50_s": ("s", None),
}


def _rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _fail(msg: str) -> None:
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _stat_fields(pid: str) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _process_age_s() -> float:
    """Seconds since this process started (interpreter start included)."""
    start_ticks = int(_stat_fields("self")[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def _configure_env(run_dir: str, cpus: int) -> None:
    """Session settings for this machine; must precede the JVM launch."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it:
    (percentile, value, samples beyond)."""
    xs = sorted(values)
    n = len(xs)
    if not n:
        return 0.0, 0.0, 0
    k = max(0, n - 11)  # index of the value with n-1-k >= 10 samples above
    return 100.0 * (k + 1) / n, xs[k], n - 1 - k


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _jvm_descendants(jvm_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        st = _stat_fields(name) if name.isdigit() else None
        if st:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [jvm_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark() -> None:
    """Stop the Spark context, the JVM and its Python workers, and wait for
    each. A no-op when no JVM was launched or it was already stopped."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    pids = _jvm_descendants(proc.pid)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 20
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _aggregate_layers(ops: list[dict], traced_passes: int) -> dict:
    out = {}
    for name, (_unit, how) in PER_LAYER.items():
        vals = [o["layers"][name] for o in ops if name in o["layers"]]
        if how == "sum":
            out[name] = sum(vals) / max(1, traced_passes)
        elif how == "max":
            out[name] = max(vals, default=0.0)
        elif how == "last":
            out[name] = vals[-1] if vals else 0
    run = sum(o["layers"].get("spark.executor_run_s", 0) for o in ops)
    cpu = sum(o["layers"].get("spark.executor_cpu_s", 0) for o in ops)
    out["spark.cpu_ratio"] = cpu / run if run > 0 else 0.0
    return out


def _trace_overhead(samples: list, traced_flags: list) -> float:
    """Per operation name, median traced latency minus median untraced
    latency, summed over the names seen both ways: the traced pass time
    minus the untraced pass time, over the same operations."""
    by = {}
    for (name, _kind, dt), traced in zip(samples, traced_flags):
        by.setdefault(name, ([], []))[1 if traced else 0].append(dt)
    return sum(_median(t) - _median(u) for u, t in by.values() if u and t)


def _summary_line(workload: str, dump: dict, overhead: float) -> str:
    """Compact per-workload trace summary: top operations by time, each
    with its span of largest self time."""
    spans_by_op: dict = {}
    for s in dump["spans"]:
        spans_by_op.setdefault(s["id"], []).append(s)
    rows = []
    for o in dump["ops"]:
        spans = [s for s in spans_by_op.get(o["id"], []) if s["parent"] is not None]
        dom = max(spans, key=lambda s: s["self_s"], default=None)
        rows.append({
            "op": o["name"], "s": round(o["layers"]["op_s"], 3),
            "jobs": o["layers"].get("spark.jobs", 0) + o["layers"].get("registry.build_jobs", 0),
            "dominant": dom["kind"] if dom else "op",
        })
    rows.sort(key=lambda r: -r["s"])
    return json.dumps({"trace": workload, "overhead_s": round(overhead, 3), "top": rows[:8]},
                      separators=(",", ":"))


def _stop_session(sid: int) -> None:
    """Kill every live process of session ``sid`` (the engine process, its
    JVM and the JVM's Python workers) and wait until none is left."""
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        live = []
        for name in os.listdir("/proc"):
            st = _stat_fields(name) if name.isdigit() else None
            if st and int(st[3]) == sid and st[0] != "Z":
                live.append(int(name))
        if not live:
            return
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _corpus_dir(W, run_dir: str, seed: int) -> str:
    return os.path.join(run_dir, "data", f"s{W.SCALE:g}-seed{seed}")


def _oracle_cache(W, spec, run_dir: str, seed: int, compute: bool):
    compare = W._load_module(ROOT, "tests/compare.py", "graftbench_compare")
    cache = W.OracleCache(
        os.path.join(WORK, "oracle"),
        f"{spec.name}-s{W.SCALE:g}-seed{seed}-{W.generator_digest(ROOT)}",
        _corpus_dir(W, run_dir, seed), os.path.join(run_dir, "duckdb-spill"),
        compare.canon_rows, compute=compute,
    )
    return cache, compare.canon_rows


def _prepare(a, spec, W, run_dir: str) -> str:
    """Inputs, before the engine process starts: the seeded corpus and the
    oracle digests of every query operation."""
    W.generate_corpus(ROOT, _corpus_dir(W, run_dir, a.seed), W.SCALE, a.seed)
    if spec.name == "lake_dml":
        return "corpus generated; lake_dml is checked against a pandas replay"
    from argodb_mapreduce_spark import registry

    oracle_sql = registry.oracle_sql()
    oracle, _canon = _oracle_cache(W, spec, run_dir, a.seed, compute=True)
    for name in spec.ops:
        oracle.get(name, oracle_sql[name])
    return f"corpus generated; oracle cache {oracle.hits} hits, {oracle.misses} misses"


def _run_engine(a, run_dir: str, started: float) -> dict:
    """Run the timed part in a fresh process and collect its result. The
    process gets a session of its own, so it, its JVM and the JVM's
    workers can all be stopped, whatever state it ends in."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--engine", run_dir]
    proc = subprocess.Popen(cmd, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _stop_session(proc.pid)
        proc.wait()
    out = os.path.join(run_dir, "result.json")
    if rc is None:
        _fail(f"engine process did not end within {DEADLINE_S} s of the run's start")
    if rc != 0 or not os.path.exists(out):
        _fail(f"engine process exited with code {rc}")
    with open(out) as f:
        return json.load(f)


def main() -> None:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--engine", metavar="RUN_DIR", help=argparse.SUPPRESS)
    a = ap.parse_args()

    for rel in ("argodb_mapreduce_spark/registry.py", "scripts/gen_scale_corpus.py",
                "tests/compare.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            _fail(f"{rel} not found under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)
    from graftbench import workloads as W

    if a.workload not in W.WORKLOADS:
        _fail(f"unknown workload {a.workload!r}; choose from {sorted(W.WORKLOADS)}")
    spec = W.WORKLOADS[a.workload]
    if a.engine:
        _engine_main(a, spec, W)
        return

    # A terminated run still stops the engine process and its JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    _rmtree(run_dir)
    _configure_env(run_dir, cpus)
    os.chdir(run_dir)  # stray relative writes (warehouse, logs) stay here
    try:
        t0 = time.perf_counter()
        prepared = _prepare(a, spec, W, run_dir)
        prep_s = time.perf_counter() - t0
        result = _run_engine(a, run_dir, started)
    finally:
        os.chdir(ROOT)
        _rmtree(run_dir)
    for line in result["lines"]:
        print(line)
    print(f"# inputs prepared in {prep_s:.2f} s before the engine process started: {prepared}")
    print(json.dumps(result["json"]))


def _engine_main(a, spec, W) -> None:
    """The engine process: everything from the Spark session on. Writes
    its result to ``<run dir>/result.json``."""
    os.chdir(a.engine)
    try:
        result = _engine(a, spec, W, a.engine)
    finally:
        _stop_spark()
    tmp = os.path.join(a.engine, "result.json.tmp")
    with open(tmp, "w") as f:
        json.dump(result, f)
    os.replace(tmp, os.path.join(a.engine, "result.json"))


def _engine(a, spec, W, run_dir: str) -> dict:
    from argodb_mapreduce_spark import catalog, registry
    from argodb_mapreduce_spark.session import get_spark
    from graftbench.layers import NullTracer, Tracer, peak_rss_mb, total_cpu_s

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    corpus = _corpus_dir(W, run_dir, a.seed)
    if not os.path.isdir(corpus):
        raise FileNotFoundError(f"corpus {corpus} was not prepared")
    oracle, canon_rows = _oracle_cache(W, spec, run_dir, a.seed, compute=False)
    wl = W.make(spec.name, registry.queries(), registry.oracle_sql())

    t0 = time.perf_counter()
    spark = get_spark("graftbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    ctx = W.Ctx(spark=spark, corpus=corpus, seed=a.seed,
                work=os.path.join(run_dir, "work"), tracer=NullTracer())
    os.makedirs(ctx.work)
    t0 = time.perf_counter()
    wl.stage(ctx)
    staging_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.check_pass(ctx, oracle, canon_rows)
    warm_s = time.perf_counter() - t0
    check_failures = len(ctx.failures)
    ctx.samples = []  # only timed passes count towards latency
    setup_s = _process_age_s()

    n_passes = max(1, round(a.seconds / spec.pass_s))
    if a.trace:
        n_passes = max(2, n_passes)
    tracer = Tracer(spark, jvm_pid) if a.trace else None
    traced_flags, traced_cpu = [], []
    untraced_pass_times, untraced_pass_cpu, traced_pass_times = [], [], []
    with catalog.timed_region():
        for p in range(n_passes):
            # The second pass of each pair is traced: it starts from the
            # same table state as the untraced first one.
            traced = bool(a.trace and p % 2 == 1)
            ctx.tracer = tracer if traced else NullTracer()
            n0 = len(ctx.samples)
            c0, t0 = total_cpu_s(jvm_pid), time.perf_counter()
            wl.run_pass(ctx, p)
            dt = time.perf_counter() - t0
            cpu = total_cpu_s(jvm_pid) - c0
            traced_flags.extend([traced] * (len(ctx.samples) - n0))
            if traced:
                traced_pass_times.append(dt)
                traced_cpu.append(cpu)
            else:
                untraced_pass_times.append(dt)
                untraced_pass_cpu.append(cpu)
    t0 = time.perf_counter()
    extra = wl.finish(ctx)
    rss = peak_rss_mb(jvm_pid)
    _stop_spark()
    finish_s = time.perf_counter() - t0

    timed = [s for s, tr in zip(ctx.samples, traced_flags) if not tr]
    lat = [dt for _n, _k, dt in timed]
    pct, tail, beyond = tail_percentile(lat)
    commits = [dt for _n, k, dt in timed if k == "commit"]
    reads = [dt for _n, k, dt in timed if k == "read"]
    e2e = {
        "setup_s": setup_s,
        "pass_s": _median(untraced_pass_times),
        "pass_cpu_s": _median(untraced_pass_cpu),
        "op_p50_s": _median(lat),
    }
    failed = len(ctx.failures)
    lines = [
        f"# workload={spec.name} seed={a.seed} scale={W.SCALE:g} cpus={cpus} "
        f"driver_memory={DRIVER_MEMORY} passes={n_passes} trace={a.trace} "
        f"local_dirs=.graftbench/ (run dir, removed at exit)",
        f"setup_s {setup_s:.4f} s  (engine process start to first timed op, one sample: "
        f"session start {session_s:.3f} s, staging {staging_s:.3f} s, "
        f"checked warm-up pass {warm_s:.3f} s)",
        f"pass_s {e2e['pass_s']:.4f} s  (median of {len(untraced_pass_times)} untraced passes: "
        + ", ".join(f"{x:.3f}" for x in untraced_pass_times) + ")",
        f"pass_cpu_s {e2e['pass_cpu_s']:.4f} s  (CPU of driver, JVM and Python workers per "
        f"untraced pass, median of {len(untraced_pass_cpu)}: "
        + ", ".join(f"{x:.2f}" for x in untraced_pass_cpu) + ")",
        f"op_p50_s {e2e['op_p50_s']:.4f} s  (n={len(lat)})",
        f"op_tail_s {tail:.4f} s  (p{pct:.0f}, n={len(lat)}, {beyond} samples beyond)",
        f"failed_ops {failed / max(1, ctx.attempted):.4f}  ({failed} of {ctx.attempted} "
        f"operations; {check_failures} in the checked warm-up pass)",
        f"peak_rss_mb {rss:.1f} MB  (driver Python + JVM, each process's peak)",
    ]
    if spec.name == "lake_dml":
        lines += [
            f"commit_p50_s {_median(commits):.4f} s  (n={len(commits)})",
            f"read_p50_s {_median(reads):.4f} s  (n={len(reads)})",
            f"space_amp {extra['space_amp']:.4f}  (table {extra['table_bytes']} bytes on disk)",
        ]
    for name, msg in ctx.failures[:10]:
        lines.append(f"FAILED {name}: {msg}")
    lines.append(f"# final check and shutdown {finish_s:.2f} s")

    if a.trace:
        dump = tracer.dump()
        layers = _aggregate_layers(dump["ops"], len(traced_cpu))
        overhead = _trace_overhead(ctx.samples, traced_flags)
        cpu_pass = sum(traced_cpu) / len(traced_cpu)
        layers.update({
            "session.start_s": session_s,
            "catalog.staging_s": staging_s + warm_s,
            "commit_p50_s": _median(commits),
            "read_p50_s": _median(reads),
            "space_amp": extra.get("space_amp", 0.0),
            "peak_rss_mb": rss,
            "cpu.pass_s": cpu_pass,
            "cpu.other_s": cpu_pass - layers["spark.executor_cpu_s"]
            - layers["python_worker.cpu_s"],
            "trace.overhead_s": overhead,
            "wall.pass_s": e2e["pass_s"],
            "wall.op_p50_s": e2e["op_p50_s"],
        })
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{spec.name}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": spec.name, "seed": a.seed, "scale": W.SCALE,
                       "cpus": cpus, "driver_memory": DRIVER_MEMORY,
                       "traced_passes": len(traced_cpu), "per_layer": layers,
                       "untraced_pass_s": untraced_pass_times,
                       "traced_pass_s": traced_pass_times,
                       **dump}, f)
        lines.append(f"# trace written to {os.path.relpath(path, ROOT)}")
        lines.append(_summary_line(spec.name, dump, overhead))
        metrics = {k: {"value": layers[k], "unit": u} for k, (u, _h) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "lines": lines,
        "json": {"correct": failed == 0, "attempted": ctx.attempted, "failed": failed,
                 "metrics": metrics},
    }


if __name__ == "__main__":
    main()

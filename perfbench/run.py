#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload headline_queries|htap_mor \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. One Python process, Spark
``local[<cores>]``, one closed-loop client. Set-up (session, seeded
inputs, preload, warm-up rounds) happens first and is reported as
``setup_s``, less the time the benchmark spends on its own side
(writing inputs, computing expected results); then whole rounds of the
workload's operations run until the measured operation time reaches
``--seconds`` (default: ``run_seconds`` of BENCHMARK.json). Every
operation's output is checked with the clock stopped; a failed check or
an exception counts the operation as failed.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics from spans around the engine's entry points (spans.py,
layers.py).
All scratch files live under ``.perfbench_work/`` in the checkout and
are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "ops_per_cpu_s": "1/cpu-s",
    "op_cpu_geomean_s": "cpu-s",
    "jvm_retained_mb": "MB",
    "driver_rss_mb": "MB",
}


_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads. The JVM runs with
# -XX:-UseDynamicNumberOfCompilerThreads, so they live as long as it does.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def _ticks(fields: list[str]) -> int:
    return int(fields[11]) + int(fields[12])  # utime + stime


def _below_me() -> dict[int, tuple[str, list[str]]]:
    """(command name, stat fields) of every process below this one."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            procs[int(d)] = _stat(f"/proc/{d}/stat")
        except OSError:
            continue
    me = os.getpid()
    below = {}
    for pid in procs:
        p = pid
        while p and p != me:
            p = int(procs[p][1][1]) if p in procs else 0
        if p == me and pid != me:
            below[pid] = procs[pid]
    return below


def tree_cpu_s() -> tuple[float, float]:
    """CPU seconds (user + system) used so far by this process and every
    process below it (the JVM, Spark's Python workers), as (work, jit):
    ``jit`` is the JVM's JIT compiler threads, ``work`` all the rest.
    Time the host gives to other tenants (steal) is in neither."""
    _, mine = _stat("/proc/self/stat")
    total, jit = _ticks(mine), 0
    for pid, (name, rest) in _below_me().items():
        total += _ticks(rest)
        if name != "java":
            continue
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                name, rest = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if name.startswith(_JIT_THREADS):
                jit += _ticks(rest)
    return (total - jit) / _TICK, jit / _TICK


def _alive(pid: int, start: str) -> bool:
    """Whether ``pid`` is still the process that started at ``start``
    (stat field 22) and has not yet exited."""
    try:
        _, rest = _stat(f"/proc/{pid}/stat")
    except OSError:
        return False
    return rest[19] == start and rest[0] not in "ZX"


def stop_spark(spark) -> None:
    """Stop Spark and end every process below this one, then wait until
    each has gone. ``spark.stop()`` leaves the JVM running until it sees
    end-of-file on its standard input, which would be after this process
    has exited; Spark's Python workers end after the JVM."""
    below = {pid: rest[19] for pid, (_, rest) in _below_me().items()}
    gateway = spark.sparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        if jvm is not None:
            with contextlib.suppress(OSError):
                jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 10
        while any(_alive(p, s) for p, s in below.items()):
            if time.monotonic() > deadline:
                for p, s in below.items():
                    if _alive(p, s):
                        with contextlib.suppress(OSError):
                            os.kill(p, signal.SIGKILL)
                deadline = time.monotonic() + 10
            time.sleep(0.05)


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Runner:
    """Times operations, counts failures, collects samples."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.walls: dict[str, list[float]] = {}
        self.cpus: dict[str, list[float]] = {}
        self.measured = 0.0
        self.recording = False
        self.attempted = 0
        self.failed = 0
        self.failed_kinds: dict[str, int] = {}
        self.check_failures: list[str] = []  # outside any timed op
        self.samples: dict[str, list[float]] = {}
        self._last = (None, False)
        self.last_wall = 0.0
        self.aside_s = 0.0
        self.op_s = 0.0  # every operation's wall, warm-up included
        self.jit_s = 0.0  # JIT compiler CPU during the timed operations

    @contextlib.contextmanager
    def aside(self):
        """Benchmark-side work (writing inputs, computing expected
        results): its time is kept out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.aside_s += time.perf_counter() - t0

    def timed(self, kind: str, fn, failed: bool = False, rows: int = 0):
        """Run one operation; return its result, or None if it raised."""
        c0, j0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.op(kind):
                    out = fn()
            else:
                out = fn()
            ok = not failed
        except Exception:  # noqa: BLE001 -- one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        wall = self.last_wall = time.perf_counter() - t0
        c1, j1 = tree_cpu_s()
        cpu = c1 - c0
        self.op_s += wall
        if self.recording:
            self.attempted += 1
            self.measured += wall
            self.jit_s += j1 - j0
            if ok:
                self.walls.setdefault(kind, []).append(wall)
                self.cpus.setdefault(kind, []).append(cpu)
                if rows:
                    self.sample("rows_per_op_s", rows / wall)
            else:
                self.failed += 1
                self.failed_kinds[kind] = self.failed_kinds.get(kind, 0) + 1
        self._last = (kind, ok)
        return out

    def check(self, kind: str, ok: bool, why: str) -> None:
        """Record the check of the operation just run. A wrong output of
        a timed operation fails that operation; a wrong output anywhere
        else (warm-up, the end-of-run table check) makes the run
        incorrect."""
        if ok:
            return
        print(f"# check failed: {why}", file=sys.stderr)
        if self.recording and self._last == (kind, True):
            self.walls[kind].pop()
            self.cpus[kind].pop()
            self.failed += 1
            self.failed_kinds[kind] = self.failed_kinds.get(kind, 0) + 1
            self._last = (kind, False)
        elif not self.recording:
            self.check_failures.append(why)

    def sample(self, name: str, value: float) -> None:
        if self.recording:
            self.samples.setdefault(name, []).append(float(value))


def _jvm_retained_mb(spark) -> float:
    """Heap in use after a full GC; the least of three tries. Python's
    collector runs first so that JVM objects only Python still named are
    released, and each try waits for Spark's cleaner thread to drop what
    the previous collection freed."""
    gc.collect()
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        spark._jvm.java.lang.System.gc()
        time.sleep(0.2)
        used.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(used)


def _environment(work: str) -> None:
    """Keep every file Spark and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        + " -XX:-UseDynamicNumberOfCompilerThreads"
    ).strip()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)
    os.chdir(work)  # Spark's default warehouse/derby dirs land here
    spark = None
    try:
        from sample_for_transactional_datalake_using_s3tables_spark.plans import get_spark

        import layers
        from headline import HeadlineQueries
        from htap import HtapMor

        workloads = {w.name: w for w in (HeadlineQueries, HtapMor)}
        if args.workload not in workloads:
            raise SystemExit(f"unknown workload {args.workload!r}")
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        runner = Runner(tracer)
        wl = workloads[args.workload](runner, spark, work, args.seed)
        if tracer is not None:
            layers.install(tracer)

        def next_inputs():
            with runner.aside():
                return next(inputs)

        t0, a0 = time.perf_counter(), runner.aside_s
        wl.preload()
        preload_s = time.perf_counter() - t0 - (runner.aside_s - a0)
        t0, a0 = time.perf_counter(), runner.aside_s
        inputs = wl.rounds()
        wl.check_pass()
        warmup_walls = []
        for _ in range(wl.warmup_rounds):
            w0 = runner.op_s
            wl.round(next_inputs())
            warmup_walls.append(runner.op_s - w0)
        warmup_s = time.perf_counter() - t0 - (runner.aside_s - a0)
        setup_s = time.perf_counter() - T_START - runner.aside_s
        setup_aside_s = runner.aside_s

        runner.recording = True
        if tracer is not None:
            tracer.spans.clear()
            tracer.samples.clear()
        rounds = 0
        while runner.measured < args.seconds:
            wl.round(next_inputs())
            rounds += 1
        runner.recording = False
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        jvm_mb = _jvm_retained_mb(spark)
        wl.final_check()

        n_ok = sum(len(v) for v in runner.walls.values())
        med = {k: statistics.median(v) for k, v in runner.walls.items() if v}
        cpu_med = {k: statistics.median(v) for k, v in runner.cpus.items() if v}
        cpu_total = sum(sum(v) for v in runner.cpus.values())
        if args.trace:
            metrics = layers.reduce(tracer, runner, wl, {
                "setup.session_s": session_s,
                "setup.preload_s": preload_s,
                "setup.warmup_s": warmup_s,
            })
            tracer.unpatch()
        else:
            metrics = {
                "setup_s": setup_s,
                "ops_per_cpu_s": n_ok / cpu_total,
                "op_cpu_geomean_s": _geomean(list(cpu_med.values())),
                "jvm_retained_mb": jvm_mb,
                "driver_rss_mb": rss_mb,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in metrics.items()}
        summary = {
            "workload": args.workload, "seed": args.seed, "rounds": rounds,
            "measured_s": round(runner.measured, 3),
            "ops_per_s": round(n_ok / runner.measured, 4),
            "op_geomean_s": round(_geomean(list(med.values())), 4),
            "setup_aside_s": round(setup_aside_s, 3),
            "cpu_s_total": round(cpu_total, 2),
            "jit_cpu_s": round(runner.jit_s, 2),
            "warmup_round_s": [round(x, 2) for x in warmup_walls],
            "median_s": {k: round(v, 4) for k, v in sorted(med.items())},
            "walls_s": {k: [round(x, 3) for x in v]
                        for k, v in sorted(runner.walls.items())},
            "cpu_s": {k: [round(x, 2) for x in v]
                      for k, v in sorted(runner.cpus.items())},
            "failed_kinds": runner.failed_kinds,
            "check_failures": runner.check_failures[:5],
        }
        print("# " + json.dumps(summary))
        return {
            "correct": not runner.check_failures,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def main() -> int:
    # a SIGTERM unwinds like an exception, so Spark's processes are ended
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=run_seconds)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(ap.parse_args())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark of the reconciliation engine.

    python3 perfbench/run.py --workload recon_windows --seed 1 --seconds 27 --trace 0

Run it from anywhere; it finds the package next to its own directory. It
generates the workload's inputs from ``--seed`` (cached per seed under
``.perfbench_work/`` at the repo root, with their reference answers from
the repo's DuckDB oracles), starts a ``local[4]`` session, warms up, runs a
fixed number of units of work (see :class:`Plan`) and checks every output.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are ``setup_s``,
all CPU seconds, JIT compilation included, from session start until
warm-up is done, and ``cpu_s``, the median CPU seconds of one unit — CPU time of this process, the Spark
JVM and Spark's Python workers, without the JVM's JIT compiler threads
(see :class:`Clock`). CPU time cannot see a change that only
adds waiting or removes parallelism; the traced run's ``unit.latency_s``
(median wall seconds of a unit with the share the hypervisor stole from
the host taken out, see :class:`Clock`), ``spark.job_gap_s`` and
``spark.busy_frac`` show those, without a bound. The line before the JSON
gives the wall-clock figures: set-up, each unit, rows per second, peak
RSS, the failed share.
With ``--trace 1`` untraced and traced units alternate and the metrics are
the per-layer figures of the traced ones (see spans.py).

Spark's log and console progress go to a per-run log file under
``.perfbench_work/logs/``, not to the terminal.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mongo_polars_reconciliation_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
JVM_MEMORY = "2g"


class Plan:
    """Input size and unit policy of one workload. A run measures a fixed
    number of units — ``--seconds`` over the unit's nominal length, at
    least one — so every commit measures the same work whatever the host's
    speed that minute."""

    def __init__(self, size: dict, warmup: int, unit_s: float):
        self.size = size
        self.warmup = warmup  # untimed units inside set-up
        self.unit_s = unit_s  # nominal wall time of one unit on a 4-core host

    def units(self, seconds: float) -> int:
        return max(1, round(seconds / self.unit_s))


PLANS = {
    # One session for the day's first windows. Window 1 is the warm-up;
    # windows 2 and 3 are timed and their median reported. Windows still
    # speed up as the JVM compiles (wall 15, 10, 9, 8 s, ... on a 4-vCPU
    # host) and level off near 6 s around the tenth, which one run cannot
    # afford, so the timed windows are early-session ones.
    "recon_windows": Plan({"window_rows": 1500}, warmup=1, unit_s=12.0),
    # a corpus build is a batch job: one build per process, timed cold
    "corpus_curate": Plan({"docs": 500, "vecs": 500}, warmup=0, unit_s=30.0),
}
# stop starting units this long after process start, whatever else holds
HARD_STOP_S = 120.0

_STDERR = 2


def say(msg: str) -> None:
    os.write(_STDERR, (msg + "\n").encode())


def redirect_stderr(path: str) -> None:
    """Send fd 2 — the JVM's log4j console appender and the Python workers
    inherit it — to ``path``; keep the terminal for our own messages."""
    global _STDERR
    _STDERR = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)


def restore_stderr() -> None:
    if _STDERR != 2:
        os.dup2(_STDERR, 2)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident set of this Python process plus the Spark JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                kb += int(line.split()[1])
    return kb / 1024.0


def _steal() -> tuple[int, int]:
    """Ticks of all CPUs since boot, and how many of them the hypervisor
    stole (the ``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


class Clock:
    """Wall time; the CPU time of this Python process, the Spark JVM and
    every process the JVM started (Spark's Python workers); and the CPU
    ticks the hypervisor stole from the host.

    ``cpu`` leaves out the JVM's JIT compiler threads, ``cpu_all`` does
    not. In the first windows of a session JIT compilation is over half of
    all CPU time, and how much of it falls inside a unit depends on timing
    (measured on one session: 13.5 of 24.2 CPU s in window 2, 8.3 of 17.9
    in window 4); what is left is the work the engine asked for. The
    compiler threads are kept alive (``-UseDynamicNumberOfCompilerThreads``)
    so that none exits and takes its time out of the count.

    On a shared host steal comes and goes at random; stolen time stretches
    wall time but accrues no CPU time. ``latency`` is wall time with the
    stolen share taken out — wall × (1 − stolen ticks ÷ all ticks) over the
    interval — which, unlike CPU time, still shows time spent waiting."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def _cpu(self) -> tuple[float, float]:
        t = os.times()
        parent, ticks = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:  # exited meanwhile: its time is in its parent's
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            parent[int(d)] = int(fields[1])
            # utime, stime, and cutime, cstime of children already reaped
            ticks[int(d)] = sum(int(x) for x in fields[11:15])
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        total, frontier = 0, [self.jvm_pid]
        while frontier:
            pid = frontier.pop()
            total += ticks.get(pid, 0)
            frontier += children.get(pid, [])
        own = t.user + t.system
        return own + (total - self._jit_ticks()) / self.tick, own + total / self.tick

    def _jit_ticks(self) -> int:
        """utime + stime of the JVM's "C1/C2 CompilerThreadN" threads."""
        jit = 0
        task = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task):
            try:
                with open(f"{task}/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
                jit += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13])
        return jit

    def now(self) -> tuple:
        return (time.perf_counter(), *self._cpu(), *_steal())

    def since(self, start: tuple) -> dict:
        return between(start, self.now())


def between(start: tuple, end: tuple) -> dict:
    """``elapsed`` (wall), ``cpu``, ``cpu_all`` and ``latency`` seconds
    between two readings of :meth:`Clock.now` (see :class:`Clock`)."""
    elapsed = end[0] - start[0]
    share = (end[4] - start[4]) / max(end[3] - start[3], 1)
    return {
        "elapsed": elapsed,
        "cpu": end[1] - start[1],
        "cpu_all": end[2] - start[2],
        "latency": elapsed * (1.0 - share),
    }


def count_error_lines(path: str) -> int:
    with open(path, errors="replace") as f:
        return sum(1 for line in f if " ERROR " in line)


def use_run_dir(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``run_dir``,
    and let Spark's Python workers import the package from the repo root."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_MEMORY


def start_session(run_dir: str, traced: bool):
    from mongo_polars_reconciliation_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # a day of windows runs well over the default 1000 retained jobs
        conf.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    return get_spark("perfbench", cpus=CORES, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


class Outcome:
    """Units run by :func:`measure` and how many were attempted and failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.plain: list[dict] = []
        self.traced: list[dict] = []
        self.ready = (0.0, 0.0)


def measure(wl, plan: Plan, seconds: float, tracer, t_start: float, clock) -> Outcome:
    """Warm up, then run the plan's units for ``seconds``; ``out.ready``
    is the clock's reading between the two. With a tracer, untraced and
    traced units alternate. A unit that raises or fails its check counts
    as failed; the run goes on."""
    import spans

    out = Outcome()
    null = spans.NullTracer()

    def one(tr) -> dict | None:
        out.attempted += 1
        try:
            return wl.unit(tr)
        except Exception as e:
            out.failed += 1
            say(f"perfbench: unit failed: {type(e).__name__}: {e}")
            return None

    for _ in range(plan.warmup):
        one(null)
    out.ready = clock.now()
    units = plan.units(seconds)
    if tracer:
        # untraced, traced, untraced at the least: units get faster as the
        # JVM warms, and the traced one is compared with its neighbours
        units = max(units, 3)
    exhausted = getattr(wl, "exhausted", lambda: False)
    for n in range(1, units + 1):
        if exhausted() or time.perf_counter() - t_start > HARD_STOP_S:
            break
        if tracer is not None and n % 2 == 0:
            r = one(tracer)
            if r:
                out.traced.append(r)
                tracer.close_unit(tracer.last_unit)
        else:
            r = one(null)
            if r:
                out.plain.append(r)
    for i in getattr(wl, "final_check", lambda: [])():
        out.failed += 1
        say(f"perfbench: unit {i} disagrees with the oracle")
    return out


def run(args) -> dict:
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    import gen

    plan = PLANS[args.workload]
    t = time.perf_counter()
    inputs, expected = gen.inputs(WORK, args.workload, args.seed, plan.size)
    say(f"perfbench: inputs {inputs} ({time.perf_counter() - t:.1f}s)")

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", tag)
    use_run_dir(run_dir)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", tag + ".log")
    redirect_stderr(log_path)
    spark = None
    try:
        # the JVM does not exist yet: this process's CPU is all there is
        own = sum(os.times()[:2])
        setup_start = (time.perf_counter(), own, own, *_steal())
        spark = start_session(run_dir, traced=bool(args.trace))
        import spans
        import workloads

        jvm_pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        clock = Clock(jvm_pid)
        wl = workloads.WORKLOADS[args.workload](
            spark, inputs, expected, os.path.join(run_dir, "out"), clock
        )
        tracer = spans.Tracer(spark, tag) if args.trace else None
        out = measure(wl, plan, args.seconds, tracer, t_start, clock)
        setup = between(setup_start, out.ready)
        rss = peak_rss_mb(jvm_pid)
    finally:
        if spark is not None:
            stop_session(spark)
        restore_stderr()
    errors = count_error_lines(log_path)
    shutil.rmtree(run_dir, ignore_errors=True)

    if not out.plain:
        raise RuntimeError("no unit completed")
    times = [r["elapsed"] for r in out.plain]
    cpus = [r["cpu"] for r in out.plain]
    cpus_all = [r["cpu_all"] for r in out.plain]
    lats = [r["latency"] for r in out.plain]
    if args.trace:
        tracer.dump(log_path.removesuffix(".log") + ".spans.jsonl")
        warm = lats[1:] if plan.warmup == 0 else lats
        overhead = statistics.median(r["latency"] for r in out.traced) - statistics.median(warm)
        # the untraced units a --trace 0 run times, as far as they ran
        timed = lats[: plan.units(args.seconds)]
        metrics = tracer.metrics(CORES, errors, overhead, rss, statistics.median(timed))
    else:
        # CPU seconds, not wall: on a shared host the hypervisor steals a
        # varying share of the CPUs, which stretches wall time by up to half
        # from one minute to the next; with the stolen share taken out,
        # early-session windows still spread by 0.29 of their median
        # between quartiles over five seeds, so wall latency is a per-layer
        # figure only
        metrics = {
            "setup_s": {"value": setup["cpu_all"], "unit": "s"},
            "cpu_s": {"value": statistics.median(cpus), "unit": "s"},
        }
    # the wall-clock figures, for the reader
    print(
        f"perfbench: {args.workload} seed={args.seed} units={len(times)} "
        f"failed_frac={out.failed / max(out.attempted, 1):.4f} "
        f"setup_wall_s={setup['elapsed']:.2f} "
        f"unit_s=[{', '.join(f'{x:.3f}' for x in times)}] "
        f"unit_latency_s=[{', '.join(f'{x:.3f}' for x in lats)}] "
        f"unit_cpu_s=[{', '.join(f'{x:.2f}' for x in cpus)}] "
        f"unit_cpu_all_s=[{', '.join(f'{x:.2f}' for x in cpus_all)}] "
        f"rows_per_s={sum(r['rows'] for r in out.plain) / sum(times):.1f} "
        f"peak_rss_mb={rss:.0f} spark.error_log_lines={errors}"
    )
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PLANS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception as e:
        say(f"perfbench: run failed: {type(e).__name__}: {e}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

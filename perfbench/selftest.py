#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

On one session, each workload runs at a tiny size (100-order windows; a
60-document, 60-vector corpus): one untraced and one traced unit, which
must both pass their checks against the oracle — so tracing changes no
result. Then one output is corrupted — a bucket count off by one — and the
unit that produced it must be counted as failed; and a window whose sink
raises must end the day, counted as the one failure. Exits 1 on any
surprise.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager

import run

TINY = {
    "recon_windows": run.Plan({"window_rows": 100}, warmup=0, unit_s=1.0),
    "corpus_curate": run.Plan({"docs": 60, "vecs": 60}, warmup=0, unit_s=1.0),
}


@contextmanager
def corrupted(workloads, name: str):
    """One output count off by one: the windows' matched bucket, or the
    curated corpus's per-language document count."""
    from pyspark.sql import functions as F

    if name == "recon_windows":
        attr, real = "summary_dict", workloads.summary_dict

        def fake(rows):
            s = real(rows)
            s["a_to_b_mt"][0] += 1
            return s
    else:
        attr, real = "curate_corpus_v2", workloads.curate_corpus_v2

        def fake(*a, **kw):
            return real(*a, **kw).withColumn("n_docs", F.col("n_docs") + 1)
    setattr(workloads, attr, fake)
    try:
        yield
    finally:
        setattr(workloads, attr, real)


@contextmanager
def sink_fails_once(workloads, at: int):
    """``persist_results`` raises on its ``at``-th call."""
    real, calls = workloads.persist_results, []

    def fake(*a, **kw):
        calls.append(1)
        if len(calls) == at:
            raise RuntimeError("injected sink failure")
        return real(*a, **kw)

    workloads.persist_results = fake
    try:
        yield
    finally:
        workloads.persist_results = real


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import gen

    work = os.path.join(run.WORK, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    run_dir = os.path.join(work, "run")
    run.use_run_dir(run_dir)
    run.redirect_stderr(os.path.join(work, "selftest.log"))
    problems = []
    spark = run.start_session(run_dir, traced=True)
    clock = run.Clock(spark.sparkContext._gateway.proc.pid)  # noqa: SLF001
    try:
        import spans
        import workloads

        for name, plan in TINY.items():
            inputs, expected = gen.inputs(work, name, 0, plan.size)

            def build(tag):
                return workloads.WORKLOADS[name](
                    spark, inputs, expected, os.path.join(run_dir, name, tag), clock
                )

            tracer = spans.Tracer(spark, f"selftest-{name}")
            out = run.measure(build("clean"), plan, 2, tracer, time.perf_counter(), clock)
            run.say(
                f"selftest: {name}: {out.attempted} units, {out.failed} failed, "
                f"{len(out.traced)} traced, {tracer.totals['spark.jobs']:.0f} jobs traced"
            )
            if out.failed or not out.plain or not out.traced:
                problems.append(f"{name}: clean units must pass, traced and untraced")
            with corrupted(workloads, name):
                bad = run.measure(build("corrupt"), plan, 2, None, time.perf_counter(), clock)
            run.say(f"selftest: {name} corrupted: {bad.attempted} units, {bad.failed} failed")
            if bad.attempted == 0 or bad.failed != bad.attempted:
                problems.append(f"{name}: every corrupted unit must count as failed")
            if name == "recon_windows":
                # a window that raises leaves the state table unknown: the
                # day ends there, and the windows before it still check out
                with sink_fails_once(workloads, 2):
                    cut = run.measure(build("raise"), plan, 3, None, time.perf_counter(), clock)
                run.say(f"selftest: {name} raising: {cut.attempted} units, {cut.failed} failed")
                if (cut.attempted, cut.failed) != (2, 1):
                    problems.append(f"{name}: a raising window must end the day, alone failed")
    finally:
        run.stop_session(spark)
        run.restore_stderr()
    for p in problems:
        print(f"selftest: FAIL {p}", file=sys.stderr)
    if not problems:
        shutil.rmtree(work, ignore_errors=True)
        print("selftest: ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

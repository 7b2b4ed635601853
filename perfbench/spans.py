"""Spans around calls into the engine's layers, attributed to Spark jobs.

A span records (name, layer, start, end, parent, run id) in memory. Every
span labels its calls with a Spark job group named after its layer, and
brackets them with the DAG scheduler's next-job id. Job ids are assigned in
submission order, so the jobs a span started are exactly the ids between
its two brackets — including jobs submitted from a thread pool
(``sinks.persist_results``), which the thread-local job group does not
reach. After each unit of work the collector drains Spark's listener bus and
reads those jobs, their stages and their metrics from the status store. A
job id the store no longer holds fails the traced run: the figures would be
silently short.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

# The layers a span may name, and the per-layer metrics the traced run
# prints for every workload (0 where the layer does no work on it).
LAYER_METRICS = {
    "pipeline.checkpoint_jobs": "count",
    "pipeline.call_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_gap_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "match.call_s": "s",
    "match.jobs": "count",
    "match.candidates": "count",
    "match.matched": "count",
    "match.useful_ratio": "ratio",
    "residuals.call_s": "s",
    "residuals.jobs": "count",
    "residuals.rows_out": "count",
    "tolerance.call_s": "s",
    "tolerance.jobs": "count",
    "tolerance.matched": "count",
    "tolerance.useful_ratio": "ratio",
    "zero_effect.call_s": "s",
    "zero_effect.jobs": "count",
    "zero_effect.pairs": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.busy_frac": "ratio",
    "sinks.call_s": "s",
    "sinks.jobs": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "state.call_s": "s",
    "state.jobs": "count",
    "state.rows": "count",
    "state.bytes_written": "bytes",
    "sources.call_s": "s",
    "sources.jobs": "count",
    "sources.rows_in": "count",
    "summary.call_s": "s",
    "summary.jobs": "count",
    "curation.call_s": "s",
    "curation.jobs": "count",
    "similarity.fit_s": "s",
    "similarity.join_s": "s",
    "similarity.semdedup_s": "s",
    "similarity.jobs": "count",
    "spark.error_log_lines": "count",
    "session.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "trace.units": "count",
    "unit.latency_s": "s",
}

# span layer -> prefix of its ``<prefix>.call_s`` / ``<prefix>.jobs`` metrics
LAYER_PREFIX = {
    "sources.scan": "sources",
    "sources.external": "sources",
    "sources.state": "state",
    "sources.sinks": "sinks",
    "operators.zero_effect": "zero_effect",
    "operators.match": "match",
    "operators.residuals": "residuals",
    "operators.tolerance": "tolerance",
    "operators.summary": "summary",
    "plans.pipeline": "pipeline",
    "extensions.curation": "curation",
    "extensions.similarity": "similarity",
}


class NullTracer:
    """Tracing off: spans cost one no-op context manager per call."""

    enabled = False

    @contextmanager
    def span(self, layer: str, name: str = ""):
        yield

    def count(self, key: str, value: float) -> None:
        pass

    def terminal(self, df) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()  # noqa: SLF001
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.units = 0
        self.last_unit: dict | None = None

    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, layer: str, name: str = ""):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "run": self.run_id,
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "name": name or layer,
            "job_lo": self._next_job_id(),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        if layer == "unit":
            self.last_unit = sp
        self.sc.setJobGroup(f"{self.run_id}:{layer}", sp["name"])
        sp["start"] = time.perf_counter()
        sp["wall_start"] = time.time()
        try:
            yield
        finally:
            sp["end"] = time.perf_counter()
            sp["wall_end"] = time.time()
            sp["job_hi"] = self._next_job_id()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"{self.run_id}:{parent['layer']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, key: str, value: float) -> None:
        self.totals[key] += value

    def terminal(self, df) -> None:
        """Catalyst phase times of a DataFrame that ran a terminal action."""
        phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                self.totals[f"catalyst.{phase}_ms"] += float(
                    phases.apply(phase).durationMs()
                )

    # --- collection -------------------------------------------------------------

    def close_unit(self, unit: dict) -> None:
        """Attribute the jobs of one finished unit span (and its children)
        to layers. Drains the listener bus first so the status store holds
        every event of the jobs it is about to read."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = {}
        for jid in range(unit["job_lo"], unit["job_hi"]):
            try:
                jobs[jid] = store.job(jid)
            except Exception as e:  # evicted or never recorded
                raise RuntimeError(
                    f"status store lost job {jid}; job ids read are not contiguous"
                ) from e
        self.units += 1
        t = self.totals
        t["spark.jobs"] += len(jobs)
        intervals = []
        seen_stages: set[int] = set()
        for jd in jobs.values():
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append((
                    jd.submissionTime().get().getTime() / 1000.0,
                    jd.completionTime().get().getTime() / 1000.0,
                ))
            ids = jd.stageIds()
            for i in range(ids.size()):
                seen_stages.add(int(ids.apply(i)))
        for sid in sorted(seen_stages):
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "COMPLETE":  # not SKIPPED: no work done
                t["spark.stages"] += 1
                t["spark.tasks"] += sd.numCompleteTasks()
                t["spark.executor_run_s"] += sd.executorRunTime() / 1000.0
                t["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
                t["spark.gc_s"] += sd.jvmGcTime() / 1000.0
                t["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
                t["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                t["spark.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        wall = unit["wall_end"] - unit["wall_start"]
        t["spark.job_gap_s"] += wall - _covered(intervals, unit["wall_start"], unit["wall_end"])
        t["__wall_s"] += wall

        # per-layer call time is self time: a span minus its child spans
        children: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None and "end" in sp:
                children[sp["parent"]] += sp["end"] - sp["start"]
        for sp in self.spans:
            if sp.get("unit_closed") or sp["layer"] not in LAYER_PREFIX or "end" not in sp:
                continue
            sp["unit_closed"] = True
            prefix = LAYER_PREFIX[sp["layer"]]
            self_s = sp["end"] - sp["start"] - children[sp["id"]]
            n_jobs = sp["job_hi"] - sp["job_lo"]
            if prefix == "similarity":
                t[f"similarity.{sp['name']}_s"] += self_s
            else:
                t[f"{prefix}.call_s"] += self_s
            # the pipeline's own jobs are its checkpoints and pass transitions
            t["pipeline.checkpoint_jobs" if prefix == "pipeline" else f"{prefix}.jobs"] += n_jobs

    def metrics(
        self, cores: int, error_lines: int, overhead_s: float, rss_mb: float, latency_s: float
    ) -> dict:
        """Per-unit figures for every per-layer metric. ``latency_s`` is the
        untraced units' median steal-adjusted wall time."""
        n = max(self.units, 1)
        t = self.totals
        out = {}
        for name, unit in LAYER_METRICS.items():
            out[name] = {"value": t.get(name, 0.0) / n, "unit": unit}
        cand = t.get("match.candidates", 0.0)
        out["match.useful_ratio"]["value"] = t.get("match.matched", 0.0) / cand if cand else 0.0
        entering = t.get("tolerance.a_in", 0.0)
        out["tolerance.useful_ratio"]["value"] = (
            t.get("tolerance.matched", 0.0) / entering if entering else 0.0
        )
        wall = t.get("__wall_s", 0.0)
        out["spark.busy_frac"]["value"] = (
            t.get("spark.executor_run_s", 0.0) / (wall * cores) if wall else 0.0
        )
        out["spark.error_log_lines"]["value"] = error_lines
        out["session.peak_rss_mb"]["value"] = rss_mb
        out["trace.overhead_s"]["value"] = overhead_s
        out["trace.units"]["value"] = self.units
        out["unit.latency_s"]["value"] = latency_s
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({k: v for k, v in sp.items() if k != "unit_closed"}) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total

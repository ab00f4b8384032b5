"""Spans, Spark job groups and per-layer metrics of the traced run.

Spans are recorded by the benchmark around each public call (no hooks
inside the program). In a traced round each call runs under its own Spark
job group; after the call returns, the driver's status store is read for
that group's jobs, stages and tasks. The store is fed by the listener the
driver always runs, so tracing adds no Spark job.
"""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

import numpy as np

# (name, unit, better, group). A metric reads 0 on a workload whose
# ``Workload.layers`` lacks its group; group "trace" (the whole process:
# tracing cost, memory) is present everywhere.
PER_LAYER: list[tuple[str, str, str, str]] = [
    ("graph.load_s", "s", "lower", "graph"),
    ("graph.edge_cache_s", "s", "lower", "graph"),
    ("pagerank_s", "s", "lower", "superstep.pagerank"),
    ("csr.build_s", "s", "lower", "csr"),
    ("csr.blocks", "count", "lower", "csr"),
    ("csr.sidecar_bytes", "bytes", "lower", "csr"),
    ("csr.build_shuffle_bytes", "bytes", "lower", "csr"),
    ("pagerank_csr_s", "s", "lower", "gas"),
    ("gas.wall_s.p50", "s", "lower", "gas"),
    ("gas.task_busy_s", "s", "lower", "gas"),
    ("gas.idle_s", "s", "lower", "gas"),
    ("gas.shuffle_write_bytes", "bytes", "lower", "gas"),
    ("checkpoint.save_s", "s", "lower", "checkpoint"),
    ("checkpoint.bytes_per_superstep", "bytes", "lower", "checkpoint"),
    ("checkpoint.jobs_per_superstep", "count", "lower", "checkpoint"),
    ("checkpoint.load_s", "s", "lower", "checkpoint"),
    ("skew.hot_keys", "count", "lower", "skew"),
    ("skew.hot_keys_s", "s", "lower", "skew"),
    ("components_s", "s", "lower", "components"),
    ("components.rounds", "count", "lower", "components"),
    ("labelprop_s", "s", "lower", "labelprop"),
    ("labelprop.rounds", "count", "lower", "labelprop"),
    ("triangles_s", "s", "lower", "triangles"),
    ("triangles.shuffle_bytes", "bytes", "lower", "triangles"),
    ("triangles.task_busy_s", "s", "lower", "triangles"),
    ("resume_s", "s", "lower", "superstep.resume"),
    ("memory.peak_rss_mb", "MB", "lower", "trace"),
    ("trace.overhead_s", "s", "lower", "trace"),
    ("trace.wall_delta_s", "s", "lower", "trace"),
]
SUPERSTEP_CALLS = ("pagerank", "components", "labelprop", "resume")
for _c in SUPERSTEP_CALLS:
    PER_LAYER += [
        (f"superstep.{_c}.count", "count", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.wall_s.p50", "s", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.wall_s.p90", "s", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.jobs", "count", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.stages", "count", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.tasks", "count", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.task_busy_s", "s", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.idle_s", "s", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.shuffle_read_bytes", "bytes", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.shuffle_write_bytes", "bytes", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.spill_bytes", "bytes", "lower", f"superstep.{_c}"),
        (f"superstep.{_c}.task_skew", "ratio", "lower", f"superstep.{_c}"),
    ]

# may read 0 even where the layer runs: nothing spills at these sizes
MAY_BE_ZERO = {f"superstep.{c}.spill_bytes" for c in SUPERSTEP_CALLS}


class Tracer:
    """Span recorder. With ``enabled`` false it records nothing and never
    touches Spark; the untraced end-to-end rounds use it that way."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self.overhead_s = 0.0

    def start(self, name: str, trace_id: str, parent: int | None,
              spark: bool = True) -> dict | None:
        """Open a span; with ``spark`` its Spark jobs run in their own job
        group, whose stats ``end`` attaches to the span."""
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        span = {"id": len(self.spans), "trace": trace_id, "parent": parent, "name": name,
                "spark": None}
        if spark:
            self.sc.setJobGroup(f"graphbench-{span['id']}", name)
            span["group"] = f"graphbench-{span['id']}"
        self.spans.append(span)
        span["start"] = time.time()
        self.overhead_s += time.perf_counter() - t0
        return span

    def end(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.time()
        t0 = time.perf_counter()
        if "group" in span:
            span["spark"] = self._group_stats(span["group"])
        self.overhead_s += time.perf_counter() - t0

    def _group_stats(self, group: str) -> dict:
        sc = self.sc
        # the status store is fed asynchronously; drain the bus first so the
        # group's last job and stage are in it
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = sorted(
            {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
        )
        no_status = sc._jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        out = dict(jobs=len(jobs), stages=0, tasks=0, run_ms=0, shuffle_read=0,
                   shuffle_write=0, spill=0, task_skew=0.0)
        largest = None
        for sid in stage_ids:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["run_ms"] += sd.executorRunTime()
                out["shuffle_read"] += sd.shuffleReadBytes()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if largest is None or sd.executorRunTime() > largest[0]:
                    largest = (sd.executorRunTime(), sid, sd.attemptId())
        if largest is not None:
            tasks = store.taskList(largest[1], largest[2], 100_000)
            times = []
            for i in range(tasks.size()):
                m = tasks.apply(i).taskMetrics()
                if m.isDefined():
                    times.append(m.get().executorRunTime())
            if times:
                # ms resolution: a 0 ms median reads as 1 ms
                out["task_skew"] = max(times) / max(statistics.median(times), 1.0)
        return out

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(rounds: list, untraced: list, probes: dict, setup: dict, slots: int,
              peak_rss_mb: float) -> dict:
    """Per-layer metrics from the traced rounds (medians over rounds).

    ``rounds`` are traced ``Round``s, ``untraced`` the untraced rounds of
    the same run (for the tracing wall delta), ``probes`` the traced-only
    standalone calls and ``setup`` the set-up breakdown.
    """
    m = {name: 0.0 for name, *_ in PER_LAYER}

    def calls(name: str) -> list:
        return [r.calls[name] for r in rounds if name in r.calls and not r.calls[name].error]

    def med(name: str, f) -> float:
        return _median([f(c) for c in calls(name)])

    def busy(c) -> float:
        return c.stats["run_ms"] / 1000.0 / slots

    def steps_s(c) -> list[float]:
        res = c.result
        walls = getattr(res, "wall_ms_per_iter", None) or getattr(res, "wall_ms_per_round", [])
        return [w / 1000.0 for w in walls]

    m["graph.load_s"] = _median(setup["load_s"])
    m["graph.edge_cache_s"] = med("pagerank", lambda c: c.wall - sum(steps_s(c)))

    for c in SUPERSTEP_CALLS:
        if not calls(c):
            continue
        p = f"superstep.{c}"
        m[f"{p}.count"] = med(c, lambda x: len(steps_s(x)))
        m[f"{p}.wall_s.p50"] = med(c, lambda x: float(np.percentile(steps_s(x), 50)))
        m[f"{p}.wall_s.p90"] = med(c, lambda x: float(np.percentile(steps_s(x), 90)))
        m[f"{p}.jobs"] = med(c, lambda x: x.stats["jobs"])
        m[f"{p}.stages"] = med(c, lambda x: x.stats["stages"])
        m[f"{p}.tasks"] = med(c, lambda x: x.stats["tasks"])
        m[f"{p}.task_busy_s"] = med(c, busy)
        m[f"{p}.idle_s"] = med(c, lambda x: x.wall - busy(x))
        m[f"{p}.shuffle_read_bytes"] = med(c, lambda x: x.stats["shuffle_read"])
        m[f"{p}.shuffle_write_bytes"] = med(c, lambda x: x.stats["shuffle_write"])
        m[f"{p}.spill_bytes"] = med(c, lambda x: x.stats["spill"])
        m[f"{p}.task_skew"] = med(c, lambda x: x.stats["task_skew"])

    if calls("pagerank_csr"):
        m["csr.build_s"] = med("csr_build", lambda c: c.wall)
        m["csr.blocks"] = _median([r.csr["blocks"] for r in rounds if r.csr])
        m["csr.sidecar_bytes"] = _median([r.csr["bytes"] for r in rounds if r.csr])
        m["csr.build_shuffle_bytes"] = med("csr_build", lambda c: c.stats["shuffle_write"])
        m["pagerank_csr_s"] = _median(
            [r.calls["csr_build"].wall + r.calls["pagerank_csr"].wall
             for r in rounds if "pagerank_csr" in r.calls and not r.calls["pagerank_csr"].error]
        )
        m["gas.wall_s.p50"] = med("pagerank_csr", lambda c: float(np.percentile(steps_s(c), 50)))
        m["gas.task_busy_s"] = med("pagerank_csr", busy)
        m["gas.idle_s"] = med("pagerank_csr", lambda c: c.wall - busy(c))
        m["gas.shuffle_write_bytes"] = med("pagerank_csr", lambda c: c.stats["shuffle_write"])

    # a probe that raised is already counted as failed; its metrics stay 0
    ok = {name: c for name, c in probes.items() if not c.error}
    durable = calls("pagerank")
    if "twin" in ok and durable:
        twin = ok["twin"]
        steps = _median([len(steps_s(c)) for c in durable])
        m["checkpoint.save_s"] = _median(
            [float(np.percentile(steps_s(c), 50)) for c in durable]
        ) - float(np.percentile(steps_s(twin), 50))
        m["checkpoint.bytes_per_superstep"] = _median(
            [r.checkpoint["bytes"] / r.checkpoint["steps"] for r in rounds if r.checkpoint]
        )
        m["checkpoint.jobs_per_superstep"] = (
            _median([c.stats["jobs"] for c in durable]) - twin.stats["jobs"]
        ) / steps
    if "load" in ok:
        m["checkpoint.load_s"] = ok["load"].wall
    if "hot_keys" in ok:
        m["skew.hot_keys"] = float(ok["hot_keys"].result)
        m["skew.hot_keys_s"] = ok["hot_keys"].wall

    for c in ("pagerank", "components", "labelprop", "triangles", "resume"):
        if calls(c):
            m[f"{c}_s"] = med(c, lambda x: x.wall)
    if calls("components"):
        m["components.rounds"] = med("components", lambda c: c.result.rounds)
    if calls("labelprop"):
        m["labelprop.rounds"] = med("labelprop", lambda c: c.result.rounds)
    if calls("triangles"):
        m["triangles.shuffle_bytes"] = med("triangles", lambda c: c.stats["shuffle_write"])
        m["triangles.task_busy_s"] = med("triangles", busy)

    m["memory.peak_rss_mb"] = peak_rss_mb
    m["trace.overhead_s"] = _median([r.trace_overhead_s for r in rounds])
    m["trace.wall_delta_s"] = _median([r.wall for r in rounds]) - _median(
        [r.wall for r in untraced]
    )
    return m

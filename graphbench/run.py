"""Graph-engine benchmark: one seeded workload per fresh process.

    python3 graphbench/run.py --workload deps-small --seed 1 --seconds 15 --trace 0
    python3 graphbench/run.py --smoke

A run starts ``local[nproc]`` with shuffle partitions = nproc, generates its
input from ``--seed`` in NumPy, sets it up several times (set-up time is
reported as a median), runs one untimed warm-up round on it, then runs as
many rounds of the workload's calls as fit in ``--seconds`` at the
workload's nominal round time (at least one; two, one untraced and one
traced, with ``--trace 1``). Callers form a closed loop
of one: each call starts after the previous one returned.
Every call output is checked against ``tests/oracle.py`` after the round.
See README.md for the workloads and the metrics.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (calls whose output missed its oracle or that raised) and
``metrics`` -- the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Lines above it, prefixed ``#``,
describe the machine and the per-call medians.

``--smoke`` runs every workload at a tiny size in one process and checks
that each metric of BENCHMARK.json is emitted with its unit, that
per-layer metrics are non-zero exactly on the workloads that run their
layer, and that every oracle check passes.

All scratch (Spark local dirs, JVM temp dir, CSR sidecars, checkpoints,
inputs) lives in a private directory under ``.graphbench/`` in the
checkout and is removed at exit; traced runs leave their spans in
``.graphbench/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
STATE_DIR = ROOT / ".graphbench"
DRIVER_MEM = "3g"
SETUP_REPS = 3

sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import pyspark  # noqa: E402

import hoshizora_spark as hz  # noqa: E402
from hoshizora_spark.runtime.skew import hot_keys  # noqa: E402
from tracing import MAY_BE_ZERO, PER_LAYER, Tracer, per_layer  # noqa: E402
from workloads import WORKLOADS, Oracle, collect_ranks  # noqa: E402


@dataclass
class CallRecord:
    wall: float
    result: object
    error: bool
    stats: dict | None


@dataclass
class Round:
    """One pass over a workload's calls, timed per call from outside."""

    graph: object
    oracle: object
    tracer: object
    scratch: Path
    trace_id: str
    traced: bool = False
    num_edges: int = 0
    span: int | None = None
    calls: dict = field(default_factory=dict)
    checks: list = field(default_factory=list)
    csr: dict | None = None
    checkpoint: dict | None = None
    trace_overhead_s: float = 0.0

    def call(self, name: str, fn):
        """Run ``fn`` (returning ``(result, collected output)``) as one timed
        call; a raise is recorded as a failed call, not propagated."""
        span = self.tracer.start(name, self.trace_id, self.span)
        t0 = time.perf_counter()
        try:
            out, error = fn(), False
        except Exception:
            traceback.print_exc()
            out, error = (None, None), True
        wall = time.perf_counter() - t0
        self.tracer.end(span)
        self.calls[name] = CallRecord(wall, out[0], error, span and span["spark"])
        return out

    def expect(self, name: str, check) -> None:
        self.checks.append((name, check))

    def verify(self) -> list[str]:
        failed = []
        for name, check in self.checks:
            try:
                ok = bool(check())
            except Exception:
                traceback.print_exc()
                ok = False
            if not ok:
                failed.append(name)
        return failed

    def new_checkpoint_dir(self) -> str:
        return tempfile.mkdtemp(prefix="ckpt-", dir=self.scratch)

    def note_csr(self, csr) -> None:
        self.csr = {"blocks": csr.num_blocks, "bytes": _du(Path(csr.path))}

    def note_checkpoint(self, base: str, run_id: str, res) -> None:
        if res is not None:
            run_dir = Path(base) / "pagerank" / run_id
            self.checkpoint = {"bytes": _du(run_dir), "steps": res.iterations,
                               "base": base, "run_id": run_id}

    @property
    def wall(self) -> float:
        return sum(c.wall for c in self.calls.values())


def _du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _rss_tree_mb(root_pid: int) -> float:
    """Σ peak RSS (VmHWM) of ``root_pid`` and its descendants: the JVM plus
    the Python daemon and workers it forked."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                ppid = int((d / "stat").read_text().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d.name))
    total_kb, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def _header(nproc: int) -> list[str]:
    mem_kb = next(
        int(line.split()[1]) for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    llc = "?"
    caches = sorted(Path("/sys/devices/system/cpu/cpu0/cache").glob("index*"))
    if caches:
        llc = (caches[-1] / "size").read_text().strip()
    return [
        f"machine: {platform.processor() or platform.machine()}, nproc {nproc}, "
        f"RAM {mem_kb / 2**20:.1f} GiB, last-level cache {llc}",
        f"versions: python {platform.python_version()}, pyspark {pyspark.__version__}, "
        f"pyarrow {pa.__version__}, numpy {np.__version__}",
        f"spark: local[{nproc}], shuffle partitions {nproc}, driver memory {DRIVER_MEM}",
    ]


class Bench:
    """One Spark session plus the private scratch it writes into."""

    def __init__(self, scratch: Path, nproc: int) -> None:
        self.scratch = scratch
        self.nproc = nproc
        os.environ.update(
            SPARK_GRAFT_CPUS=str(nproc),
            SPARK_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIRS=str(scratch / "spark-local"),
            HZ_CSR_DIR=str(scratch / "csr"),
            TMPDIR=str(scratch / "tmp"),
        )
        for d in ("spark-local", "csr", "tmp"):
            (scratch / d).mkdir()
        tempfile.tempdir = None  # re-read TMPDIR

        self.spark = hz.get_spark(
            app_name="graphbench",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch / 'tmp'}"},
        )
        self.session_s = time.perf_counter() - T_PROCESS
        self.jvm = self.spark.sparkContext._gateway.proc
        self.tracer = Tracer(self.spark)
        self.loads = 0

    def load(self, src, dst, tag: str):
        """Write the generated edge table as parquet, read it back and cache
        it: the only input the program gets. Returns (graph, program s)."""
        # a fresh path per load: Spark would serve a rewritten path from its
        # cache of the old file
        self.loads += 1
        path = self.scratch / f"input-{self.loads}-{tag}.parquet"
        pq.write_table(pa.table({"src": src, "dst": dst}), path)
        t0 = time.perf_counter()
        edges = hz.read_edges_parquet(self.spark, str(path)).persist()
        edges.count()
        graph = hz.Graph.from_edges(edges)
        return graph, time.perf_counter() - t0

    def stop(self) -> None:
        gateway = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
            gateway.shutdown()
        finally:
            # the JVM exits when its stdin closes; wait so nothing outlives
            # us, and kill it if a stop interrupted mid-call left it hanging
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()


E2E = [
    ("setup_s", "s"),
    ("round_s", "s"),
    ("pagerank_edges_per_s", "edges/s"),
]
REPORT_CALLS = ("pagerank", "components", "labelprop", "triangles", "csr_build",
                "pagerank_csr", "resume")


def _generate(wl, p: dict, seed: int):
    return wl.make_edges(np.random.default_rng(seed), p)


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def _pagerank_rate(r: Round) -> float:
    c = r.calls["pagerank"]
    return r.num_edges * c.result.iterations / c.wall


def _probes(bench: Bench, p: dict, last: Round, oracle) -> Round | None:
    """Traced-only standalone calls after a round with a durable PageRank: a
    non-durable twin of it, a checkpoint load and the hot-key scan."""
    if last.checkpoint is None:  # the workload has no durable call
        return None
    g, n = last.graph, last.graph.num_vertices
    ck = last.checkpoint
    probe = Round(g, oracle, bench.tracer, bench.scratch, "probes", traced=True)

    def twin():
        res = hz.pagerank(g, tol=None, max_iters=p["pr_iters"], salt_hot_degree=p["hot_degree"],
                          broadcast_vertices=p["broadcast_vertices"])
        return res, collect_ranks(res.ranks, n)

    def load():
        cm = hz.CheckpointManager(ck["base"], "pagerank", ck["run_id"])
        return None, cm.load_state(bench.spark, cm.latest_iter()).count()

    def scan():
        count = hot_keys(g.edges, "src", p["hot_degree"]).count()
        return count, count

    _, ranks = probe.call("twin", twin)
    probe.expect("twin", lambda: oracle.pagerank_ok(ranks))
    _, rows = probe.call("load", load)
    probe.expect("load", lambda: rows == n)
    _, hot = probe.call("hot_keys", scan)
    probe.expect("hot_keys", lambda: hot == oracle.hot_keys(p["hot_degree"]))
    return probe


def run_workload(bench: Bench, wl, p: dict, seed: int, seconds: float, trace: bool,
                 warm_up: bool) -> dict:
    """Set up, warm up, measure. With ``trace`` rounds alternate untraced /
    traced, so the tracing cost is measured in the same process."""
    src, dst = _generate(wl, p, seed)
    oracle = Oracle(src, dst)
    oracle.precompute(wl.checks, p)

    # the first set-up pays the cold start of the load path; the median of
    # the three is a warm one
    t_phase = time.perf_counter()
    load_s, setup_s = [], []
    graph = None
    for k in range(SETUP_REPS):
        t0 = time.perf_counter()
        src, dst = _generate(wl, p, seed)
        if graph is not None:
            graph.edges.unpersist()
        graph, s = bench.load(src, dst, f"{wl.name}-{k}")
        load_s.append(s)
        setup_s.append(time.perf_counter() - t0)
    phases = {"setup": time.perf_counter() - t_phase}

    # the warm-up round runs the timed rounds' calls on their graph right
    # before them: it pays the JVM's cold start of every code path, and the
    # timed rounds reuse the code Spark generated for the same plans
    checked: list[Round] = []
    if warm_up:
        t_phase = time.perf_counter()
        r = Round(graph, oracle, bench.tracer, bench.scratch, "warm-up", num_edges=len(src))
        wl.run_round(r, p)
        checked.append(r)
        if r.checkpoint:
            shutil.rmtree(r.checkpoint["base"], ignore_errors=True)
        phases["warm-up"] = time.perf_counter() - t_phase

    # the round count follows from --seconds alone: choosing it from how
    # fast this run's rounds happen to be would keep a slow first round as
    # a slow run's only sample and add a faster second one to fast runs
    n_rounds = max(2 if trace else 1, round(seconds / wl.nominal_round_s))
    rounds: list[Round] = []
    t_measure = time.perf_counter()
    for _ in range(n_rounds):
        r = Round(graph, oracle, bench.tracer, bench.scratch, f"round-{len(rounds)}",
                  traced=trace and len(rounds) % 2 == 1, num_edges=len(src))
        bench.tracer.enabled = r.traced
        before = bench.tracer.overhead_s
        span = bench.tracer.start("round", r.trace_id, None, spark=False)
        r.span = span and span["id"]
        wl.run_round(r, p)
        bench.tracer.end(span)
        bench.tracer.enabled = False
        r.trace_overhead_s = bench.tracer.overhead_s - before
        if rounds and rounds[-1].checkpoint:
            shutil.rmtree(rounds[-1].checkpoint["base"], ignore_errors=True)
        rounds.append(r)
    phases["measure"] = time.perf_counter() - t_measure
    checked += rounds
    untraced = [r for r in rounds if not r.traced]
    traced = [r for r in rounds if r.traced]

    out = {}
    if trace:
        bench.tracer.enabled = True
        probes = _probes(bench, p, rounds[-1], oracle)
        bench.tracer.enabled = False
        if probes is not None:
            checked.append(probes)
        out["per_layer"] = per_layer(
            traced, untraced, probes.calls if probes else {}, {"load_s": load_s}, bench.nproc,
            _rss_tree_mb(bench.jvm.pid),
        )
    for r in rounds:
        if r.checkpoint:
            shutil.rmtree(r.checkpoint["base"], ignore_errors=True)

    ok_pr = [r for r in untraced if not r.calls["pagerank"].error]
    out["end_to_end"] = {
        "setup_s": bench.session_s + statistics.median(setup_s),
        "round_s": _median([r.wall for r in untraced]),
        "pagerank_edges_per_s": _median([_pagerank_rate(r) for r in ok_pr]),
    }
    out["failed"] = [f"{r.trace_id}:{name}" for r in checked for name in r.verify()]
    out["attempted"] = sum(len(r.checks) for r in checked)
    out["report"] = _report(wl.name, untraced, bench.session_s, setup_s, out)
    out["report"].append("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    if warm_up:
        out["report"].append("warm-up calls: " + ", ".join(
            f"{k} {c.wall:.2f} s" for k, c in checked[0].calls.items()))
    graph.edges.unpersist()
    return out


def _report(name: str, untraced: list[Round], session_s: float, setup_s: list[float],
            out: dict) -> list[str]:
    """Human-readable lines: per-call medians with sample counts and the
    first-half / second-half round medians (drift within one process)."""
    half = len(untraced) // 2
    lines = [
        f"{name}: session {session_s:.3f} s, setup reps "
        + " ".join(f"{s:.3f}" for s in setup_s)
        + f" s, {len(untraced)} untraced round(s)"
    ]
    for c in REPORT_CALLS + ("round",):
        walls = [r.wall if c == "round" else r.calls[c].wall
                 for r in untraced if c == "round" or c in r.calls]
        if not walls:
            continue
        first, second = walls[:half], walls[half:]
        lines.append(
            f"{c + '_s':>16} median {_median(walls):.4f} (n={len(walls)})"
            f"  first-half {_median(first):.4f}  second-half {_median(second):.4f}"
            f"  all: {' '.join(f'{w:.3f}' for w in walls)}"
        )
    for k, v in out["end_to_end"].items():
        lines.append(f"{k:>22} {v:.6g}")
    return lines


def _smoke(bench: Bench, seed: int) -> int:
    """Every workload at its smoke size, untraced and traced, in this one
    process; returns the number of problems found."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = dict(E2E) | {name: unit for name, unit, _, _ in PER_LAYER}
    group = {name: g for name, _, _, g in PER_LAYER}
    problems = []
    for wl in WORKLOADS.values():
        out = run_workload(bench, wl, wl.smoke, seed, 0.0, True, False)
        for line in out["report"]:
            print("# " + line)
        problems += [f"{wl.name}: oracle miss {f}" for f in out["failed"]]
        for kind, got in (("end_to_end", out["end_to_end"]), ("per_layer", out["per_layer"])):
            for m in spec[kind]:
                name = m["name"]
                if name not in got or units.get(name) != m["unit"]:
                    problems.append(f"{wl.name}: {kind} {name} missing or unit differs")
                    continue
                v = got[name]
                present = kind == "end_to_end" or group[name] in wl.layers | {"trace"}
                if present and not v and name not in MAY_BE_ZERO:
                    problems.append(f"{wl.name}: {name} is 0 where its layer runs")
                elif not present and v:
                    problems.append(f"{wl.name}: {name} = {v} where its layer does not run")
        print(f"# smoke {wl.name}: {out['attempted']} checks, {len(out['failed'])} failed")
    for p in problems:
        print("# SMOKE FAIL " + p)
    return len(problems)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")

    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    STATE_DIR.mkdir(exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=STATE_DIR))
    bench, result, code = None, None, 1
    try:
        nproc = _nproc()
        for line in _header(nproc):
            print("# " + line, flush=True)
        bench = Bench(scratch, nproc)
        if args.smoke:
            code = 1 if _smoke(bench, args.seed) else 0
        else:
            wl = WORKLOADS[args.workload]
            out = run_workload(bench, wl, wl.full, args.seed, args.seconds, bool(args.trace),
                               True)
            for line in out["report"]:
                print("# " + line)
            failed = len(out["failed"])
            print(f"# failed_ratio {failed / out['attempted']:.4f} "
                  f"({failed} of {out['attempted']} calls){' ' + str(out['failed']) if failed else ''}")
            if args.trace:
                path = STATE_DIR / f"spans-{wl.name}-{args.seed}.jsonl"
                bench.tracer.write(path)
                print(f"# spans written to {path.relative_to(ROOT)}")
                metrics = {n: {"value": out["per_layer"][n], "unit": u} for n, u, _, _ in PER_LAYER}
            else:
                metrics = {n: {"value": out["end_to_end"][n], "unit": u} for n, u in E2E}
            result = {"correct": failed == 0, "attempted": out["attempted"], "failed": failed,
                      "metrics": metrics}
            code = 0
    finally:
        try:
            if bench is not None:
                bench.stop()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    if result is not None:
        print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())

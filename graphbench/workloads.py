"""Seeded inputs and per-round call sequences of the workloads.

Every input is an edge table generated in NumPy from the run's seed; the
program only ever sees that table (parquet -> ``Graph.from_edges``). A
round is a fixed sequence of public ``hoshizora_spark`` calls, each timed
from outside by ``Round.call`` and checked against ``tests/oracle.py``
after the round, outside every timed span.

Sizes are chosen so that one run -- session start, warm-up, set-up, the
measured rounds and teardown -- takes about a minute on a 4-core machine,
so that 22 runs of every workload fit in one hour. The
``smoke`` sizes keep every call on the same physical path (broadcast vs
shuffle regime, salting engaged) at a fraction of the cost.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np

import hoshizora_spark as hz
from tests import oracle


def deps_edges(rng: np.random.Generator, repos: int, files: int) -> tuple[np.ndarray, np.ndarray]:
    """Dependency-shaped graph: ``repos * files`` file vertices, 1-6 imports
    per file; 70% stay in the importing repo, the target repo is u^2 and
    the target file index u^3 power-law; self-imports are dropped.

    Ids are file-index-major (``vid = file * repos + repo``), so the most
    imported files have the smallest ids. Connected components propagates
    the minimum id, and from these hubs it converges in the same number of
    supersteps on every seed (4 on seeds 1-40); with repo-major ids 6 of
    those 40 seeds took a fifth, a round 10% longer for reasons of the seed
    alone."""
    n_files = repos * files
    src = np.repeat(np.arange(n_files, dtype=np.int64), rng.integers(1, 7, size=n_files))
    same_repo = rng.random(src.size) < 0.7
    other_repo = (rng.random(src.size) ** 2 * repos).astype(np.int64)
    tgt_repo = np.where(same_repo, src // files, other_repo)
    tgt_file = (rng.random(src.size) ** 3 * files).astype(np.int64)
    dst = tgt_repo * files + tgt_file
    keep = src != dst
    src, dst = src[keep], dst[keep]
    return (src % files) * repos + src // files, (dst % files) * repos + dst // files


def hub_edges(rng: np.random.Generator, n: int, e: int) -> tuple[np.ndarray, np.ndarray]:
    """u^3 power-law sources scattered over the id range by a seeded
    permutation (hubs are not the low ids), uniform destinations."""
    perm = rng.permutation(n).astype(np.int64)
    src = perm[(rng.random(e) ** 3 * n).astype(np.int64)]
    dst = rng.integers(0, n, size=e, dtype=np.int64)
    return src, dst


@dataclass(frozen=True)
class Workload:
    name: str
    make_edges: Callable[[np.random.Generator, dict], tuple[np.ndarray, np.ndarray]]
    run_round: Callable[["object", dict], None]
    full: dict
    smoke: dict
    # one round of ``full`` on a 4-core machine: a run measures
    # round(--seconds / nominal_round_s) rounds
    nominal_round_s: float
    # calls whose oracle answers are precomputed before the first round
    checks: tuple[str, ...]
    # per-layer metric groups (see tracing.PER_LAYER) this workload exercises;
    # every metric of another group reads 0 on it
    layers: frozenset[str]


class Oracle:
    """Expected outputs from ``tests/oracle.py`` for one input, computed
    before the first round and compared after each round."""

    # measured agreement is ~1e-15; 1e-9 leaves room for float-sum reorder
    # across partitionings and nothing else
    PAGERANK_RTOL = 1e-9
    RESUME_RTOL = 1e-12

    def __init__(self, src: np.ndarray, dst: np.ndarray) -> None:
        self._oracle = oracle
        self.num_vertices = int(max(src.max(), dst.max())) + 1
        self.out_degree = np.bincount(src, minlength=self.num_vertices)
        self.edges = list(zip(src.tolist(), dst.tolist()))
        self._want: dict = {}

    def precompute(self, checks: tuple[str, ...], p: dict) -> None:
        o, n, e = self._oracle, self.num_vertices, self.edges
        for c in checks:
            if c == "pagerank":
                self._want[c] = o.pagerank(e, n, tol=None, max_iters=p["pr_iters"])
            elif c == "components":
                self._want[c] = o.connected_components(e, n)
            elif c == "labelprop":
                self._want[c] = o.label_propagation(e, n, max_rounds=p["lpa_rounds"])
            elif c == "triangles":
                self._want[c] = o.triangle_total(e, n)

    def pagerank_ok(self, ranks: np.ndarray | None) -> bool:
        want = self._want["pagerank"]
        return ranks is not None and bool(
            np.all(np.abs(ranks - want) <= self.PAGERANK_RTOL * np.abs(want))
        )

    def components_ok(self, labels: np.ndarray | None) -> bool:
        return labels is not None and np.array_equal(labels, self._want["components"])

    def labelprop_ok(self, labels: np.ndarray | None) -> bool:
        return labels is not None and np.array_equal(labels, self._want["labelprop"])

    def triangles_ok(self, total: int | None) -> bool:
        return total == self._want["triangles"]

    def hot_keys(self, min_count: int) -> int:
        return int(np.count_nonzero(self.out_degree > min_count))


def collect_ranks(df, n: int) -> np.ndarray:
    """(vid, rank) frame -> dense rank array (the collect is part of the call)."""
    t = df.toArrow()
    out = np.full(n, np.nan)
    out[t.column("vid").to_numpy()] = t.column("rank").to_numpy()
    return out


def collect_labels(df, n: int) -> np.ndarray:
    t = df.toArrow()
    out = np.full(n, -1, dtype=np.int64)
    out[t.column("vid").to_numpy()] = t.column("label").to_numpy()
    return out


def deps_round(r, p: dict) -> None:
    g, n = r.graph, r.graph.num_vertices

    def pagerank():
        res = hz.pagerank(g, tol=None, max_iters=p["pr_iters"])
        return res, collect_ranks(res.ranks, n)

    def components():
        res = hz.connected_components(g)
        return res, collect_labels(res.labels, n)

    def labelprop():
        res = hz.label_propagation(g, max_rounds=p["lpa_rounds"])
        return res, collect_labels(res.labels, n)

    _, ranks = r.call("pagerank", pagerank)
    r.expect("pagerank", lambda: r.oracle.pagerank_ok(ranks))
    _, cc = r.call("components", components)
    r.expect("components", lambda: r.oracle.components_ok(cc))
    _, lpa = r.call("labelprop", labelprop)
    r.expect("labelprop", lambda: r.oracle.labelprop_ok(lpa))
    _, total = r.call("triangles", lambda: (None, hz.triangle_total(g)))
    r.expect("triangles", lambda: r.oracle.triangles_ok(total))


def hub_round(r, p: dict) -> None:
    g, n = r.graph, r.graph.num_vertices
    base = r.new_checkpoint_dir()
    run_id = "bench"
    args = dict(
        tol=None,
        max_iters=p["pr_iters"],
        salt_hot_degree=p["hot_degree"],
        broadcast_vertices=p["broadcast_vertices"],
    )

    def durable():
        cm = hz.CheckpointManager(base, "pagerank", run_id)
        res = hz.pagerank(g, checkpoint=cm, **args)
        return res, collect_ranks(res.ranks, n)

    def resume():
        cm = hz.CheckpointManager(base, "pagerank", run_id)
        res = hz.pagerank(g, checkpoint=cm, resume=True, **args)
        return res, collect_ranks(res.ranks, n)

    res, ranks = r.call("pagerank", durable)
    r.expect("pagerank", lambda: r.oracle.pagerank_ok(ranks))
    r.note_checkpoint(base, run_id, res)
    run_dir = Path(base) / "pagerank" / run_id
    for d in run_dir.glob("iter=*"):
        if int(d.name.split("=")[1]) >= p["keep_iters"]:
            shutil.rmtree(d)
    res2, resumed = r.call("resume", resume)
    # resume replays the deleted supersteps from the same parquet state
    # through the same plan, so it must reproduce the durable run up to the
    # order of Spark's double sums, which is not fixed from run to run (two
    # uninterrupted runs already differ by ~5e-16)
    r.expect(
        "resume",
        lambda: ranks is not None
        and res2.iterations == p["pr_iters"] - p["keep_iters"]
        and bool(np.all(np.abs(resumed - ranks) <= Oracle.RESUME_RTOL * np.abs(ranks))),
    )

    # pagerank_csr_s = build + supersteps + collect; two spans so the trace
    # can split the CSR build layer from the GAS supersteps
    csr, _ = r.call("csr_build", lambda: (hz.build_csr_blocks(g), None))

    def gas():
        if csr is None:  # without it pagerank_csr would build its own, untimed as a build
            raise RuntimeError("build_csr_blocks raised")
        res = hz.pagerank_csr(g, csr, tol=None, max_iters=p["pr_iters"])
        return res, collect_ranks(res.ranks, n)

    _, csr_ranks = r.call("pagerank_csr", gas)
    r.expect("pagerank_csr", lambda: r.oracle.pagerank_ok(csr_ranks))
    if csr is not None:
        r.note_csr(csr)
        # every build writes a fresh uuid sidecar the program never deletes
        shutil.rmtree(csr.path, ignore_errors=True)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="deps-small",
            make_edges=lambda rng, p: deps_edges(rng, p["repos"], p["files"]),
            run_round=deps_round,
            checks=("pagerank", "components", "labelprop", "triangles"),
            full=dict(repos=100, files=200, pr_iters=3, lpa_rounds=2),
            smoke=dict(repos=10, files=20, pr_iters=2, lpa_rounds=1),
            nominal_round_s=11.0,
            layers=frozenset({"graph", "superstep.pagerank", "superstep.components",
                              "superstep.labelprop", "components", "labelprop", "triangles"}),
        ),
        Workload(
            name="hub-durable",
            make_edges=lambda rng, p: hub_edges(rng, p["vertices"], p["edges"]),
            run_round=hub_round,
            checks=("pagerank",),
            full=dict(vertices=50_000, edges=300_000, pr_iters=2, keep_iters=1,
                      hot_degree=360, broadcast_vertices=20_000),
            smoke=dict(vertices=2_000, edges=20_000, pr_iters=2, keep_iters=1,
                       hot_degree=100, broadcast_vertices=500),
            nominal_round_s=14.0,
            layers=frozenset({"graph", "superstep.pagerank", "superstep.resume",
                              "checkpoint", "skew", "csr", "gas"}),
        ),
    )
}

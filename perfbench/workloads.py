"""The benchmark's workloads: set-up, timed query and output checks.

Every call into the engine goes through a public function of
``halvesting_geometric_spark`` on the session ``get_spark`` returns; the
harness adds no session setting a library caller would not get. Each call
runs inside a span: a Spark job group plus a timer, named after the layer.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback
from collections import Counter, defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, NamedTuple

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from halvesting_geometric_spark.datagen import (
    generate_power_law_edges,
    generate_transcripts,
)
from halvesting_geometric_spark.operators.betweenness import betweenness_sampled
from halvesting_geometric_spark.operators.centrality import (
    hits,
    personalized_pagerank,
)
from halvesting_geometric_spark.operators.coloring import greedy_coloring
from halvesting_geometric_spark.operators.components import connected_components
from halvesting_geometric_spark.operators.extract import extract_conv_edges
from halvesting_geometric_spark.operators.ids import build_vertices, edges_to_ids
from halvesting_geometric_spark.operators.kcore import kcore_members
from halvesting_geometric_spark.operators.labelprop import label_propagation
from halvesting_geometric_spark.operators.linkpred import neighborhood_scores
from halvesting_geometric_spark.operators.pagerank import pagerank
from halvesting_geometric_spark.operators.preference import bradley_terry
from halvesting_geometric_spark.operators.sparsify import local_jaccard_sparsify
from halvesting_geometric_spark.operators.traversal import sssp
from halvesting_geometric_spark.operators.triangles import triangle_count
from halvesting_geometric_spark.plans.checkpoint import CheckpointManager
from halvesting_geometric_spark.sources.io import read_table, write_table
from perfbench import reference

# Input sizes at --scale 1. Chosen so one run of each workload (session
# start, set-up, one timed query and its checks) ends within about a minute
# on 4 cores.
TRANSCRIPT_CONVS = 2_000
POWERLAW_VERTICES = 10_000
POWERLAW_EDGES = 100_000
SETUP_REPS = 3
# PageRank runs a fixed number of supersteps (one batch of six), so every
# seed does the same work
PR_ITERS = 6
PR_BATCH = 6  # delta_check_every of the lazy in-memory path
LP_ITERS = 5
LP_SYNC = 5
PR_REF_L1 = 1e-9  # allowed L1 distance to the reference after as many steps

DRIVERS = ("pagerank", "components", "labelprop", "triangles")
KNOWN_GOOD_PATH = os.path.join(os.path.dirname(__file__), "known_good.json")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_ticks(root: int) -> dict[tuple[int, int], int]:
    """Own user + system clock ticks of process ``root`` and of each live
    descendant (the Python workers), keyed by (pid, start time) so that a
    reused pid counts as a new process."""
    children: dict[int, list[int]] = defaultdict(list)
    own: dict[int, tuple[tuple[int, int], int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        pid = int(entry)
        children[int(fields[1])].append(pid)
        own[pid] = ((pid, int(fields[19])), int(fields[11]) + int(fields[12]))
    ticks, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in own:
            key, value = own[pid]
            ticks[key] = value
            todo += children[pid]
    return ticks


@dataclass(frozen=True)
class Cost:
    """Wall seconds and CPU seconds of one span."""

    wall: float = 0.0
    cpu: float = 0.0

    def __add__(self, other: Cost) -> Cost:
        return Cost(self.wall + other.wall, self.cpu + other.cpu)

    def __sub__(self, other: Cost) -> Cost:
        return Cost(self.wall - other.wall, self.cpu - other.cpu)


def checksum(df: DataFrame, *cols: str) -> int:
    """Order-free exact checksum of integer rows (xor never overflows)."""
    return int(df.agg(F.bit_xor(F.xxhash64(*cols))).first()[0] or 0)


def to_numpy(df: DataFrame, *cols: str) -> list[np.ndarray]:
    pdf = df.select(*cols).toPandas()
    return [pdf[c].to_numpy() for c in cols]


def per_superstep(rows: list[dict]) -> list[float]:
    """Seconds per superstep from a driver's metrics rows (a row may cover
    a batch of supersteps run as one job)."""
    return [r["wall_sec"] / r.get("batched_steps", 1) for r in rows]


def vertex_array(df: DataFrame, col: str, n: int, dtype=np.int64) -> np.ndarray:
    """Per-vertex column as a dense array; missing vertices read -1."""
    ids, vals = to_numpy(df, "vertex_id", col)
    out = np.full(n, -1, dtype=dtype)
    out[ids] = vals
    return out


class Run:
    """One benchmark process: spans, samples, checks and failure counts."""

    def __init__(
        self, spark: SparkSession, seed: int, scale: float, work_dir: str,
        known_good: dict | None = None,
    ) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.scale = scale
        self.work_dir = work_dir
        self.known_good = (known_good or {}).get(str(seed), {})
        self.attempted = 0
        self.failed = 0
        self.op_attempts: Counter[str] = Counter()
        self.op_failures: Counter[str] = Counter()
        self.checks: list[tuple[str, bool, str]] = []
        self.observed: dict[str, Any] = {}
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.span_s: dict[str, float] = defaultdict(float)
        self.layer: dict[str, float] = defaultdict(float)  # counts the log lacks
        self.superstep_s: dict[str, list[float]] = defaultdict(list)
        self.supersteps: dict[str, list[int]] = defaultdict(list)
        self.check_cost = Cost()
        self.jvm_pid = self.sc._gateway.proc.pid
        self._ticks: dict[tuple[int, int], int] = {}  # last seen, per process
        cm = spark._jsparkSession.sharedState().cacheManager()
        field = cm.getClass().getDeclaredField("cachedData")
        field.setAccessible(True)
        self._cache_manager, self._cached_field = cm, field

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        """Job group + timer around one call into a layer."""
        self.sc.setJobGroup(name, name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.span_s[name] += time.monotonic() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def now(self) -> Cost:
        """Wall clock, and CPU used so far by the JVM, its Python workers and
        the harness. A worker that has exited keeps the CPU it had when last
        seen, so the total never goes down."""
        self._ticks.update(tree_ticks(self.jvm_pid))
        return Cost(
            time.monotonic(),
            sum(self._ticks.values()) / CLK_TCK + sum(os.times()[:2]),
        )

    def timed(self, name: str, fn: Callable[[], Any]) -> tuple[Any, Cost]:
        start = self.now()
        with self.span(name):
            out = fn()
        return out, self.now() - start

    def record(self, metric: str, cost: Cost) -> None:
        self.samples[f"{metric}_s"].append(cost.wall)
        self.samples[f"{metric}_cpu_s"].append(cost.cpu)

    # -- cache hygiene ----------------------------------------------------
    def _cache_entries(self) -> list:
        seq = self._cached_field.get(self._cache_manager)
        return [seq.apply(i) for i in range(seq.size())]

    def cached_state(self) -> tuple[list, set[int]]:
        return self._cache_entries(), set(self.sc._jsc.getPersistentRDDs().keys())

    def release(self, keep: tuple[list, set[int]]) -> None:
        """Drop every cache created since ``keep`` was taken, so the next
        timed operation starts with only the workload's inputs cached."""
        entries, rdd_ids = keep
        for entry in self._cache_entries():
            if not any(entry.equals(e) for e in entries):
                self._cache_manager.uncacheQuery(
                    self.spark._jsparkSession, entry.plan(), False, False
                )
        for rid, rdd in self.sc._jsc.getPersistentRDDs().items():
            if rid not in rdd_ids:
                rdd.unpersist(False)

    # -- checked operations ----------------------------------------------
    def checksum(self, key: str, df: DataFrame, *cols: str) -> dict[str, int]:
        """``{key: checksum}`` when a known-good value exists to compare
        with (the reference check covers every seed without it)."""
        return {key: checksum(df, *cols)} if key in self.known_good else {}

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        return bool(ok)

    def attempt(self, name: str) -> None:
        self.attempted += 1
        self.op_attempts[name] += 1

    def fail(self, name: str) -> None:
        """Count a failure of ``name``, at most one per attempt of it."""
        if self.op_failures[name] < self.op_attempts[name]:
            self.failed += 1
            self.op_failures[name] += 1

    def op(
        self, name: str, fn: Callable[[], Any],
        verify: Callable[[Any], dict[str, Any]], release: bool = True,
    ) -> Any:
        """Run one timed operation, check its output, release its caches.

        ``fn`` opens its own spans. ``verify`` records checks and returns the
        observed values that are compared with the known-good ones. An
        exception or any failed check counts the operation as failed.
        ``release=False`` keeps what the operation cached: its result is the
        input of the operations that follow.
        """
        self.attempt(name)
        before = self.cached_state()
        n_checks = len(self.checks)
        try:
            result = fn()
        except Exception:
            traceback.print_exc()
            self.fail(name)
            self.check(f"{name}.ran", False, "raised")
            self.release(before)
            return None
        start = self.now()
        self.sc.setJobGroup("check." + name, "check")
        try:
            observed = verify(result)
            expected = self.known_good
            for key, value in observed.items():
                self.observed[key] = value
                if key in expected:
                    self.check(
                        f"{key}.known_good", value == expected[key],
                        f"{value} vs {expected[key]}",
                    )
        except Exception:
            traceback.print_exc()
            self.check(f"{name}.verify", False, "raised")
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        if not all(ok for _, ok, _ in self.checks[n_checks:]):
            self.fail(name)
        if release:
            self.release(before)
        self.check_cost += self.now() - start
        return result


# -- shared pieces --------------------------------------------------------
class Graph:
    """Persisted (edges, vertices) plus their driver-side copies."""

    def __init__(self, edges: DataFrame, vertices: DataFrame) -> None:
        self.edges = edges
        self.vertices = vertices
        self._arrays: tuple[np.ndarray, np.ndarray, int] | None = None
        self._refs: dict[str, np.ndarray] = {}

    def arrays(self) -> tuple[np.ndarray, np.ndarray, int]:
        """(src, dst, n); n counts the vertex table's rows."""
        if self._arrays is None:
            src, dst = to_numpy(self.edges, "src", "dst")
            self.vertex_ids = to_numpy(self.vertices, "vertex_id")[0]
            n = len(self.vertex_ids)
            self._arrays = (src.astype(np.int64), dst.astype(np.int64), n)
        return self._arrays

    def ref(self, name: str) -> np.ndarray:
        if name not in self._refs:
            self._refs[name] = getattr(reference, name)(*self.arrays())
        return self._refs[name]

    def unpersist(self) -> None:
        self.edges.unpersist()
        self.vertices.unpersist()


def write_transcripts(run: Run) -> str:
    path = os.path.join(run.work_dir, "transcripts")
    shutil.rmtree(path, ignore_errors=True)
    n = max(int(TRANSCRIPT_CONVS * run.scale), 1)
    write_table(generate_transcripts(run.spark, n, seed=run.seed), path)
    return path


def setup_transcripts(run: Run) -> str:
    for _ in range(SETUP_REPS):
        start = run.now()
        with run.span("setup.datagen"):
            path = write_transcripts(run)
        with run.span("setup.sources"):
            read_table(run.spark, path).count()
        run.record("input_setup", run.now() - start)
    return path


def build(run: Run, path: str) -> Graph:
    """scan -> extract -> dense ids -> id edges, one span per layer; the
    same calls ``operators.graph.build_graph(scalable_ids=True)`` makes.

    ``read_table`` and ``extract_conv_edges`` are lazy: their work runs
    inside the ``ids`` span (``build_vertices`` pins its ids eagerly) and
    the ``graph`` span (the persisted edge table's count)."""
    tr, t_src = run.timed("sources", lambda: read_table(run.spark, path))
    conv_edges, t_ext = run.timed("extract", lambda: extract_conv_edges(tr))
    vertices, t_ids = run.timed(
        "ids",
        lambda: build_vertices(conv_edges, transcripts=tr, scalable=True).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )

    def graph() -> Graph:
        edges = edges_to_ids(conv_edges, vertices).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        run.layer["graph.edges"] = edges.count()
        run.layer["ids.vertices"] = vertices.count()
        return Graph(edges, vertices)

    g, t_graph = run.timed("graph", graph)
    run.record("build", t_src + t_ext + t_ids + t_graph)
    return g


def verify_graph(run: Run, g: Graph) -> dict[str, Any]:
    src, dst, n = g.arrays()
    run.check("graph.dense_ids", np.array_equal(np.sort(g.vertex_ids), np.arange(n)))
    ends = np.concatenate([src, dst])
    run.check("graph.endpoints", bool(((ends >= 0) & (ends < n)).all()))
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    run.check("graph.distinct_edges", len(pairs) == len(src))
    return {"graph.edges": int(len(src)), "graph.vertices": int(n)}


def run_pagerank(run: Run, g: Graph, iters: int) -> Any:
    res, t = run.timed(
        "pagerank",
        lambda: pagerank(
            g.edges, g.vertices, fixed_iters=iters, delta_check_every=PR_BATCH
        ),
    )
    run.record("pagerank", t)
    run.superstep_s["pagerank"] += per_superstep(res.metrics)
    run.supersteps["pagerank"].append(res.iterations)
    return res


def verify_pagerank(run: Run, g: Graph, res: Any) -> dict[str, Any]:
    _, _, n = g.arrays()
    r = vertex_array(res.ranks, "rank", n, dtype=np.float64)
    run.check("pagerank.complete", bool((r >= 0).all()))
    run.check("pagerank.mass", abs(r.sum() - 1.0) <= 1e-9, f"{r.sum():.15f}")
    ref = reference.pagerank(*g.arrays(), tol=0.0, max_iter=res.iterations)
    l1 = float(np.abs(r - ref).sum())
    run.check("pagerank.reference", l1 <= PR_REF_L1, f"L1 {l1:.3g}")
    return {
        "pagerank.iterations": res.iterations,
        "pagerank.last_delta": res.metrics[-1]["delta_l1"] if res.metrics else None,
    }


def run_components(run: Run, g: Graph, ckpt_root: str | None) -> Any:
    """Connected components; with ``ckpt_root`` every round is saved through
    a checkpoint manager on local disk."""
    mgr = (
        instrumented_manager(run, ckpt_root, "components")
        if ckpt_root is not None else None
    )
    res, t = run.timed(
        "components",
        lambda: connected_components(g.edges, g.vertices, checkpoint=mgr),
    )
    run.record("components", t)
    run.superstep_s["components"] += per_superstep(res.metrics)
    run.supersteps["components"].append(res.rounds)
    return res


def verify_components(run: Run, g: Graph, res: Any) -> dict[str, Any]:
    _, _, n = g.arrays()
    comp = vertex_array(res.components, "component", n)
    ref = g.ref("components")
    run.check("components.reference", np.array_equal(comp, ref))
    n_ref = len(np.unique(ref))
    run.check("components.count", res.num_components == n_ref, f"{res.num_components}")
    return {
        "components.rounds": res.rounds,
        "components.count": res.num_components,
        **run.checksum("components.checksum", res.components, "vertex_id", "component"),
    }


def run_labelprop(run: Run, g: Graph) -> Any:
    res, t = run.timed(
        "labelprop",
        lambda: label_propagation(
            g.edges, g.vertices, fixed_iters=LP_ITERS, sync_every=LP_SYNC
        ),
    )
    run.record("labelprop", t)
    run.superstep_s["labelprop"] += per_superstep(res.metrics)
    run.supersteps["labelprop"].append(res.iterations)
    return res


def verify_labelprop(run: Run, g: Graph, res: Any) -> dict[str, Any]:
    _, _, n = g.arrays()
    label = vertex_array(res.labels, "label", n)
    comp = g.ref("components")
    run.check("labelprop.complete", bool(((label >= 0) & (label < n)).all()))
    if (label >= 0).all() and (label < n).all():
        run.check(
            "labelprop.within_component", np.array_equal(comp[label], comp)
        )
    run.check("labelprop.iterations", res.iterations == LP_ITERS, f"{res.iterations}")
    return {
        "labelprop.labels": res.num_labels,
        **run.checksum("labelprop.checksum", res.labels, "vertex_id", "label"),
    }


def run_triangles(run: Run, g: Graph) -> Any:
    res, t = run.timed("triangles", lambda: triangle_count(g.edges, g.vertices))
    run.record("triangles", t)
    run.superstep_s["triangles"].append(t.wall)
    run.supersteps["triangles"].append(1)
    return res


def verify_triangles(run: Run, g: Graph, res: Any) -> dict[str, Any]:
    _, _, n = g.arrays()
    per = vertex_array(res.per_vertex, "triangles", n)
    ref = g.ref("triangles")
    run.check("triangles.total", res.total * 3 == int(ref.sum()), f"{res.total}")
    run.check("triangles.per_vertex", np.array_equal(per, ref))
    return {
        "triangles.total": res.total,
        **run.checksum("triangles.checksum", res.per_vertex, "vertex_id", "triangles"),
    }


def instrumented_manager(run: Run, root: str, algorithm: str) -> CheckpointManager:
    """A CheckpointManager whose save calls are counted and timed."""
    mgr = CheckpointManager(run.spark, root, algorithm)
    save = mgr.save_state

    def save_state(*args: Any, **kwargs: Any) -> DataFrame:
        t0 = time.monotonic()
        try:
            return save(*args, **kwargs)
        finally:
            run.layer["checkpoint.save_calls"] += 1
            run.layer["checkpoint.save_s"] += time.monotonic() - t0

    mgr.save_state = save_state  # type: ignore[method-assign]
    return mgr


def tree_size(root: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, f))
            n_files += 1
    return n_bytes, n_files


def drivers(
    run: Run, g: Graph, names: tuple[str, ...], ckpt_root: str | None = None
) -> None:
    """Superstep drivers in order, each checked and then released."""
    ops = {
        "pagerank": (lambda: run_pagerank(run, g, PR_ITERS), verify_pagerank),
        "components": (lambda: run_components(run, g, ckpt_root), verify_components),
        "labelprop": (lambda: run_labelprop(run, g), verify_labelprop),
        "triangles": (lambda: run_triangles(run, g), verify_triangles),
    }
    for name in names:
        call, verify = ops[name]
        run.op(name, call, lambda r, verify=verify: verify(run, g, r))


# The nine other round-6 leaves, with fewer supersteps than their round-6
# call shapes so that a run fits the time budget. Each ends in one action
# and returns the values its check reads.
SUITE: dict[str, Callable[[Graph], dict[str, Any]]] = {
    "ppr": lambda g: personalized_pagerank(
        g.edges, g.vertices, [0, 1, 2], fixed_iters=1
    ).agg(F.count("*").alias("rows"), F.sum("rank").alias("mass")).first().asDict(),
    "hits": lambda g: {
        "rows": hits(g.edges, g.vertices, fixed_iters=1).count()
    },
    "kcore": lambda g: {"rows": kcore_members(g.edges, g.vertices, k=3).count()},
    "sssp": lambda g: {
        "rows": sssp(
            g.edges.withColumn(
                "w", ((F.col("src") + F.col("dst")) % 5 + 1).cast("double")
            ),
            g.vertices, [0, 1, 2], weight_col="w", fixed_iters=2, sync_every=2,
        ).count()
    },
    "linkpred": lambda g: {
        "rows": neighborhood_scores(g.edges, min_common=2, max_degree=256).count()
    },
    "betweenness": lambda g: {
        "rows": betweenness_sampled(g.edges, g.vertices, sources=[0, 1, 2], max_depth=2)
        .filter(F.col("betweenness") > 0)
        .count()
    },
    "coloring": lambda g: {  # distinct colors after two rounds
        "rows": greedy_coloring(g.edges, g.vertices, fixed_rounds=2)
        .agg(F.count_distinct("color"))
        .first()[0]
    },
    "bradley_terry": lambda g: {
        "rows": bradley_terry(
            g.edges.select(F.col("dst").alias("winner"), F.col("src").alias("loser")),
            fixed_iters=1,
        ).strengths.count()
    },
    "sparsify": lambda g: {
        "rows": local_jaccard_sparsify(g.edges, alpha=0.5).count()
    },
}


def suite(run: Run, g: Graph) -> None:
    """The nine leaves in order, each checked and then released."""
    costs: list[Cost] = []
    for name, leaf in SUITE.items():

        def call(name: str = name, leaf=leaf) -> dict[str, Any]:
            out, t = run.timed(name, lambda: leaf(g))
            run.record(name, t)
            costs.append(t)
            return out

        def verify(out: dict[str, Any], name: str = name) -> dict[str, Any]:
            run.check(f"{name}.nonempty", out["rows"] > 0, f"{out['rows']}")
            if "mass" in out:
                run.check(
                    f"{name}.mass", abs(out["mass"] - 1.0) <= 1e-9, f"{out['mass']:.15f}"
                )
            return {f"{name}.rows": out["rows"]}

        run.op(name, call, verify)
    run.record("suite", sum(costs, Cost()))


# -- workloads ------------------------------------------------------------
def transcripts_query(run: Run, path: str) -> None:
    keep = run.cached_state()
    g = run.op(
        "build", lambda: build(run, path), lambda g: verify_graph(run, g),
        release=False,
    )
    if g is None:  # every later operation needed the graph
        for name in DRIVERS + tuple(SUITE):
            run.attempt(name)
            run.fail(name)
        return
    # the built graph is this query's input: the operations must not release it
    drivers(run, g, DRIVERS)
    suite(run, g)
    g.unpersist()
    run.release(keep)


def powerlaw_query(run: Run, g: Graph) -> None:
    ckpt_root = os.path.join(run.work_dir, "checkpoints")
    shutil.rmtree(ckpt_root, ignore_errors=True)
    # no label propagation here: a run would not fit the time budget
    drivers(run, g, ("pagerank", "components", "triangles"), ckpt_root)
    n_bytes, n_files = tree_size(ckpt_root)
    run.layer["checkpoint.bytes_written"] += n_bytes
    run.layer["checkpoint.files"] += n_files
    shutil.rmtree(ckpt_root, ignore_errors=True)


def setup_powerlaw(run: Run) -> Graph:
    n_v = max(int(POWERLAW_VERTICES * run.scale), 2)
    n_e = max(int(POWERLAW_EDGES * run.scale), 1)
    g = None
    for _ in range(SETUP_REPS):
        if g is not None:
            g.unpersist()
        start = run.now()
        with run.span("setup.datagen"):
            edges = generate_power_law_edges(
                run.spark, n_v, n_e, exponent=3.0, seed=run.seed
            ).persist(StorageLevel.MEMORY_AND_DISK)
            vertices = (
                run.spark.range(n_v)
                .select(F.col("id").alias("vertex_id"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            edges.count()
            vertices.count()
        g = Graph(edges, vertices)
        run.record("input_setup", run.now() - start)
    return g


class Workload(NamedTuple):
    """Set-up makes the inputs; the query is what a run times."""

    setup: Callable[[Run], Any]
    query: Callable[[Run, Any], None]


# Why each workload exists is in BENCHMARK.json and README.md
WORKLOADS = {
    "transcripts": Workload(setup_transcripts, transcripts_query),
    "powerlaw": Workload(setup_powerlaw, powerlaw_query),
}


def load_known_good(workload: str, scale: float) -> dict:
    """Recorded seed -> {observed key: value} for ``workload`` at ``scale``."""
    with open(KNOWN_GOOD_PATH) as fh:
        table = json.load(fh)
    return table.get(f"{workload}@{scale:g}", {})


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

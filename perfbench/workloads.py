"""The benchmark workloads and the per-layer probes of the traced run.

Both workloads run on the copurchase graph (parts sharing an order) of
the committed TPC-H lineitem table. Each prepares its references once
(in a child process, untimed), builds the graph in a session (``build``,
timed as set-up), and runs passes (``run_pass``). Every engine call is
one step: it runs inside a span, a raise counts as a failed operation,
and its output check runs afterwards, outside the span. Only public
entry points of ``centrality_gpu_spark`` are called.
"""

from __future__ import annotations

import inspect
import os
import shutil
import statistics
import tempfile
import traceback
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from centrality_gpu_spark.datagen import generate_transcripts
from centrality_gpu_spark.graph import Graph
from centrality_gpu_spark.operators.betweenness import betweenness, brandes_kernel
from centrality_gpu_spark.operators.bfs import bfs_visited
from centrality_gpu_spark.operators.closeness import harmonic
from centrality_gpu_spark.operators.components import connected_components
from centrality_gpu_spark.operators.csrkernels import (
    bfs_forward,
    csr_components,
    graph_to_csr,
    msbfs_distance_stats,
)
from centrality_gpu_spark.operators.labelprop import label_propagation
from centrality_gpu_spark.operators.pagerank import pagerank
from centrality_gpu_spark.operators.superstep import (
    block_edges,
    dense_vector_from_df,
    spmv_dense,
)
from centrality_gpu_spark.operators.triangles import triangle_count
from centrality_gpu_spark.plans.checkpoint import CheckpointManager
from centrality_gpu_spark.sources.testdata_graphs import copurchase_graph
from centrality_gpu_spark.sources.transcripts import transcript_graph

import inputs

PAGERANK_ITERATIONS = 10
LPA_ITERATIONS = 5
TOL = 1e-6
EPOCH_EVERY = 5
BRANDES_PROBE_SOURCES = 8
MB = 1024.0 * 1024.0


@dataclass
class Tally:
    """Operations attempted and failed (raised or failed their check)."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, name: str, problem: str) -> None:
        self.failed += 1
        self.problems.append(f"{name}: {problem}")


@dataclass
class PassResult:
    rate: float  # the workload's work_per_s for this pass
    named: dict[str, float]  # workload-specific end-to-end figures
    layers: dict[str, float]  # per-layer figures measured inside the pass


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / MB


def _rel_err(got: float, want: float) -> float:
    return abs(got - want) / max(abs(want), 1e-300)


class Workload:
    name = ""
    sends_to_python = False  # the traced pass must send data to Python workers
    warmup_passes = 1  # discarded passes before the timed ones, inside setup_s

    def __init__(self, seed: int, scale: inputs.Scale, work: str, tracer, tally: Tally):
        self.seed = seed
        self.scale = scale
        self.work = work
        self.tracer = tracer
        self.tally = tally
        self.graph: Graph | None = None

    # -- steps ------------------------------------------------------------

    def step(self, name: str, fn):
        """Run one engine call in a span. Returns (value, seconds), or
        (None, None) when it raised; the raise counts as a failure."""
        self.tally.attempted += 1
        try:
            with self.tracer.span(name) as sp:
                value = fn()
        except Exception:  # the benchmark keeps running and reports it
            traceback.print_exc()
            self.tally.fail(name, "raised")
            return None, None
        return value, self.tracer.seconds(sp)

    def check(self, name: str, problem: str | None) -> None:
        if problem:
            self.tally.fail(name, problem)

    def scratch(self) -> str:
        return tempfile.mkdtemp(dir=self.work)

    # -- lifecycle ----------------------------------------------------------

    reference_args: tuple = ()  # extra arguments of inputs.references

    def prepare(self) -> None:
        """Compute the references in a child process (untimed)."""
        self.input_dir = inputs.lineitem_path(self.scale)
        self.refs = inputs.in_child(
            inputs.references, self.scale, self.seed, *self.reference_args
        )
        self.ref = self.refs["graph"]
        self.sources = self.refs["sources"]

    def build(self, spark) -> None:
        """Source read and graph materialization (timed as set-up)."""

        def make():
            g = copurchase_graph(spark, self.input_dir).persist()
            return g, g.edges.count()

        made, _ = self.step("sources.copurchase", make)
        if made is None:
            raise RuntimeError("the copurchase source failed to build")
        self.graph, n_edges = made
        want = len(self.ref.src)
        self.check(
            "sources.copurchase",
            None if n_edges == want else f"{n_edges} directed edges, want {want}",
        )

    def drop(self) -> None:
        if self.graph is not None:
            self.graph.unpersist()
            self.graph = None

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    # -- operator front doors, shared by passes and probes -------------------

    def pagerank_csr(self, g: Graph):
        store = self.scratch()
        blocked, block_s = self.step(
            "superstep.block_edges",
            lambda: block_edges(g, partition_by="dst", scratch_dir=store),
        )
        ckpt = CheckpointManager(g.spark)
        ranks, pr_s = (None, None)
        if blocked is not None:
            ranks, pr_s = self.step(
                "pagerank.csr",
                lambda: pagerank(
                    g, mode="csr", fixed_iterations=PAGERANK_ITERATIONS,
                    checkpoint=ckpt, blocked=blocked,
                ).toPandas(),
            )
            blocked.unpersist()
        shutil.rmtree(store, ignore_errors=True)
        layers = {}
        if ranks is not None:
            secs = [m["secs"] for m in ckpt.metrics]
            layers = {
                "superstep.block_build_s": block_s,
                "pagerank.csr_s": pr_s,
                "pagerank.iter_s": statistics.median(secs),
                # the median iteration, so one slow superstep (a GC
                # pause, a checkpoint truncation) does not set the rate
                "spmv_edges_per_s": 2 * g.num_edges() / statistics.median(secs),
            }
        return ranks, layers

    def components(self, g: Graph):
        ckpt = CheckpointManager(g.spark)
        labels, s = self.step(
            "components",
            lambda: connected_components(g, checkpoint=ckpt).toPandas(),
        )
        if labels is None:
            return None, {}
        return labels, {"components.s": s, "components.iterations": len(ckpt.metrics)}

    def labelprop(self, g: Graph):
        labels, s = self.step(
            "labelprop",
            lambda: label_propagation(g, max_iterations=LPA_ITERATIONS).toPandas(),
        )
        return labels, ({"labelprop.s": s} if labels is not None else {})

    def triangles(self, g: Graph):
        n, s = self.step("triangles", lambda: int(triangle_count(g).collect()[0][0]))
        return n, ({"triangles.s": s} if n is not None else {})

    def betweenness(self, g: Graph, sources: list[int]):
        bc, s = self.step("betweenness", lambda: betweenness(g, sources).toPandas())
        return bc, ({"betweenness.s": s} if bc is not None else {})

    def bfs(self, g: Graph, sources: list[int]):
        sdf = g.spark.createDataFrame([(v,) for v in sources], "source long")
        rows, s = self.step("bfs", lambda: bfs_visited(g, sdf).toPandas())
        return rows, ({"bfs.s": s} if rows is not None else {})

    def harmonic(self, g: Graph):
        h, s = self.step("harmonic", lambda: harmonic(g).toPandas())
        return h, ({"harmonic.s": s} if h is not None else {})

    # -- per-layer probes (traced run only) --------------------------------

    def probe_layers(self, spark, have: dict[str, float]) -> dict[str, float]:
        """Direct calls into each module on this workload's graph, then
        the transcripts pipeline. The operator front doors this
        workload's pass already ran (``have``) are not run again."""
        g = self.graph
        out: dict[str, float] = {}

        path = os.path.join(self.input_dir, "lineitem.parquet")
        out["sources.rows"], out["sources.read_s"] = self.step(
            "sources.read", lambda: spark.read.parquet(path).count()
        )
        out["sources.graph_s"] = [
            self.tracer.seconds(sp) for sp in self.tracer.spans
            if sp["name"] == "sources.copurchase"
        ][-1]
        out["sources.directed_edges"] = len(self.ref.src)

        fresh = Graph.from_symmetric_edges(g.edges)
        _, out["graph.edges_by_src_s"] = self.step(
            "graph.edges_by_src", lambda: fresh.edges_by_src().count()
        )
        fresh.unpersist()

        csr, out["csrkernels.graph_to_csr_s"] = self.step(
            "csrkernels.graph_to_csr", lambda: graph_to_csr(g)
        )
        ids, indptr, indices = csr
        n = len(ids)
        out["csrkernels.csr_mb"] = (ids.nbytes + indptr.nbytes + indices.nbytes) / MB
        comp, out["csrkernels.csr_components_s"] = self.step(
            "csrkernels.csr_components", lambda: csr_components(indptr, indices, n)
        )
        codes = np.searchsorted(ids, self.sources)
        batch = codes[:BRANDES_PROBE_SOURCES]
        _, s = self.step(
            "csrkernels.brandes_kernel",
            lambda: brandes_kernel(indptr, indices, batch, n, comp=comp),
        )
        out["csrkernels.brandes_s_per_src"] = s / len(batch)
        lanes = codes[:64]
        _, s = self.step(
            "csrkernels.msbfs", lambda: msbfs_distance_stats(indptr, indices, lanes, n)
        )
        out["csrkernels.msbfs_s_per_64src"] = s * 64 / len(lanes)
        dirs: list[str] = []
        bfs_forward(indptr, indices, int(codes[0]), n, directions=dirs, comp=comp)
        out["csrkernels.bottom_up_levels"] = dirs.count("bu")

        store = self.scratch()
        blocked, out["superstep.block_build_s"] = self.step(
            "superstep.block_edges",
            lambda: block_edges(g, partition_by="dst", scratch_dir=store),
        )
        out["superstep.store_mb"] = _dir_mb(store)
        vec = dense_vector_from_df(
            blocked, g.vertices().select("id", F.lit(1.0 / n).alias("val"))
        )
        spmv_dense(blocked, vec, divide_by_src_degree=True)  # warms the store
        _, out["superstep.spmv_dense_s"] = self.step(
            "superstep.spmv_dense",
            lambda: spmv_dense(blocked, vec, divide_by_src_degree=True),
        )
        blocked.unpersist()
        shutil.rmtree(store, ignore_errors=True)

        front_doors = {
            "pagerank.csr_s": lambda: self.pagerank_csr(g),
            "components.s": lambda: self.components(g),
            "labelprop.s": lambda: self.labelprop(g),
            "triangles.s": lambda: self.triangles(g),
            "betweenness.s": lambda: self.betweenness(g, self.sources),
            "bfs.s": lambda: self.bfs(g, self.sources),
            "harmonic.s": lambda: self.harmonic(g),
        }
        for key, run in front_doors.items():
            if key not in have:
                out.update(run()[1])
        out.update(self.transcripts_pipeline(spark))
        return out

    def transcripts_pipeline(self, spark) -> dict[str, float]:
        """Generate transcripts, build their hub-skewed edge table, run
        PageRank to 1e-6 with durable epochs and resume it from the
        latest verified epoch; then time the checkpoint module directly.
        Every output is checked."""
        n_conv = self.scale.conversations
        cap = inspect.signature(transcript_graph).parameters["max_tool_degree"].default

        def gen():
            tr = generate_transcripts(
                spark, n_conversations=n_conv, n_tools=inputs.N_TOOLS,
                max_turns=inputs.MAX_TURNS, seed=self.seed, embed_samples=False,
            ).localCheckpoint(eager=True)
            return tr, tr.count()

        made, gen_s = self.step("sources.transcripts", gen)
        if made is None:
            return {}
        tr, turns = made

        def build():
            tg = transcript_graph(tr, id_mode="hash")
            g = tg.graph.persist()
            return tg, g, g.edges.count()

        made, graph_s = self.step("sources.transcript_graph", build)
        if made is None:
            return {}
        tg, g, n_edges = made
        inv = tr.where(F.col("tool").isNotNull()).select("conv_id", "tool").toPandas()
        want = inputs.transcript_directed_edges(inv, cap)
        self.check(
            "sources.transcript_graph",
            None if n_edges == want else f"{n_edges} directed edges, want {want}",
        )
        out = {
            "sources.transcripts_gen_s": gen_s,
            "sources.transcript_graph_s": graph_s,
            "sources.turns": turns,
            "sources.transcript_edges": n_edges,
            "sources.turns_per_s": turns / (gen_s + graph_s),
        }

        root = self.scratch()
        first = CheckpointManager(spark, root=root, every=EPOCH_EVERY)
        r1, s1 = self.step(
            "pagerank.tol",
            lambda: pagerank(g, mode="sql", tol=TOL, checkpoint=first).toPandas(),
        )
        second = CheckpointManager(spark, root=root, every=EPOCH_EVERY)
        r2, s2 = (None, None)
        if r1 is not None:
            r2, s2 = self.step(
                "checkpoint.resume",
                lambda: pagerank(g, mode="sql", tol=TOL, checkpoint=second).toPandas(),
            )
        shutil.rmtree(root, ignore_errors=True)
        if r1 is not None:
            total = float(r1["rank"].sum())
            last = first.metrics[-1]["delta"]
            self.check(
                "pagerank.tol",
                f"rank sum {total!r}" if abs(total - 1.0) > 1e-9
                else f"not converged, last delta {last}" if last >= TOL
                else None,
            )
            out["pagerank.to_1e6_s"] = s1
            out["pagerank.tol_iterations"] = len(first.metrics)
        if r2 is not None:
            both = r1.merge(r2, on="id", suffixes=("_a", "_b"))
            diff = float((both["rank_a"] - both["rank_b"]).abs().max())
            self.check(
                "checkpoint.resume",
                "did not resume from an epoch" if not second.metrics[0]["iteration"]
                else f"{len(both)} of {len(r1)} ids matched" if len(both) != len(r1)
                else f"resumed ranks differ by {diff}" if diff > TOL
                else None,
            )
            out["checkpoint.resume_s"] = s2
            out["checkpoint.resume_iterations"] = len(second.metrics)

            root = self.scratch()
            mgr = CheckpointManager(spark, root=root, every=1)
            ranks_df = spark.createDataFrame(r1[["id", "rank"]])
            _, out["checkpoint.save_epoch_s"] = self.step(
                "checkpoint.save_epoch", lambda: mgr.save_epoch(ranks_df, "probe", 0)
            )
            out["checkpoint.epoch_mb"] = _dir_mb(root)
            found, out["checkpoint.latest_epoch_s"] = self.step(
                "checkpoint.latest_epoch", lambda: mgr.latest_epoch("probe")
            )
            self.check("checkpoint.latest_epoch", None if found else "no verified epoch")
            shutil.rmtree(root, ignore_errors=True)
        g.unpersist()
        tg.vertex_map.unpersist()
        return out


class Iterative(Workload):
    name = "iterative"
    reference_args = (PAGERANK_ITERATIONS, LPA_ITERATIONS)

    def _aligned(self, pdf, col: str) -> np.ndarray | None:
        """``pdf[col]`` aligned to the reference ids, or None when the
        id sets differ."""
        if len(pdf) != self.ref.n:
            return None
        pdf = pdf.sort_values("id")
        if not np.array_equal(pdf["id"].to_numpy(), self.ref.ids):
            return None
        return pdf[col].to_numpy()

    def run_pass(self) -> PassResult:
        g = self.graph
        ranks, layers = self.pagerank_csr(g)
        cc, more = self.components(g)
        layers.update(more)
        lpa, more = self.labelprop(g)
        layers.update(more)
        tri, more = self.triangles(g)
        layers.update(more)

        if ranks is not None:
            got = self._aligned(ranks, "rank")
            total = float(ranks["rank"].sum())
            self.check(
                "pagerank.csr",
                "vertex set differs" if got is None
                else f"rank sum {total!r}" if abs(total - 1.0) > 1e-9
                else "ranks differ from the reference"
                if np.max(np.abs(got - self.refs["rank"])) > 1e-12
                else None,
            )
        # labels must equal the numpy reference's, and their count the
        # one recorded for this data set
        for name, pdf, col, want in (
            ("components", cc, "component", self.scale.components),
            ("labelprop", lpa, "label", self.scale.lpa_labels),
        ):
            if pdf is None:
                continue
            got = self._aligned(pdf, col)
            count = pdf[col].nunique()
            self.check(
                name,
                f"{count} distinct labels, want {want}" if count != want
                else None if got is not None and np.array_equal(got, self.refs[name])
                else "labels differ from the reference",
            )
        if tri is not None:
            self.check(
                "triangles",
                None if tri == self.scale.triangles == self.refs["triangles"]
                else f"{tri} triangles, want {self.scale.triangles}",
            )
        rate = layers.pop("spmv_edges_per_s", float("nan"))
        return PassResult(rate, {"spmv_edges_per_s": rate}, layers)


class Traversal(Workload):
    name = "traversal"
    sends_to_python = True  # its kernels run behind mapInPandas
    # its passes keep getting faster for three or four passes (9.5 s,
    # 4.6 s, 4.2 s, 3.9 s, then about 3.6 s on a 4-vCPU box) as the JVM
    # and the Python workers warm up
    warmup_passes = 3

    def run_pass(self) -> PassResult:
        g = self.graph
        bc, layers = self.betweenness(g, self.sources)
        rows, more = self.bfs(g, self.sources)
        layers.update(more)
        h, more = self.harmonic(g)
        layers.update(more)

        if rows is not None:
            reached = rows[rows["dist"] >= 1]
            n_src = rows.loc[rows["dist"] == 0, "source"].nunique()
            self.check(
                "bfs",
                None if n_src == len(self.sources)
                else f"{n_src} of {len(self.sources)} sources at distance 0",
            )
        if bc is not None and rows is not None:
            # Brandes' dependency identity: over all targets t of source
            # s, the dependencies sum to Σ_t (d(s,t) - 1)
            want = float((reached["dist"] - 1).sum())
            got = float(bc["bc"].sum())
            self.check(
                "betweenness",
                None if len(bc) == self.ref.n and _rel_err(got, want) <= 1e-6
                else f"Σbc {got!r} vs Σ(dist-1) {want!r} over {len(bc)} rows",
            )
        if h is not None and rows is not None:
            want = (1.0 / reached["dist"]).groupby(reached["source"]).sum()
            got = h.set_index("id")["harmonic"].reindex(want.index)
            err = float(np.max(np.abs(got.to_numpy() - want.to_numpy())))
            self.check(
                "harmonic",
                None if len(h) == self.ref.n and err <= 1e-9
                else f"source harmonic off by {err} over {len(h)} rows",
            )
        bc_s = layers.get("betweenness.s")
        rate = len(self.sources) / bc_s if bc_s else float("nan")
        return PassResult(rate, {"bc_sources_per_s": rate}, layers)


WORKLOADS = {w.name: w for w in (Iterative, Traversal)}

"""Benchmark inputs and the numpy references their outputs are checked
against.

The copurchase graph comes from the committed TPC-H lineitem key columns
in ``perfbench/data``; ``--seed`` picks the traversal sources and seeds
the transcript generator. Everything here is plain numpy/pandas and runs
outside every timed region, the references in a child process (see
``in_child``). The engine only ever sees the parquet file, the
source-id list and the transcript generator's arguments.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Scale:
    """Input sizes of one benchmark scale, and the counts recorded for
    its copurchase graph when the benchmark was defined."""

    data: str  # TPC-H scale factor of the lineitem table in perfbench/data
    n_sources: int  # traversal: BFS / Brandes sources
    conversations: int  # transcripts: generated conversations
    components: int  # copurchase: connected components
    lpa_labels: int  # copurchase: labels after LPA_ITERATIONS rounds
    triangles: int  # copurchase: triangles


SCALES = {
    "full": Scale(data="sf0.01", n_sources=256, conversations=2000,
                  components=1, lpa_labels=1, triangles=413_718),
    "smoke": Scale(data="sf0.001", n_sources=32, conversations=300,
                   components=1, lpa_labels=1, triangles=125_968),
}

# transcript generator settings (the conversation count comes from Scale)
N_TOOLS = 100
MAX_TURNS = 40


def lineitem_path(scale: Scale) -> str:
    """Directory holding the scale's ``lineitem.parquet``: the
    (l_orderkey, l_partkey) columns of the TPC-H lineitem table at that
    scale factor."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", scale.data)


@dataclass
class RefGraph:
    """A symmetric graph as dense-coded directed edge arrays."""

    ids: np.ndarray  # sorted original vertex ids; code i <-> ids[i]
    src: np.ndarray  # directed edges, both directions present
    dst: np.ndarray

    @property
    def n(self) -> int:
        return len(self.ids)


def copurchase_reference(li: pd.DataFrame) -> RefGraph:
    """The edge set ``sources.testdata_graphs.copurchase_graph`` must
    build: distinct part pairs sharing an order, both directions."""
    pairs = li.merge(li, on="l_orderkey")
    pairs = pairs[pairs["l_partkey_x"] < pairs["l_partkey_y"]]
    a = pairs["l_partkey_x"].to_numpy()
    b = pairs["l_partkey_y"].to_numpy()
    und = np.unique(np.stack([a, b], axis=1), axis=0)
    ids = np.unique(und)
    s = np.searchsorted(ids, und[:, 0])
    t = np.searchsorted(ids, und[:, 1])
    return RefGraph(ids, np.concatenate([s, t]), np.concatenate([t, s]))


def ref_pagerank(g: RefGraph, iterations: int = 10, alpha: float = 0.85) -> np.ndarray:
    """Fixed-iteration PageRank, aligned to ``g.ids``."""
    deg = np.bincount(g.src, minlength=g.n).astype(np.float64)
    r = np.full(g.n, 1.0 / g.n)
    for _ in range(iterations):
        msg = np.bincount(g.dst, weights=r[g.src] / deg[g.src], minlength=g.n)
        r = (1.0 - alpha) / g.n + alpha * msg
    return r


def ref_components(g: RefGraph) -> np.ndarray:
    """Component label per vertex: the smallest original id in it."""
    lab = g.ids.copy()
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, g.dst, lab[g.src])
        if np.array_equal(nxt, lab):
            return lab
        lab = nxt


def ref_label_propagation(g: RefGraph, max_iterations: int) -> np.ndarray:
    """Synchronous LPA with the engine's rule: a vertex takes the label
    with the most votes (its own label votes once), ties to the smaller
    label; stops early when no label changes."""
    lab = g.ids.copy()
    own = np.arange(g.n)
    for _ in range(max_iterations):
        votes = pd.DataFrame(
            {
                "v": np.concatenate([g.dst, own]),
                "l": np.concatenate([lab[g.src], lab]),
            }
        )
        cnt = votes.groupby(["v", "l"]).size().reset_index(name="c")
        best = cnt.sort_values(
            ["v", "c", "l"], ascending=[True, False, True]
        ).drop_duplicates("v")
        nxt = best["l"].to_numpy()
        changed = int((nxt != lab).sum())
        lab = nxt
        if changed == 0:
            break
    return lab


def ref_triangles(g: RefGraph, chunk: int = 256) -> int:
    """Exact triangle count: Σ (A·A ∘ A) / 6, row block by row block."""
    a = np.zeros((g.n, g.n), dtype=np.float32)
    a[g.src, g.dst] = 1.0
    total = 0.0
    for r0 in range(0, g.n, chunk):
        blk = a[r0 : r0 + chunk]
        total += float(((blk @ a) * blk).sum(dtype=np.float64))
    return int(round(total)) // 6


def md5_sources(ids: np.ndarray, seed: int, k: int) -> list[int]:
    """The first ``k`` ids in md5 order of ``"{seed}:{id}"``: the same
    rule ``betweenness_sampled`` uses to pick its sources."""

    def key(v: int) -> tuple[int, int]:
        h = hashlib.md5(f"{seed}:{v}".encode()).hexdigest()
        return int(h[:15], 16), v

    return sorted((int(v) for v in ids), key=key)[:k]


def transcript_directed_edges(inv: pd.DataFrame, cap: int) -> int:
    """Directed edge count ``transcript_graph`` must produce from the
    (conv_id, tool) rows of tool turns: conv-tool edges plus distinct
    conversation pairs sharing a tool used by at most ``cap``
    conversations, each in both directions."""
    pairs = inv.drop_duplicates()
    conv = pairs["conv_id"].astype("category").cat.codes.to_numpy().astype(np.int64)
    tool = pairs["tool"].to_numpy()
    n_conv = int(conv.max()) + 1 if len(conv) else 0
    keys = []
    for t in np.unique(tool):
        members = np.sort(conv[tool == t])
        if len(members) > cap:
            continue
        i, j = np.triu_indices(len(members), k=1)
        keys.append(members[i] * n_conv + members[j])
    shared = len(np.unique(np.concatenate(keys))) if keys else 0
    return 2 * (len(pairs) + shared)


def references(scale: Scale, seed: int, pagerank_iterations: int | None = None,
               lpa_iterations: int | None = None) -> dict:
    """The copurchase reference graph and the traversal sources; with
    iteration counts also the iterative workload's reference outputs."""
    li = pd.read_parquet(os.path.join(lineitem_path(scale), "lineitem.parquet"))
    g = copurchase_reference(li)
    out = {"graph": g, "sources": md5_sources(g.ids, seed, scale.n_sources)}
    if pagerank_iterations is not None:
        out.update(
            rank=ref_pagerank(g, pagerank_iterations),
            components=ref_components(g),
            labelprop=ref_label_propagation(g, lpa_iterations),
            triangles=ref_triangles(g),
        )
    return out


def in_child(fn, *args):
    """``fn(*args)`` in a forked child process, waited for, so that its
    memory never counts toward the driver's peak RSS."""
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("fork")) as pool:
        return pool.submit(fn, *args).result()

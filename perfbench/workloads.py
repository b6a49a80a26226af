"""The three benchmark workloads: how each builds its inputs from a
seed, which operator calls it times, and how each output is checked.

- ``repo_linkgraph``: the paper's own input, a synthetic source-code
  table -> import edges -> renumber. Small, so every convergence check
  is a Spark job and the per-job driver floor dominates.
- ``rmat_csr``: RMAT edges with dense ids; PageRank, WCC and BFS in
  ``mode="csr"``, each packing its own dense-format blocks in the clock.
- ``rmat_sparse_ids``: the same RMAT edges shifted by 2^40, so blocks
  are dict-format; default-plan PageRank with a checkpoint every 5
  supersteps, then WCC and BFS ``mode="csr"`` sharing one block dir
  (the first call packs, the second reuses the pack).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from . import oracles

SHIFT = 1 << 40

# Input sizes. The paper-scale inputs (100k files; RMAT scale 19) take
# tens of seconds per operator on a 4-core host, too long for the
# benchmark's time budget (WORKLOADS.md).
REPO_SIZE = {"n_repos": 8, "files_per_repo": 250}
RMAT_SIZE = {"scale": 12, "edgefactor": 16}


@dataclass
class Inputs:
    """Persisted input frames plus the collected arrays the oracles use."""

    frames: dict = field(default_factory=dict)
    arrays: dict = field(default_factory=dict)
    source: int | None = None  # BFS source vertex
    n_edges: int = 0  # directed edges PageRank runs over

    def unpersist(self):
        for df in self.frames.values():
            df.unpersist()


@dataclass
class Op:
    """One timed operator call. ``run(inputs, pass_dir)`` returns
    (pandas result, info dict); ``oracle(inputs)`` returns the expected
    arrays that ``check`` compares against."""

    name: str
    run: Callable
    oracle: Callable
    check: Callable


def _persist(df):
    df = df.persist()
    df.count()
    return df


def _collect(df, *cols):
    pdf = df.select(*cols).toPandas()
    return tuple(pdf[c].to_numpy() for c in cols)


def _bfs_source(src, dst):
    """Highest out-degree vertex, smallest id on ties: a pure function
    of the generated edges."""
    ids, inv = np.unique(src, return_inverse=True)
    deg = np.bincount(inv)
    return int(ids[np.flatnonzero(deg == deg.max())[0]])


# ---------------------------------------------------------------- checks


def _sorted_result(pdf, key="vertex"):
    return pdf.sort_values(key, kind="stable").reset_index(drop=True)


def check_exact(col):
    def check(pdf, info, expected):
        ids, want = expected["ids"], expected[col]
        got = _sorted_result(pdf)
        if len(got) != len(ids) or not np.array_equal(got["vertex"].to_numpy(), ids):
            return False, f"vertex set differs: {len(got)} rows vs {len(ids)} expected"
        bad = int((got[col].to_numpy() != want).sum())
        return bad == 0, f"{bad} vertices differ in {col}"

    return check


def check_bfs(pdf, info, expected):
    ok_d, msg_d = check_exact("distance")(pdf, info, expected)
    ok_p, msg_p = check_exact("predecessor")(pdf, info, expected)
    return ok_d and ok_p, f"{msg_d}; {msg_p}"


def check_pagerank(pdf, info, expected):
    ids = expected["ids"]
    got = _sorted_result(pdf)
    if len(got) != len(ids) or not np.array_equal(got["vertex"].to_numpy(), ids):
        return False, f"vertex set differs: {len(got)} rows vs {len(ids)} expected"
    if info.get("supersteps") != expected["supersteps"]:
        return False, (
            f"{info.get('supersteps')} supersteps vs {expected['supersteps']} expected"
        )
    close = np.isclose(got["pagerank"].to_numpy(), expected["pagerank"], rtol=1e-6, atol=1e-12)
    return bool(close.all()), f"{int((~close).sum())} ranks outside rtol 1e-6"


# ------------------------------------------------------------- operators


def _pagerank_op(**kw):
    def run(inputs, pass_dir):
        from cugraph_spark.graph import Graph
        from cugraph_spark.operators.pagerank import pagerank
        from cugraph_spark.plans.checkpoint import CheckpointManager

        args = dict(kw)
        if "checkpoint_every" in args:
            args["checkpoint"] = CheckpointManager(pass_dir, "pagerank")
        steps: list = []
        G = Graph(inputs.frames["edges"], directed=True, weighted=True)
        out = pagerank(G, superstep_seconds=steps, **args)
        return out.toPandas(), {"supersteps": len(steps), "superstep_s": steps}

    def oracle(inputs):
        src, dst, w = inputs.arrays["edges"]
        ids, ranks, steps = oracles.pagerank(
            src, dst, w, tol=kw.get("tol", 1e-5), max_iter=kw.get("max_iter", 100)
        )
        return {"ids": ids, "pagerank": ranks, "supersteps": steps}

    return Op("pagerank", run, oracle, check_pagerank)


def _wcc_op(**kw):
    def run(inputs, pass_dir):
        from cugraph_spark.graph import Graph
        from cugraph_spark.operators.wcc import weakly_connected_components

        G = Graph(inputs.frames["sym"], directed=False, assume_symmetric=True)
        args = dict(kw)
        if args.pop("shared_blocks", False):
            args["block_dir"] = f"{pass_dir}/blocks"
        return weakly_connected_components(G, **args).toPandas(), {}

    def oracle(inputs):
        src, dst, _ = inputs.arrays["sym"]
        ids, labels = oracles.wcc(src, dst)
        return {"ids": ids, "labels": labels}

    return Op("wcc", run, oracle, check_exact("labels"))


def _bfs_op(**kw):
    def run(inputs, pass_dir):
        from cugraph_spark.graph import Graph
        from cugraph_spark.operators.traversal import bfs

        G = Graph(inputs.frames["sym"], directed=True)
        args = dict(kw)
        if args.pop("shared_blocks", False):
            args["block_dir"] = f"{pass_dir}/blocks"
        return bfs(G, source=inputs.source, **args).toPandas(), {}

    def oracle(inputs):
        src, dst, _ = inputs.arrays["sym"]
        ids, dist, pred = oracles.bfs(src, dst, inputs.source)
        return {"ids": ids, "distance": dist, "predecessor": pred}

    return Op("bfs", run, oracle, check_bfs)


def _lpa_op(max_iter):
    def run(inputs, pass_dir):
        from cugraph_spark.graph import Graph
        from cugraph_spark.operators.label_propagation import label_propagation

        G = Graph(inputs.frames["sym"], directed=False, assume_symmetric=True)
        return label_propagation(G, max_iter=max_iter).toPandas(), {}

    def oracle(inputs):
        src, dst, w = inputs.arrays["sym"]
        ids, labels = oracles.label_propagation(src, dst, w, max_iter=max_iter)
        return {"ids": ids, "labels": labels}

    return Op("lpa", run, oracle, check_exact("labels"))


def _tc_op():
    def run(inputs, pass_dir):
        from cugraph_spark.graph import Graph
        from cugraph_spark.operators.triangle_count import triangle_count

        G = Graph(inputs.frames["sym"], directed=False, assume_symmetric=True)
        return triangle_count(G).toPandas(), {}

    def oracle(inputs):
        src, dst, _ = inputs.arrays["sym"]
        ids, counts = oracles.triangle_count(src, dst)
        return {"ids": ids, "counts": counts}

    return Op("tc", run, oracle, check_exact("counts"))


# ------------------------------------------------------------- workloads


@dataclass
class Workload:
    name: str
    ops: list
    build_edges: Callable  # (spark, seed, size) -> directed edge frame
    size: dict
    renumbers: bool = False

    def build(self, spark, seed, tracer) -> Inputs:
        """Generate, (renumber,) symmetrize and persist the inputs."""
        from cugraph_spark.graph import symmetrize

        inputs = Inputs()
        with tracer.span("sources.build"):
            edges = _persist(self.build_edges(spark, seed, self.size))
        if self.renumbers:
            from cugraph_spark.graph import renumber

            with tracer.span("graph.renumber"):
                raw = edges
                edges = _persist(renumber(raw)[0])
                raw.unpersist()
        with tracer.span("graph.symmetrize"):
            sym = _persist(symmetrize(edges))
        inputs.frames = {"edges": edges, "sym": sym}
        return inputs

    def collect(self, inputs: Inputs) -> None:
        """Pull the edges to the driver for the oracles and pick the BFS
        source. Runs outside every timed region."""
        d = oracles.simple_edges(*_collect(inputs.frames["edges"], "src", "dst", "weight"))
        s = oracles.simple_edges(*_collect(inputs.frames["sym"], "src", "dst", "weight"))
        inputs.arrays = {"edges": d, "sym": s}
        inputs.n_edges = len(d[0])
        inputs.source = _bfs_source(s[0], s[1])


def _repo_edges(spark, seed, size):
    from cugraph_spark.sources.code_repo import extract_import_edges, generate_code_repo_table

    return extract_import_edges(generate_code_repo_table(spark, seed=seed, **size))


def _rmat(spark, seed, size, shift=0):
    from pyspark.sql import functions as F

    from cugraph_spark.graph import drop_multi_edges
    from cugraph_spark.sources.rmat import rmat_edges

    e = drop_multi_edges(rmat_edges(spark, seed=seed, **size))
    if shift:
        e = e.select(
            (F.col("src") + F.lit(shift)).alias("src"),
            (F.col("dst") + F.lit(shift)).alias("dst"),
            "weight",
        )
    return e


WORKLOADS = {
    "repo_linkgraph": Workload(
        "repo_linkgraph",
        [_pagerank_op(tol=1e-6), _wcc_op(), _lpa_op(20), _tc_op()],
        _repo_edges,
        REPO_SIZE,
        renumbers=True,
    ),
    "rmat_csr": Workload(
        "rmat_csr",
        [
            _pagerank_op(mode="csr", tol=0.0, max_iter=10),
            _wcc_op(mode="csr"),
            _bfs_op(mode="csr"),
        ],
        _rmat,
        RMAT_SIZE,
    ),
    "rmat_sparse_ids": Workload(
        "rmat_sparse_ids",
        [
            _pagerank_op(tol=1e-6, checkpoint_every=5),
            _wcc_op(mode="csr", shared_blocks=True),
            _bfs_op(mode="csr", shared_blocks=True),
        ],
        lambda spark, seed, size: _rmat(spark, seed, size, shift=SHIFT),
        RMAT_SIZE,
    ),
}

"""Results do not depend on the engine width.

WCC (undirected and directed), incremental WCC, LPA, PageRank and the
triangle count run on one small R-MAT graph and one small transcript
projection, at the automatic width and at explicit widths 1, 2, 4 and 8.
Auto and 1 take the one-fragment path (the whole graph in one Arrow task
per window, or one task for the triangle count); 2-8 take the distributed
superstep loop (the intersect plan for triangles). Labels must be identical
across widths, ranks must agree to 1e-9, and the triangle count must equal
the oracle's with and without degree ordering. run_wcc_csr and run_bfs
(unit and weighted) must agree with their auto-width results at every
width, and run_wcc_csr at width 1 must run WCC's min-label kernel
(operators/csr.py) to its fixpoint in one iteration."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from minigraph_spark import oracle
from minigraph_spark.fixtures import make_rmat_edges_np, make_transcripts
from minigraph_spark.operators.csr import run_wcc_csr
from minigraph_spark.operators.project import project_edges
from minigraph_spark.operators.superstep import Graph, SuperstepEngine
from minigraph_spark.plans.bfs import run_bfs
from minigraph_spark.plans.lpa import run_lpa
from minigraph_spark.plans.pagerank import run_pagerank
from minigraph_spark.plans.triangles import triangle_count
from minigraph_spark.plans.wcc import run_wcc, run_wcc_incremental
from tests.conftest import labels_dict

WIDTHS = [None, 1, 2, 4, 8]


def _frame(spark, arr):
    return spark.createDataFrame(
        pd.DataFrame(arr, columns=["src", "dst"]), schema="src long, dst long"
    )


def _graph(spark, name: str) -> np.ndarray:
    if name == "rmat":
        return make_rmat_edges_np(power=7, num_edges=500, seed=19)
    edges = project_edges(make_transcripts(spark, 30, seed=5)).select("src", "dst")
    return edges.toPandas().to_numpy(np.int64)


def _run_all(spark, arr: np.ndarray, width: int | None):
    """Every plan at one width, on one Graph per graph version so the
    engines' mode can be read back; returns ({view: one_fragment},
    {plan: vid -> value}, {plan: iterations}). The triangle count's entry
    in the values is {by_degree: count}."""
    mask = np.arange(len(arr)) % 5 == 0
    full, base, delta = _frame(spark, arr), _frame(spark, arr[~mask]), _frame(spark, arr[mask])
    prev = run_wcc(base)
    with Graph(full, num_partitions=width) as g:
        out = {
            "wcc": run_wcc(g),
            "wcc_directed": run_wcc(g, directed=True),
            "wcc_incremental": run_wcc_incremental(
                g.with_edges(base), delta, prev.state
            ),
            "lpa": run_lpa(g, max_iter=4),
            "pagerank": run_pagerank(g, tol=1e-7, max_iter=100),
        }
        triangles = {
            bd: triangle_count(g, by_degree=bd).collect()[0]["num_triangles"]
            for bd in (True, False)
        }
        engines = {view: g.engine(view) for view in ("closure", "directed", "canonical")}
        for eng in engines.values():
            assert eng.one_fragment == (eng.num_partitions == 1)
        modes = {name: eng.one_fragment for name, eng in engines.items()}
    values = {name: labels_dict(res.state) for name, res in out.items()}
    iterations = {name: res.iterations for name, res in out.items() if name != "wcc"}
    values["triangles"] = triangles
    return modes, values, iterations


@pytest.mark.parametrize("graph", ["rmat", "transcripts"])
def test_results_do_not_depend_on_width(spark, graph):
    arr = _graph(spark, graph)
    want = oracle.wcc_labels(arr)
    want_triangles = oracle.triangle_count(arr)
    runs = {w: _run_all(spark, arr, w) for w in WIDTHS}
    _, ref, ref_iters = runs[None]
    assert ref["wcc"] == ref["wcc_incremental"] == want
    assert ref["wcc_directed"] == oracle.directed_minlabel(arr)
    for w, (modes, values, iterations) in runs.items():
        assert set(modes.values()) == {w in (None, 1)}, (w, modes)
        for plan in ("wcc", "wcc_directed", "wcc_incremental", "lpa"):
            assert values[plan] == ref[plan], (w, plan)
        assert values["triangles"] == {True: want_triangles, False: want_triangles}, w
        # directed WCC ships the min-label kernel: one fragment is one
        # iteration, the loop takes more
        assert (iterations["wcc_directed"] == 1) == modes["directed"], w
        got, exp = values["pagerank"], ref["pagerank"]
        assert got.keys() == exp.keys()
        np.testing.assert_allclose(
            [got[v] for v in exp], list(exp.values()), rtol=0, atol=1e-9
        )
        # LPA sweeps and PageRank's tolerance stop count the same iterations
        assert iterations["lpa"] == ref_iters["lpa"], w
        assert iterations["pagerank"] == ref_iters["pagerank"], w


@pytest.mark.parametrize("graph", ["rmat", "transcripts"])
def test_csr_path_does_not_depend_on_width(spark, graph):
    arr = _graph(spark, graph)
    e = _frame(spark, arr).persist()
    # pmod, not a product: transcript ids are 64-bit hashes
    ew = e.withColumn("w", 1 + F.pmod("src", F.lit(7)) + F.pmod("dst", F.lit(3)))
    root = int(arr[0, 0])
    labels = labels_dict(run_wcc(e).state)
    assert labels == oracle.wcc_labels(arr)
    faces = {None: e, "w": ew}
    dist = {wc: labels_dict(run_bfs(g, root, weight_col=wc).state) for wc, g in faces.items()}
    trip = [(s, d, 1 + s % 7 + d % 3) for s, d in arr.tolist()]
    assert {v: d for v, d in dist[None].items() if d is not None} == oracle.bfs_dist(arr, root)
    assert {v: d for v, d in dist["w"].items() if d is not None} == oracle.sssp_dist(trip, root)
    for w in WIDTHS:
        wcc = run_wcc_csr(e, num_partitions=w)
        assert labels_dict(wcc.state) == labels, w
        if w in (None, 1):
            # the min-label kernel runs the one fragment to its fixpoint
            assert wcc.iterations == 1, w
        for wc, g in faces.items():
            with Graph(g, num_partitions=w) as pinned:
                bfs = run_bfs(pinned, root, weight_col=wc)
            assert labels_dict(bfs.state) == dist[wc], (w, wc)


def test_one_partition_runs_one_fragment_above_old_row_rule(spark):
    """One partition means one fragment at any edge count: a pinned width
    of 1 over ~40k edge rows (above TARGET_ROWS_PER_PARTITION) runs the
    one-fragment path, and its ranks, iteration counts and labels equal
    the two-partition loop's and the oracle's."""
    arr = make_rmat_edges_np(power=13, num_edges=40_000, seed=23)
    full = _frame(spark, arr).persist()

    one, loop = Graph(full, num_partitions=1), Graph(full, num_partitions=2)
    for view in ("closure", "directed"):
        assert one.engine(view).one_fragment and not loop.engine(view).one_fragment, view
        assert one.engine(view).n_edges > SuperstepEngine.TARGET_ROWS_PER_PARTITION, view
    for tol, max_iter in ((0.0, 10), (1e-7, 200)):
        got, exp = (run_pagerank(g, tol=tol, max_iter=max_iter) for g in (one, loop))
        assert got.iterations == exp.iterations, tol
        a, b = labels_dict(got.state), labels_dict(exp.state)
        want = oracle.pagerank_standard(arr, tol=tol, max_iter=max_iter)
        assert a.keys() == b.keys() == want.keys()
        np.testing.assert_allclose([a[v] for v in b], list(b.values()), rtol=0, atol=1e-9)
        np.testing.assert_allclose([a[v] for v in want], list(want.values()), rtol=0, atol=1e-6)
    labels = [labels_dict(run_wcc(g).state) for g in (one, loop)]
    assert labels[0] == labels[1] == oracle.wcc_labels(arr)
    labels = [labels_dict(run_lpa(g, max_iter=5).state) for g in (one, loop)]
    assert labels[0] == labels[1] == oracle.lpa_labels(arr, max_iter=5)
    one.close()
    loop.close()
    full.unpersist()

"""Results do not depend on the engine width.

WCC, incremental WCC, LPA and PageRank run on one small R-MAT graph and one
small transcript projection, at the automatic width and at explicit widths
1, 2, 4 and 8. Auto and 1 take the one-fragment path (the whole graph in
one Arrow task per window); 2-8 take the distributed superstep loop. Labels
must be identical across widths and ranks must agree to 1e-9. The CSR
fragment path (operators/csr.py) must agree with the DataFrame plans at
every width."""

import numpy as np
import pandas as pd
import pytest

from minigraph_spark import oracle
from minigraph_spark.fixtures import make_rmat_edges_np, make_transcripts
from minigraph_spark.operators.csr import run_bfs_csr, run_wcc_csr
from minigraph_spark.operators.project import project_edges, symmetrize
from minigraph_spark.operators.superstep import SuperstepEngine
from minigraph_spark.plans.bfs import run_bfs
from minigraph_spark.plans.lpa import run_lpa
from minigraph_spark.plans.pagerank import run_pagerank
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
    """Every plan at one width, on engines built here so their mode can be
    read back; returns ({engine: one_fragment}, {plan: vid -> value})."""
    kw = {} if width is None else {"num_partitions": width}
    mask = np.arange(len(arr)) % 5 == 0
    full, base, delta = _frame(spark, arr), _frame(spark, arr[~mask]), _frame(spark, arr[mask])
    engines = {
        "closure": SuperstepEngine(symmetrize(full), **kw),
        "directed": SuperstepEngine(full, **kw),
    }
    prev = run_wcc(base)
    out = {
        "wcc": run_wcc(full, engine=engines["closure"]),
        "wcc_incremental": run_wcc_incremental(
            base, delta, prev.state, engine=engines["closure"]
        ),
        "lpa": run_lpa(full, max_iter=4, engine=engines["closure"]),
        "pagerank": run_pagerank(full, tol=1e-7, max_iter=100, engine=engines["directed"]),
    }
    modes = {name: eng.one_fragment for name, eng in engines.items()}
    values = {name: labels_dict(res.state) for name, res in out.items()}
    iterations = {name: res.iterations for name, res in out.items() if name != "wcc"}
    for eng in engines.values():
        eng.close()
    return modes, values, iterations


@pytest.mark.parametrize("graph", ["rmat", "transcripts"])
def test_results_do_not_depend_on_width(spark, graph):
    arr = _graph(spark, graph)
    want = oracle.wcc_labels(arr)
    runs = {w: _run_all(spark, arr, w) for w in WIDTHS}
    _, ref, ref_iters = runs[None]
    assert ref["wcc"] == ref["wcc_incremental"] == want
    for w, (modes, values, iterations) in runs.items():
        assert set(modes.values()) == {w in (None, 1)}, (w, modes)
        for plan in ("wcc", "wcc_incremental", "lpa"):
            assert values[plan] == ref[plan], (w, plan)
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
    root = int(arr[0, 0])
    labels = labels_dict(run_wcc(e).state)
    assert labels == oracle.wcc_labels(arr)
    dist = labels_dict(run_bfs(e, root).state)
    for w in WIDTHS:
        assert labels_dict(run_wcc_csr(e, num_partitions=w).state) == labels, w
        assert labels_dict(run_bfs_csr(e, root, num_partitions=w).state) == dist, w

import numpy as np

from minigraph_spark import oracle
from minigraph_spark.fixtures import TINY7_EDGES, make_rmat_edges_np, tiny7_edges
from minigraph_spark.operators.superstep import Graph
from minigraph_spark.plans.pagerank import run_pagerank
from tests.conftest import labels_dict


def _spark_edges(spark, arr):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(arr, columns=["src", "dst"]), schema="src long, dst long"
    )


def _assert_allclose(got: dict, want: dict, atol=1e-6):
    assert set(got) == set(want)
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    np.testing.assert_allclose(g, w, rtol=0, atol=atol)


def test_pagerank_standard_tiny7(spark):
    res = run_pagerank(tiny7_edges(spark), tol=1e-9, max_iter=300)
    want = oracle.pagerank_standard(np.array(TINY7_EDGES), tol=1e-12, max_iter=500)
    _assert_allclose(labels_dict(res.state), want)
    # ranks sum to 1
    assert abs(sum(labels_dict(res.state).values()) - 1.0) < 1e-6


def test_pagerank_standard_rmat(spark):
    arr = make_rmat_edges_np(power=7, num_edges=600, seed=3)
    res = run_pagerank(_spark_edges(spark, arr), tol=1e-9, max_iter=300)
    want = oracle.pagerank_standard(arr, tol=1e-12, max_iter=500)
    _assert_allclose(labels_dict(res.state), want)


def test_pagerank_minigraph_tiny7(spark):
    res = run_pagerank(tiny7_edges(spark), variant="minigraph")
    want = oracle.pagerank_minigraph(np.array(TINY7_EDGES))
    _assert_allclose(labels_dict(res.state), want)


def test_pagerank_minigraph_rmat(spark):
    arr = make_rmat_edges_np(power=7, num_edges=600, seed=5)
    res = run_pagerank(_spark_edges(spark, arr), variant="minigraph")
    want = oracle.pagerank_minigraph(arr)
    _assert_allclose(labels_dict(res.state), want)


# the small test graphs run in one-fragment mode at the default width;
# pinning two partitions keeps the same checks on the superstep loop
LOOP = {"num_partitions": 2}


def _pagerank(edges, graph_kw, **kw):
    """run_pagerank on a Graph with the settings ``graph_kw``."""
    with Graph(edges, **graph_kw) as g:
        return run_pagerank(g, **kw)


def _pagerank_warm_start(spark, graph_kw):
    """IncEval-style warm start: converge on a graph, add edges, restart
    from the old ranks — same fixpoint (allclose), fewer sweeps."""
    arr = make_rmat_edges_np(power=7, num_edges=600, seed=9)
    mask = (arr[:, 0] + arr[:, 1]) % 10 == 0
    base, full = arr[~mask], arr
    kw = {"tol": 1e-9, "max_iter": 300}
    prev = _pagerank(_spark_edges(spark, base), graph_kw, **kw)
    cold = _pagerank(_spark_edges(spark, full), graph_kw, **kw)
    warm = _pagerank(_spark_edges(spark, full), graph_kw, init_ranks=prev.state, **kw)
    _assert_allclose(labels_dict(warm.state), labels_dict(cold.state), atol=1e-6)
    assert warm.iterations < cold.iterations
    # the warm-started vector is still a probability distribution
    assert abs(sum(labels_dict(warm.state).values()) - 1.0) < 1e-6


def test_pagerank_warm_start_matches_and_saves_iterations(spark):
    _pagerank_warm_start(spark, {})


def test_pagerank_warm_start_matches_and_saves_iterations_loop(spark):
    _pagerank_warm_start(spark, LOOP)


def _pagerank_personalized(spark, graph_kw):
    """PPR == the NumPy random-walk-with-restart oracle: teleport and
    dangling mass flow to the seeds; non-seed mass decays to the seeds'
    neighborhoods. Also checks mass conservation and the variant guard."""
    import pytest

    arr = make_rmat_edges_np(power=7, num_edges=600, seed=3)
    seeds = [int(arr[0, 0]), int(arr[1, 1]), int(arr[5, 0])]
    res = _pagerank(_spark_edges(spark, arr), graph_kw, tol=0.0, max_iter=4,
                    personalize=seeds)
    want = oracle.pagerank_personalized(arr, seeds, iters=4)
    _assert_allclose(labels_dict(res.state), want)
    assert abs(sum(labels_dict(res.state).values()) - 1.0) < 1e-9

    with pytest.raises(ValueError, match="personalize"):
        _pagerank(_spark_edges(spark, arr), graph_kw, variant="minigraph",
                  personalize=seeds)
    with pytest.raises(ValueError, match="personalize"):
        _pagerank(_spark_edges(spark, arr), graph_kw, personalize=[])


def test_pagerank_personalized_rmat(spark):
    _pagerank_personalized(spark, {})


def test_pagerank_personalized_rmat_loop(spark):
    _pagerank_personalized(spark, LOOP)


def _weighted_pagerank_uniform_weights(spark, graph_kw):
    import pandas as pd

    arr = make_rmat_edges_np(power=6, num_edges=300, seed=5)
    e = spark.createDataFrame(
        pd.DataFrame(arr, columns=["src", "dst"]), "src long, dst long"
    )
    ew = e.selectExpr("src", "dst", "CAST(3 AS DOUBLE) AS w")  # uniform
    kw = {"tol": 0.0, "max_iter": 4}
    plain = {r["vid"]: r["value"] for r in _pagerank(e, graph_kw, **kw).state.collect()}
    weighted = {r["vid"]: r["value"]
                for r in _pagerank(ew, graph_kw, weight_col="w", **kw).state.collect()}
    assert set(plain) == set(weighted)
    for v in plain:
        assert abs(plain[v] - weighted[v]) < 1e-12


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    _weighted_pagerank_uniform_weights(spark, {})


def test_weighted_pagerank_uniform_weights_match_unweighted_loop(spark):
    _weighted_pagerank_uniform_weights(spark, LOOP)


def test_explain_prints_the_fragment_window(spark, tmp_path, monkeypatch, capsys):
    """MG_EXPLAIN=k on a one-fragment engine prints the plan of the one
    window that holds iteration k (windows [0, 2) and [2, 4) here), and
    nothing when no window holds it."""
    from minigraph_spark.operators import superstep

    e = _spark_edges(spark, make_rmat_edges_np(power=7, num_edges=600, seed=3))
    kw = {"tol": 0.0, "max_iter": 4}
    graph_kw = {"checkpoint_every": 2}
    monkeypatch.setattr(superstep, "_EXPLAIN", 3)
    _pagerank(e, graph_kw, checkpoint_dir=str(tmp_path / "a"), **kw)
    out = capsys.readouterr().out
    assert out.count("== Physical Plan ==") == 1
    assert "FlatMapCoGroupsInPandas" in out
    monkeypatch.setattr(superstep, "_EXPLAIN", 4)
    _pagerank(e, graph_kw, checkpoint_dir=str(tmp_path / "b"), **kw)
    assert "== Physical Plan ==" not in capsys.readouterr().out

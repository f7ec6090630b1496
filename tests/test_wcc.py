import numpy as np

from minigraph_spark import oracle
from minigraph_spark.fixtures import TINY7_EDGES, make_rmat_edges_np, tiny7_edges
from minigraph_spark.plans.wcc import component_sizes, run_wcc
from tests.conftest import labels_dict


def _spark_edges(spark, arr):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(arr, columns=["src", "dst"]), schema="src long, dst long"
    )


def test_wcc_tiny7(spark):
    res = run_wcc(tiny7_edges(spark))
    got = labels_dict(res.state)
    want = oracle.wcc_labels(np.array(TINY7_EDGES))
    assert got == want
    # FIXTURES.md F3 golden: one component, all labels 0
    assert set(got.values()) == {0}
    assert res.converged


def test_wcc_directed_minlabel_tiny7(spark):
    res = run_wcc(tiny7_edges(spark), directed=True)
    got = labels_dict(res.state)
    want = oracle.directed_minlabel(np.array(TINY7_EDGES))
    assert got == want


def test_wcc_rmat(spark):
    arr = make_rmat_edges_np(power=8, num_edges=1500, seed=7)
    res = run_wcc(_spark_edges(spark, arr))
    got = labels_dict(res.state)
    want = oracle.wcc_labels(arr)
    assert got == want


def test_component_sizes(spark):
    # two disjoint chains: 0-1-2 and 10-11
    arr = np.array([[0, 1], [1, 2], [10, 11]])
    res = run_wcc(_spark_edges(spark, arr))
    sizes = {r["label"]: r["size"] for r in component_sizes(res.state).collect()}
    assert sizes == {0: 3, 10: 2}


# the small test graphs run in one-fragment mode at the default width;
# pinning two partitions keeps the same checks on the superstep loop
LOOP = {"num_partitions": 2}


def _wcc_incremental_matches_batch(spark, engine_kwargs):
    """IncEval == PEval on the union graph (monotone min-label): split a
    random graph, converge on the base, feed the rest as a delta."""
    from minigraph_spark.plans.wcc import run_wcc_incremental

    arr = make_rmat_edges_np(power=8, num_edges=1200, seed=11)
    mask = (arr[:, 0] + arr[:, 1]) % 4 == 0
    base, delta = arr[~mask], arr[mask]
    prev = run_wcc(_spark_edges(spark, base), engine_kwargs=engine_kwargs)
    res = run_wcc_incremental(
        _spark_edges(spark, base), _spark_edges(spark, delta), prev.state,
        engine_kwargs=engine_kwargs,
    )
    assert res.converged
    assert labels_dict(res.state) == oracle.wcc_labels(arr)


def test_wcc_incremental_matches_batch(spark):
    _wcc_incremental_matches_batch(spark, {})


def test_wcc_incremental_matches_batch_loop(spark):
    _wcc_incremental_matches_batch(spark, LOOP)


def _wcc_incremental_touches_only_affected_region(spark, engine_kwargs):
    """The IncEval win: a delta inside one small component must not reconverge
    the rest of the graph — total changed-vertex count stays bounded by the
    affected component, not |V|."""
    from minigraph_spark.plans.wcc import run_wcc_incremental

    # a 400-vertex chain component (0..399) plus a disjoint 4-cycle
    chain = np.array([[i, i + 1] for i in range(399)])
    cyc = np.array([[1000, 1001], [1001, 1002], [1002, 1003]])
    base = np.concatenate([chain, cyc])
    delta = np.array([[1003, 1000]])  # closes the cycle; chain untouched
    prev = run_wcc(_spark_edges(spark, base), engine_kwargs=engine_kwargs)
    res = run_wcc_incremental(
        _spark_edges(spark, base), _spark_edges(spark, delta), prev.state,
        engine_kwargs=engine_kwargs,
    )
    assert labels_dict(res.state) == oracle.wcc_labels(np.concatenate([base, delta]))
    # only the 4 cycle vertices were ever eligible to change; the converged
    # chain must contribute zero churn across all supersteps
    assert sum(m.num_changed for m in res.metrics) <= 4


def test_wcc_incremental_touches_only_affected_region(spark):
    _wcc_incremental_touches_only_affected_region(spark, {})


def test_wcc_incremental_touches_only_affected_region_loop(spark):
    _wcc_incremental_touches_only_affected_region(spark, LOOP)


def _wcc_incremental_new_vertices(spark, engine_kwargs):
    """Delta edges may introduce brand-new vertices (absent from
    prev_labels) and may bridge previously separate components."""
    from minigraph_spark.plans.wcc import run_wcc_incremental

    base = np.array([[0, 1], [10, 11]])
    delta = np.array([[1, 20], [20, 10]])  # new vertex 20 bridges the two
    prev = run_wcc(_spark_edges(spark, base), engine_kwargs=engine_kwargs)
    res = run_wcc_incremental(
        _spark_edges(spark, base), _spark_edges(spark, delta), prev.state,
        engine_kwargs=engine_kwargs,
    )
    assert labels_dict(res.state) == oracle.wcc_labels(np.concatenate([base, delta]))
    assert set(labels_dict(res.state).values()) == {0}


def test_wcc_incremental_new_vertices(spark):
    _wcc_incremental_new_vertices(spark, {})


def test_wcc_incremental_new_vertices_loop(spark):
    _wcc_incremental_new_vertices(spark, LOOP)


def test_wcc_engine_reuse(spark):
    """run_wcc(engine=...) amortizes the prepartition across runs on the
    same graph (run_pagerank's contract); the caller owns the engine."""
    from minigraph_spark.operators.project import symmetrize
    from minigraph_spark.operators.superstep import SuperstepEngine

    arr = make_rmat_edges_np(power=7, num_edges=400, seed=17)
    eng = SuperstepEngine(symmetrize(_spark_edges(spark, arr)), salt_skew=False)
    r1 = run_wcc(_spark_edges(spark, arr), engine=eng)
    r2 = run_wcc(_spark_edges(spark, arr), engine=eng)
    assert labels_dict(r1.state) == labels_dict(r2.state) == oracle.wcc_labels(arr)
    eng.close()


def test_engine_folds_marked_dedup_closures(spark):
    """SuperstepEngine consumes the provenance markers set by
    project.symmetrize / project.canonicalize: the separate distinct
    exchange is replaced by the dedup-folded prepartition (row-identical
    by the prepartition dedup contract) and symmetrize additionally
    implies symmetric=True (src-only vertex set)."""
    from minigraph_spark.operators.project import canonicalize, symmetrize
    from minigraph_spark.operators.superstep import SuperstepEngine

    arr = make_rmat_edges_np(power=6, num_edges=200, seed=23)
    edges = _spark_edges(spark, arr)

    sym = symmetrize(edges)
    eng = SuperstepEngine(sym, salt_skew=False)
    assert eng.symmetric  # inferred from the marker
    assert sorted(map(tuple, eng.edges.collect())) == sorted(
        map(tuple, sym.collect())
    )
    # vertex set from src alone must still equal the full endpoint set
    vids = sorted(r["vid"] for r in eng.vertices().collect())
    assert vids == sorted(
        {s for s, d in arr if s != d} | {d for s, d in arr if s != d}
    )
    eng.close()

    can = canonicalize(edges)
    ceng = SuperstepEngine(can, salt_skew=False)
    assert not ceng.symmetric  # canonical closures are one-directional
    assert sorted(map(tuple, ceng.edges.collect())) == sorted(
        map(tuple, can.collect())
    )
    ceng.close()

    # a transformed frame loses the marker: no accidental folding
    assert not hasattr(sym.select("src", "dst"), "_mg_dedup_raw")


def test_wcc_decremental_equals_batch_on_remaining(spark):
    """Deletion IncEval == batch WCC on (edges \\ deleted), including min-vid
    labels, untouched-component passthrough, and batch vertex-existence
    semantics (a vertex losing its last edge has no row)."""
    from minigraph_spark.plans.wcc import run_wcc_decremental

    arr = make_rmat_edges_np(power=7, num_edges=300, seed=29)
    edges = _spark_edges(spark, arr)
    # delete a deterministic ~1/4 slice, including some absent edges (the
    # reversed orientation rows exercise undirected removal)
    import pandas as pd

    mask = (arr[:, 0] * 3 + arr[:, 1]) % 4 == 0
    dele_arr = arr[mask]
    dele = spark.createDataFrame(
        pd.DataFrame(
            {"src": list(dele_arr[:, 1]) + [9999], "dst": list(dele_arr[:, 0]) + [9998]}
        ),
        schema="src long, dst long",
    )
    prev = run_wcc(edges, engine_kwargs={"salt_skew": False})
    res = run_wcc_decremental(edges, dele, prev.state,
                              engine_kwargs={"salt_skew": False})

    # NumPy ground truth on the remaining undirected edge set
    import numpy as np

    lo = np.minimum(arr[:, 0], arr[:, 1])
    hi = np.maximum(arr[:, 0], arr[:, 1])
    canon = {(int(a), int(b)) for a, b in zip(lo, hi) if a != b}
    dlo = np.minimum(dele_arr[:, 0], dele_arr[:, 1])
    dhi = np.maximum(dele_arr[:, 0], dele_arr[:, 1])
    removed = {(int(a), int(b)) for a, b in zip(dlo, dhi)}
    remaining = np.array(sorted(canon - removed))
    want = oracle.wcc_labels(remaining)
    assert labels_dict(res.state) == want


def test_bowtie_textbook_graph(spark):
    """The canonical bow-tie: core {1,2}; 0 flows in, 3 flows out; 4 hangs
    off IN, 5 leads into OUT (tendrils); 6 bypasses the core IN->OUT
    (tube); 7->8 is a separate weak component (disconnected)."""
    from minigraph_spark.plans.bowtie import run_bowtie

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (0, 1), (2, 3), (0, 4), (5, 3), (0, 6), (6, 3),
         (7, 8)],
        "src long, dst long",
    )
    got = {r["vid"]: r["region"] for r in run_bowtie(edges).collect()}
    assert got == {
        0: "IN", 1: "CORE", 2: "CORE", 3: "OUT", 4: "TENDRIL",
        5: "TENDRIL", 6: "TUBE", 7: "DISC", 8: "DISC",
    }


def test_bowtie_acyclic_singleton_core_and_empty(spark):
    from minigraph_spark.plans.bowtie import run_bowtie

    # pure DAG: every SCC is a singleton; the deterministic core is the
    # smallest vid among them (0), making 1 its OUT and 2 disconnected
    edges = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    got = {r["vid"]: r["region"] for r in run_bowtie(edges).collect()}
    assert got[0] == "CORE" and got[1] == "OUT"
    assert got[2] == "DISC" and got[3] == "DISC"

    empty = spark.createDataFrame([], "src long, dst long")
    assert run_bowtie(empty).count() == 0

import numpy as np

from minigraph_spark import oracle
from minigraph_spark.fixtures import TINY7_EDGES, make_rmat_edges_np, tiny7_edges
from minigraph_spark.plans.bfs import run_bfs
from minigraph_spark.plans.lpa import run_lpa
from minigraph_spark.plans.triangles import per_vertex_triangles, transitivity, triangle_count
from minigraph_spark.sources.edgelist import retype_ids
from tests.conftest import labels_dict


def _spark_edges(spark, arr):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(arr, columns=["src", "dst"]), schema="src long, dst long"
    )


def test_lpa_tiny7(spark):
    res = run_lpa(tiny7_edges(spark), max_iter=20)
    got = labels_dict(res.state)
    want = oracle.lpa_labels(np.array(TINY7_EDGES), max_iter=20)
    assert got == want


def test_lpa_two_cliques(spark):
    # two 4-cliques bridged by one edge — LPA should keep two communities
    def clique(vs):
        return [(a, b) for a in vs for b in vs if a < b]

    arr = np.array(clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)])
    res = run_lpa(_spark_edges(spark, arr), max_iter=20)
    got = labels_dict(res.state)
    want = oracle.lpa_labels(arr, max_iter=20)
    assert got == want


def test_bfs_tiny7(spark):
    res = run_bfs(tiny7_edges(spark), root=0)
    got = {k: v for k, v in labels_dict(res.state).items() if v is not None}
    want = oracle.bfs_dist(TINY7_EDGES, root=0)
    assert got == want
    # FIXTURES.md F3 golden distances
    assert [got[i] for i in range(5)] == [0, 2, 1, 1, 2]


def test_bfs_rmat(spark):
    arr = make_rmat_edges_np(power=7, num_edges=500, seed=11)
    root = int(arr[0, 0])
    res = run_bfs(_spark_edges(spark, arr), root=root)
    got = {k: v for k, v in labels_dict(res.state).items() if v is not None}
    want = oracle.bfs_dist(arr.tolist(), root=root)
    assert got == want


def test_triangles_tiny7(spark):
    n = triangle_count(tiny7_edges(spark)).collect()[0]["num_triangles"]
    want = oracle.triangle_count(np.array(TINY7_EDGES))
    assert n == want


def test_triangles_rmat(spark):
    arr = make_rmat_edges_np(power=7, num_edges=800, seed=13)
    df = _spark_edges(spark, arr)
    n = triangle_count(df).collect()[0]["num_triangles"]
    n_noorder = triangle_count(df, by_degree=False).collect()[0]["num_triangles"]
    want = oracle.triangle_count(arr)
    assert n == want == n_noorder
    per_v = per_vertex_triangles(df)
    total = sum(r["triangles"] for r in per_v.collect())
    assert total == 3 * want


def test_sssp_weighted_rmat(spark):
    import pandas as pd

    arr = make_rmat_edges_np(power=7, num_edges=500, seed=13)
    # deterministic per-edge weights 1..9 (same convention as the
    # sssp_weighted_mod driver query)
    w = 1 + (arr[:, 0] * 31 + arr[:, 1]) % 9
    pdf = pd.DataFrame({"src": arr[:, 0], "dst": arr[:, 1], "w": w})
    e = spark.createDataFrame(pdf, schema="src long, dst long, w long")
    root = int(arr[0, 0])
    res = run_bfs(e, root=root, weight_col="w")
    got = {k: v for k, v in labels_dict(res.state).items() if v is not None}
    want = oracle.sssp_dist(pdf.to_numpy().tolist(), root=root)
    assert got == want
    assert got[root] == 0


def test_triangles_degenerate(spark):
    empty = spark.createDataFrame([], schema="src long, dst long")
    assert triangle_count(empty).collect()[0]["num_triangles"] == 0
    assert per_vertex_triangles(empty).count() == 0
    loop = spark.createDataFrame([(1, 1)], schema="src long, dst long")
    assert triangle_count(loop).collect()[0]["num_triangles"] == 0


def test_bfs_incremental_matches_batch(spark):
    """IncEval BFS: converge distances on a base graph, add the held-out
    edges as a delta, re-converge from the old state — identical to batch
    BFS on the union (min-distance is monotone under additions)."""
    from minigraph_spark.plans.bfs import run_bfs_incremental

    arr = make_rmat_edges_np(power=7, num_edges=500, seed=13)
    root = int(arr[0, 0])
    mask = (arr[:, 0] + arr[:, 1]) % 4 == 0
    base, delta = arr[~mask], arr[mask]
    prev = run_bfs(_spark_edges(spark, base), root=root)
    res = run_bfs_incremental(
        _spark_edges(spark, base), _spark_edges(spark, delta), prev.state, root=root
    )
    got = {k: v for k, v in labels_dict(res.state).items() if v is not None}
    want = oracle.bfs_dist(arr.tolist(), root=root)
    assert got == want


def test_bfs_incremental_shortens_paths_and_reaches_new_vertices(spark):
    """A delta shortcut must lower downstream distances, and delta-only
    vertices must become reachable."""
    from minigraph_spark.plans.bfs import run_bfs_incremental

    base = np.array([[0, 1], [1, 2], [2, 3], [3, 4]])
    delta = np.array([[0, 3], [4, 9]])  # shortcut to 3; new vertex 9
    prev = run_bfs(_spark_edges(spark, base), root=0)
    res = run_bfs_incremental(
        _spark_edges(spark, base), _spark_edges(spark, delta), prev.state, root=0
    )
    got = {k: v for k, v in labels_dict(res.state).items() if v is not None}
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2, 9: 3}


def test_bfs_incremental_from_snapshot_keeps_unreached_null(spark, tmp_path):
    """A run_bfs checkpoint snapshot is a prev_state: it stores the
    unreached vertex 5 as NULL, so a delta edge out of 5 reaches nothing:
    5 and the delta-only vertex 9 stay NULL, as in run_bfs on the union."""
    from minigraph_spark import checkpoint as ckpt
    from minigraph_spark.plans.bfs import run_bfs_incremental

    base = np.array([[0, 1], [1, 2], [5, 2]])
    delta = np.array([[5, 9]])
    ck = str(tmp_path / "bfs_ck")
    run_bfs(_spark_edges(spark, base), root=0, checkpoint_dir=ck)
    snap = spark.read.parquet(ckpt.latest(ck)[1])
    assert labels_dict(snap)[5] is None
    res = run_bfs_incremental(
        _spark_edges(spark, base), _spark_edges(spark, delta), snap, root=0
    )
    union = run_bfs(_spark_edges(spark, np.concatenate([base, delta])), root=0)
    got = labels_dict(res.state)
    assert got == labels_dict(union.state)
    assert got[5] is None and got[9] is None


def test_triangle_count_incremental_matches_batch(spark):
    """IncEval triangle maintenance: dT by inclusion-exclusion over the
    delta must reproduce the batch count on the union exactly."""
    from minigraph_spark.plans.triangles import triangle_count_incremental

    arr = make_rmat_edges_np(power=7, num_edges=900, seed=19)
    mask = (arr[:, 0] * 3 + arr[:, 1]) % 5 == 0
    base, delta = arr[~mask], arr[mask]
    prev = triangle_count(_spark_edges(spark, base)).collect()[0][0]
    got = triangle_count_incremental(
        _spark_edges(spark, base), _spark_edges(spark, delta), prev
    ).collect()[0][0]
    assert got == oracle.triangle_count(arr)
    assert prev == oracle.triangle_count(base)  # sanity on the base leg


def test_triangle_count_incremental_dirty_delta(spark):
    """Deltas may repeat base edges (either orientation), repeat themselves,
    or carry self-loops — the canonical closure must neutralize all of it."""
    import numpy as np

    from minigraph_spark.plans.triangles import triangle_count_incremental

    base = np.array([[0, 1], [1, 2], [3, 4]])
    # closes triangle 0-1-2; (2,1)/(1,2) duplicate a base edge both ways;
    # (5,5) self-loop; (0,2) repeated in the delta itself
    delta = np.array([[2, 0], [2, 1], [1, 2], [5, 5], [0, 2]])
    got = triangle_count_incremental(
        _spark_edges(spark, base), _spark_edges(spark, delta), prev_count=0
    ).collect()[0][0]
    assert got == 1

    # empty delta: count unchanged
    got2 = triangle_count_incremental(
        _spark_edges(spark, base), _spark_edges(spark, np.empty((0, 2), dtype=int)), 7
    ).collect()[0][0]
    assert got2 == 7


def test_triangle_count_incremental_all_new(spark):
    """A delta that is an entire new clique (all three edges new) exercises
    the S3 and P terms together: K4 added to an empty base = 4 triangles."""
    import numpy as np

    from minigraph_spark.plans.triangles import triangle_count_incremental

    base = np.array([[100, 101]])
    k4 = np.array([[0, 1], [0, 2], [0, 3], [1, 2], [1, 3], [2, 3]])
    got = triangle_count_incremental(
        _spark_edges(spark, base), _spark_edges(spark, k4), prev_count=0
    ).collect()[0][0]
    assert got == 4


def test_engine_reuse_wcc_then_lpa_and_coloring(spark):
    """One Graph serves WCC then LPA (both on its closure view, one
    engine) and coloring twice (its canonical view) — results identical to
    standalone runs."""
    from minigraph_spark.operators.superstep import Graph
    from minigraph_spark.plans.coloring import coloring_conflicts, run_coloring
    from minigraph_spark.plans.wcc import run_wcc

    arr = make_rmat_edges_np(power=7, num_edges=400, seed=23)
    edges = _spark_edges(spark, arr)

    with Graph(edges) as g:
        wcc_shared = run_wcc(g)
        lpa_shared = run_lpa(g, max_iter=5)
        c1 = run_coloring(g)
        c2 = run_coloring(g)
    assert labels_dict(wcc_shared.state) == oracle.wcc_labels(arr)
    assert labels_dict(lpa_shared.state) == oracle.lpa_labels(arr, max_iter=5)
    assert labels_dict(c1.state) == labels_dict(c2.state)
    assert coloring_conflicts(edges, c1.state) == 0


def test_triangle_count_bucketed_equals_unbucketed(spark):
    """src_buckets chunking is exact: every oriented edge lands in exactly
    one hash bucket, so partial sums equal the one-pass count. The buckets
    split the width > 1 plan, so the pinned width-2 handle runs them; at
    the automatic width (one fragment here) src_buckets changes nothing."""
    from minigraph_spark.operators.superstep import Graph

    arr = make_rmat_edges_np(power=9, num_edges=4000, seed=31)
    edges = _spark_edges(spark, arr)
    want = oracle.triangle_count(arr)
    one = triangle_count(edges).collect()[0]["num_triangles"]
    buck = triangle_count(edges, src_buckets=4).collect()[0]["num_triangles"]
    assert one == buck == want
    with Graph(edges, num_partitions=2) as g:
        assert not g.engine("canonical").one_fragment
        for b in (1, 4):
            assert _num_triangles(g, src_buckets=b) == want, b


def _num_triangles(edges, **kw) -> int:
    return triangle_count(edges, **kw).collect()[0]["num_triangles"]


def _clique(vs):
    return [(a, b) for a in vs for b in vs if a < b]


def test_triangles_one_fragment_degenerate(spark):
    """The one-task count at width 1 on inputs the canonical view must
    normalize: no rows, self-loops only, duplicates in both orientations,
    K4, and a hub (a 20-leaf star) joined to a 5-clique, whose degree
    order differs from its id order."""
    from minigraph_spark.operators.superstep import Graph

    cases = {
        "empty": ([], 0),
        "self_loops": ([(1, 1), (2, 2), (2, 2)], 0),
        "both_orientations": (
            [(0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0), (0, 1), (3, 3)], 1
        ),
        "k4": (_clique(range(4)), 4),
        "hub_star_clique": (
            [(100, v) for v in range(25)] + _clique(range(20, 25)), 10 + 10
        ),
    }
    for name, (pairs, want) in cases.items():
        if pairs:
            edges = _spark_edges(spark, np.array(pairs, np.int64))
            assert oracle.triangle_count(np.array(pairs)) == want, name
        else:
            edges = spark.createDataFrame([], schema="src long, dst long")
        with Graph(edges, num_partitions=1) as g:
            assert g.engine("canonical").one_fragment, name
            for by_degree in (True, False):
                assert _num_triangles(g, by_degree=by_degree) == want, (name, by_degree)
    # int ids (the P8 retype projection) count the same at the automatic width
    k4 = retype_ids(_spark_edges(spark, np.array(_clique(range(4)), np.int64)), "int")
    assert dict(k4.dtypes)["src"] == "int"
    assert _num_triangles(k4) == 4
    assert transitivity(k4).collect()[0]["transitivity"] == 1.0


def test_triangles_one_fragment_chunk_boundaries(spark, monkeypatch):
    """Wedge chunks far smaller than the wedge count, with boundaries
    inside one vertex's row, still count every wedge exactly once."""
    from minigraph_spark.operators.superstep import Graph
    from minigraph_spark.plans import triangles

    arr = make_rmat_edges_np(power=7, num_edges=800, seed=13)
    want = oracle.triangle_count(arr)
    with Graph(_spark_edges(spark, arr), num_partitions=1) as g:
        for chunk in (1, 7, 1000):
            monkeypatch.setattr(triangles, "WEDGE_CHUNK", chunk)
            for by_degree in (True, False):
                assert _num_triangles(g, by_degree=by_degree) == want, (chunk, by_degree)
    # the same NumPy count without Spark, on random multigraph closures
    rng = np.random.default_rng(5)
    for _ in range(50):
        a = rng.integers(0, 12, size=(rng.integers(1, 60), 2)) * 7919 - 3
        a = a[a[:, 0] != a[:, 1]]
        canon = np.unique(np.sort(a, axis=1), axis=0)
        for by_degree in (True, False):
            got = triangles._count_fragment(canon[:, 0], canon[:, 1], by_degree, 3)
            assert got == (oracle.triangle_count(a) if len(a) else 0)


def test_triangles_one_fragment_skips_oriented_edges(spark, monkeypatch):
    """At width 1 the count orients inside its one task: the DataFrame
    orientation never runs."""
    from minigraph_spark.operators.superstep import Graph
    from minigraph_spark.plans import triangles

    def boom(*a, **k):
        raise AssertionError("DataFrame orientation at width 1")

    monkeypatch.setattr(triangles, "oriented_edges", boom)
    arr = make_rmat_edges_np(power=7, num_edges=500, seed=11)
    with Graph(_spark_edges(spark, arr), num_partitions=1) as g:
        assert _num_triangles(g) == oracle.triangle_count(arr)


def test_triangles_above_width_one_build_no_engine(spark, monkeypatch):
    """Above width 1 the intersect plan orients the edges itself, so the
    count partitions no canonical view, unless the Graph already holds
    one; Graph.width agrees with the engine built afterwards."""
    from minigraph_spark.operators import superstep
    from minigraph_spark.operators.superstep import Graph

    calls = []
    orig = superstep.prepartition_edges

    def counting(*a, **k):
        calls.append(k.get("dedup"))
        return orig(*a, **k)

    monkeypatch.setattr(superstep, "prepartition_edges", counting)
    arr = make_rmat_edges_np(power=7, num_edges=500, seed=11)
    want = oracle.triangle_count(arr)
    edges = _spark_edges(spark, arr)
    with Graph(edges, num_partitions=2) as g:
        assert g.width("canonical") == 2
        assert _num_triangles(g) == want
        assert calls == []
    with Graph(edges) as g:
        w = g.width("canonical")
        assert _num_triangles(g) == want
        assert calls == [True]  # auto width 1 here: the one-task count
        assert g.engine("canonical").num_partitions == w == 1


def test_coloring_and_triangles_share_one_partitioning(spark, monkeypatch):
    """run_coloring then triangle_count (and transitivity) on one Graph
    read one canonical engine: prepartition_edges runs once."""
    from minigraph_spark.operators import superstep
    from minigraph_spark.operators.superstep import Graph
    from minigraph_spark.plans.coloring import coloring_conflicts, run_coloring

    calls = []
    orig = superstep.prepartition_edges

    def counting(*a, **k):
        calls.append(k.get("dedup"))
        return orig(*a, **k)

    monkeypatch.setattr(superstep, "prepartition_edges", counting)
    arr = make_rmat_edges_np(power=7, num_edges=400, seed=23)
    edges = _spark_edges(spark, arr)
    want = oracle.triangle_count(arr)
    with Graph(edges) as g:
        colors = run_coloring(g)
        assert _num_triangles(g) == want
        assert transitivity(g).collect()[0]["num_triangles"] == want
    assert calls == [True]
    assert coloring_conflicts(edges, colors.state) == 0


def test_kcore_matches_numpy_oracle(spark):
    """run_kcore == the NumPy peel on a skewed R-MAT (deep peel path) and on
    edge cases: k below the minimum degree (no peeling) and k above the
    degeneracy (peel to empty)."""
    from minigraph_spark.plans.kcore import run_kcore

    arr = make_rmat_edges_np(power=8, num_edges=1500, seed=37)
    edges = _spark_edges(spark, arr)
    for k in (1, 3, 4, 100):
        got = {r["vid"] for r in run_kcore(edges, k=k).collect()}
        want = oracle.kcore_vertices(arr, k)
        assert got == want, f"k={k}: {len(got)} vs {len(want)}"


def test_deterministic_walks_sink_stop_and_reproducibility(spark):
    """Walks stop at sinks (no rows past the sink step) and are exactly
    reproducible run-to-run (the property that makes training-data
    emission resumable)."""
    import pandas as pd

    from minigraph_spark.operators.sampling import deterministic_walks

    # 0 -> {1,2}, 1 -> 3, 2 -> 3; 3 is a sink
    edges = spark.createDataFrame(
        pd.DataFrame([(0, 1), (0, 2), (1, 3), (2, 3)], columns=["src", "dst"]),
        schema="src long, dst long",
    )
    rows = {(r["seed"], r["step"]): r["vid"]
            for r in deterministic_walks(edges, [0], steps=5).collect()}
    assert rows[(0, 0)] == 0
    assert rows[(0, 1)] in (1, 2)
    assert rows[(0, 2)] == 3
    assert (0, 3) not in rows  # sink reached: walk stops, no phantom rows
    again = {(r["seed"], r["step"]): r["vid"]
             for r in deterministic_walks(edges, [0], steps=5).collect()}
    assert rows == again


def test_bfs_decremental_deep_cascade_round_cap(spark):
    """A path graph is the worst case for support counting: cutting one
    edge makes every downstream vertex lose its only tight parent, ONE
    PER ROUND. With the cascade deeper than max_support_rounds the
    batch fallback must fire and still produce the exact remaining-graph
    distances; the uncapped run (None) must reach the same state through
    the full cascade (bounded per-round cost: the loop localCheckpoints
    each round, so deep cascades cannot re-trigger the Catalyst
    re-analysis blowup this test originally caught)."""
    import numpy as np

    from minigraph_spark.plans.bfs import run_bfs_decremental

    k = 20
    arr = np.array([(i, i + 1) for i in range(k)], dtype=np.int64)
    edges = _spark_edges(spark, arr)
    prev = run_bfs(edges, root=0)
    dele = _spark_edges(spark, arr[10:11])  # cut (10, 11): 9-deep cascade
    want = {i: i for i in range(11)}  # 0..10 reachable; 11..19 NULL
    for cap in (8, None):
        res = run_bfs_decremental(edges, dele, prev.state, root=0,
                                  max_support_rounds=cap)
        got = {k2: v for k2, v in labels_dict(res.state).items() if v is not None}
        assert got == want, f"max_support_rounds={cap}: {got}"


def test_bfs_sssp_decremental_equals_batch_on_remaining(spark):
    """Deletion IncEval for distances == batch on (edges \\ deleted), unit
    and weighted, including paths that must LENGTHEN through the affected
    region and vertices that become unreachable (NULL)."""
    import pandas as pd

    from minigraph_spark.plans.bfs import run_bfs_decremental

    arr = make_rmat_edges_np(power=7, num_edges=500, seed=41)
    edges = _spark_edges(spark, arr)
    root = int(arr.min())
    mask = (arr[:, 0] * 3 + arr[:, 1] * 5) % 6 == 0
    dele = _spark_edges(spark, arr[mask])
    remaining = arr[~mask]
    # drop any remaining row whose (src,dst) pair also appears deleted
    # (parallel arcs are removed by pair)
    dset = {(int(a), int(b)) for a, b in arr[mask]}
    remaining = remaining[
        [tuple(map(int, r)) not in dset for r in remaining]
    ]

    # unit BFS — pin BOTH code paths: fallback disabled (the localized
    # tight-parent support counting must be exact on its own) and fallback
    # forced (the batch-regret bound must produce the identical state)
    prev = run_bfs(edges, root=root)
    want = oracle.bfs_dist(remaining, root)
    for frac in (None, 0.0, 0.5):
        res = run_bfs_decremental(edges, dele, prev.state, root=root,
                                  batch_fallback_fraction=frac)
        got = {k: v for k, v in labels_dict(res.state).items() if v is not None}
        assert got == want, f"batch_fallback_fraction={frac}"

    # weighted SSSP: deterministic weights derived from endpoints
    wexpr = "(1 + (src * 31 + dst) % 9)"
    we = edges.selectExpr("src", "dst", f"cast({wexpr} as long) as w")
    wd = dele.selectExpr("src", "dst", f"cast({wexpr} as long) as w")
    prev_w = run_bfs(we, root=root, weight_col="w")
    res_w = run_bfs_decremental(we, wd, prev_w.state, root=root, weight_col="w")
    got_w = {k: v for k, v in labels_dict(res_w.state).items() if v is not None}
    trip = [(int(s), int(d), int(1 + (s * 31 + d) % 9)) for s, d in remaining]
    assert got_w == oracle.sssp_dist(trip, root)


def test_per_vertex_triangles_bucketed_equals_unbucketed(spark):
    arr = make_rmat_edges_np(power=9, num_edges=4000, seed=31)
    edges = _spark_edges(spark, arr)
    one = {r["vid"]: r["triangles"] for r in per_vertex_triangles(edges).collect()}
    buck = {r["vid"]: r["triangles"]
            for r in per_vertex_triangles(edges, src_buckets=4).collect()}
    assert one == buck
    assert sum(one.values()) == 3 * oracle.triangle_count(arr)


def test_clustering_known_values(spark):
    # kite: triangle {0,1,2} plus pendant 2-3 —
    # lcc: 0,1 = 1.0; 2 = 2*1/(3*2) = 1/3; 3 = 0 (deg 1)
    edges = _spark_edges(spark, [(0, 1), (1, 2), (0, 2), (2, 3)])
    from minigraph_spark.plans.triangles import clustering_coefficients

    cc = clustering_coefficients(edges)
    got = {r["vid"]: (r["deg"], r["triangles"], round(r["lcc"], 9))
           for r in cc.collect()}
    cc.unpersist()
    assert got == {0: (2, 1, 1.0), 1: (2, 1, 1.0),
                   2: (3, 1, round(1 / 3, 9)), 3: (1, 0, 0.0)}
    t = transitivity(edges).collect()[0]
    # wedges: deg 2,2,3,1 -> 1+1+3+0 = 5; transitivity 3*1/5
    assert (t["num_triangles"], t["num_wedges"]) == (1, 5)
    assert abs(t["transitivity"] - 0.6) < 1e-12


def test_clustering_canonicalizes_once(spark, monkeypatch):
    """clustering_coefficients runs one canonicalize (one E-row distinct)
    for its degrees and its triangle count, whatever the orientation or
    bucketing, and matches per-vertex counts computed in Python."""
    from minigraph_spark.plans import triangles
    from minigraph_spark.plans.triangles import clustering_coefficients

    arr = make_rmat_edges_np(power=8, num_edges=1500, seed=17)
    nbrs: dict[int, set] = {}
    for s, d in arr.tolist():
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    want = {}
    for v, ns in nbrs.items():
        t = sum(len(nbrs[u] & ns) for u in ns) // 2
        k = len(ns)
        want[v] = (k, t, round(2.0 * t / (k * (k - 1)), 9) if k >= 2 else 0.0)
    calls = []
    orig = triangles.canonicalize

    def counted(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(triangles, "canonicalize", counted)
    edges = _spark_edges(spark, arr)
    for kw in ({}, {"by_degree": False}, {"src_buckets": 3}):
        calls.clear()
        cc = clustering_coefficients(edges, **kw)
        got = {r["vid"]: (r["deg"], r["triangles"], round(r["lcc"], 9))
               for r in cc.collect()}
        cc.unpersist()
        assert len(calls) == 1, kw
        assert got == want, kw


def test_adamic_adar_known_values_and_buckets(spark):
    import math

    # path 0-1-2 plus 1-3: non-adjacent pairs through center 1 (deg 3):
    # (0,2), (0,3), (2,3) each score 1/ln(3); pair (0,2) also has no other
    # common neighbor. Centers 0,2,3 have deg 1 -> no contribution.
    edges = _spark_edges(spark, [(0, 1), (1, 2), (1, 3)])
    from minigraph_spark.plans.linkpred import adamic_adar

    aa = adamic_adar(edges)
    got = {(r["u"], r["v"]): (r["common_neighbors"], r["aa_score"])
           for r in aa.collect()}
    aa.unpersist()
    s = 1 / math.log(3)
    assert set(got) == {(0, 2), (0, 3), (2, 3)}
    for cn, sc in got.values():
        assert cn == 1 and abs(sc - s) < 1e-12

    arr = make_rmat_edges_np(power=8, num_edges=2000, seed=17)
    big = _spark_edges(spark, arr)
    one = adamic_adar(big, top_k=25)
    rows1 = [(r["u"], r["v"], r["rank"]) for r in one.collect()]
    one.unpersist()
    four = adamic_adar(big, top_k=25, center_buckets=4)
    rows4 = [(r["u"], r["v"], r["rank"]) for r in four.collect()]
    four.unpersist()
    assert sorted(rows1) == sorted(rows4)


def test_adamic_adar_hub_cap_default(spark):
    import math

    # hub fixture: vertex 0 links 20% of a 60-vertex graph... scaled down —
    # hub 0 adjacent to ALL of 1..40 (deg 40), plus a small clique-free
    # wedge structure 1-2-3 through center 2 (deg 3: neighbors 0,1,3).
    # With max_center_degree=5, hub 0 is EXCLUDED as a center: none of the
    # C(40,2)=780 hub wedge pairs appear; only center 2 contributes (1,3).
    hub_edges = [(0, i) for i in range(1, 41)] + [(1, 2), (2, 3)]
    edges = _spark_edges(spark, hub_edges)
    from minigraph_spark.plans.linkpred import (
        DEFAULT_MAX_CENTER_DEGREE,
        adamic_adar,
        link_scores,
    )

    capped = adamic_adar(edges, max_center_degree=5)
    got = {(r["u"], r["v"]): (r["common_neighbors"], r["aa_score"])
           for r in capped.collect()}
    capped.unpersist()
    # center 2 has deg 3 (0, 1, 3): wedge pairs (0,1),(0,3) are ADJACENT
    # (hub edges) -> dropped; (1,3) is the one scored prediction
    assert set(got) == {(1, 3)}
    cn, sc = got[(1, 3)]
    assert cn == 1 and abs(sc - 1 / math.log(3)) < 1e-12

    # uncapped (None): hub 0 contributes its 780 wedge pairs; the
    # non-adjacent ones among 1..40 (i.e. all but (1,2),(2,3)) survive
    exact = adamic_adar(edges, max_center_degree=None)
    n_exact = exact.count()
    exact.unpersist()
    # 780 hub pairs - 2 adjacent ((1,2),(2,3)); (1,3) is already among them
    assert n_exact == 780 - 2

    # the default IS the documented constant, and a default-args run on a
    # sub-cap graph equals the explicit uncapped run (cap is inactive
    # below the threshold)
    assert DEFAULT_MAX_CENTER_DEGREE == 1000
    arr = make_rmat_edges_np(power=8, num_edges=2000, seed=17)
    big = _spark_edges(spark, arr)
    dflt = adamic_adar(big, top_k=25)
    rows_d = [(r["u"], r["v"], r["rank"]) for r in dflt.collect()]
    dflt.unpersist()
    uncap = adamic_adar(big, top_k=25, max_center_degree=None)
    rows_u = [(r["u"], r["v"], r["rank"]) for r in uncap.collect()]
    uncap.unpersist()
    assert sorted(rows_d) == sorted(rows_u)

    # link_scores shares the cap; jaccard/pref_attachment keep TRUE degrees
    ls = link_scores(edges, max_center_degree=5)
    rows = {(r["u"], r["v"]): r for r in ls.collect()}
    ls.unpersist()
    assert set(rows) == {(1, 3)}
    r = rows[(1, 3)]
    # deg(1) = 2 (hub + 2), deg(3) = 2 (hub + 2): jaccard 1/(2+2-1)
    assert abs(r["jaccard"] - 1 / 3) < 1e-12
    assert r["pref_attachment"] == 4


def test_assortativity_matches_numpy(spark):
    arr = make_rmat_edges_np(power=8, num_edges=2000, seed=23)
    edges = _spark_edges(spark, arr)
    from minigraph_spark.plans.stats import degree_assortativity

    got = degree_assortativity(edges).collect()[0]["assortativity"]

    # NumPy oracle: same closure, same both-directions convention
    pairs = {(min(s, d), max(s, d)) for s, d in arr if s != d}
    e = np.array(sorted(pairs))
    und = np.vstack([e, e[:, ::-1]])
    deg = np.bincount(und[:, 0].astype(int))
    x, y = deg[und[:, 0]], deg[und[:, 1]]
    want = float(np.corrcoef(x, y)[0, 1])
    assert abs(got - want) < 1e-9


def test_ktruss_matches_numpy_oracle(spark):
    from minigraph_spark.plans.ktruss import run_ktruss

    # 5-clique + pendant triangle sharing one vertex: 4-truss = the clique
    clq = [(a, b) for a in range(5) for b in range(5) if a < b]
    extra = [(4, 10), (4, 11), (10, 11)]
    edges = _spark_edges(spark, clq + extra)
    got = {(r["src"], r["dst"]) for r in run_ktruss(edges, k=4).collect()}
    assert got == set(clq)
    # trivial truss: k<=2 returns the whole closure
    assert run_ktruss(edges, k=2).count() == len(clq) + len(extra)

    # one R-MAT oracle check (k=4: two changed peel rounds + fixpoint probe);
    # kept small — each peel round is a full multi-stage Spark job
    arr = make_rmat_edges_np(power=7, num_edges=1500, seed=29)
    big = _spark_edges(spark, arr)
    got = {(int(r["src"]), int(r["dst"]))
           for r in run_ktruss(big, k=4).collect()}
    assert got == oracle.ktruss_edges(arr, 4)

    # the support-maintenance peel (default) and the re-enumerating peel
    # reach the identical fixpoint — k=5 forces a deeper peel where the
    # decrement bookkeeping (multi-dropped-edge triangles, support-0 edges,
    # dying triangles with a dropped third edge) actually exercises
    got_full = {(int(r["src"]), int(r["dst"]))
                for r in run_ktruss(big, k=5, method="full").collect()}
    got_inc = {(int(r["src"]), int(r["dst"]))
               for r in run_ktruss(big, k=5, method="incremental").collect()}
    assert got_inc == got_full == oracle.ktruss_edges(arr, 5)


def test_hits_matches_numpy_oracle(spark):
    from minigraph_spark.plans.hits import run_hits

    arr = make_rmat_edges_np(power=7, num_edges=800, seed=31)
    res = run_hits(_spark_edges(spark, arr), iters=3)
    got = {r["vid"]: (r["auth"], r["hub"]) for r in res.state.collect()}
    want = oracle.hits(arr, iters=3)
    assert set(got) == set(want)
    for v, (a, h) in want.items():
        assert abs(got[v][0] - a) < 1e-9 and abs(got[v][1] - h) < 1e-9
    assert res.iterations == 3

    # convergence mode reaches the (unique, for this graph) principal
    # eigenvector vicinity: successive-sweep delta really is <= tol
    res_c = run_hits(_spark_edges(spark, arr), iters=None, tol=1e-7)
    assert res_c.converged and 3 < res_c.iterations <= 100


def test_hits_empty_and_tiny(spark):
    from minigraph_spark.plans.hits import run_hits

    empty = _spark_edges(spark, np.empty((0, 2), dtype=np.int64))
    res = run_hits(empty, iters=3)
    assert res.state.count() == 0 and res.iterations == 0

    # one edge: all mass on the one authority / the one hub
    res1 = run_hits(_spark_edges(spark, np.array([[5, 9]])), iters=2)
    got = {r["vid"]: (r["auth"], r["hub"]) for r in res1.state.collect()}
    assert got == {5: (0.0, 1.0), 9: (1.0, 0.0)}


def test_scc_matches_numpy_oracle(spark):
    from minigraph_spark.plans.scc import run_scc

    # two 2-cycles bridged by a DAG path, plus a pure chain (the coloring-
    # SCC pathology — must resolve in ONE refinement round here)
    e = np.array([[1, 2], [2, 1], [2, 3], [3, 4], [4, 3], [5, 6], [6, 7]])
    got = {r["vid"]: r["scc_id"] for r in run_scc(_spark_edges(spark, e)).collect()}
    assert got == oracle.scc_labels(e)

    # self-loop-only vertex is its own singleton component
    e2 = np.array([[9, 9], [1, 2]])
    got2 = {r["vid"]: r["scc_id"] for r in run_scc(_spark_edges(spark, e2)).collect()}
    assert got2 == {9: 9, 1: 1, 2: 2}


def test_scc_rmat_matches_numpy_oracle(spark):
    from minigraph_spark.plans.scc import run_scc

    arr = make_rmat_edges_np(power=7, num_edges=1200, seed=17)
    got = {int(r["vid"]): int(r["scc_id"])
           for r in run_scc(_spark_edges(spark, arr)).collect()}
    assert got == oracle.scc_labels(arr)


def test_harmonic_centrality_matches_numpy(spark):
    from minigraph_spark.plans.centrality import harmonic_centrality, landmark_distances

    arr = make_rmat_edges_np(power=6, num_edges=300, seed=11)
    seeds = [int(arr[0, 0]), int(arr[5, 1]), int(arr[9, 0])]
    seeds = list(dict.fromkeys(seeds))[:3]
    got = {r["vid"]: r["harmonic"]
           for r in harmonic_centrality(_spark_edges(spark, arr), seeds).collect()}
    want: dict[int, float] = {}
    for s in seeds:
        for v, d in oracle.bfs_dist(arr, s).items():
            if d > 0:
                want[v] = want.get(v, 0.0) + 1.0 / d
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9

    # distance face: seed rows at dist 0, unreachable absent
    d = landmark_distances(_spark_edges(spark, arr), seeds[:1])
    row0 = d.filter((d.vid == seeds[0]) & (d.seed == seeds[0])).collect()
    assert len(row0) == 1 and row0[0]["dist"] == 0


def test_anf_matches_exact_ball_oracle(spark):
    from minigraph_spark.plans.anf import anf_estimates, run_anf

    arr = make_rmat_edges_np(power=6, num_edges=400, seed=13)
    res = run_anf(_spark_edges(spark, arr), depth=3)
    got = {r["vid"]: r["est"] for r in anf_estimates(res.state).collect()}
    want = oracle.anf_estimates_exact(arr, depth=3)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


def test_nf_curve_and_effective_diameter(spark):
    from minigraph_spark.plans.anf import effective_diameter, neighborhood_function

    arr = make_rmat_edges_np(power=6, num_edges=400, seed=13)
    got = neighborhood_function(_spark_edges(spark, arr), max_depth=4)
    want = oracle.nf_curve_exact(arr, max_depth=4)
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, g), (_, w) in zip(got, want):
        assert abs(g - w) < 1e-9, (got, want)

    # effective diameter lands inside the probed horizon and interpolates
    ed = effective_diameter(_spark_edges(spark, arr), q=0.9, max_depth=6)
    assert 0 < ed <= 6


def test_landmark_betweenness_matches_brandes(spark):
    from minigraph_spark.plans.betweenness import landmark_betweenness

    # diamond + tail: two shortest paths split the dependency
    e = np.array([[0, 1], [0, 2], [1, 3], [2, 3], [3, 4]])
    got = {r["vid"]: r["betweenness"]
           for r in landmark_betweenness(_spark_edges(spark, e), [0]).collect()}
    assert got == {1: 1.0, 2: 1.0, 3: 1.0, 4: 0.0}

    arr = make_rmat_edges_np(power=6, num_edges=350, seed=23)
    seeds = sorted({int(arr[0, 0]), int(arr[3, 1]), int(arr[7, 0])})
    got = {r["vid"]: r["betweenness"]
           for r in landmark_betweenness(_spark_edges(spark, arr), seeds).collect()}
    want = oracle.landmark_betweenness(arr, seeds)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])


def test_modularity_two_cliques(spark):
    from minigraph_spark.plans.modularity import modularity

    def clique(vs):
        return [(a, b) for a in vs for b in vs if a < b]

    edges = clique(range(4)) + clique(range(10, 14)) + [(3, 10)]
    labels = [(v, 0) for v in range(4)] + [(v, 1) for v in range(10, 14)]
    ldf = spark.createDataFrame(labels, "vid long, label long")
    got = modularity(_spark_edges(spark, np.array(edges)), ldf).collect()[0][0]
    # closed form: m=13, e_0=e_1=6, deg_0=13 (3*4+1), deg_1=13
    want = 2 * (6 / 13 - (13 / 26) ** 2)
    assert abs(got - want) < 1e-12

    # empty graph guard
    empty = _spark_edges(spark, np.empty((0, 2), dtype=np.int64))
    assert modularity(empty, ldf).collect()[0][0] == 0.0


def test_conductance_two_cliques(spark):
    from minigraph_spark.plans.modularity import conductance

    def clique(vs):
        return [(a, b) for a in vs for b in vs if a < b]

    # two 4-cliques + one bridge: m=13, vol(c)=13 each (3*4+1 bridge
    # endpoint), cut(c)=1 each, min(vol, 2m-vol)=13
    edges = clique(range(4)) + clique(range(10, 14)) + [(3, 10)]
    labels = [(v, 0) for v in range(4)] + [(v, 1) for v in range(10, 14)]
    ldf = spark.createDataFrame(labels, "vid long, label long")
    rows = {r["label"]: r
            for r in conductance(_spark_edges(spark, np.array(edges)), ldf).collect()}
    assert set(rows) == {0, 1}
    for c in (0, 1):
        assert rows[c]["cut"] == 1 and rows[c]["vol"] == 13
        assert abs(rows[c]["conductance"] - 1 / 13) < 1e-12

    # single community holding all endpoints: cut=0, min(vol, 2m-vol)=0 -> 0.0
    one = spark.createDataFrame(
        [(v, 9) for v in list(range(4)) + list(range(10, 14))],
        "vid long, label long",
    )
    rows1 = conductance(_spark_edges(spark, np.array(edges)), one).collect()
    assert len(rows1) == 1
    assert rows1[0]["cut"] == 0 and rows1[0]["conductance"] == 0.0


def test_reciprocity_tiny(spark):
    import pandas as pd

    from minigraph_spark.plans.stats import reciprocity

    # distinct non-loop links: 0->1, 1->0, 1->2 (the 2->2 loop and the
    # duplicate 0->1 are dropped); reciprocal pair covers 2 of 3 links
    df = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1, 1, 2, 0], "dst": [1, 0, 2, 2, 1]}),
        schema="src long, dst long",
    )
    r = reciprocity(df).collect()[0]
    assert r["n_edges"] == 3 and r["n_reciprocal"] == 2
    assert abs(r["reciprocity"] - 2 / 3) < 1e-12

    empty = _spark_edges(spark, np.empty((0, 2), dtype=np.int64))
    r0 = reciprocity(empty).collect()[0]
    assert (r0["n_edges"], r0["n_reciprocal"], r0["reciprocity"]) == (0, 0, 0.0)


def test_neighbor_feature_mean_tiny(spark):
    from minigraph_spark.operators.feature_agg import neighbor_feature_mean

    feats = spark.createDataFrame(
        [(0, [1.0, 10.0]), (1, [3.0, 30.0]), (2, [5.0, 50.0])],
        "vec_id long, embedding array<double>",
    )
    edges = _spark_edges(spark, np.array([[0, 2], [1, 2], [2, 0]]))
    got = {r["vid"]: (r["m00"], r["m01"])
           for r in neighbor_feature_mean(edges, feats).collect()}
    assert got == {2: (2.0, 20.0), 0: (5.0, 50.0)}


def test_closeness_matches_numpy(spark):
    from minigraph_spark.plans.centrality import closeness_centrality

    arr = make_rmat_edges_np(power=6, num_edges=300, seed=11)
    seeds = list(dict.fromkeys([int(arr[0, 0]), int(arr[5, 1]), int(arr[9, 0])]))[:3]
    got = {r["vid"]: (r["n_probes"], r["closeness"])
           for r in closeness_centrality(_spark_edges(spark, arr), seeds).collect()}
    acc: dict[int, list] = {}
    for s in seeds:
        for v, d in oracle.bfs_dist(arr, s).items():
            if d > 0:
                acc.setdefault(v, []).append(d)
    assert set(got) == set(acc)
    for v, ds in acc.items():
        assert got[v][0] == len(ds)
        assert abs(got[v][1] - len(ds) / sum(ds)) < 1e-9


def test_eigenvector_matches_numpy(spark):
    from minigraph_spark.plans.centrality import run_eigenvector

    arr = make_rmat_edges_np(power=6, num_edges=300, seed=19)
    got = {r["vid"]: r["score"]
           for r in run_eigenvector(_spark_edges(spark, arr), iters=3).collect()}
    # NumPy mirror: symmetrized simple closure, 3 L2-normalized sweeps
    und = {(a, b) for a, b in map(tuple, arr) if a != b}
    und |= {(b, a) for a, b in und}
    ids = sorted({v for e in und for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    import numpy as _np
    A = _np.zeros((len(ids), len(ids)))
    for a, b in und:
        A[idx[b], idx[a]] = 1.0
    x = _np.ones(len(ids))
    for _ in range(3):
        x = A @ x
        x = x / _np.sqrt((x * x).sum())
    assert set(got) == set(ids)
    for v in ids:
        assert abs(got[v] - x[idx[v]]) < 1e-9


def test_katz_matches_numpy(spark):
    from minigraph_spark.plans.centrality import run_katz

    arr = make_rmat_edges_np(power=6, num_edges=300, seed=23)
    got = {r["vid"]: r["score"]
           for r in run_katz(_spark_edges(spark, arr), alpha=0.1, beta=1.0,
                             iters=3).collect()}
    want = oracle.katz_scores(arr, alpha=0.1, beta=1.0, iters=3)
    assert set(got) == set(want)
    for v, s in want.items():
        assert abs(got[v] - s) < 1e-9


def test_mis_matches_numpy(spark):
    from minigraph_spark.plans.mis import run_mis

    arr = make_rmat_edges_np(power=6, num_edges=300, seed=29)
    got = {r["vid"] for r in run_mis(_spark_edges(spark, arr)).collect()}
    want, _rounds = oracle.mis_greedy(arr)
    assert got == want


def test_mis_is_maximal_and_independent(spark):
    from minigraph_spark.plans.mis import run_mis

    arr = make_rmat_edges_np(power=5, num_edges=200, seed=31)
    mis = {r["vid"] for r in run_mis(_spark_edges(spark, arr)).collect()}
    und = {(a, b) for a, b in map(tuple, arr) if a != b}
    und |= {(b, a) for a, b in und}
    assert not any(a in mis and b in mis for a, b in und)  # independent
    verts = {v for e in und for v in e}
    nbrs = {v: {b for a, b in und if a == v} for v in verts}
    assert all(v in mis or (nbrs[v] & mis) for v in verts)  # maximal


def test_scc_condensation_matches_numpy(spark):
    from minigraph_spark.plans.scc import condensation

    arr = make_rmat_edges_np(power=6, num_edges=250, seed=37)
    got = {(r["src_scc"], r["dst_scc"]) for r in
           condensation(_spark_edges(spark, arr)).collect()}
    lab = oracle.scc_labels(arr)
    want = {(lab[a], lab[b]) for a, b in map(tuple, arr)
            if a != b and lab[a] != lab[b]}
    assert got == want
    # the condensation is a DAG: no pair appears in both directions
    assert not any((b, a) in got for a, b in got)


def test_dag_layers_matches_numpy(spark):
    import numpy as _np

    from minigraph_spark.plans.dag import longest_path_layers

    arr = make_rmat_edges_np(power=6, num_edges=300, seed=41)
    a = _np.minimum(arr[:, 0], arr[:, 1])
    b = _np.maximum(arr[:, 0], arr[:, 1])
    m = a != b
    dag = _np.stack([a[m], b[m]], axis=1)
    got = {r["vid"]: r["layer"] for r in
           longest_path_layers(_spark_edges(spark, dag)).collect()}
    want, depth = oracle.dag_layers(dag)
    assert got == want
    assert max(got.values()) == depth


def test_dag_layers_detects_cycle(spark):
    import pytest as _pytest

    from minigraph_spark.plans.dag import longest_path_layers

    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    with _pytest.raises(RuntimeError, match="cycle"):
        longest_path_layers(cyc, max_rounds=10)


def test_mis_self_loop_only_vertex_is_member(spark):
    import numpy as _np

    from minigraph_spark.plans.mis import run_mis

    arr = _np.array([[1, 2], [3, 3]])
    got = {r["vid"] for r in run_mis(_spark_edges(spark, arr)).collect()}
    want, _ = oracle.mis_greedy(arr)
    assert got == want
    assert 3 in got  # self-loop-only vertex: isolated in the simple closure

"""The min-label fragment kernel (operators/csr.py), run_wcc_csr (run_wcc
at a given width) and run_bfs at every width: results must agree exactly
with the NumPy oracle and across widths, and WCC's kernel must reach the
one-fragment fixpoint in one iteration (the PEval inner-loop payoff,
wcc_vc_batch.cpp:139-148)."""

import numpy as np
import pandas as pd
import pytest

from minigraph_spark import oracle
from minigraph_spark.fixtures import (
    TINY7_EDGES,
    make_rmat_edges_np,
    make_transcripts,
    tiny7_edges,
)
from minigraph_spark.operators.csr import make_minplus_kernel, run_wcc_csr
from minigraph_spark.operators.project import project_edges
from minigraph_spark.operators.superstep import Graph, persistent_rdd_ids
from minigraph_spark.plans.bfs import run_bfs
from minigraph_spark.plans.wcc import run_wcc
from tests.conftest import coo_fragment, labels_dict


def _spark_edges(spark, arr):
    return spark.createDataFrame(
        pd.DataFrame(arr, columns=["src", "dst"]), schema="src long, dst long"
    )


def test_build_csr_block_tiny7():
    """tiny7 as a Fragment: the in-edge CSR the fragment kernels gather on."""
    e = np.array(TINY7_EDGES, dtype=np.int64)
    frag = coo_fragment(e[:, 0], e[:, 1])
    assert frag.vid.tolist() == [0, 1, 2, 3, 4]
    # in-degrees of tiny7: 0<-1 ; 1<-3,4 ; 2<-0,4 ; 3<-0 ; 4<-3
    assert np.bincount(frag.dst, minlength=5).tolist() == [1, 2, 2, 1, 1]
    # in-neighbor sets per vertex (order within a segment not significant)
    segs = [set(frag.vid[frag.src[frag.dst == i]].tolist()) for i in range(5)]
    assert segs == [{1}, {3, 4}, {0, 4}, {0}, {3}]


def test_wcc_csr_tiny7(spark):
    res = run_wcc_csr(tiny7_edges(spark), num_partitions=4)
    assert labels_dict(res.state) == oracle.wcc_labels(np.array(TINY7_EDGES))
    assert res.converged


def test_wcc_csr_matches_dataframe_path_rmat(spark):
    arr = make_rmat_edges_np(10, 3000, seed=7)
    e = _spark_edges(spark, arr)
    csr = run_wcc_csr(e, num_partitions=8)
    plain = run_wcc(e)
    assert labels_dict(csr.state) == labels_dict(plain.state)
    assert csr.converged and plain.converged


def test_wcc_csr_fewer_rounds_on_chains(spark):
    """A 128-vertex path graph at width 8: plain min-label propagation
    needs ~diameter (127) global rounds; run_wcc's hooking and pointer
    jumping must converge in a small number of them."""
    n = 128
    arr = np.stack([np.arange(n - 1), np.arange(1, n)], axis=1).astype(np.int64)
    csr = run_wcc_csr(_spark_edges(spark, arr), num_partitions=8)
    got = labels_dict(csr.state)
    assert got == {v: 0 for v in range(n)}
    assert csr.converged
    assert csr.iterations <= 10


def test_wcc_csr_on_transcript_projection(spark):
    """CSR WCC over the transcript->edge projection agrees with the NumPy
    oracle (one component per conversation when tool edges are off)."""
    t = make_transcripts(spark, 40, seed=11)
    e = project_edges(t, with_tool_edges=False)
    arr = np.array([(r["src"], r["dst"]) for r in e.collect()], dtype=np.int64)
    csr = run_wcc_csr(e, num_partitions=8)
    assert labels_dict(csr.state) == oracle.wcc_labels(arr)


def test_bfs_csr_matches_run_bfs_and_weighted(spark):
    """The width-4 superstep loop and the automatic width give the same BFS
    levels and weighted SSSP distances on a random digraph; an edge with a
    NULL weight carries no message at either width."""
    from pyspark.sql import functions as F

    from minigraph_spark.fixtures import make_rmat_edges

    e = make_rmat_edges(spark, 7, 600, seed=13)
    root = int(e.agg(F.min("src")).collect()[0][0])
    with Graph(e, num_partitions=4) as g:
        got = labels_dict(run_bfs(g, root).state)
    want = labels_dict(run_bfs(e, root).state)
    assert got == want

    weight = F.lit(1) + (F.col("src") * 31 + F.col("dst")) % 9
    has_weight = (F.col("src") + F.col("dst")) % 7 != 0
    ew = e.withColumn("w", F.when(has_weight, weight).cast("long"))
    with Graph(ew, num_partitions=4) as g:
        got_w = labels_dict(run_bfs(g, root, weight_col="w").state)
    want_w = labels_dict(run_bfs(ew, root, weight_col="w").state)
    assert got_w == want_w


def test_bfs_csr_range_partition_cuts_rounds_on_path(spark):
    """BFS runs the frontier loop at every width, one hop per superstep:
    on a 60-edge path the automatic width and width 4 give the distances
    {i: i} in the same L + 1 rounds (the last one finds no frontier)."""
    L = 60
    path = spark.createDataFrame([(i, i + 1) for i in range(L)], "src long, dst long")
    auto = run_bfs(path, root=0)
    with Graph(path, num_partitions=4) as g:
        wide = run_bfs(g, root=0)
    assert labels_dict(auto.state) == {i: i for i in range(L + 1)}
    assert labels_dict(wide.state) == labels_dict(auto.state)
    assert auto.converged and wide.converged
    assert auto.iterations == wide.iterations == L + 1


def test_bfs_negative_weights_do_not_depend_on_width(spark):
    """Negative weights: a vertex reached only through an unreached one
    stays NULL, and a negative cycle is cut by max_iter, at width 1 as in
    the width-2 loop."""
    def run(rows, w, max_iter):
        e = spark.createDataFrame(rows, "src long, dst long, w long")
        with Graph(e, num_partitions=w) as g:
            res = run_bfs(g, root=0, weight_col="w", max_iter=max_iter)
        return labels_dict(res.state), res.converged

    probe = [(0, 1, 1), (5, 6, -3), (6, 2, 1), (1, 2, 4)]
    assert run(probe, 1, 30) == run(probe, 2, 30) == (
        {0: 0, 1: 1, 2: 5, 5: None, 6: None}, True
    )
    cycle = [(0, 1, 1), (1, 2, -2), (2, 1, 1), (2, 3, 1)]
    got, converged = run(cycle, 1, 8)
    assert (got, converged) == run(cycle, 2, 8)
    assert not converged and got[0] == 0 and got[1] < 0


def test_minplus_block_max_combiner():
    """write_max parity: max-label propagation through the generic kernel
    converges each fragment to the component max (pure NumPy-level check,
    no Spark needed)."""
    # two components: {1,2,3} (cycle) and {10, 11}
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10)]
    frag = coo_fragment([a for a, _ in edges], [b for _, b in edges])

    def run(op):
        kernel = make_minplus_kernel(op=op)
        assert kernel.fixpoint
        value, _ = kernel.step(frag, frag.vid.copy(), {})
        return dict(zip(frag.vid.tolist(), value.tolist()))

    got = run("max")
    assert got == {1: 3, 2: 3, 3: 3, 10: 11, 11: 11}

    got_min = run("min")
    # directed cycle {1,2,3} contracts to 1; 10<->11 contracts to 10
    assert got_min == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def _at_width_4(run):
    """``run`` on a width-4 Graph over the edges, closed afterwards."""
    def call(e):
        with Graph(e, num_partitions=4) as g:
            return run(g)

    return call


LEAK_CALLS = {
    "wcc_hook_jump": _at_width_4(lambda g: run_wcc(g, max_iter=3)),
    # directed WCC runs min-label + jump without hooking
    "wcc_jump": _at_width_4(lambda g: run_wcc(g, directed=True, max_iter=3)),
    "wcc_csr": lambda e: run_wcc_csr(e, num_partitions=4, max_rounds=3),
    "bfs_csr": _at_width_4(lambda g: run_bfs(g, root=0, max_iter=5)),
    "wcc_one_fragment": lambda e: run_wcc(e),
}


@pytest.mark.parametrize("call", list(LEAK_CALLS))
def test_run_leaves_only_result_state_blocks(spark, call):
    """Every round's blocks are freed, the lazy checkpoints an apply builds
    included: a finished run leaves exactly one new persistent RDD, the
    result state's."""
    e = _spark_edges(spark, make_rmat_edges_np(10, 3000, seed=7)).persist()
    e.count()
    before = persistent_rdd_ids(spark)
    res = LEAK_CALLS[call](e)
    assert len(persistent_rdd_ids(spark) - before) == 1, call
    assert res.iterations >= 1
    e.unpersist()

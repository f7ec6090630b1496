"""Arrow-UDF CSR path (operators/csr.py): the CSR-block WCC must agree
exactly with the pure-DataFrame path and the NumPy oracle, in far fewer
global rounds on path-shaped graphs (the PEval inner-loop payoff,
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
from minigraph_spark.operators.csr import build_csr_block, run_bfs_csr, run_wcc_csr
from minigraph_spark.operators.project import project_edges
from minigraph_spark.operators.superstep import persistent_rdd_ids
from minigraph_spark.plans.wcc import run_wcc
from tests.conftest import labels_dict


def _spark_edges(spark, arr):
    return spark.createDataFrame(
        pd.DataFrame(arr, columns=["src", "dst"]), schema="src long, dst long"
    )


def test_build_csr_block_tiny7():
    e = np.array(TINY7_EDGES, dtype=np.int64)
    verts, offsets, in_src, src_l, dst_l = build_csr_block(e[:, 0], e[:, 1])
    assert verts.tolist() == [0, 1, 2, 3, 4]
    # in-degrees of tiny7: 0<-1 ; 1<-3,4 ; 2<-0,4 ; 3<-0 ; 4<-3
    assert np.diff(offsets).tolist() == [1, 2, 2, 1, 1]
    # in-neighbor sets per vertex (order within a segment not significant)
    segs = [set(in_src[offsets[i]:offsets[i + 1]].tolist()) for i in range(5)]
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
    """A 128-vertex path graph: the pure min-label path needs ~diameter
    (127) global rounds; local path contraction inside CSR blocks must
    converge in a small number of global rounds."""
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
    """Generalized min-plus CSR kernel: BFS levels and weighted SSSP equal
    the pure-DataFrame plans on a random digraph."""
    from pyspark.sql import functions as F

    from minigraph_spark.fixtures import make_rmat_edges
    from minigraph_spark.operators.csr import run_bfs_csr
    from minigraph_spark.plans.bfs import run_bfs

    e = make_rmat_edges(spark, 7, 600, seed=13)
    root = int(e.agg(F.min("src")).collect()[0][0])
    got = {r["vid"]: r["value"] for r in run_bfs_csr(e, root, num_partitions=4).state.collect()}
    want = {r["vid"]: r["value"] for r in run_bfs(e, root, engine_kwargs={"salt_skew": False}).state.collect()}
    assert got == want

    ew = e.withColumn("w", (F.lit(1) + (F.col("src") * 31 + F.col("dst")) % 9).cast("long"))
    got_w = {
        r["vid"]: r["value"]
        for r in run_bfs_csr(ew, root, weight_col="w", num_partitions=4).state.collect()
    }
    want_w = {
        r["vid"]: r["value"]
        for r in run_bfs(ew, root, weight_col="w", engine_kwargs={"salt_skew": False}).state.collect()
    }
    assert got_w == want_w


def test_bfs_csr_range_partition_cuts_rounds_on_path(spark):
    """On a path graph with contiguous ids, range fragments (the reference's
    edge-cut rule) contract whole runs locally: the CSR path must finish in
    strictly fewer global rounds than the one-hop-per-superstep run_bfs."""
    from minigraph_spark.operators.csr import run_bfs_csr
    from minigraph_spark.plans.bfs import run_bfs

    L = 60
    path = spark.createDataFrame([(i, i + 1) for i in range(L)], "src long, dst long")
    csr = run_bfs_csr(path, root=0, num_partitions=4, partition="range")
    plain = run_bfs(path, root=0, engine_kwargs={"salt_skew": False})
    got = {r["vid"]: r["value"] for r in csr.state.collect()}
    assert got == {i: i for i in range(L + 1)}
    assert csr.converged and plain.converged
    assert csr.iterations < plain.iterations
    assert csr.iterations <= 6  # ~num_fragments + verification round


def test_minplus_block_max_combiner():
    """write_max parity: max-label propagation through the generic kernel
    converges each fragment to the component max (pure pandas-level check,
    no Spark needed)."""
    import numpy as np
    import pandas as pd

    from minigraph_spark.operators.csr import make_minplus_block

    # two components: {1,2,3} (cycle) and {10, 11}
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10)]
    pdf = pd.DataFrame(
        {
            "src": [a for a, _ in edges],
            "dst": [b for _, b in edges],
            "src_state": [a for a, _ in edges],
            "dst_state": [b for _, b in edges],
        }
    )
    out = make_minplus_block(None, op="max")(pdf)
    got = dict(zip(out["vid"], out["value"]))
    assert got == {1: 3, 2: 3, 3: 3, 10: 11, 11: 11}

    out_min = make_minplus_block(None, op="min")(pdf)
    got_min = dict(zip(out_min["vid"], out_min["value"]))
    # directed cycle {1,2,3} contracts to 1; 10<->11 contracts to 10
    assert got_min == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


LEAK_CALLS = {
    "wcc_hook_jump": lambda e: run_wcc(e, max_iter=3, engine_kwargs={"num_partitions": 4}),
    "wcc_jump": lambda e: run_wcc(
        e, max_iter=3, hooking=False, engine_kwargs={"num_partitions": 4}
    ),
    "wcc_csr": lambda e: run_wcc_csr(e, num_partitions=4, max_rounds=3),
    "bfs_csr": lambda e: run_bfs_csr(e, root=0, num_partitions=4, max_rounds=5),
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

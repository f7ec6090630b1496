"""Checkpoint/resume (SURVEY.md §5 item 4; north-rule resumability).

Kill-and-resume: run K iterations with snapshots, restart from the
checkpoint dir, assert the final state is identical to an uninterrupted
run. Also checks the snapshot layout: per-iteration dirs, lineage.json
with per-partition row counts + fingerprints (commit marker written last),
and the metrics.jsonl sidecar."""

import json
import os

import numpy as np
import pandas as pd

from minigraph_spark import checkpoint as ckpt
from minigraph_spark.fixtures import make_rmat_edges_np
from minigraph_spark.operators.csr import run_wcc_csr
from minigraph_spark.operators.superstep import Graph
from minigraph_spark.plans.bfs import run_bfs
from minigraph_spark.plans.lpa import run_lpa
from minigraph_spark.plans.pagerank import run_pagerank
from minigraph_spark.plans.wcc import run_wcc, run_wcc_decremental


def _edges(spark, seed=9):
    arr = make_rmat_edges_np(9, 1500, seed=seed)
    return spark.createDataFrame(
        pd.DataFrame(arr, columns=["src", "dst"]), schema="src long, dst long"
    )


# the small test graphs run in one-fragment mode at the default width;
# pinning two partitions keeps the same checks on the superstep loop
LOOP = {"num_partitions": 2}


def _vals(state):
    return {r["vid"]: r["value"] for r in state.collect()}


def _pagerank_kill_and_resume(spark, tmp_path, kw):
    e = _edges(spark).persist()
    ck = str(tmp_path / "pr_ck")
    with Graph(e, **kw) as g:
        full = run_pagerank(g, tol=1e-9, max_iter=12)
    # "killed" run: stops after 6 iterations, snapshots every 2
    with Graph(e, checkpoint_every=2, **kw) as g:
        run_pagerank(g, tol=1e-9, max_iter=6, checkpoint_dir=ck)
    found = ckpt.latest(ck)
    assert found is not None and found[0] == 5
    with Graph(e, checkpoint_every=2, **kw) as g:
        resumed = run_pagerank(g, tol=1e-9, max_iter=12, checkpoint_dir=ck)
    assert resumed.iterations == 12
    assert [m.iteration for m in resumed.metrics] == list(range(6, 12))
    a, b = _vals(full.state), _vals(resumed.state)
    assert a.keys() == b.keys()
    assert all(np.isclose(a[k], b[k], rtol=0, atol=1e-12) for k in a)


def test_pagerank_kill_and_resume(spark, tmp_path):
    _pagerank_kill_and_resume(spark, tmp_path, {})


def test_pagerank_kill_and_resume_loop(spark, tmp_path):
    _pagerank_kill_and_resume(spark, tmp_path, LOOP)


def test_state_storage_ser_matches_deser(spark):
    """state_storage='ser' (serialized state blocks for huge-V graphs) must
    be a pure storage-level change: identical results to the default."""
    e = _edges(spark, seed=6).persist()
    a = run_wcc(e)
    with Graph(e, state_storage="ser") as g:
        b = run_wcc(g)
        pb = run_pagerank(g, tol=1e-9, max_iter=12)
    assert _vals(a.state) == _vals(b.state)
    pa = run_pagerank(e, tol=1e-9, max_iter=12)
    va, vb = _vals(pa.state), _vals(pb.state)
    assert va.keys() == vb.keys()
    assert all(
        np.isclose(va[k], vb[k], rtol=0, atol=0, equal_nan=True) for k in va
    )


def _wcc_resume_exact(spark, tmp_path, run, killed_at=3):
    """``run(edges, max_iter, checkpoint_dir)`` is one WCC face; the killed
    run stops after ``killed_at`` iterations, by which it has snapshotted."""
    e = _edges(spark, seed=4).persist()
    ck = str(tmp_path / "wcc_ck")
    full = run(e, 50, None)
    run(e, killed_at, ck)
    newest = ckpt.latest(ck)[0]
    resumed = run(e, 50, ck)
    assert _vals(full.state) == _vals(resumed.state)
    assert resumed.converged
    # resume starts right after the newest snapshot
    assert resumed.metrics[0].iteration == newest + 1


def _run_wcc(kw):
    def run(e, n, ck):
        with Graph(e, checkpoint_every=1, **kw) as g:
            return run_wcc(g, max_iter=n, checkpoint_dir=ck)

    return run


def test_wcc_resume_exact(spark, tmp_path):
    _wcc_resume_exact(spark, tmp_path, _run_wcc({}))


def test_wcc_resume_exact_loop(spark, tmp_path):
    _wcc_resume_exact(spark, tmp_path, _run_wcc(LOOP))


def test_wcc_csr_resume_exact(spark, tmp_path):
    """The CSR path snapshots through the engine at its default cadence
    (every 5 iterations, and at convergence), so a run capped at 5 rounds
    always leaves one."""
    _wcc_resume_exact(
        spark, tmp_path,
        lambda e, n, ck: run_wcc_csr(
            e, num_partitions=2, max_rounds=n, checkpoint_dir=ck
        ),
        killed_at=5,
    )


def test_bfs_resume_exact(spark, tmp_path):
    """A run_bfs snapshot stores unreached vertices as NULL; resuming from
    it at the automatic width (one fragment) ends where the uninterrupted
    run does, unreached vertices still NULL."""
    def run(e, n, ck):
        root = int(e.agg({"src": "min"}).first()[0])
        with Graph(e, checkpoint_every=1) as g:
            return run_bfs(g, root, max_iter=n, checkpoint_dir=ck)

    _wcc_resume_exact(spark, tmp_path, run, killed_at=2)


def test_resume_refuses_another_algos_snapshots(spark, tmp_path):
    """A checkpoint_dir holding WCC snapshots is not a BFS start state: the
    BFS run must refuse it, naming both algorithms, and leave the WCC
    snapshots resumable."""
    import pytest

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    ck = str(tmp_path / "mixed_ck")
    g = Graph(e, **LOOP)
    run_wcc(g, checkpoint_dir=ck)
    newest = ckpt.latest(ck)
    assert newest is not None
    with pytest.raises(ValueError, match=r"'wcc'.*'bfs'"):
        run_bfs(g, root=0, checkpoint_dir=ck)
    assert ckpt.latest(ck) == newest
    with open(os.path.join(os.path.dirname(newest[1]), "lineage.json")) as f:
        fp = json.load(f)["edge_fingerprint"]
    assert ckpt.load_snapshot(spark, ck, "wcc", 10, fp)[0] == newest[0]
    # a fresh dir resumes nothing: BFS runs from its own init
    res = run_bfs(g, root=0, checkpoint_dir=str(tmp_path / "bfs_ck"))
    g.close()
    assert _vals(res.state) == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 10: None, 11: None}


def test_resume_refuses_another_inputs_snapshots(spark, tmp_path):
    """A checkpoint_dir holding full-graph WCC snapshots is not a start
    state for the decremental run's subgraph WCC (6 closure rows against
    10): it must refuse, naming both counts. A resume over the same input
    still resumes."""
    import pytest

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    dele = spark.createDataFrame([(1, 2)], "src long, dst long")
    ck = str(tmp_path / "input_ck")
    prev = run_wcc(e, checkpoint_dir=ck)
    newest = ckpt.latest(ck)
    with pytest.raises(ValueError, match=r"10 edge rows.*6 edge rows"):
        run_wcc_decremental(e, dele, prev.state, checkpoint_dir=ck)
    assert ckpt.latest(ck) == newest
    again = run_wcc(e, checkpoint_dir=ck)
    assert again.metrics[0].iteration == newest[0] + 1
    assert _vals(again.state) == _vals(prev.state)


def test_resume_refuses_other_edges_with_the_same_row_count(spark, tmp_path):
    """Two graphs with the same closure row count but other components: a
    run over B must not resume from A's snapshots (the edge fingerprint
    differs), and a run over A again still resumes."""
    import pytest

    a = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    b = spark.createDataFrame([(0, 2), (1, 3)], "src long, dst long")
    ck = str(tmp_path / "fp_ck")
    prev = run_wcc(a, checkpoint_dir=ck)
    newest = ckpt.latest(ck)
    match = r"4 edge rows \(fingerprint -?\d+\).*4 edge rows \(fingerprint"
    with pytest.raises(ValueError, match=match):
        run_wcc(b, checkpoint_dir=ck)
    assert ckpt.latest(ck) == newest
    again = run_wcc(a, checkpoint_dir=ck)
    assert again.metrics[0].iteration == newest[0] + 1
    assert _vals(again.state) == _vals(prev.state) == {0: 0, 1: 0, 2: 2, 3: 2}


def test_resume_refuses_other_plan_parameters(spark, tmp_path):
    """A resume names its run by the plan parameters that change the
    answer: a BFS from another root, or a PageRank with another alpha,
    over the same edges must refuse the old snapshots. A changed tol only
    moves where a run stops, so it resumes; so does a manifest written
    before parameters were recorded."""
    import pytest

    g = Graph(_edges(spark, seed=5).persist(), checkpoint_every=1)
    d = str(tmp_path / "bfs_ck")
    run_bfs(g, 0, checkpoint_dir=d, max_iter=2)
    with pytest.raises(ValueError, match="parameters"):
        run_bfs(g, 5, checkpoint_dir=d)
    with pytest.raises(ValueError, match="parameters"):
        run_bfs(g.edges.withColumn("w", g.edges["src"] * 0 + 1), 0,
                weight_col="w", checkpoint_dir=d)
    newest = ckpt.latest(d)
    lineage = os.path.join(os.path.dirname(newest[1]), "lineage.json")
    with open(lineage) as f:
        manifest = json.load(f)
    assert manifest["params"] == {"root": 0, "weight_col": None}
    del manifest["params"]
    with open(lineage, "w") as f:
        json.dump(manifest, f)
    assert run_bfs(g, 0, checkpoint_dir=d).metrics[0].iteration == newest[0] + 1

    d = str(tmp_path / "pr_ck")
    run_pagerank(g, tol=1e-9, max_iter=2, checkpoint_dir=d)
    with pytest.raises(ValueError, match="parameters"):
        run_pagerank(g, alpha=0.5, tol=1e-9, max_iter=4, checkpoint_dir=d)
    resumed = run_pagerank(g, tol=1e-6, max_iter=4, checkpoint_dir=d)
    assert resumed.metrics[0].iteration == 2
    g.close()


def test_one_graph_shares_its_closure_and_runs_own_their_dirs(
    spark, tmp_path, monkeypatch
):
    """run_wcc and run_lpa on one Graph partition the closure once, and
    each run's checkpoint_dir holds only its own algo's snapshots."""
    from minigraph_spark.operators import superstep

    calls = []
    orig = superstep.prepartition_edges

    def counted(*args, **kwargs):
        calls.append(kwargs.get("dedup"))
        return orig(*args, **kwargs)

    monkeypatch.setattr(superstep, "prepartition_edges", counted)
    e = _edges(spark, seed=8).persist()
    d1, d2 = str(tmp_path / "wcc"), str(tmp_path / "lpa")
    with Graph(e, checkpoint_every=1, **LOOP) as g:
        wcc = run_wcc(g, checkpoint_dir=d1)
        lpa = run_lpa(g, max_iter=3, checkpoint_dir=d2)
    assert calls == [True]  # one dedup-folded exchange, no other
    assert _vals(wcc.state) == _vals(run_wcc(e).state)
    assert _vals(lpa.state) == _vals(run_lpa(e, max_iter=3).state)
    for d, algo in ((d1, "wcc"), (d2, "lpa")):
        snaps = [n for n in os.listdir(d) if n.startswith("iter=")]
        assert snaps
        for n in snaps:
            with open(os.path.join(d, n, "lineage.json")) as f:
                assert json.load(f)["algo"] == algo


def _snapshot_layout_and_lineage(spark, tmp_path, kw, mode):
    e = _edges(spark).persist()
    ck = str(tmp_path / "lay_ck")
    with Graph(e, checkpoint_every=2, **kw) as g:
        run_pagerank(g, tol=1e-9, max_iter=4, checkpoint_dir=ck)
    snaps = sorted(d for d in os.listdir(ck) if d.startswith("iter="))
    assert snaps == ["iter=00001", "iter=00003"]
    with open(os.path.join(ck, "iter=00003", "lineage.json")) as f:
        manifest = json.load(f)
    assert manifest["iteration"] == 3
    assert manifest["num_rows"] > 0
    assert manifest["partitions"] and all(
        "rows" in p and "fingerprint" in p for p in manifest["partitions"]
    )
    width = kw.get("num_partitions", 1)
    assert (manifest["mode"], manifest["num_partitions"]) == (mode, width)
    assert manifest["edge_rows"] == e.count()
    assert isinstance(manifest["edge_fingerprint"], int)
    metrics = [json.loads(line) for line in open(os.path.join(ck, "metrics.jsonl"))]
    assert [m["iteration"] for m in metrics] == [0, 1, 2, 3]
    assert [m["checkpointed"] for m in metrics] == [False, True, False, True]
    assert {(m["mode"], m["num_partitions"]) for m in metrics} == {(mode, width)}


def test_snapshot_layout_and_lineage(spark, tmp_path):
    _snapshot_layout_and_lineage(spark, tmp_path, {}, "fragment")


def test_snapshot_layout_and_lineage_loop(spark, tmp_path):
    _snapshot_layout_and_lineage(spark, tmp_path, LOOP, "loop")


def test_incomplete_snapshot_ignored(spark, tmp_path):
    e = _edges(spark).persist()
    ck = str(tmp_path / "inc_ck")
    with Graph(e, checkpoint_every=2) as g:
        run_pagerank(g, tol=1e-9, max_iter=2, checkpoint_dir=ck)
    assert ckpt.latest(ck)[0] == 1
    # a torn snapshot (no lineage.json commit marker) must be skipped
    os.makedirs(os.path.join(ck, "iter=00009", "state.parquet"), exist_ok=True)
    assert ckpt.latest(ck)[0] == 1

"""Checkpoint/resume (SURVEY.md §5 item 4; north-rule resumability).

Kill-and-resume: run K iterations with snapshots, restart from the
checkpoint dir, assert the final state is identical to an uninterrupted
run; a converged WCC snapshot is returned with no window. Also checks the
snapshot layout: per-iteration dirs, lineage.json with the row count, the
fingerprint and the converged flag (commit marker written last), one Spark
job per snapshot, and the metrics.jsonl sidecar."""

import json
import operator
import os
from functools import reduce

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

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


def _wcc_resume_exact(spark, tmp_path, run, killed_at=1):
    """``run(edges, max_iter, checkpoint_dir)`` is one WCC face; the killed
    run stops after ``killed_at`` iterations, by which it has snapshotted.
    Returns (killed, newest snapshot iteration, resumed); the resumed run
    must end where the uninterrupted one does."""
    e = _edges(spark, seed=4).persist()
    ck = str(tmp_path / "wcc_ck")
    full = run(e, 50, None)
    killed = run(e, killed_at, ck)
    newest = ckpt.latest(ck)[0]
    resumed = run(e, 50, ck)
    assert _vals(full.state) == _vals(resumed.state)
    assert resumed.converged
    return killed, newest, resumed


def _assert_mid_run_resume(killed, newest, resumed):
    """The kill came before convergence, and the resume starts right after
    the newest snapshot."""
    assert not killed.converged
    assert resumed.metrics[0].iteration == newest + 1


def _run_wcc(kw):
    def run(e, n, ck):
        with Graph(e, checkpoint_every=1, **kw) as g:
            return run_wcc(g, max_iter=n, checkpoint_dir=ck)

    return run


def test_wcc_resume_exact(spark, tmp_path):
    """At width 1 one window always reaches WCC's fixpoint, so the killed
    run has converged: the resume returns its snapshot with no window."""
    ck = str(tmp_path / "wcc_ck")
    killed, newest, resumed = _wcc_resume_exact(spark, tmp_path, _run_wcc({}), 3)
    assert killed.converged
    assert resumed.metrics == []
    assert resumed.iterations == newest + 1
    assert ckpt.latest(ck)[0] == newest


def test_wcc_resume_exact_loop(spark, tmp_path):
    _assert_mid_run_resume(*_wcc_resume_exact(spark, tmp_path, _run_wcc(LOOP)))


def test_wcc_csr_resume_exact(spark, tmp_path, monkeypatch):
    """run_wcc_csr builds its own Graph; pinning its cadence to every
    iteration lets a run killed after one round leave a snapshot before it
    converges."""
    from functools import partial

    from minigraph_spark.operators import csr

    monkeypatch.setattr(csr, "Graph", partial(Graph, checkpoint_every=1))
    _assert_mid_run_resume(*_wcc_resume_exact(
        spark, tmp_path,
        lambda e, n, ck: run_wcc_csr(
            e, num_partitions=2, max_rounds=n, checkpoint_dir=ck
        ),
    ))


def test_bfs_resume_exact(spark, tmp_path):
    """A run_bfs snapshot stores unreached vertices as NULL; resuming from
    it at the automatic width (one fragment) ends where the uninterrupted
    run does, unreached vertices still NULL."""
    def run(e, n, ck):
        root = int(e.agg({"src": "min"}).first()[0])
        with Graph(e, checkpoint_every=1) as g:
            return run_bfs(g, root, max_iter=n, checkpoint_dir=ck)

    _assert_mid_run_resume(*_wcc_resume_exact(spark, tmp_path, run, killed_at=2))


def test_resume_refuses_another_algos_snapshots(spark, tmp_path):
    """A checkpoint_dir holding WCC snapshots is not a BFS start state: the
    BFS run must refuse it, naming both algorithms, and leave the WCC
    snapshots resumable."""
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
    # the newest snapshot is WCC's fixpoint: the resume returns it and
    # runs no window
    again = run_wcc(e, checkpoint_dir=ck)
    assert (again.metrics, again.iterations, again.converged) == (
        [], newest[0] + 1, True
    )
    assert ckpt.latest(ck) == newest
    assert _vals(again.state) == _vals(prev.state)


def test_resume_refuses_other_edges_with_the_same_row_count(spark, tmp_path):
    """Two graphs with the same closure row count but other components: a
    run over B must not resume from A's snapshots (the edge fingerprint
    differs), and a run over A again still resumes."""
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
    assert (again.metrics, again.iterations, again.converged) == (
        [], newest[0] + 1, True
    )
    assert ckpt.latest(ck) == newest
    assert _vals(again.state) == _vals(prev.state) == {0: 0, 1: 0, 2: 2, 3: 2}


def test_resume_refuses_other_plan_parameters(spark, tmp_path):
    """A resume names its run by the plan parameters that change the
    answer: a BFS from another root, or a PageRank with another alpha,
    over the same edges must refuse the old snapshots. A changed tol only
    moves where a run stops, so it resumes; so does a manifest written
    before parameters were recorded."""
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
    # the write's observed count and fingerprint equal the files' own
    snap = spark.read.parquet(os.path.join(ck, "iter=00003", "state.parquet"))
    hashes = [r[0] for r in snap.select(
        F.xxhash64(*[F.col(c).cast("string") for c in snap.columns])
    ).collect()]
    assert manifest["num_rows"] == len(hashes) > 0
    assert manifest["fingerprint"] == reduce(operator.xor, hashes)
    assert manifest["converged"] is False  # 4 sweeps do not reach tol=1e-9
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


def _no_window(*args, **kwargs):
    raise AssertionError("a converged fixpoint resume ran a window")


@pytest.mark.parametrize("kw", [{}, LOOP], ids=["auto", "loop"])
@pytest.mark.parametrize("face", ["batch", "incremental"])
def test_converged_wcc_resumes_in_zero_windows(spark, tmp_path, monkeypatch, kw, face):
    """The same converged WCC call issued twice on one dir (perfbench's
    delta_wcc then resume): the second returns the first's labels from its
    converged snapshot, runs no window and writes no snapshot."""
    from minigraph_spark.operators.superstep import SuperstepEngine
    from minigraph_spark.plans.wcc import run_wcc_incremental

    arr = make_rmat_edges_np(9, 1500, seed=4)
    base, delta = (
        spark.createDataFrame(pd.DataFrame(part, columns=["src", "dst"]),
                              schema="src long, dst long").persist()
        for part in (arr[:1200], arr[1200:])
    )
    ck = str(tmp_path / "conv_ck")

    def call():
        with Graph(base, checkpoint_every=1, **kw) as g:
            if face == "batch":
                return run_wcc(g, checkpoint_dir=ck)
            return run_wcc_incremental(g, delta, prev, checkpoint_dir=ck)

    prev = run_wcc(base).state
    first = call()
    assert first.converged
    snaps = sorted(os.listdir(ck))
    monkeypatch.setattr(SuperstepEngine, "_run_fragment", _no_window)
    monkeypatch.setattr(SuperstepEngine, "_run_loop", _no_window)
    again = call()
    assert (again.metrics, again.iterations, again.converged) == (
        [], first.iterations, True
    )
    assert sorted(os.listdir(ck)) == snaps
    assert _vals(again.state) == _vals(first.state)


@pytest.mark.parametrize("kw", [{}, LOOP], ids=["auto", "loop"])
def test_pagerank_converged_at_one_tol_resumes_at_another(spark, tmp_path, kw):
    """PageRank's convergence depends on tol, which a resume may change: a
    run converged at tol=1e-3 and resumed at tol=1e-9 runs on, and ends
    where an uninterrupted tol=1e-9 run does."""
    e = _edges(spark).persist()
    ck = str(tmp_path / "pr_tol_ck")
    with Graph(e, **kw) as g:
        full = run_pagerank(g, tol=1e-9, max_iter=100)
    with Graph(e, checkpoint_every=2, **kw) as g:
        loose = run_pagerank(g, tol=1e-3, max_iter=100, checkpoint_dir=ck)
        assert loose.converged
        newest = ckpt.latest(ck)[0]
        assert newest == loose.iterations - 1
        resumed = run_pagerank(g, tol=1e-9, max_iter=100, checkpoint_dir=ck)
    assert resumed.converged
    assert resumed.metrics[0].iteration == newest + 1
    assert resumed.iterations == full.iterations
    a, b = _vals(full.state), _vals(resumed.state)
    assert a.keys() == b.keys()
    assert all(np.isclose(a[k], b[k], rtol=0, atol=1e-12) for k in a)


def test_manifest_without_converged_resumes_with_a_window(spark, tmp_path):
    """A snapshot written before the converged flag was recorded resumes
    as before: one more window from the snapshot, the same labels."""
    e = _edges(spark, seed=4).persist()
    ck = str(tmp_path / "old_ck")
    first = run_wcc(e, checkpoint_dir=ck)
    newest = ckpt.latest(ck)
    lineage = os.path.join(os.path.dirname(newest[1]), "lineage.json")
    with open(lineage) as f:
        manifest = json.load(f)
    assert manifest.pop("converged") is True
    with open(lineage, "w") as f:
        json.dump(manifest, f)
    again = run_wcc(e, checkpoint_dir=ck)
    assert again.converged
    assert again.metrics[0].iteration == newest[0] + 1
    assert _vals(again.state) == _vals(first.state)


def test_write_snapshot_is_one_spark_job(spark, tmp_path):
    state = spark.range(300).select(
        F.col("id").alias("vid"), (F.col("id") % 7).alias("value"),
        F.lit(False).alias("active"),
    ).localCheckpoint(eager=True)
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()  # the job list is filled from listener events
    before = set(tracker.getJobIdsForGroup(None))
    manifest = ckpt.write_snapshot(state, str(tmp_path / "one_job"), 0)
    bus.waitUntilEmpty()
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
    assert manifest["num_rows"] == 300


@pytest.mark.parametrize("kw", [{}, LOOP], ids=["auto", "loop"])
def test_empty_state_snapshot_resumes(spark, tmp_path, kw):
    """An empty graph's state writes num_rows 0 (no fingerprint over no
    rows), and a rerun on the same dir resumes from it."""
    e = spark.createDataFrame([], "src long, dst long")
    ck = str(tmp_path / "empty_ck")
    with Graph(e, **kw) as g:
        first = run_wcc(g, checkpoint_dir=ck)
        newest = ckpt.latest(ck)
        with open(os.path.join(os.path.dirname(newest[1]), "lineage.json")) as f:
            manifest = json.load(f)
        assert (manifest["num_rows"], manifest["fingerprint"]) == (0, None)
        again = run_wcc(g, checkpoint_dir=ck)
    assert first.converged and again.converged
    assert (again.metrics, again.iterations) == ([], newest[0] + 1)
    assert again.state.count() == 0

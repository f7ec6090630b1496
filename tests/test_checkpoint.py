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
from minigraph_spark.plans.pagerank import run_pagerank
from minigraph_spark.plans.wcc import run_wcc


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


def _pagerank_kill_and_resume(spark, tmp_path, engine_kwargs):
    e = _edges(spark).persist()
    ck = str(tmp_path / "pr_ck")
    full = run_pagerank(e, tol=1e-9, max_iter=12, engine_kwargs=engine_kwargs)
    # "killed" run: stops after 6 iterations, snapshots every 2
    run_pagerank(e, tol=1e-9, max_iter=6, checkpoint_dir=ck,
                 engine_kwargs={"checkpoint_every": 2, **engine_kwargs})
    found = ckpt.latest(ck)
    assert found is not None and found[0] == 5
    resumed = run_pagerank(e, tol=1e-9, max_iter=12, checkpoint_dir=ck,
                           engine_kwargs={"checkpoint_every": 2, **engine_kwargs})
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
    b = run_wcc(e, engine_kwargs={"state_storage": "ser"})
    assert _vals(a.state) == _vals(b.state)
    pa = run_pagerank(e, tol=1e-9, max_iter=12)
    pb = run_pagerank(e, tol=1e-9, max_iter=12,
                      engine_kwargs={"state_storage": "ser"})
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


def _run_wcc(engine_kwargs):
    return lambda e, n, ck: run_wcc(
        e, max_iter=n, checkpoint_dir=ck,
        engine_kwargs={"checkpoint_every": 1, **engine_kwargs},
    )


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


def _snapshot_layout_and_lineage(spark, tmp_path, engine_kwargs):
    e = _edges(spark).persist()
    ck = str(tmp_path / "lay_ck")
    run_pagerank(e, tol=1e-9, max_iter=4, checkpoint_dir=ck,
                 engine_kwargs={"checkpoint_every": 2, **engine_kwargs})
    snaps = sorted(d for d in os.listdir(ck) if d.startswith("iter="))
    assert snaps == ["iter=00001", "iter=00003"]
    with open(os.path.join(ck, "iter=00003", "lineage.json")) as f:
        manifest = json.load(f)
    assert manifest["iteration"] == 3
    assert manifest["num_rows"] > 0
    assert manifest["partitions"] and all(
        "rows" in p and "fingerprint" in p for p in manifest["partitions"]
    )
    metrics = [json.loads(line) for line in open(os.path.join(ck, "metrics.jsonl"))]
    assert [m["iteration"] for m in metrics] == [0, 1, 2, 3]
    assert [m["checkpointed"] for m in metrics] == [False, True, False, True]


def test_snapshot_layout_and_lineage(spark, tmp_path):
    _snapshot_layout_and_lineage(spark, tmp_path, {})


def test_snapshot_layout_and_lineage_loop(spark, tmp_path):
    _snapshot_layout_and_lineage(spark, tmp_path, LOOP)


def test_incomplete_snapshot_ignored(spark, tmp_path):
    e = _edges(spark).persist()
    ck = str(tmp_path / "inc_ck")
    run_pagerank(e, tol=1e-9, max_iter=2, checkpoint_dir=ck,
                 engine_kwargs={"checkpoint_every": 2})
    assert ckpt.latest(ck)[0] == 1
    # a torn snapshot (no lineage.json commit marker) must be skipped
    os.makedirs(os.path.join(ck, "iter=00009", "state.parquet"), exist_ok=True)
    assert ckpt.latest(ck)[0] == 1

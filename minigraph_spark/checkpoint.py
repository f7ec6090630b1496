"""Per-iteration vertex-state snapshots with a one-job lineage manifest.

Maps the reference's vdata-only checkpoint writes
(reference: utility/io/csr_io_adapter.h:426-489, WriteCSR2CSRBin with
vdata_only=true — the per-superstep flush) and its StatisticInfo sidecars
(utility/io/data_mngr.h:271-311) onto a parquet snapshot directory:

    {dir}/iter=00007/state.parquet      # (vid, value[, ...]) only — column-
                                        # pruned write, the vdata_only analog
    {dir}/iter=00007/lineage.json       # iteration, num_rows, fingerprint
                                        # (XOR of the rows' hashes),
                                        # converged, the run's algo and plan
                                        # params, edge rows, edge
                                        # fingerprint, mode and width
    {dir}/metrics.jsonl                 # one row per iteration (appended)

A snapshot is ONE Spark job: the row count and the fingerprint are observed
metrics of the parquet write itself (no read-back, no second scan).

Any run is resumable mid-convergence: `latest(dir)` returns the newest
complete snapshot (a snapshot is complete iff its lineage.json exists —
written last). A snapshot marked ``converged`` of a plan whose kernel is a
fixpoint (SuperstepEngine.run) is the answer itself, so a resume returns it
and runs nothing. Parquet is used as the snapshot format in-sandbox; the
layout (immutable snapshot dirs + manifest sidecar) is Iceberg-shaped so
swapping the writer for `.writeTo(...).createOrReplace()` on a real catalog
is local to this module.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _iter_dir(base: str, iteration: int) -> str:
    return os.path.join(base, f"iter={iteration:05d}")


def write_snapshot(
    state: DataFrame, base_dir: str, iteration: int, extra: dict | None = None
) -> dict:
    """Write the vertex state and its lineage manifest; returns the manifest.
    One Spark job: the row count and the order-insensitive fingerprint ride
    the parquet write as observed metrics."""
    d = _iter_dir(base_dir, iteration)
    obs = Observation()
    state.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        # XOR-fold of row hashes: order-insensitive and overflow-free
        # (sum would overflow LongType under ANSI mode)
        F.bit_xor(F.xxhash64(*[F.col(c).cast("string") for c in state.columns])).alias(
            "fingerprint"
        ),
    ).write.mode("overwrite").parquet(os.path.join(d, "state.parquet"))
    stats = obs.get
    fp = stats["fingerprint"]  # NULL over no rows
    manifest = {
        "iteration": iteration,
        "num_rows": int(stats["rows"]),
        "fingerprint": None if fp is None else int(fp),
        **(extra or {}),
    }
    # lineage.json written last = commit marker
    with open(os.path.join(d, "lineage.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def append_metrics(base_dir: str, row: dict) -> None:
    os.makedirs(base_dir, exist_ok=True)
    with open(os.path.join(base_dir, "metrics.jsonl"), "a") as f:
        f.write(json.dumps(row) + "\n")


def latest(base_dir: str) -> tuple[int, str] | None:
    """Newest complete snapshot -> (iteration, state_path), else None."""
    if not os.path.isdir(base_dir):
        return None
    best = None
    for name in os.listdir(base_dir):
        m = re.fullmatch(r"iter=(\d+)", name)
        if not m:
            continue
        it = int(m.group(1))
        d = os.path.join(base_dir, name)
        if os.path.exists(os.path.join(d, "lineage.json")):
            if best is None or it > best[0]:
                best = (it, os.path.join(d, "state.parquet"))
    return best


def load_snapshot(
    spark: SparkSession, base_dir: str, algo: str, edge_rows: int,
    edge_fingerprint: int | None, params: dict | None = None,
) -> tuple[int, DataFrame, bool] | None:
    """Newest complete snapshot -> (iteration, state, converged), else
    None; ``converged`` is False for a manifest that does not record it. A
    snapshot whose manifest names another run than the resuming one —
    another algo, other plan ``params`` (a BFS root, PageRank's alpha), or
    other edges (``edge_rows``, ``edge_fingerprint``) — raises ValueError:
    its state is not a valid start for this run. A manifest without one of
    these keys loads as far as that key goes."""
    found = latest(base_dir)
    if found is None:
        return None
    it, path = found
    with open(os.path.join(os.path.dirname(path), "lineage.json")) as f:
        manifest = json.load(f)
    # params compared in their JSON form: tuples come back as lists
    run = (algo, json.loads(json.dumps(params)))
    wrote = (manifest.get("algo", algo), manifest.get("params", run[1]))
    if wrote != run:
        raise ValueError(
            f"{base_dir} holds {wrote[0]!r} snapshots (parameters {wrote[1]}); "
            f"cannot resume {algo!r} (parameters {run[1]}) from them"
        )
    rows = manifest.get("edge_rows", edge_rows)
    fp = manifest.get("edge_fingerprint", edge_fingerprint)
    if (rows, fp) != (edge_rows, edge_fingerprint):
        raise ValueError(
            f"{base_dir} holds snapshots over {rows} edge rows (fingerprint "
            f"{fp}); cannot resume a run over {edge_rows} edge rows "
            f"(fingerprint {edge_fingerprint}) from them"
        )
    return it, spark.read.parquet(path), bool(manifest.get("converged"))

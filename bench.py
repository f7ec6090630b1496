#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "edges_per_sec_per_iter": ...}

Headline metric context (BASELINE.md): edges/sec per PageRank iteration to
1e-6 convergence on a deterministic R-MAT graph (seeded, synthesized
in-memory — the sandbox stand-in for the 10^9-edge scale target). Scaling
efficiency across two parallelism levels is measured by bench_scaling.py
(separate JVMs per level) and recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from minigraph_spark import relational  # noqa: E402
from minigraph_spark.fixtures import make_rmat_edges_parquet  # noqa: E402
from minigraph_spark.operators.dedup import minhash_lsh_pairs  # noqa: E402
from minigraph_spark.operators.similarity import cosine_topk  # noqa: E402
from minigraph_spark.plans.lpa import run_lpa  # noqa: E402
from minigraph_spark.plans.pagerank import run_pagerank  # noqa: E402
from minigraph_spark.plans.triangles import triangle_count  # noqa: E402
from minigraph_spark.plans.wcc import run_wcc  # noqa: E402
from minigraph_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# headline graph: 16M edges amortizes the per-superstep fixed costs the way
# the 10^9-edge target would (at 2M edges driver-side job latency dominates
# and the number under-reports plan throughput by ~5x)
RMAT_POWER = int(os.environ.get("SPARK_GRAFT_RMAT_POWER", "21"))
RMAT_EDGES = int(os.environ.get("SPARK_GRAFT_RMAT_EDGES", "16000000"))
# triangle counting is kept on a smaller graph (degree^2 message volume)
TRI_POWER = int(os.environ.get("SPARK_GRAFT_TRI_POWER", "19"))
TRI_EDGES = int(os.environ.get("SPARK_GRAFT_TRI_EDGES", "2000000"))


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def clear_storage(spark) -> None:
    """Drop all cached tables AND persistent RDDs between query groups.

    Each algorithm run leaves behind eagerly localCheckpoint-ed edge blocks
    and per-iteration state blocks; df.unpersist() cannot free a
    localCheckpoint (the data lives as a plain persisted RDD, not in the
    cache manager), so without this the blocks accumulate until JVM-side
    GC of the RDD handles — deserialized edge blocks for a 16M-edge graph
    are GBs, and storage pressure steals execution memory from later
    queries. Safe here because no DataFrame crosses a group boundary."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)


def main() -> None:
    spark = get_spark("minigraph_spark_bench", shuffle_partitions=CPUS)
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}
    try:
        with open("/proc/loadavg") as fh:
            extras["loadavg_start"] = float(fh.read().split()[0])
    except OSError:
        pass

    def timed(name: str, fn) -> object:
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr, flush=True)
        return out

    # --- testdata-derived graph (events seq projection, SURVEY.md §3.3) ---
    seq = relational.events_seq_edges(spark, SF_DIR).persist()
    timed("project_seq_edges", seq.count)

    timed(
        "pagerank_events",
        lambda: run_pagerank(seq, tol=1e-6, max_iter=50).iterations,
    )
    timed("wcc_events", lambda: run_wcc(seq).iterations)
    timed("lpa5_events", lambda: run_lpa(seq, max_iter=5).iterations)
    clear_storage(spark)

    # engine amortization: WCC then LPA on ONE Graph, whose closure is
    # partitioned once — compare against wcc_events + lpa5_events above,
    # where each run pays its own prepartition
    from minigraph_spark.operators.superstep import Graph

    def _shared_engine() -> int:
        with Graph(seq) as g:
            return run_wcc(g).iterations + run_lpa(g, max_iter=5).iterations

    timed("wcc_plus_lpa_shared_engine", _shared_engine)
    clear_storage(spark)

    # IncEval face, in the production shape: the event log is append-only,
    # so a daily delta is the LAST slice of each user's chain — not a random
    # edge sample (which would touch most components and understate the
    # win). Batch-converge on the first ~90% of every chain (untimed setup;
    # that cost is wcc_events, already reported), then absorb the appended
    # tail incrementally. The timed number is the maintenance cost a
    # pipeline pays per delta, vs re-running wcc_events from scratch.
    from pyspark.sql import Window

    from minigraph_spark.plans.wcc import run_wcc_incremental

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    chain = (
        ev.select(
            F.col("event_id").alias("src"),
            F.lead("event_id").over(w).alias("dst"),
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(wn).alias("_n"),
        )
        .filter(F.col("dst").isNotNull())
    )
    old_log = F.col("_rn") <= F.lit(0.9) * F.col("_n")
    base = chain.filter(old_log).select("src", "dst").persist()
    delta = chain.filter(~old_log).select("src", "dst").persist()
    prev = run_wcc(base)
    timed(
        "wcc_events_incremental",
        lambda: run_wcc_incremental(base, delta, prev.state).iterations,
    )
    base.unpersist()
    delta.unpersist()
    clear_storage(spark)

    # --- deterministic R-MAT graph: the scale headline -------------------
    # storage-backed, not driver-born: a LocalRelation re-ships from the
    # driver on every scan (fixtures.ensure_rmat_parquet docstring)
    rmat = make_rmat_edges_parquet(spark, RMAT_POWER, RMAT_EDGES, seed=42)
    n_edges = timed("rmat_materialize", rmat.count)

    # fixed-iteration run: clean edges/sec/iteration accounting (a tol-based
    # stop at 1/n-scale values converges in a handful of sweeps and would
    # under-amortize fixed costs)
    t0 = time.time()
    pr = run_pagerank(rmat, tol=0.0, max_iter=10)
    pr_sec = time.time() - t0
    timings["pagerank_rmat"] = round(pr_sec, 3)
    iters = max(pr.iterations, 1)
    extras["pagerank_rmat_iterations"] = iters
    extras["edges_per_sec_per_iter"] = round(n_edges * iters / pr_sec, 1)
    # steady-state view: median per-iteration time from the engine's own
    # metrics — robust to a single co-tenant spike or JIT-cold first
    # iteration inside the timed window (same rationale as bench_scaling.py)
    iter_secs = sorted(m.elapsed_sec for m in pr.metrics)
    if iter_secs:
        extras["edges_per_sec_per_iter_median"] = round(
            n_edges / iter_secs[len(iter_secs) // 2], 1
        )
    clear_storage(spark)

    timed("wcc_rmat", lambda: run_wcc(rmat).iterations)
    clear_storage(spark)

    # round-3 link-analysis additions on the same headline graph: HITS
    # (two combine shuffles per sweep — the expected ~2x PageRank cost) and
    # the HyperBall neighborhood sketch (16-register HLL state per vertex)
    from minigraph_spark.plans.anf import run_anf
    from minigraph_spark.plans.hits import run_hits

    timed("hits3_rmat", lambda: run_hits(rmat, iters=3).iterations)
    clear_storage(spark)
    timed("anf3_rmat", lambda: run_anf(rmat, depth=3).iterations)
    clear_storage(spark)
    tri_graph = (
        rmat
        if (TRI_POWER, TRI_EDGES) == (RMAT_POWER, RMAT_EDGES)
        else make_rmat_edges_parquet(spark, TRI_POWER, TRI_EDGES, seed=42)
    )
    timed("triangles_rmat", lambda: triangle_count(tri_graph).collect())
    clear_storage(spark)

    # --- training-data pipeline operators --------------------------------
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    timed("minhash_lsh_pairs", lambda: minhash_lsh_pairs(docs).count())
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    timed(
        "ann_cosine_topk",
        lambda: cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).count(),
    )
    clear_storage(spark)

    # round-4: exact butterfly count on the (user, active-day) bipartite —
    # prices the auto side-choice + wedge pair aggregation at sf scale
    from minigraph_spark.operators.bipartite import butterfly_count

    ud = ev.select("user_id", F.to_date("ts").alias("day"))
    extras["butterflies_events"] = timed(
        "butterfly_events",
        lambda: butterfly_count(ud, "user_id", "day").first()["num_butterflies"],
    )
    clear_storage(spark)

    # --- streaming stateful sessionization at driver scale ----------------
    # VERDICT r3 #6: the batch face (sessionize_events) and the streaming
    # face are pytest-equal; this line prices the streaming face itself.
    # Untimed setup: re-slice the events table into 4 time-ordered parquet
    # files (global ts order implies per-user non-decreasing times across
    # micro-batches — the operator's append-only contract). Timed region:
    # drain all 4 micro-batches through applyInPandasWithState, so the
    # number includes the cross-batch state handoff (last ts + session
    # index per user), not just a single-batch groupBy.
    import shutil
    import tempfile

    from minigraph_spark.streaming import run_available_now, stream_sessionize

    stream_dir = tempfile.mkdtemp(prefix="bench_sessionize_")
    try:
        (
            ev.select("event_id", "user_id", "ts")
            .withColumn(
                "_slice", F.ntile(4).over(Window.orderBy("ts", "event_id"))
            )
            .repartition(4, "_slice")
            .sortWithinPartitions("ts", "event_id")
            .write.partitionBy("_slice")
            .mode("overwrite")
            .parquet(stream_dir)
        )
        # FileStreamSource orders micro-batches by file modification time;
        # the 4 slices land with identical mtimes, so stagger them
        # explicitly — an out-of-order tie-break would violate the
        # operator's per-user non-decreasing-ts contract across batches
        base_mtime = time.time() - 1000
        for k in range(1, 5):
            sdir = f"{stream_dir}/_slice={k}"
            for fn in sorted(os.listdir(sdir)):
                os.utime(f"{sdir}/{fn}", (base_mtime + k, base_mtime + k))
        sess_stream = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{stream_dir}/_slice=*")
        )
        n_sess_rows = timed(
            "stream_sessionize_events",
            lambda: run_available_now(
                stream_sessionize(sess_stream, gap_seconds=1800),
                "bench_sessionize",
            ).count(),
        )
        extras["stream_sessionize_rows"] = n_sess_rows
    finally:
        shutil.rmtree(stream_dir, ignore_errors=True)
        spark.catalog.dropTempView("bench_sessionize")

    total = round(sum(timings.values()), 3)
    # host load context: this shared sandbox shows ±30-300% wall variance
    # from co-tenant load; loadavg at start/end lets a reader tell a plan
    # regression from a noisy window (BASELINE.md variance caveat)
    try:
        with open("/proc/loadavg") as fh:
            extras["loadavg_end"] = float(fh.read().split()[0])
    except OSError:
        pass
    print(
        json.dumps(
            {
                "metric": "total headline-query wall time (PageRank/WCC/LPA/"
                "triangles on events-seq + R-MAT graphs, dedup, ANN)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_of(SF_DIR),
                "cpus": CPUS,
                "rmat_edges": n_edges,
                **extras,
            }
        )
    )


if __name__ == "__main__":
    main()

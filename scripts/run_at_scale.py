"""One entry point for all at-scale evidence runs (BASELINE.md tables).

Folds the former pr_converged / wcc_at_scale / lpa_at_scale / scale_tri /
wedge_volume scripts behind one CLI so any round's driver can re-run the
scale evidence with one command per row:

    python scripts/run_at_scale.py --algo pr        --power 27 --edges 1000000000
    python scripts/run_at_scale.py --algo pr_fixed  --power 25 --edges 256000000
    python scripts/run_at_scale.py --algo pr_resume --power 23 --edges 64000000
    python scripts/run_at_scale.py --algo wcc       --power 27 --edges 1000000000
    python scripts/run_at_scale.py --algo lpa       --power 27 --edges 1000000000
    python scripts/run_at_scale.py --algo tri       --power 25 --edges 256000000 --buckets 4
    python scripts/run_at_scale.py --algo scc       --power 23 --edges 64000000
    python scripts/run_at_scale.py --algo bowtie    --power 23 --edges 64000000
    python scripts/run_at_scale.py --algo anf       --power 23 --edges 64000000 --depth 3
    python scripts/run_at_scale.py --algo wedges    --power 25 --edges 256000000
    python scripts/run_at_scale.py --algo wcc_dec   --power 23 --edges 64000000
    python scripts/run_at_scale.py --algo bfs_dec   --power 23 --edges 64000000
    python scripts/run_at_scale.py --algo hits      --power 25 --edges 256000000 --hits-cache dual
    python scripts/run_at_scale.py --algo ktruss    --power 23 --edges 64000000 --k 10

Every run: ensures the seeded R-MAT fixture (generated if absent, ~100 s
per 10^9 edges), prints loadavg at each phase boundary (shared-sandbox
variance protocol: BASELINE.md quotes medians and logs load), and reports
per-iteration walls + median throughput. `wedges` needs no Spark (DuckDB
analysis of the intersection join's spill volume — run it BEFORE a big
`tri` to size --buckets against free disk: peak spill ≈ 4B * sum_sq / buckets).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from minigraph_spark.fixtures import ensure_rmat_parquet  # noqa: E402


def _load() -> str:
    return "load %.1f/%.1f/%.1f" % os.getloadavg()


def _spark(name: str, shuffle: int, zstd: bool = False):
    from minigraph_spark.session import get_spark

    extra = {"spark.io.compression.codec": "zstd"} if zstd else None
    return get_spark(name, master="local[32]", shuffle_partitions=shuffle,
                     extra_conf=extra)


def _iter_report(n_edges: int, metrics, wall: float, label: str) -> None:
    iters = [round(m.elapsed_sec, 1) for m in metrics]
    med = sorted(iters)[len(iters) // 2] if iters else float("nan")
    print(
        f"{label}: {len(iters)} iters, {wall:.0f}s wall; per-iter {iters}; "
        f"median {med:.1f}s = {n_edges / med / 1e6:.2f}M e/s/iter; {_load()}",
        flush=True,
    )


def _int_ids_if_rmat(df, args):
    """int32 vertex ids halve the array bytes inside ktruss/linkpred row
    arrays — but ONLY the R-MAT fixture's ids fit (vid < 2^power <= 2^30).
    The chains fixture scrambles ids across 62 bits; a long->int cast there
    silently wraps and collapses distinct vertices, so keep longs."""
    if getattr(args, "graph", "rmat") != "rmat":
        return df.select("src", "dst")
    return df.selectExpr("cast(src as int) as src", "cast(dst as int) as dst")


def _pr_resume_phase(args) -> None:
    """One JVM of the pr_resume protocol (subprocess target; see run_pr_resume)."""
    import json

    from minigraph_spark.operators.superstep import Graph
    from minigraph_spark.plans.pagerank import run_pagerank

    spark = _spark(f"prres_{args.phase}_p{args.power}", args.shuffle,
                   zstd=args.zstd)
    rmat = spark.read.parquet(args.path)
    t0 = time.time()
    if args.phase == "interrupt":
        # the "kill": a to-convergence run stopped after 2 sweeps, snapshot
        # every sweep — exactly what a preempted spark-submit leaves behind
        r = run_pagerank(Graph(rmat, checkpoint_every=1), tol=1e-6, max_iter=2,
                         checkpoint_dir=args.ck_dir)
    elif args.phase == "resume":
        # fresh JVM, same checkpoint dir: load_snapshot restores the newest
        # complete snapshot and the loop continues to the fixpoint
        r = run_pagerank(Graph(rmat, checkpoint_every=1), tol=1e-6, max_iter=200,
                         checkpoint_dir=args.ck_dir)
    else:  # control: uninterrupted run to the same tolerance
        r = run_pagerank(rmat, tol=1e-6, max_iter=200)
    wall = time.time() - t0
    out = None
    if args.phase in ("resume", "control"):
        # dump the final (vid, value) state; the parent compares the two
        # dumps with DuckDB at the kill-resume contract tolerance
        # (tests/test_checkpoint.py: allclose atol 1e-12 — bit-equality is
        # NOT the contract, because shuffle combine order is not
        # deterministic across independent runs)
        out = f"{args.ck_dir}_{args.phase}_state.parquet"
        r.state.select("vid", "value").write.mode("overwrite").parquet(out)
    rows = r.state.count()
    print("PHASE_RESULT " + json.dumps({
        "phase": args.phase, "iterations": r.iterations,
        "converged": bool(r.converged), "wall_s": round(wall, 1),
        "rows": int(rows), "state_path": out,
    }), flush=True)
    spark.stop()


def run_pr_resume(args) -> None:
    """North-rule resumability AT SCALE (the pytest kill-resume contract,
    tests/test_checkpoint.py, replayed on the evidence fixture): interrupt a
    converging PageRank after 2 sweeps, resume it in a FRESH JVM from the
    parquet snapshot (lineage manifest + metrics.jsonl), and
    prove the resumed fixpoint is bit-identical to an uninterrupted control
    run. One subprocess per phase = one JVM per phase, the same boundary a
    spark-submit restart crosses."""
    import json
    import shutil
    import subprocess

    ck = f"/tmp/minigraph_ck_resume_p{args.power}_e{args.edges}"
    shutil.rmtree(ck, ignore_errors=True)
    me = os.path.abspath(__file__)
    results = {}
    for phase in ("interrupt", "resume", "control"):
        cmd = [sys.executable, me, "--algo", "pr_resume", "--phase", phase,
               "--ck-dir", ck, "--power", str(args.power),
               "--edges", str(args.edges), "--seed", str(args.seed),
               "--shuffle", str(args.shuffle)]
        if args.zstd:
            cmd.append("--zstd")
        print(f"--- phase {phase} ({_load()}) ---", flush=True)
        out = subprocess.run(cmd, capture_output=True, text=True)
        for line in out.stdout.splitlines():
            if line.startswith(("PHASE_RESULT", "gen/ensure")):
                print(line, flush=True)
            if line.startswith("PHASE_RESULT "):
                results[phase] = json.loads(line[len("PHASE_RESULT "):])
        if phase not in results:
            print(out.stdout[-2000:] + out.stderr[-2000:], flush=True)
            raise SystemExit(f"phase {phase} produced no result (rc={out.returncode})")
    snaps = sorted(d for d in os.listdir(ck) if d.startswith("iter="))
    metrics = sum(1 for _ in open(os.path.join(ck, "metrics.jsonl")))
    res, ctl = results["resume"], results["control"]
    # the kill-resume contract (tests/test_checkpoint.py): same vid set,
    # values allclose atol 1e-12 — compared out-of-JVM with DuckDB
    import duckdb

    cmp = duckdb.sql(
        f"SELECT count(*) AS n, "
        f"  sum(CASE WHEN a.vid IS NULL OR b.vid IS NULL THEN 1 ELSE 0 END) AS missing, "
        f"  max(abs(a.value - b.value)) AS max_abs_diff "
        f"FROM '{res['state_path']}/*.parquet' a "
        f"FULL OUTER JOIN '{ctl['state_path']}/*.parquet' b USING (vid)"
    ).fetchone()
    # max_abs_diff is NULL when the dumps share no vids (e.g. an empty
    # phase dump) — treat as infinite distance, not a TypeError
    n, missing = int(cmp[0]), int(cmp[1] or 0)
    max_diff = float(cmp[2]) if cmp[2] is not None else float("inf")
    ok = missing == 0 and n == ctl["rows"] and max_diff <= 1e-12
    print(
        f"pr_resume: interrupted after {results['interrupt']['iterations']} sweeps "
        f"({results['interrupt']['wall_s']}s); resumed in a fresh JVM from "
        f"snapshot, converged={res['converged']} at total sweep "
        f"{res['iterations']} ({res['wall_s']}s); control {ctl['iterations']} "
        f"sweeps uninterrupted ({ctl['wall_s']}s); snapshots={len(snaps)} "
        f"(latest {snaps[-1]}); metrics_rows={metrics}; "
        f"resume==control: {ok} (rows {n}, missing {missing}, "
        f"max|diff| {max_diff:.2e}, contract atol 1e-12); {_load()}",
        flush=True,
    )
    if not ok:
        raise SystemExit("RESUME MISMATCH")


def run_pr(args, converged: bool) -> None:
    from minigraph_spark.operators.superstep import Graph
    from minigraph_spark.plans.pagerank import run_pagerank

    spark = _spark(f"pr_p{args.power}", args.shuffle)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; {_load()}", flush=True)
    t0 = time.time()
    g = Graph(rmat)
    run_pagerank(g, tol=0.0, max_iter=1)  # prepartition + JIT warm
    print(f"setup+warm-iter: {time.time() - t0:.0f}s; {_load()}", flush=True)
    t0 = time.time()
    if converged:
        r = run_pagerank(g, tol=1e-6, max_iter=200)
        print(f"converged={r.converged} in {r.iterations} sweeps", flush=True)
    else:
        r = run_pagerank(g, tol=0.0, max_iter=args.max_iter)
    _iter_report(n, r.metrics, time.time() - t0, "pagerank")
    g.close()
    spark.stop()


def run_wcc_scale(args) -> None:
    from minigraph_spark.plans.wcc import run_wcc

    spark = _spark(f"wcc_p{args.power}", args.shuffle)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; {_load()}", flush=True)
    t0 = time.time()
    r = run_wcc(rmat)
    _iter_report(2 * n, r.metrics, time.time() - t0, "wcc (2E symmetrized)")
    t0 = time.time()
    ncomp = r.state.select("value").distinct().count()
    print(f"components: {ncomp} (count {time.time() - t0:.0f}s)", flush=True)
    spark.stop()


def run_lpa_scale(args) -> None:
    from minigraph_spark.plans.lpa import run_lpa

    spark = _spark(f"lpa_p{args.power}", args.shuffle, zstd=args.zstd)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; {_load()}", flush=True)
    t0 = time.time()
    r = run_lpa(rmat, max_iter=args.max_iter)
    _iter_report(n, r.metrics, time.time() - t0, f"lpa {args.max_iter} iters")
    spark.stop()


def run_tri(args) -> None:
    from minigraph_spark.plans.triangles import triangle_count

    # int32 ids (p<=30 fits; halves array bytes) + zstd spill compression +
    # src-bucket chunking: the three knobs that bound the intersection
    # join's disk footprint (BASELINE.md footprint history)
    spark = _spark(f"tri_p{args.power}", args.shuffle, zstd=True)
    rmat = spark.read.parquet(args.path).selectExpr(
        "cast(src as int) as src", "cast(dst as int) as dst"
    )
    n = rmat.count()
    print(f"edges {n}; buckets {args.buckets}; {_load()}", flush=True)
    t0 = time.time()
    tc = triangle_count(rmat, src_buckets=args.buckets).collect()
    print(
        f"triangles: {tc[0]['num_triangles']} in {time.time() - t0:.0f}s; {_load()}",
        flush=True,
    )
    spark.stop()


def run_kcore_scale(args) -> None:
    from minigraph_spark.plans.kcore import run_kcore

    spark = _spark(f"kcore_p{args.power}", args.shuffle, zstd=True)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; k {args.k}; {_load()}", flush=True)
    t0 = time.time()
    core = run_kcore(rmat, k=args.k)
    print(
        f"{args.k}-core: {core.count()} vertices in {time.time() - t0:.0f}s; {_load()}",
        flush=True,
    )
    spark.stop()


def run_coreness_scale(args) -> None:
    from minigraph_spark.plans.coreness import run_coreness

    spark = _spark(f"coreness_p{args.power}", args.shuffle, zstd=True)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; {_load()}", flush=True)
    t0 = time.time()
    core = run_coreness(rmat)
    stats = core.agg(
        F.count(F.lit(1)).alias("v"), F.max("coreness").alias("kmax")
    ).collect()[0]
    print(
        f"coreness: {stats['v']} vertices, degeneracy {stats['kmax']}, "
        f"{time.time() - t0:.0f}s; {_load()}",
        flush=True,
    )
    spark.stop()


def run_scc_scale(args) -> None:
    from minigraph_spark.plans.scc import run_scc

    spark = _spark(f"scc_p{args.power}", args.shuffle, zstd=True)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; {_load()}", flush=True)
    t0 = time.time()
    comps = run_scc(rmat)
    wall = time.time() - t0
    t0 = time.time()
    stats = comps.groupBy("scc_id").count().agg(
        F.count("*").alias("n_scc"), F.max("count").alias("giant")
    ).collect()[0]
    print(
        f"scc: {stats['n_scc']} components, giant {stats['giant']} in "
        f"{wall:.0f}s (+{time.time() - t0:.0f}s stats); {_load()}",
        flush=True,
    )
    spark.stop()


def run_bowtie_scale(args) -> None:
    from minigraph_spark.plans.bowtie import run_bowtie

    spark = _spark(f"bowtie_p{args.power}", args.shuffle, zstd=True)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; {_load()}", flush=True)
    t0 = time.time()
    regions = run_bowtie(rmat)
    wall = time.time() - t0
    census = {
        r["region"]: r["n"]
        for r in regions.groupBy("region")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    print(
        f"bowtie: {wall:.0f}s; census "
        + " ".join(f"{k}={census.get(k, 0)}" for k in
                   ("CORE", "IN", "OUT", "TUBE", "TENDRIL", "DISC"))
        + f"; {_load()}",
        flush=True,
    )
    spark.stop()


def run_stream_sess_scale(args) -> None:
    """Streaming-sessionization evidence (VERDICT r4 #6): 10^7 events
    through stream_sessionize across MANY micro-batches (file source,
    maxFilesPerTrigger=1), proving (a) throughput at scale and (b) that
    cross-batch state stays bounded by |users|, not |events| — the
    stateOperators numRowsTotal readout printed per batch must plateau at
    the user count while rows processed keeps growing."""
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from minigraph_spark.streaming import stream_sessionize

    n_events = args.vecs  # reuse the count knob
    n_users = max(1, n_events // 100)
    n_slices = 20
    fpt = args.files_per_trigger
    per = n_events // n_slices
    base = f"/tmp/minigraph_stream_sess_e{n_events}"
    if not os.path.exists(base):
        tmp = base + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        # time-ordered slices (append-only log contract): slice k holds the
        # k-th window of the global event sequence; ~1 event/user/slice with
        # a deterministic jitter so sessions both continue and break
        for s in range(n_slices):
            eid = np.arange(s * per, (s + 1) * per, dtype=np.int64)
            uid = (eid * np.int64(2654435761)) % np.int64(n_users)
            # seconds: ~1 event per user per 40 min => mix of same-session
            # (gap < 30 min) and new-session arrivals
            ts = eid * np.int64(2400) // np.int64(n_users) + (eid % 997)
            pq.write_table(
                pa.table({
                    "event_id": pa.array(eid),
                    "user_id": pa.array(uid),
                    "ts": pa.array(ts * 1_000_000, pa.timestamp("us")),
                }),
                f"{tmp}/slice-{s:03d}.parquet",
            )
        os.rename(tmp, base)
    spark = _spark(f"stream_sess_e{n_events}", args.shuffle)
    schema = "event_id long, user_id long, ts timestamp"
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", fpt)
        .parquet(base)
    )
    sess = stream_sessionize(src, gap_seconds=1800)
    ck = f"/tmp/minigraph_stream_sess_ck_{os.getpid()}"
    t0 = time.time()
    q = (
        sess.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    rows_done = 0
    for p in q.recentProgress:
        rows_done += p["numInputRows"]
        so = p["stateOperators"]
        if so:
            print(
                f"  batch {p['batchId']}: +{p['numInputRows']} rows, "
                f"state numRowsTotal={so[0]['numRowsTotal']} "
                f"updated={so[0]['numRowsUpdated']}",
                flush=True,
            )
    print(
        f"stream_sessionize: {n_events} events / {n_users} users / "
        f"{-(-n_slices // fpt)} micro-batches ({fpt} files/trigger) in {wall:.0f}s = "
        f"{n_events / wall / 1e6:.2f}M rows/s; state bound |users|; {_load()}",
        flush=True,
    )
    shutil.rmtree(ck, ignore_errors=True)
    spark.stop()


def run_ann_scale(args) -> None:
    """ANN evidence row (VERDICT r4 #5): a >=10^7-vector clustered corpus,
    exact ground truth from the vectorized matmul scorer, then recall@k +
    wall for the two bucketed scale paths at two settings each — LSH
    (vectorized bucketing, num_tables sweep) and the partitioned IVF index
    (ivf_build once: 1% driver-Lloyd train + BLAS assign + partitionBy(cid)
    write; then ivf_search nprobe sweep over partition-pruned scans).
    Recall = |approx ∩ exact| / |exact| over the same queries."""
    import shutil

    from minigraph_spark.fixtures import ensure_embeddings_parquet
    from minigraph_spark.operators.similarity import (
        cosine_topk_lsh,
        cosine_topk_matmul,
        ivf_build,
        ivf_search,
    )

    spark = _spark(f"ann_v{args.vecs}", args.shuffle, zstd=True)
    path = ensure_embeddings_parquet(args.vecs, dim=args.dim)
    corpus = spark.read.parquet(path).persist()
    n = corpus.count()
    queries = corpus.filter(F.col("vec_id") < args.nqueries)
    k = args.k
    print(f"vectors {n} dim {args.dim}; {args.nqueries} queries; k {k}; "
          f"{_load()}", flush=True)

    t0 = time.time()
    gt = cosine_topk_matmul(corpus, queries, k=k).persist()
    n_gt = gt.count()
    t_exact = time.time() - t0
    print(f"exact matmul ground truth: {t_exact:.0f}s ({n_gt} rows); {_load()}",
          flush=True)

    def recall(approx_df, label, wall):
        hits = approx_df.select("query_id", "neighbor_id").join(
            gt.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        ).count()
        print(f"{label}: {wall:.0f}s, recall@{k} = {hits}/{n_gt} = "
              f"{hits / n_gt:.3f}; {_load()}", flush=True)

    for tables in (4, 16):
        t0 = time.time()
        ap = cosine_topk_lsh(
            corpus, queries, k=k, num_planes=10, dim=args.dim,
            num_tables=tables, vectorized=True,
        ).persist()
        ap.count()
        recall(ap, f"lsh planes=10 tables={tables}", time.time() - t0)
        ap.unpersist()

    idx = f"/tmp/minigraph_ivf_v{args.vecs}_d{args.dim}.parquet"
    cells = 1024 if args.vecs >= 1_000_000 else 64
    t0 = time.time()
    cm = ivf_build(corpus, idx, num_centroids=cells, train_fraction=0.01,
                   iters=5)
    t_build = time.time() - t0
    print(f"ivf_build cells={cells} (1% train, 5 Lloyd iters): {t_build:.0f}s; "
          f"{_load()}", flush=True)
    for nprobe in (4, 16):
        t0 = time.time()
        ap = ivf_search(spark, idx, cm, queries, k=k, nprobe=nprobe).persist()
        ap.count()
        recall(
            ap,
            f"ivf_search cells={cells} nprobe={nprobe} "
            f"(scans ~{nprobe / cells:.1%} of corpus)",
            time.time() - t0,
        )
        ap.unpersist()
    shutil.rmtree(idx, ignore_errors=True)
    spark.stop()


def run_richclub_scale(args) -> None:
    """Rich-club curve row: the histogram-first phi(k) sweep — one closure
    dedup + one degree agg + one min-endpoint-degree histogram, then a
    max_degree-row cumulative pass; wall should track E, never E*k."""
    from minigraph_spark.plans.stats import rich_club

    spark = _spark(f"richclub_p{args.power}", args.shuffle, zstd=True)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; {_load()}", flush=True)
    t0 = time.time()
    curve = rich_club(rmat)
    rows = curve.count()
    wall = time.time() - t0
    top = curve.orderBy(F.col("k").desc()).limit(3).collect()
    print(
        f"rich_club: {wall:.0f}s; {rows} k-rows; tail "
        + " ".join(
            f"k={r['k']}:n={r['n_nodes']},phi={r['phi']}" for r in reversed(top)
        )
        + f"; {_load()}",
        flush=True,
    )
    spark.stop()


def run_anf_scale(args) -> None:
    from minigraph_spark.plans.anf import anf_estimates, run_anf

    spark = _spark(f"anf_p{args.power}", args.shuffle, zstd=True)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; depth {args.depth}; {_load()}", flush=True)
    t0 = time.time()
    r = run_anf(rmat, depth=args.depth)
    _iter_report(n, r.metrics, time.time() - t0, f"anf depth {args.depth}")
    t0 = time.time()
    row = anf_estimates(r.state).agg(
        F.sum("est").alias("nf"), F.max("est").alias("max_ball")
    ).collect()[0]
    print(
        f"N({args.depth}) = {row['nf']:.3e} (sum of ball estimates), max ball "
        f"{row['max_ball']:.3e} (agg {time.time() - t0:.0f}s); {_load()}",
        flush=True,
    )
    spark.stop()


def run_wcc_dec(args) -> None:
    """Decremental-WCC IncEval evidence: batch WCC (the fresh-recompute
    baseline), delete a deterministic ~1% edge sample, re-converge via
    run_wcc_decremental — wall should track the affected components'
    volume, not |E| (on an R-MAT graph the giant component IS most of the
    volume, so the honest expectation is 'delta wall <= batch wall', with
    the big win on the untouched-component share; both walls print)."""
    from minigraph_spark.operators.superstep import Graph
    from minigraph_spark.plans.wcc import run_wcc, run_wcc_decremental

    spark = _spark(f"wcc_dec_p{args.power}", args.shuffle, zstd=args.zstd)
    rmat = spark.read.parquet(args.path)
    g = Graph(rmat, state_storage="ser" if args.state_ser else "deser")
    n = rmat.count()
    delta = rmat.filter(
        F.pmod(F.xxhash64("src", "dst"), F.lit(args.delta_mod)) == 0
    )
    n_del = delta.count()
    print(f"edges {n}; deleting {n_del} (~{100 * n_del / n:.2f}%); {_load()}",
          flush=True)
    t0 = time.time()
    prev = run_wcc(g)
    batch_wall = time.time() - t0
    print(f"batch wcc: {batch_wall:.0f}s, {len(prev.metrics)} supersteps; "
          f"{_load()}", flush=True)
    t0 = time.time()
    dec = run_wcc_decremental(g, delta, prev.state)
    dec.state.count()
    dec_wall = time.time() - t0
    print(f"decremental wcc ({100 / args.delta_mod:g}% delta): {dec_wall:.0f}s "
          f"({batch_wall / dec_wall:.2f}x vs fresh batch); {_load()}",
          flush=True)
    spark.stop()


def run_bfs_dec(args) -> None:
    """Decremental-BFS IncEval evidence: batch BFS from the min-vid root,
    delete ~1% of edges, re-converge via the Ramalingam-Reps-style
    localized recompute; wall ∝ affected region vs the fresh batch BFS."""
    from minigraph_spark.plans.bfs import run_bfs, run_bfs_decremental

    spark = _spark(f"bfs_dec_p{args.power}", args.shuffle, zstd=args.zstd)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    root = rmat.agg(F.min(F.least("src", "dst")).alias("r")).collect()[0]["r"]
    delta = rmat.filter(
        F.pmod(F.xxhash64("src", "dst"), F.lit(args.delta_mod)) == 0
    )
    n_del = delta.count()
    print(f"edges {n}; root {root}; deleting {n_del} "
          f"(~{100 * n_del / n:.2f}%); {_load()}", flush=True)
    t0 = time.time()
    prev = run_bfs(rmat, root=int(root))
    batch_wall = time.time() - t0
    print(f"batch bfs: {batch_wall:.0f}s, {len(prev.metrics)} supersteps; "
          f"{_load()}", flush=True)
    t0 = time.time()
    dec = run_bfs_decremental(rmat, delta, prev.state, root=int(root))
    dec.state.count()
    dec_wall = time.time() - t0
    print(f"decremental bfs ({100 / args.delta_mod:g}% delta): {dec_wall:.0f}s "
          f"({batch_wall / dec_wall:.2f}x vs fresh batch); {_load()}",
          flush=True)
    spark.stop()


def run_hits_scale(args) -> None:
    from minigraph_spark.plans.hits import run_hits

    spark = _spark(f"hits_p{args.power}", args.shuffle, zstd=True)
    rmat = spark.read.parquet(args.path)
    n = rmat.count()
    print(f"edges {n}; cache {args.hits_cache}; {_load()}", flush=True)
    t0 = time.time()
    r = run_hits(rmat, iters=args.max_iter, edge_cache=args.hits_cache)
    r.state.count()
    wall = time.time() - t0
    print(
        f"hits ({args.hits_cache} cache): {r.iterations} sweeps in {wall:.0f}s "
        f"= {wall / max(r.iterations, 1):.1f}s/sweep "
        f"({n / (wall / max(r.iterations, 1)) / 1e6:.2f}M e/s/sweep, 2 phases); "
        f"{_load()}",
        flush=True,
    )
    spark.stop()


def run_ktruss_scale(args) -> None:
    from minigraph_spark.plans.ktruss import run_ktruss

    spark = _spark(f"ktruss_p{args.power}", args.shuffle, zstd=True)
    rmat = _int_ids_if_rmat(spark.read.parquet(args.path), args)
    n = rmat.count()
    print(f"edges {n}; k {args.k}; method {args.method}; {_load()}", flush=True)
    t0 = time.time()
    truss = run_ktruss(rmat, k=args.k, method=args.method)
    cnt = truss.count()
    print(
        f"{args.k}-truss ({args.method}): {cnt} edges in {time.time() - t0:.0f}s; "
        f"{_load()}",
        flush=True,
    )
    spark.stop()


def run_linkpred_scale(args) -> None:
    """The BASELINE.md linkpred row (VERDICT r3 #2): show the capped default
    surviving the hub-heavy R-MAT where the uncapped pass is quadratic.

    Prints the wedge-pair volume BOTH ways first (a V-row degree agg — the
    rows the pair stage would shuffle), then times adamic_adar at the given
    cap (--cap 0 = uncapped; only sane on small fixtures)."""
    from minigraph_spark.plans.linkpred import (
        DEFAULT_MAX_CENTER_DEGREE,
        adamic_adar,
    )

    cap = args.cap if args.cap != 0 else None
    if args.cap < 0:
        cap = DEFAULT_MAX_CENTER_DEGREE
    spark = _spark(f"linkpred_p{args.power}", args.shuffle, zstd=True)
    rmat = _int_ids_if_rmat(spark.read.parquet(args.path), args)
    n = rmat.count()
    canon = (
        rmat.filter("src <> dst")
        .select(F.least("src", "dst").alias("s"), F.greatest("src", "dst").alias("d"))
        .distinct()
    )
    und = canon.selectExpr("s as v").unionAll(canon.selectExpr("d as v"))
    capv = cap if cap is not None else 1 << 62
    vol = (
        und.groupBy("v")
        .count()
        .filter("count >= 2")
        .agg(
            F.sum(F.expr("count * (count - 1) / 2")).alias("uncapped"),
            F.sum(
                F.expr(
                    f"CASE WHEN count <= {capv} THEN count * (count - 1) / 2 "
                    "ELSE 0 END"
                )
            ).alias("capped"),
            F.max("count").alias("max_deg"),
        )
        .first()
    )
    print(
        f"edges {n}; cap {cap}; wedge-pair volume uncapped {vol['uncapped']:.3g} "
        f"vs capped {vol['capped']:.3g} rows (max center deg {vol['max_deg']}); "
        f"{_load()}",
        flush=True,
    )
    t0 = time.time()
    out = adamic_adar(
        rmat, top_k=100, center_buckets=args.buckets, max_center_degree=cap
    )
    k = out.count()
    wall = time.time() - t0
    wedges = vol["capped"] if cap is not None else vol["uncapped"]
    print(
        f"adamic_adar (cap {cap}, buckets {args.buckets}): top-{k} in "
        f"{wall:.0f}s = {wedges / wall / 1e6:.2f}M wedge-pairs/s; {_load()}",
        flush=True,
    )
    out.unpersist()
    spark.stop()


def run_mis_scale(args) -> None:
    """MIS row: deterministic greedy MIS on the fixture graph — the
    geometric-shrink claim (each sync round removes every local-minimum
    vertex plus its neighborhood) priced at scale."""
    from minigraph_spark.plans.mis import run_mis

    spark = _spark(f"mis_p{args.power}", args.shuffle, zstd=True)
    edges = _int_ids_if_rmat(spark.read.parquet(args.path), args)
    n = edges.count()
    t0 = time.time()
    mis = run_mis(
        edges, state_storage="ser" if args.state_ser else "deser"
    )
    members = mis.count()
    wall = time.time() - t0
    print(
        f"MIS: {members} members of {n}-edge graph in {wall:.0f}s = "
        f"{n / wall / 1e6:.2f}M edges/s end-to-end; {_load()}",
        flush=True,
    )
    mis.unpersist()
    spark.stop()


def run_dag_scale(args) -> None:
    """DAG layering row — run on --graph chains (the transcript-shaped
    input: layer(v) == turn depth within its conversation, DAG depth ==
    chain_len - 1) or on an R-MAT oriented low->high vid."""
    from minigraph_spark.plans.dag import longest_path_layers

    spark = _spark(f"dag_p{args.power}", args.shuffle, zstd=True)
    edges = _int_ids_if_rmat(spark.read.parquet(args.path), args)
    if args.graph == "rmat":
        edges = edges.filter("src <> dst").select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
    n = edges.count()
    t0 = time.time()
    layers = longest_path_layers(edges)
    depth = layers.agg(F.max("layer").alias("d")).first()["d"]
    wall = time.time() - t0
    print(
        f"DAG layering ({args.graph}): depth {depth} over {n} edges in "
        f"{wall:.0f}s = {n * (depth + 1) / wall / 1e6:.2f}M edge-rounds/s; "
        f"{_load()}",
        flush=True,
    )
    spark.stop()


def run_butterfly_scale(args) -> None:
    """Butterfly-count row: an events-shaped (user, day) bipartite synthesized
    deterministically in-plan (--edges events; U = edges/16 users, 365 days
    — the BASELINE.json input-table shape at cluster scale), so the natural
    bound deg(user) <= 365 holds like a real activity corpus. Logs BOTH
    per-side wedge volumes (the auto-chooser's two scalars): centering on
    users costs ~sum C(16,2) per user; centering on days would cost
    ~365 * C(edges/365, 2) — four-plus orders worse at 64M. Throughput is
    wedge rows through the pair aggregation per second."""
    from minigraph_spark.operators.bipartite import butterfly_count

    spark = _spark(f"butterfly_e{args.edges}", args.shuffle, zstd=True)
    users = max(args.edges // 16, 1)
    bip = spark.range(args.edges).select(
        F.pmod(F.xxhash64("id", F.lit("u")), F.lit(users)).alias("user_id"),
        F.pmod(F.xxhash64("id", F.lit("d")), F.lit(365)).alias("day"),
    )
    b = bip.distinct().persist()
    n = b.count()
    sides = {}
    for col in ("user_id", "day"):
        sides[col] = (
            b.groupBy(col).count()
            .agg(F.sum(F.expr("count * (count - 1) / 2")).alias("w"))
            .first()["w"]
        )
    print(
        f"bipartite rows {n}; wedge volume user-side {sides['user_id']:.3g} "
        f"vs day-side {sides['day']:.3g}; {_load()}",
        flush=True,
    )
    t0 = time.time()
    out = butterfly_count(b, "user_id", "day", center_buckets=args.buckets)
    bf = out.first()["num_butterflies"]
    wall = time.time() - t0
    wedges = min(sides.values())
    print(
        f"butterflies {bf} in {wall:.0f}s = {wedges / wall / 1e6:.2f}M "
        f"wedge-rows/s (auto-centered cheap side, buckets {args.buckets}); "
        f"{_load()}",
        flush=True,
    )
    b.unpersist()
    spark.stop()


def run_wedges(args) -> None:
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=8")
    row = con.execute(
        f"""
WITH canon AS (
  SELECT least(src, dst) AS s, greatest(src, dst) AS d
  FROM read_parquet('{args.path}/*.parquet') WHERE src <> dst GROUP BY 1, 2
), deg AS (
  SELECT v, count(*) AS deg
  FROM (SELECT s AS v FROM canon UNION ALL SELECT d FROM canon) GROUP BY 1
), oriented AS (
  -- rank = (degree, vid); canon has s < d so ties keep s as the out-vertex
  SELECT CASE WHEN dd.deg < ds.deg THEN c.d ELSE c.s END AS u
  FROM canon c JOIN deg ds ON c.s = ds.v JOIN deg dd ON c.d = dd.v
), od AS (SELECT u, count(*) AS k FROM oriented GROUP BY 1)
SELECT count(*) AS out_verts, sum(k) AS edges, max(k) AS max_out,
       sum(k * k) AS sum_sq, sum(k * (k - 1) / 2) AS wedges
FROM od
"""
    ).fetchone()
    print(
        dict(zip(["out_verts", "edges", "max_out", "sum_sq", "wedges"], row)),
        flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--algo", required=True,
                    choices=["pr", "pr_fixed", "pr_resume", "wcc", "lpa", "tri",
                             "kcore", "coreness", "scc", "bowtie", "anf",
                             "wedges",
                             "wcc_dec", "bfs_dec", "hits", "ktruss", "richclub", "ann", "stream_sess",
                             "linkpred", "butterfly", "mis", "dag"])
    ap.add_argument("--phase", choices=["interrupt", "resume", "control"],
                    default=None, help="pr_resume internal: run ONE phase in "
                    "this JVM (the parent spawns one subprocess per phase)")
    ap.add_argument("--ck-dir", default=None,
                    help="pr_resume internal: checkpoint dir shared by phases")
    ap.add_argument("--power", type=int, default=25)
    ap.add_argument("--edges", type=int, default=256_000_000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--shuffle", type=int, default=128)
    ap.add_argument("--max-iter", type=int, default=5,
                    help="fixed-iteration count for pr_fixed/lpa")
    ap.add_argument("--buckets", type=int, default=1,
                    help="tri: src-hash chunks bounding peak spill to ~1/B")
    ap.add_argument("--k", type=int, default=10,
                    help="kcore: the core order; ktruss: the truss order")
    ap.add_argument("--depth", type=int, default=3, help="anf: ball radius")
    ap.add_argument("--delta-mod", type=int, default=100,
                    help="wcc_dec/bfs_dec: keep-1-in-N deterministic deletion "
                         "sample (100 = ~1%% delta, 10000 = ~0.01%% — the "
                         "realistic daily-unlink shape)")
    ap.add_argument("--hits-cache", choices=["dual", "single"], default="dual",
                    help="hits: dual pins 2 prepartitioned edge copies "
                         "(exchange-free phases); single halves resident edge "
                         "memory but re-shuffles E rows on dst every sweep")
    ap.add_argument("--method", choices=["incremental", "full"],
                    default="incremental",
                    help="ktruss: support-maintenance peel vs re-enumerating "
                         "peel (the A/B for the BASELINE.md speedup row)")
    ap.add_argument("--cap", type=int, default=-1,
                    help="linkpred: max_center_degree (-1 = library default, "
                         "0 = uncapped exact pass — quadratic in hub degree, "
                         "small fixtures only)")
    ap.add_argument("--vecs", type=int, default=10_000_000,
                    help="ann: corpus size")
    ap.add_argument("--dim", type=int, default=64, help="ann: vector dim")
    ap.add_argument("--nqueries", type=int, default=50,
                    help="ann: query count (vec_id < nqueries)")
    ap.add_argument("--files-per-trigger", type=int, default=1,
                    help="stream_sess: slice files per micro-batch — the "
                         "per-(group,batch) overhead amortization knob")
    ap.add_argument("--graph", choices=["rmat", "chains"], default="rmat",
                    help="input shape: seeded R-MAT (one giant component — "
                         "the worst case for component-local IncEval) or "
                         "transcript-shaped disjoint conversation chains "
                         "(BASELINE.json's (conv_id, turn_idx) input hint: "
                         "millions of tiny components)")
    ap.add_argument("--chain-len", type=int, default=20,
                    help="chains: turns per conversation chain")
    ap.add_argument("--state-ser", action="store_true",
                    help="wcc_dec: store per-iteration vertex state "
                         "serialized (engine state_storage='ser') — needed "
                         "when |V| rivals |E| (short chains at 256M+ edges "
                         "OOM a 48g heap with deserialized state blocks)")
    ap.add_argument("--zstd", action="store_true",
                    help="zstd shuffle/spill compression (~1.5-2x smaller on id "
                         "data than lz4; tri/kcore always use it) — use when a "
                         "run's shuffle volume presses the node's free disk")
    args = ap.parse_args()

    t0 = time.time()
    if args.algo in ("butterfly", "ann", "stream_sess"):
        args.path = None  # no edge fixture (bipartite/embeddings built in-run)
    elif args.graph == "chains":
        from minigraph_spark.fixtures import ensure_chain_parquet

        args.path = ensure_chain_parquet(args.edges, chain_len=args.chain_len)
    else:
        args.path = ensure_rmat_parquet(args.power, args.edges, seed=args.seed)
    print(f"gen/ensure: {time.time() - t0:.0f}s -> {args.path}; {_load()}",
          flush=True)
    {
        "pr": lambda a: run_pr(a, converged=True),
        "pr_fixed": lambda a: run_pr(a, converged=False),
        "pr_resume": lambda a: (_pr_resume_phase(a) if a.phase
                                else run_pr_resume(a)),
        "wcc": run_wcc_scale,
        "lpa": run_lpa_scale,
        "tri": run_tri,
        "kcore": run_kcore_scale,
        "coreness": run_coreness_scale,
        "scc": run_scc_scale,
        "bowtie": run_bowtie_scale,
        "anf": run_anf_scale,
        "richclub": run_richclub_scale,
        "ann": run_ann_scale,
        "stream_sess": run_stream_sess_scale,
        "wedges": run_wedges,
        "wcc_dec": run_wcc_dec,
        "bfs_dec": run_bfs_dec,
        "hits": run_hits_scale,
        "ktruss": run_ktruss_scale,
        "linkpred": run_linkpred_scale,
        "butterfly": run_butterfly_scale,
        "mis": run_mis_scale,
        "dag": run_dag_scale,
    }[args.algo](args)


if __name__ == "__main__":
    main()

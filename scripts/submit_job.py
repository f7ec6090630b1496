#!/usr/bin/env python
"""spark-submit entry point for cluster runs.

Package and submit (the north-rule deployment path):

    cd /root/repo && zip -r /tmp/minigraph_spark.zip minigraph_spark
    spark-submit --master <cluster> --py-files /tmp/minigraph_spark.zip \
        scripts/submit_job.py --algo pagerank \
        --edges hdfs://.../edges.parquet --out hdfs://.../ranks \
        --checkpoint-dir hdfs://.../ckpt --tol 1e-6

In-sandbox smoke (local[*] stands in for the cluster):

    python scripts/submit_job.py --algo wcc --transcripts-demo 200 --out /tmp/wcc_out

Reads either an edge parquet (src,dst) or a transcript table
(conv_id, turn_idx, role, text, tool, ts — projected via operators/project),
runs the chosen algorithm, writes the vertex-state parquet, and prints the
per-iteration metrics JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--algo", required=True,
                    choices=["pagerank", "pagerank_minigraph", "wcc", "wcc_csr",
                             "lpa", "bfs", "triangles", "stats"])
    ap.add_argument("--edges", help="parquet path with (src,dst) columns")
    ap.add_argument("--transcripts",
                    help="transcript source: catalog/Iceberg table name or "
                         "parquet path (sources/transcripts.py dispatch)")
    ap.add_argument("--transcripts-demo", type=int, default=0,
                    help="synthesize N deterministic conversations instead of reading input")
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--root", type=int, default=0, help="BFS root vertex")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from minigraph_spark.operators.project import project_edges
    from minigraph_spark.plans.bfs import run_bfs
    from minigraph_spark.plans.lpa import run_lpa
    from minigraph_spark.plans.pagerank import run_pagerank
    from minigraph_spark.plans.stats import graph_statistics
    from minigraph_spark.plans.triangles import triangle_count
    from minigraph_spark.plans.wcc import run_wcc

    # under spark-submit the session/master comes from the submit args;
    # standalone we fall back to the engine's local defaults
    spark = SparkSession.getActiveSession()
    if spark is None:
        from minigraph_spark.session import get_spark

        spark = get_spark(f"minigraph_spark_{args.algo}")

    if args.transcripts_demo:
        from minigraph_spark.fixtures import make_transcripts

        edges = project_edges(make_transcripts(spark, args.transcripts_demo))
    elif args.transcripts:
        from minigraph_spark.sources.transcripts import load_transcripts

        # catalog/Iceberg table name or parquet path, conformed to the
        # canonical schema either way
        edges = project_edges(load_transcripts(spark, args.transcripts))
    elif args.edges:
        edges = spark.read.parquet(args.edges)
    else:
        ap.error("one of --edges / --transcripts / --transcripts-demo required")

    ck = args.checkpoint_dir
    if args.algo == "pagerank":
        res = run_pagerank(edges, tol=args.tol, max_iter=args.max_iter, checkpoint_dir=ck)
    elif args.algo == "pagerank_minigraph":
        res = run_pagerank(edges, variant="minigraph", max_iter=args.max_iter,
                           checkpoint_dir=ck)
    elif args.algo == "wcc":
        res = run_wcc(edges, max_iter=args.max_iter, checkpoint_dir=ck)
    elif args.algo == "wcc_csr":
        from minigraph_spark.operators.csr import run_wcc_csr

        res = run_wcc_csr(edges, max_rounds=args.max_iter, checkpoint_dir=ck)
    elif args.algo == "lpa":
        res = run_lpa(edges, max_iter=args.max_iter, checkpoint_dir=ck)
    elif args.algo == "bfs":
        res = run_bfs(edges, root=args.root, max_iter=args.max_iter, checkpoint_dir=ck)
    elif args.algo == "triangles":
        triangle_count(edges).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"algo": "triangles", "out": args.out}))
        return
    else:
        graph_statistics(edges).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"algo": "stats", "out": args.out}))
        return

    res.state.write.mode("overwrite").parquet(args.out)
    print(json.dumps({
        "algo": args.algo,
        "iterations": res.iterations,
        "converged": res.converged,
        "out": args.out,
        "metrics": [m.__dict__ for m in res.metrics],
    }))


if __name__ == "__main__":
    main()

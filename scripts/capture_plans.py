#!/usr/bin/env python
"""Capture .explain("formatted") output for the bench queries' steady-state
plans into plans/r06/<name>_<suffix>.txt (judge deliverable: plan evidence
for every query touched this round).

For superstep algorithms the interesting plan is ONE superstep's plan — the
engine's MG_EXPLAIN hook prints superstep k's physical plan (on a
one-fragment engine, the plan of the window that holds iteration k); this
script redirects stdout around the run to the target file.

Usage: python scripts/capture_plans.py <suffix> [names...]
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from minigraph_spark import relational  # noqa: E402
from minigraph_spark.fixtures import make_rmat_edges_parquet  # noqa: E402
from minigraph_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
# small graph: plan SHAPE is scale-free and capture must not take minutes
RMAT_POWER, RMAT_EDGES = 17, 500_000


def _capture_stdout(fn) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        fn()
    return buf.getvalue()


def main() -> None:
    suffix = sys.argv[1]
    names = set(sys.argv[2:])
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("minigraph_capture_plans")
    import minigraph_spark.operators.superstep as ss
    import minigraph_spark.plans.hits as hits_mod

    rmat = make_rmat_edges_parquet(spark, RMAT_POWER, RMAT_EDGES, seed=42)
    rmat.count()

    def want(n: str) -> bool:
        return not names or n in names

    def write(name: str, text: str) -> None:
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text.splitlines())} lines)", file=sys.stderr)

    # superstep 1 = steady-state shape (superstep 0 still reads the init)
    ss._EXPLAIN = 1
    hits_mod._EXPLAIN = 1

    if want("pagerank_rmat"):
        from minigraph_spark.plans.pagerank import run_pagerank

        write("pagerank_rmat", _capture_stdout(
            lambda: run_pagerank(rmat, tol=0.0, max_iter=3)))
    if want("wcc_rmat"):
        from minigraph_spark.plans.wcc import run_wcc

        write("wcc_rmat", _capture_stdout(lambda: run_wcc(rmat, max_iter=3)))
    if want("lpa_rmat"):
        from minigraph_spark.plans.lpa import run_lpa

        write("lpa_rmat", _capture_stdout(lambda: run_lpa(rmat, max_iter=3)))
    if want("anf_rmat"):
        from minigraph_spark.plans.anf import run_anf

        write("anf_rmat", _capture_stdout(lambda: run_anf(rmat, depth=3)))
    if want("hits_rmat"):
        from minigraph_spark.plans.hits import run_hits

        write("hits_rmat", _capture_stdout(lambda: run_hits(rmat, iters=3)))
    ss._EXPLAIN = -1
    hits_mod._EXPLAIN = -1

    if want("project_seq_edges"):
        write("project_seq_edges", _capture_stdout(
            lambda: relational.events_seq_edges(spark, SF_DIR).explain("formatted")))
    if want("minhash_lsh_pairs"):
        from minigraph_spark.operators.dedup import minhash_lsh_pairs

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        write("minhash_lsh_pairs", _capture_stdout(
            lambda: minhash_lsh_pairs(docs).explain("formatted")))
    if want("ann_cosine_topk"):
        from minigraph_spark.operators.similarity import cosine_topk

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        write("ann_cosine_topk", _capture_stdout(
            lambda: cosine_topk(
                emb, emb.filter(F.col("vec_id") < 10), k=5
            ).explain("formatted")))


if __name__ == "__main__":
    main()

"""Driver contract for the spark-graft builder (PySpark target).

entry() is the flagship smoke query; queries()/oracle_sql() expose every
implemented operator's relational face over the driver testdata, each with
an exact DuckDB oracle (see minigraph_spark/relational.py — ROWS_ONLY is
empty: to-convergence loops are oracle-checked via recursive CTEs or
derived-count unrolling, with NumPy-oracle pytest coverage on top).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from minigraph_spark import relational  # noqa: E402
from minigraph_spark.plans.pagerank import run_pagerank  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the per-user sequential event graph at
    sf0.001 (the transcript->edge projection's relational face), 20
    synchronous supersteps."""
    edges = relational.events_seq_edges(spark, "/root/testdata/sf0.001")
    res = run_pagerank(edges, tol=1e-9, max_iter=20)
    return res.state.select("vid", F.round("value", 9).alias("rank"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(relational.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(relational.ORACLE_SQL)

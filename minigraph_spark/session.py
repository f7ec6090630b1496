"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would submit cluster-side via
``spark-submit --py-files minigraph_spark.zip``:

- AQE on (runtime skew-join splitting + partition coalescing), the built-in
  half of MiniGraph's split-largest-bucket skew handling
  (reference: minigraph/utility/paritioner/hybrid_cut_partitioner.h:162-260;
  aggregations rely on map-side partial aggregation, see
  operators/partition.py).
- Arrow enabled for the pandas-UDF CSR path.
- DataFrame debugging (the per-Column Python call-site capture) off: plan
  building is driver-bound, and the capture roughly triples its cost.
- shuffle partitions sized to cores locally; on a real cluster this is set to
  2-3x total executor cores (or left to AQE coalescing from a high initial).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


class iterative_confs:
    """Context manager: per-loop Spark conf for superstep iteration.

    AQE is the right default for one-shot relational queries (skew-join
    splitting, partition coalescing) but inside a superstep loop it costs a
    serial driver barrier per query stage PER ITERATION — each stage is
    materialized, stats collected, and the remainder re-planned, and that
    re-planning is driver-serial work that does not shrink with executor
    count (measured in-sandbox: 64M-edge PageRank at local[32] runs ~6s/iter
    with AQE off vs 8-53s/iter, wildly variable, with AQE on). The loop's
    shapes are static — partition count fixed by prepartition_edges, hub skew
    absorbed by the combine's map-side partial aggregation, so AQE buys
    nothing there. This scopes AQE off for the loop and restores the session
    default after, mirroring how the reference fixes its fragment plan once at
    partition time rather than re-planning per superstep
    (tools/graph_partition.cpp:98-134).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.saved: dict[str, str] = {}

    _LOOP_CONFS = {
        "spark.sql.adaptive.enabled": "false",
        # Whole-stage codegen is a per-PLAN cost: every superstep builds a
        # fresh plan (new expr ids), so the loop pays janino compilation of
        # ~6 WSCG stages per ITERATION while the generated class is used
        # once. wholeStage=false still runs codegen'd per-operator
        # projections/predicates (small fragments that HIT the code cache
        # across iterations) — measured r06, interleaved A/B: events-graph
        # PageRank 24.6->17.4 s and 14.2->11.5 s, WCC 12.0->8.7 s; 16M-edge
        # R-MAT PageRank 34.9->26.0 s; 64M-edge steady-state per-iteration
        # parity (3.2-3.3 vs 3.3-3.4 s) with the compile-heavy first sweeps
        # 10.9->7.4 s. Scoped to loops only — one-shot relational queries
        # keep WSCG.
        "spark.sql.codegen.wholeStage": "false",
        # Inside the loop every join is co-partitioned by design (edges
        # hash-partitioned+sorted once by prepartition_edges; state/agg both
        # hash-partitioned on vid by the previous superstep's combine), so a
        # sort-merge join is exchange-free and edge-side sort-free. Without
        # this, Catalyst broadcasts the vertex state EVERY superstep (a
        # driver round-trip per iteration that stops working the moment the
        # state outgrows the broadcast limit — i.e. exactly at the 10^9-edge
        # target). Explicit F.broadcast() hints (1-row scalars, hot-key
        # sets) still broadcast.
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }

    def __enter__(self):
        for k, v in self._LOOP_CONFS.items():
            self.saved[k] = self.spark.conf.get(k)
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, v in self.saved.items():
            self.spark.conf.set(k, v)
        return False


def get_spark(
    app_name: str = "minigraph_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (sandbox stand-in for
    a multi-executor cluster; the code never assumes single-JVM semantics).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: don't mmap local shuffle/disk blocks — at high thread
        # counts the munmap storm serializes on the process address-space
        # lock (+ TLB shootdowns) and 32 threads run SLOWER than 8
        # (observed: executor threads stuck in FileChannelImpl.unmap0).
        # Plain stream reads scale; on a real cluster fetches are remote
        # and this setting is moot.
        .config("spark.storage.memoryMapThreshold", "512m")
        # plan building: with DataFrame debugging on, PySpark wraps every
        # F.* / Column call to record its Python call site
        # (pyspark/errors/utils.py::_with_origin: getActiveSession, a conf
        # read, a stack walk, a JVM origin set and clear); PySpark's own
        # comment offers this flag "to reduce performance slowdown". Measured
        # on a 4-core VM (PySpark 4.1.2, medians, two processes per value):
        # F.col("a").alias("b") 2.0 -> 0.4 ms, plans.wcc's apply + scatter
        # builders (_pick_apply, _make_scatter_label) 39 -> 12 ms. The
        # cost is debug-only: DataFrame errors no longer name the Python
        # call site. PySpark reads the flag ONCE per process
        # (is_debugging_enabled caches it), so it is set here, before the
        # first Column is built; extra_conf may turn it back on.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

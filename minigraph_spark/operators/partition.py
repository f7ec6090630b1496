"""Partitioning and the superstep combine.

Maps the reference's partitioner family onto Spark:

- hash partition on src  = vertex-cut (reference:
  utility/paritioner/vertex_cut_partitioner.h:79-117) — Spark's hash shuffle,
  done once per engine by prepartition_edges.
- range partition on vid = edge-cut (edge_cut_partitioner.h:251-254).
- 2D (src,dst) grid      = 2DVC partitioner (2DVC_partitioner.h:84-202).

The combine is one ``groupBy(dst).agg(...)``. Hub skew, which the reference
handles by splitting the heaviest bucket (hybrid_cut_partitioner.h:162-260),
is absorbed by Spark's map-side partial aggregation: every combiner is
algebraic, so each map task ships at most one partial row per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Spark aggregate per combiner name. The reference combiners
# write_min/write_max/write_add (utility/atomic.h:30-55) map to algebraic
# Spark aggs, so the map-side partial aggregation is exact.
_COMBINERS = {
    "min": F.min,
    "max": F.max,
    "sum": F.sum,
    "count": F.count,
}

# prepartition_edges caches edges deserialized up to this optimizer size
# estimate, serialized above it.
_DESER_MAX_BYTES = 2 << 30


def make_combine_agg(key: str, value: str, combiner: str):
    """``df -> df.groupBy(key).agg(combiner(value).alias("agg"))`` with the
    Column expression prebuilt: the engine calls it every superstep, where
    rebuilding the loop-invariant tree costs a py4j roundtrip per node."""
    agg_col = _COMBINERS[combiner](value).alias("agg")
    return lambda df: df.groupBy(key).agg(agg_col)


def make_mode_agg(key: str, value: str):
    """Most-frequent-value combiner (for classic LPA), ties broken by the
    smallest value — deterministic, matching the oracle. Column trees are
    prebuilt, as in make_combine_agg.

    Not a Spark builtin with deterministic ties; built as count-by-(key,
    value) followed by a windowless argmax: max(struct(cnt, -value)) picks
    the highest count, then the smallest value. The reference has no mode
    combiner (its LPA-analog uses write_min); SURVEY.md §2.4 derives LPA
    from the same skeleton.
    """
    cnt_col = F.count(F.lit(1)).alias("cnt")
    best_col = F.max(
        F.struct(F.col("cnt"), (-F.col(value)).alias("neg"))
    ).alias("_b")
    key_col = F.col(key)
    out_col = (-F.col("_b.neg")).alias("agg")

    def _agg(df: DataFrame) -> DataFrame:
        counts = df.select(key, value).groupBy(key, value).agg(cnt_col)
        best = counts.groupBy(key).agg(best_col)
        return best.select(key_col, out_col)

    return _agg


def edge_cut_pid(vid: Column, num_vertices: int, k: int) -> Column:
    """Contiguous-range partition id, parity with the reference edge-cut
    assign rule gid = floor(vid / ceil(nv/k)) % k
    (edge_cut_partitioner.h:251-254)."""
    chunk = -(-num_vertices // k)  # ceil
    return F.pmod(F.floor(vid / F.lit(chunk)), F.lit(k)).cast("int")


def grid_pid_2d(src: Column, dst: Column, k1: int, k2: int) -> Column:
    """2D (src,dst) grid partition id (2DVC_partitioner.h:84-202)."""
    return (
        F.pmod(F.xxhash64(src), F.lit(k1)) * k2 + F.pmod(F.xxhash64(dst), F.lit(k2))
    ).cast("int")


def prepartition_edges(
    edges: DataFrame,
    num_partitions: int,
    by: str = "src",
    persist: bool = True,
    dedup: bool = False,
    count_obs=None,
) -> DataFrame:
    """Hash-repartition the edge table by ``by`` once and persist — the
    DataFrame analog of the reference's one-time graph_partition_exec step
    (tools/graph_partition.cpp:98-134). Amortizes the edge-side shuffle
    across all supersteps: the scatter join then reuses this partitioning.
    On a real cluster this is a bucketed table write instead.

    dedup=True folds an exact (src, dst) deduplication into the SAME
    exchange (guide §2.4 — two operations keyed compatibly share one
    shuffle): the table is hash-partitioned by ``by`` and sorted by
    (``by``, other) — equal edges land adjacent — and a zero-exchange
    lag-window filter keeps the first of each run. vs `.distinct()` +
    repartition this removes one full E-scale Exchange and stage barrier
    (the distinct's (src,dst)-hash shuffle), at the cost of sorting by one
    extra column the engine's scatter join doesn't need. (src, dst)-only
    tables, for consumers that dedup anyway (undirected closures, simple
    digraphs); the output rows are exactly ``edges.distinct()``.

    count_obs: an optional pyspark Observation; when given (requires
    persist=True), the output row count ``count_obs.get["n"]`` and row
    fingerprint ``["fp"]`` (bit_xor of row hashes: a sum overflows under
    ANSI; None when empty) are attached as observed metrics and delivered
    by the checkpoint's own materialization job — saving the caller a
    separate full scan of the cached E rows (the SuperstepEngine
    size-aware width and resume check). The
    CollectMetrics node preserves the child's partitioning AND ordering,
    so the checkpoint still records both (verified: the scatter SMJ stays
    exchange-free and edge-side sort-free)."""
    if dedup:
        if set(edges.columns) != {"src", "dst"}:
            raise ValueError(
                f"dedup=True requires a (src, dst) table, got {edges.columns}"
            )
        from pyspark.sql import Window

        other = "dst" if by == "src" else "src"
        w = Window.partitionBy(by).orderBy(other)
        out = (
            edges.repartition(num_partitions, by)
            .sortWithinPartitions(by, other)
            .withColumn("_prev", F.lag(other).over(w))
            .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(other)))
            .select("src", "dst")
        )
    else:
        out = edges.repartition(num_partitions, by).sortWithinPartitions(by)
    if count_obs is not None:
        if not persist:
            raise ValueError("count_obs requires persist=True (needs the "
                             "checkpoint's materialization job)")
        fp = F.bit_xor(F.xxhash64(*out.columns)).alias("fp")
        out = out.observe(count_obs, F.count(F.lit(1)).alias("n"), fp)
    if persist:
        # eager localCheckpoint rather than persist: it caches the blocks
        # AND replaces the logical subtree with a compact LogicalRDD leaf
        # (driver-side createDataFrame edges otherwise embed a LocalRelation
        # that every per-iteration analysis pass re-walks), while keeping
        # the hash partitioning + ordering visible to the scatter join.
        # MUST run with AQE off: under AdaptiveSparkPlanExec the checkpoint
        # records UnknownPartitioning and every later scatter join re-shuffles
        # the full edge table per superstep. The in-partition sort by `by`
        # makes the per-iteration sort-merge scatter join exchange-free AND
        # sort-free on the (big) edge side — only the (small) vertex-state
        # side is sorted each superstep.
        from pyspark import StorageLevel

        from ..session import iterative_confs

        with iterative_confs(edges.sparkSession):
            # Storage level is SIZE-ADAPTIVE, decided once at partition time
            # (the same decide-at-partition-time rule as the engine's
            # size-aware width). Deserialized blocks skip the per-superstep
            # deserialization of every E row — measured interleaved on the
            # 16M-edge bench graph: PageRank loop 21.8/17.4 -> 16.8/14.1 s,
            # setup 10.9/10.3 -> 7.8/8.4 s — but deserialized UnsafeRow
            # objects cost ~60-70 B/row and OOMed the 48g sandbox JVM at
            # 512M symmetrized edges (serialized packs ~3x denser), so big
            # graphs must stay serialized. The decision reads the
            # optimizer's pre-shuffle size estimate: parquet-backed edge
            # plans estimate from file bytes (accurate where it matters —
            # the at-scale graphs are parquet), and an unknown/huge
            # estimate fails SAFE to serialized. The budget, 2 GiB of
            # estimated input, is about 16 GB of deserialized cache (~8x
            # parquet blowup).
            try:
                est = int(
                    out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            except Exception:
                est = _DESER_MAX_BYTES + 1  # unknown -> serialized (safe)
            lvl = (
                StorageLevel.MEMORY_AND_DISK_DESER
                if est <= _DESER_MAX_BYTES
                else StorageLevel.MEMORY_AND_DISK
            )
            out = out.localCheckpoint(eager=True, storageLevel=lvl)
    return out


def border_vertices(edges: DataFrame, pid: Column) -> DataFrame:
    """Vertices present in >= 2 partitions under a pid assignment — the
    reference's border-vertex bitmap (immutable_csr.h:335-368) as a group-by
    over distinct (vertex, pid) pairs. Returns (vid, num_partitions)."""
    v_pid = (
        edges.select(F.col("src").alias("vid"), pid.alias("pid"))
        .unionAll(edges.select(F.col("dst").alias("vid"), pid.alias("pid")))
        .distinct()
    )
    return (
        v_pid.groupBy("vid")
        .agg(F.count(F.lit(1)).alias("num_partitions"))
        .filter(F.col("num_partitions") >= 2)
    )


def communication_matrix(edges: DataFrame, src_pid: Column, dst_pid: Column) -> DataFrame:
    """Partition-level dependency edges: distinct (pid_src, pid_dst) —
    the reference's k x k boolean communication matrix
    (edge_cut_partitioner.h:440-453), used there to shortcut loads."""
    return edges.select(src_pid.alias("pid_src"), dst_pid.alias("pid_dst")).distinct()

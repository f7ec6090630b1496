"""Landmark (sampled-source) betweenness centrality — Brandes' algorithm
restricted to a probe set of sources (link_graph-tier op; no reference
app. Exact betweenness is O(V·E) and off the table at web scale; the
sampled estimator — sum of per-source dependencies over a landmark set —
is the standard production form, Brandes-Pich sampling).

Per source s (Brandes):

    dist  : BFS levels from s (the existing frontier BFS)
    sigma : shortest-path counts, one forward sweep per level —
            sigma(v) = Σ sigma(u) over edges u->v with dist(u)=d-1,
            dist(v)=d
    delta : dependencies, one backward sweep per level —
            delta(v) = Σ over edges v->w with dist(w)=dist(v)+1 of
            sigma(v)/sigma(w) · (1 + delta(w))

Betweenness contribution of s to v != s is delta(v); the landmark score
sums contributions over the probe set.

Scale shape: the BFS rides the superstep engine (one prepartition
amortized across all sources). The sigma/delta sweeps join the persisted,
prepartitioned edge table against per-level vertex tables — each level
table is a slice of V, broadcast-able; the edge side is never reshuffled.
Per-source cost is O(levels) joins over the cached edge table — Brandes'
O(E) per source, the price the algorithm has at any scale; the landmark
set size is the budget knob. sigma values are integer-valued doubles
(exact under addition in any order below 2^53), so only delta's float
sums are association-sensitive — absorbed by the oracle's 6-dp round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.superstep import (
    Graph,
    as_graph,
    free_rdd_ids,
    persistent_rdd_ids,
)
from .bfs import run_bfs


def _source_dependencies(g: Graph, s: int) -> tuple[DataFrame, set]:
    """((vid, delta), checkpoint block ids) — Brandes dependencies of
    source s, vertices at dist >= 1 only (the source's own row is excluded
    by convention). The caller frees the returned block ids once the
    accumulated result is materialized."""
    spark = g.edges.sparkSession
    dist = (
        run_bfs(g, root=s)
        .state.filter(F.col("value").isNotNull())
        .select("vid", F.col("value").alias("dist"))
        .persist()
    )
    maxd = dist.agg(F.max("dist").alias("m")).collect()[0]["m"]
    if maxd is None:
        # seed is not an endpoint of any edge: the BFS state is empty. Skip
        # it (zero contribution) — matching the NumPy oracle, which silently
        # ignores unknown seeds, instead of raising on range(1, None + 1)
        # (ADVICE r3).
        dist.unpersist()
        return spark.createDataFrame([], "vid long, delta double"), set()
    e = g.engine().edges  # prepartitioned, persisted

    # Every level materializes via EAGER localCheckpoint, not persist: each
    # level's plan references the previous level, so on a deep (chain-like)
    # BFS tree the un-truncated plan and its sizeInBytes stats grow
    # geometrically with depth — the ktruss/kcore failure mode; measured
    # here as a >10 min crawl at eccentricity ~54 vs ~1 min truncated.
    held_ids: set = set()

    def _mat(df: DataFrame) -> DataFrame:
        nonlocal held_ids
        before = persistent_rdd_ids(spark)
        out = df.localCheckpoint(eager=True)
        held_ids |= persistent_rdd_ids(spark) - before
        return out

    # forward: per-level sigma tables (level tables are small slices of V)
    layers: list[DataFrame] = [
        spark.createDataFrame([(s, 1.0)], "vid long, sigma double")
    ]
    for d in range(1, maxd + 1):
        lvl = _mat(
            e.join(
                layers[d - 1].select(
                    F.col("vid").alias("src"), "sigma"
                ),
                "src",
            )
            .join(
                dist.filter(F.col("dist") == d).select(
                    F.col("vid").alias("dst")
                ),
                "dst",
            )
            .groupBy("dst")
            .agg(F.sum("sigma").alias("sigma"))
            .select(F.col("dst").alias("vid"), "sigma")
        )
        layers.append(lvl)

    # backward: per-level delta tables
    deltas: dict[int, DataFrame] = {
        maxd: layers[maxd].select("vid", F.lit(0.0).alias("delta"))
    }
    for d in range(maxd - 1, 0, -1):
        nxt = layers[d + 1].select(
            F.col("vid").alias("dst"), F.col("sigma").alias("_sw")
        ).join(
            deltas[d + 1].select(
                F.col("vid").alias("dst"), F.col("delta").alias("_dw")
            ),
            "dst",
        )
        contrib = (
            e.join(nxt, "dst")
            .join(
                layers[d].select(F.col("vid").alias("src"), "sigma"), "src"
            )
            .groupBy("src")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("_sw") * (1.0 + F.col("_dw"))
                ).alias("_x")
            )
            .select(F.col("src").alias("vid"), "_x")
        )
        deltas[d] = _mat(
            layers[d].select("vid")
            .join(contrib, "vid", "left")
            .select("vid", F.coalesce("_x", F.lit(0.0)).alias("delta"))
        )

    out = None
    for d in range(1, maxd + 1):
        out = deltas[d] if out is None else out.unionAll(deltas[d])
    if out is None:  # isolated source: no reachable vertices
        out = spark.createDataFrame([], "vid long, delta double")
    before = persistent_rdd_ids(spark)
    out = out.localCheckpoint(eager=True)
    ids = persistent_rdd_ids(spark) - before
    dist.unpersist()
    free_rdd_ids(spark, held_ids)
    return out, ids


def landmark_betweenness(
    edges: DataFrame | Graph,
    seeds: list[int],
) -> DataFrame:
    """(vid, betweenness): Σ over probe sources of the Brandes dependency
    delta_s(vid) — the sampled directed betweenness estimator. Vertices
    with zero accumulated dependency that appear on no shortest path from
    any probe are absent."""
    if len(set(seeds)) != len(seeds) or not seeds:
        raise ValueError("seeds must be non-empty and duplicate-free")
    with as_graph(edges) as g:
        per_seed = [_source_dependencies(g, s) for s in seeds]
        acc = per_seed[0][0]
        for df, _ in per_seed[1:]:
            acc = acc.unionAll(df)
        out = (
            acc.groupBy("vid")
            .agg(F.sum("delta").alias("betweenness"))
            .persist()
        )
        out.count()
    for _, ids in per_seed:
        free_rdd_ids(g.edges.sparkSession, ids)
    return out

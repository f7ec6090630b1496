"""Landmark (multi-source) BFS distances and harmonic centrality
(link_graph-tier op; no reference app — MiniGraph ships single-root BFS
only, apps/cpp/bfs_vc.cpp. Exact all-pairs harmonic centrality is O(V·E)
and off the table at web scale; the landmark estimate — sum of reciprocal
distances from a small probe set — is the standard production stand-in,
e.g. for crawl-frontier prioritization).

Scale shape: one Graph's directed engine amortized across ALL seeds (one
prepartition); each seed is a
frontier BFS, O(diameter) supersteps, one E-row scatter + V-row combine
per superstep. Seeds run sequentially — k landmark BFS's cost ~k times one
BFS, not k times the prepartition. The distance union is V·k rows, tiny
next to E.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.superstep import (
    Graph,
    as_graph,
    free_rdd_ids,
    persistent_rdd_ids,
    tracked_local_checkpoint,
)
from .bfs import run_bfs


def landmark_distances(
    edges: DataFrame | Graph,
    seeds: list[int],
    max_iter: int = 10_000,
) -> DataFrame:
    """(vid, seed, dist) for every vertex REACHABLE from each seed (the
    seed itself included at dist 0); unreachable pairs are absent. Directed
    distances along edge direction — symmetrize first for undirected."""
    if len(set(seeds)) != len(seeds) or not seeds:
        raise ValueError("seeds must be non-empty and duplicate-free")
    parts = []
    with as_graph(edges) as g:
        for s in seeds:
            st = run_bfs(g, root=s, max_iter=max_iter).state
            parts.append(
                st.filter(F.col("value").isNotNull()).select(
                    "vid",
                    F.lit(s).cast("long").alias("seed"),
                    F.col("value").alias("dist"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        out = out.persist()
        out.count()
    return out


def run_eigenvector(
    edges: DataFrame,
    iters: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """(vid, score): eigenvector centrality on the undirected simple
    closure — synchronous power iteration x' = A x, L2-normalized each
    sweep, init x = 1 (the Bonacich measure; PageRank without damping or
    degree normalization, HITS without the bipartite split). Fixed
    ``iters`` sweeps, the oracle face.

    Scale shape: identical to one PageRank sweep — the symmetrized edge
    table is hash-partitioned once and persisted, each sweep is one
    co-located scatter join + one sum-combine shuffle, and the L2 norm
    rides in-plan as a 1-row broadcast. Lineage truncates per sweep via
    eager localCheckpoint."""
    from ..operators.partition import prepartition_edges
    from ..operators.project import symmetrize_raw
    from ..session import iterative_confs

    spark = edges.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    _pre = persistent_rdd_ids(spark)
    with iterative_confs(spark):
        # dedup folded into the one-time partitioning exchange (the
        # closure view's device) - one E-scale Exchange, not two
        und = prepartition_edges(
            symmetrize_raw(edges), n_part, by="src", dedup=True
        )
    # the vertex set is re-read every sweep (and twice on sweep 1 via st) —
    # checkpoint it once; und is symmetric, so src alone is the vertex set
    verts = (
        und.select(F.col("src").alias("vid")).distinct().localCheckpoint(eager=True)
    )
    edge_ids = persistent_rdd_ids(spark) - _pre

    before = persistent_rdd_ids(spark)
    st = verts.select("vid", F.lit(1.0).alias("score")).localCheckpoint(
        eager=True
    )
    st_ids = persistent_rdd_ids(spark) - before
    if und.limit(1).count() == 0:
        free_rdd_ids(spark, edge_ids)
        return st
    for _ in range(iters):
        raw = (
            und.join(st.select(F.col("vid").alias("src"), "score"), "src")
            .groupBy("dst")
            .agg(F.sum("score").alias("_raw"))
        )
        # checkpoint the RAW sweep aggregate: the L2 norm and the merge
        # both re-reference it, and ReuseExchange does not match exchanges
        # over partitioning-recording checkpoint leaves (measured r06, see
        # plans/hits.py) — without this the E-row scatter+combine executes
        # twice per sweep
        before = persistent_rdd_ids(spark)
        raw = raw.localCheckpoint(eager=True)
        raw_ids = persistent_rdd_ids(spark) - before
        norm = raw.agg(F.sqrt(F.sum(F.col("_raw") * F.col("_raw"))).alias("_n"))
        before = persistent_rdd_ids(spark)
        nxt = (
            verts.join(raw.withColumnRenamed("dst", "vid"), "vid", "left")
            .crossJoin(F.broadcast(norm))
            .select(
                "vid",
                (F.coalesce(F.col("_raw"), F.lit(0.0)) / F.col("_n")).alias(
                    "score"
                ),
            )
        ).localCheckpoint(eager=True)
        nxt_ids = persistent_rdd_ids(spark) - before
        free_rdd_ids(spark, raw_ids)
        free_rdd_ids(spark, st_ids)
        st, st_ids = nxt, nxt_ids
    # free the prepartitioned symmetrized-edge cache: the returned state is
    # its own eager checkpoint, so repeated run_eigenvector calls must not
    # each pin an E-row block set for the session (ADVICE r3)
    free_rdd_ids(spark, edge_ids)
    return st


def closeness_centrality(
    edges: DataFrame | Graph,
    seeds: list[int],
) -> DataFrame:
    """(vid, n_probes, closeness): landmark-estimated closeness — for each
    vertex, the number of probes that reach it and n_probes / sum of their
    distances (the Wasserman-Faust-style probe-normalized form; vertices
    reached by no probe, and probe self-rows, are absent). Estimates the
    inverse mean distance FROM the probe set, the crawl-side analog of
    harmonic centrality's per-target sum."""
    d = landmark_distances(edges, seeds)
    out = (
        d.filter(F.col("dist") > 0)
        .groupBy("vid")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            (F.count(F.lit(1)) / F.sum("dist")).alias("closeness"),
        )
    )
    out = out.persist()
    out.count()
    d.unpersist()
    return out


def harmonic_centrality(
    edges: DataFrame | Graph,
    seeds: list[int],
) -> DataFrame:
    """(vid, harmonic): landmark-estimated harmonic centrality — the sum of
    1/d(seed, vid) over seeds that reach vid (self-distances excluded, the
    textbook convention). Exact over the probe set; an unbiased sample of
    the true harmonic centrality when seeds are drawn uniformly."""
    d = landmark_distances(edges, seeds)
    out = (
        d.filter(F.col("dist") > 0)
        .groupBy("vid")
        .agg(F.sum(1.0 / F.col("dist")).alias("harmonic"))
    )
    out = out.persist()
    out.count()
    d.unpersist()
    return out


def run_katz(
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    iters: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """(vid, score): Katz centrality on the directed graph — synchronous
    power iteration x' = beta + alpha * A^T x, init x = beta (so ``iters``
    sweeps credit paths of length <= iters, each damped by alpha^len; the
    classic Katz 1953 index truncated at the sweep count, the oracle face).
    Unlike eigenvector centrality this keeps sources with no in-edges at a
    nonzero baseline, which matters on the transcript link graph where the
    first turn of every conversation has in-degree 0.

    Scale shape: identical to one PageRank sweep (plans/pagerank.py, the
    reference's apps/cpp/pagerank_vc.cpp sweep re-expressed) — the edge
    table is hash-partitioned on src once and persisted, each sweep is one
    co-located scatter join + one sum-combine shuffle (map-side partial
    agg), no normalization broadcast needed because alpha fixes the scale.
    Lineage truncates per sweep via eager localCheckpoint; the edge cache
    is freed before returning (the ADVICE-r3 leak rule).
    """
    from ..operators.partition import prepartition_edges
    from ..session import iterative_confs

    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    spark = edges.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    _pre = persistent_rdd_ids(spark)
    with iterative_confs(spark):
        e = prepartition_edges(edges.select("src", "dst"), n_part, by="src")
    edge_ids = persistent_rdd_ids(spark) - _pre
    verts = (
        e.select(F.col("src").alias("vid"))
        .union(e.select(F.col("dst").alias("vid")))
        .distinct()
    )

    st, st_ids = tracked_local_checkpoint(
        verts.select("vid", F.lit(float(beta)).alias("score"))
    )
    for _ in range(iters):
        raw = (
            e.join(st.select(F.col("vid").alias("src"), "score"), "src")
            .groupBy("dst")
            .agg(F.sum("score").alias("_in"))
        )
        nxt, nxt_ids = tracked_local_checkpoint(
            verts.join(raw.withColumnRenamed("dst", "vid"), "vid", "left")
            .select(
                "vid",
                (
                    F.lit(float(beta))
                    + F.lit(float(alpha))
                    * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("score"),
            )
        )
        free_rdd_ids(spark, st_ids)
        st, st_ids = nxt, nxt_ids
    free_rdd_ids(spark, edge_ids)
    return st

"""BFS / unit-weight SSSP — frontier-driven min-distance propagation.

Reference: apps/cpp/sssp_vc_stream.cpp:25-64 — write_min(dist[dst],
dist[src]+1) with hardcoded unit weights (:27), root dist=0 (:116-119),
frontier loop until empty. Weighted SSSP is the same plan with msg =
dist + weight once the edge table carries a weight column (the reference
declares but does not support weighted input, csr_io_adapter.h:47-49).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.superstep import (
    Graph,
    SuperstepEngine,
    SuperstepResult,
    as_graph,
    free_rdd_ids,
    persistent_rdd_ids,
)


def _make_superstep_fns(weight_col: str | None):
    """scatter/apply closures with loop-invariant Column trees prebuilt
    (one py4j roundtrip per node per superstep otherwise — see
    superstep._run_loop note). Shared by the batch, incremental, and
    decremental faces; expression trees identical to the inline form."""
    step = F.col(weight_col) if weight_col else F.lit(1)
    vid_as_src = F.col("vid").alias("src")
    msg_col = (F.col("value") + step).alias("msg")
    improved = F.col("agg").isNotNull() & (
        F.col("value").isNull() | (F.col("agg") < F.col("value"))
    )
    value_col = (
        F.when(improved, F.col("agg")).otherwise(F.col("value")).alias("value")
    )
    active_col = improved.alias("active")

    def scatter(e: DataFrame, state: DataFrame, ctx: dict) -> DataFrame:
        return e.join(state.select(vid_as_src, "value"), "src").select(
            "dst", msg_col
        )

    def apply_fn(state: DataFrame, agg: DataFrame, ctx: dict) -> DataFrame:
        joined = state.join(agg.withColumnRenamed("dst", "vid"), "vid", "left")
        return joined.select("vid", value_col, active_col)

    return scatter, apply_fn


def _run_minplus(
    eng: SuperstepEngine, init: DataFrame, root: int, max_iter: int,
    weight_col: str | None, checkpoint_dir: str | None, algo: str,
) -> SuperstepResult:
    """Run the min-plus loop from ``init``; a resume refuses snapshots of
    another root or weight column."""
    scatter, apply_fn = _make_superstep_fns(weight_col)
    return eng.run(
        init, scatter=scatter, combiner="min", apply_fn=apply_fn,
        frontier=True, max_iter=max_iter, checkpoint_dir=checkpoint_dir,
        algo=(algo, {"root": int(root), "weight_col": weight_col}),
    )


def run_bfs(
    edges: DataFrame | Graph,
    root: int,
    max_iter: int = 10_000,
    weight_col: str | None = None,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """Returns state (vid, value=distance); unreachable vertices have NULL.

    Runs on the graph's directed view, (src, dst[, weight_col]); pass a
    Graph to amortize the one-time prepartition across runs on the same
    graph (e.g. BFS from several roots)."""
    with as_graph(edges) as g:
        eng = g.engine("directed", weight_col)
        init = eng.vertices().select(
            "vid",
            F.when(F.col("vid") == root, F.lit(0).cast("long")).alias("value"),
            (F.col("vid") == root).alias("active"),
        )
        return _run_minplus(
            eng, init, root, max_iter, weight_col, checkpoint_dir, "bfs"
        )


def run_bfs_incremental(
    edges: DataFrame | Graph,
    delta_edges: DataFrame,
    prev_state: DataFrame,
    root: int,
    max_iter: int = 10_000,
    weight_col: str | None = None,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """IncEval for BFS/SSSP under edge ADDITIONS (see
    plans/wcc.py::run_wcc_incremental for the PEval/IncEval framing):
    re-converge distances from a previous converged state, activating only
    delta endpoints and unseen vertices. Exact because min-distance is
    monotone under additions (new edges can only shorten paths); deletions
    can lengthen paths and require a fresh run_bfs.

    prev_state is (vid, value) with NULL for unreachable — run_bfs().state
    or a checkpoint snapshot. The output covers the union graph's vertices.
    ``edges`` is the graph before the delta; a Graph passes its settings on
    to the union graph (Graph.with_edges), whose engine this run builds and
    closes.
    """
    cols = ["src", "dst"] + ([weight_col] if weight_col else [])
    with as_graph(edges) as g, g.with_edges(
        g.edges.select(*cols).unionAll(delta_edges.select(*cols))
    ) as union:
        eng = union.engine("directed", weight_col)
        init = _incremental_init(eng, delta_edges, prev_state, root)
        return _run_minplus(
            eng, init, root, max_iter, weight_col, checkpoint_dir,
            "bfs_incremental",
        )


def _incremental_init(
    eng: SuperstepEngine, delta_edges: DataFrame, prev_state: DataFrame,
    root: int,
) -> DataFrame:
    """The union graph's vertices with their previous distances; delta
    endpoints at a finite distance, and the root, active."""
    touched = (
        delta_edges.select(F.col("src").alias("vid"))
        .unionAll(delta_edges.select(F.col("dst").alias("vid")))
        .distinct()
        .withColumn("_touched", F.lit(True))
    )
    return (
        eng.vertices()
        .join(prev_state.select("vid", F.col("value").alias("_prev")), "vid", "left")
        .join(touched, "vid", "left")
        .select(
            "vid",
            F.when(F.col("vid") == root, F.lit(0).cast("long"))
            .otherwise(F.col("_prev"))
            .alias("value"),
            # only finite-distance touched vertices can improve a neighbor;
            # the root re-activates in case it is new to the graph
            (
                (F.col("_touched").isNotNull() & F.col("_prev").isNotNull())
                | (F.col("vid") == root)
            ).alias("active"),
        )
    )


def run_bfs_decremental(
    edges: DataFrame | Graph,
    deleted_edges: DataFrame,
    prev_state: DataFrame,
    root: int,
    max_iter: int = 10_000,
    weight_col: str | None = None,
    checkpoint_dir: str | None = None,
    batch_fallback_fraction: float | None = 0.5,
    max_support_rounds: int | None = 8,
) -> SuperstepResult:
    """IncEval for BFS/SSSP under edge DELETIONS — the non-monotone
    direction (deletions can only LENGTHEN paths; see run_wcc_decremental
    for the WCC analog; the reference's IncEval is additions-only).
    Deletions match on the directed (src, dst) pair; parallel arcs between
    a deleted pair are all removed.

    Three localized phases, each ∝ the damage, not |E| (the
    Ramalingam-Reps shape as joins):
    1. tight-edge tables — an edge (u, v) is TIGHT when prev[u] + w ==
       prev[v] (it supports v's shortest distance). Every reachable
       non-root vertex has >= 1 tight in-edge; only vertices that LOST a
       tight in-edge can have a stale distance.
    2. affected set by support counting (the Ramalingam-Reps rule): v is
       affected iff ALL of its remaining tight in-edges come from affected
       vertices (or it has none left). One intact tight parent u proves
       d(v) unchanged — deletions cannot shorten paths, and u's own
       distance is proven unchanged by induction on the (well-founded,
       w > 0) distance order. Seeds: deleted-edge dsts with zero remaining
       tight in-edges; each round then promotes vertices whose tight
       parents are all affected. This is the decisive difference from a
       naive forward closure: on a shallow power-law graph nearly every
       vertex is DOWNSTREAM of some stale seed, but almost all of them
       keep an alternative tight parent and never enter the affected set
       (measured at 64M edges / 1% delta: the closure variant flooded the
       graph and ran past an hour; see batch_fallback_fraction).
    3. re-convergence — min-plus re-runs with the frontier seeded ONLY at
       the unaffected boundary (vertices with an edge into the affected
       region) plus the root; affected vertices restart from NULL and
       receive correct distances, or stay NULL if now unreachable.

    Weighted runs require strictly positive weights for the tight-parent
    induction; if min(weight) <= 0 the localized path is skipped and the
    batch recompute runs (identical result).

    Exactly equals run_bfs(remaining).state — batch semantics throughout,
    including vertex existence (a vertex losing its last edge has no row).

    ``batch_fallback_fraction`` bounds the regret of the localized path:
    phases 2-3 cost ∝ the affected region, which for a BULK delta (e.g. a
    1% random edge sample of a shallow power-law graph — measured at 64M
    edges) can be nearly the whole graph, making three localized passes
    SLOWER than one fresh batch BFS. If the closure grows past this
    fraction of the previous state's vertices the localized path is
    abandoned and run_bfs(remaining) runs instead — identical result, cost
    min(affected-region passes, one batch run). None disables the check
    (always localize).

    ``max_support_rounds`` bounds the OTHER regret axis: each support-
    counting round costs a scan of the tight-edge table, so a cascade that
    promotes a few vertices per round for hundreds of rounds (measured on
    64M-edge R-MAT at 0.01% delta — the affected set stays tiny but its
    dependency chain is deep) costs far more than the ~7-superstep batch
    BFS it is trying to avoid. A partially-grown affected set is NOT safe
    to repair from (an unpromoted stale vertex would keep its too-small
    distance), so on exhaustion the batch recompute runs — identical
    result, total cost <= max_support_rounds scans + one batch run. None
    raises the cap to ``max_iter`` (the cascade, like every superstep loop
    here, is never unbounded); a chain deeper than max_iter then still
    falls back to the batch recompute rather than looping forever.

    A Graph passes its settings on to the remaining graph's run
    (Graph.with_edges).
    """
    g = edges if isinstance(edges, Graph) else Graph(edges)
    cols = ["src", "dst"] + ([weight_col] if weight_col else [])
    dele_keys = deleted_edges.select("src", "dst").distinct()
    # persist: the closure loop below semi-joins against `remaining` every
    # round — without this the E-row anti-join recomputes per round (the
    # same reason run_wcc_decremental persists its canonical base table)
    remaining = (
        g.edges.select(*cols)
        .join(dele_keys, ["src", "dst"], "left_anti")
        .persist()
    )
    rest = g.with_edges(remaining)
    prev = prev_state.select("vid", "value")
    w = F.col(weight_col) if weight_col else F.lit(1)

    if weight_col is not None:
        minw = remaining.agg(F.min(weight_col).alias("m")).collect()[0]["m"]
        if minw is not None and minw <= 0:
            # zero/negative weights break the tight-parent induction
            with rest:
                res = run_bfs(
                    rest, root=root, max_iter=max_iter,
                    weight_col=weight_col, checkpoint_dir=checkpoint_dir,
                )
            remaining.unpersist()
            return res

    # 1. tight in-edges of the remaining graph (support v's old distance)
    prev_src = prev.select(F.col("vid").alias("src"), F.col("value").alias("_du"))
    prev_dst = prev.select(F.col("vid").alias("dst"), F.col("value").alias("_dv"))
    tight = (
        remaining.join(prev_src, "src")
        .join(prev_dst, "dst")
        .filter(
            F.col("_du").isNotNull()
            & F.col("_dv").isNotNull()
            & ((F.col("_du") + w) == F.col("_dv"))
        )
        .select("src", "dst")
        .persist()
    )

    # seeds: dsts of deleted edges that kept NO tight in-edge (their old
    # shortest-path support is entirely gone); root never qualifies
    # (a tight edge into the root would need prev[src] < 0)
    dele_dsts = (
        dele_keys.select(F.col("dst").alias("vid"))
        .distinct()
        .filter(F.col("vid") != root)
        .join(prev.filter(F.col("value").isNotNull()), "vid", "left_semi")
    )
    seeds = dele_dsts.join(
        tight.select(F.col("dst").alias("vid")), "vid", "left_anti"
    )

    # 2. Ramalingam-Reps support counting: promote v when ALL its tight
    # in-edges come from affected vertices. Each round's `visited` is an
    # EAGER localCheckpoint, not a persist: the union chain otherwise
    # grows Catalyst re-analysis ~4x per round (superstep.py finding #1 —
    # measured here too: the persist() variant spent minutes of pure
    # driver time by round 8 and crawled for hours at 64M edges), and the
    # previous round's blocks are freed explicitly because unpersist() is
    # a no-op on localCheckpoints.
    spark = g.edges.sparkSession
    _pre_ids = persistent_rdd_ids(spark)
    visited = seeds.localCheckpoint(eager=True)
    visited_ids = persistent_rdd_ids(spark) - _pre_ids
    n_visited = visited.count()
    fallback_at = (
        batch_fallback_fraction * prev.count()
        if batch_fallback_fraction is not None
        else None
    )
    support_rounds = max_support_rounds if max_support_rounds is not None else max_iter
    converged = False
    for _r in range(support_rounds):
        if fallback_at is not None and n_visited > fallback_at:
            break  # affected region too large — batch is cheaper
        # tight edges out of the current affected set, grouped per dst
        from_aff = (
            tight.join(visited.withColumnRenamed("vid", "src"), "src", "left_semi")
            .groupBy("dst")
            .agg(F.count(F.lit(1)).alias("_na"))
        )
        # total tight in-degree, computed only for those candidate dsts
        totals = (
            tight.join(from_aff.select("dst"), "dst", "left_semi")
            .groupBy("dst")
            .agg(F.count(F.lit(1)).alias("_nt"))
        )
        newly = (
            from_aff.join(totals, "dst")
            .filter(F.col("_na") == F.col("_nt"))
            .select(F.col("dst").alias("vid"))
            .filter(F.col("vid") != root)
            .join(visited, "vid", "left_anti")
            .persist()
        )
        if newly.count() == 0:
            newly.unpersist()
            converged = True
            break
        # disjoint by the anti-join above — plain union, no dedup shuffle
        _pre_ids = persistent_rdd_ids(spark)
        grown = visited.unionAll(newly).localCheckpoint(eager=True)
        grown_ids = persistent_rdd_ids(spark) - _pre_ids
        n_visited = grown.count()
        newly.unpersist()
        free_rdd_ids(spark, visited_ids)
        visited, visited_ids = grown, grown_ids
    tight.unpersist()
    if not converged:
        # cascade unconverged (deep dependency chain) or region too large:
        # a partial affected set would leave stale distances in place, so
        # the only exact option is the fresh batch run
        free_rdd_ids(spark, visited_ids)
        with rest:
            res = run_bfs(
                rest, root=root, max_iter=max_iter,
                weight_col=weight_col, checkpoint_dir=checkpoint_dir,
            )
        remaining.unpersist()
        return res

    eng = rest.engine("directed", weight_col)
    affected = visited.withColumn("_aff", F.lit(True))
    boundary = (
        eng.edges.join(
            visited.withColumnRenamed("vid", "dst"), "dst", "left_semi"
        )
        .select(F.col("src").alias("vid"))
        .distinct()
        .withColumn("_b", F.lit(True))
    )
    init = (
        eng.vertices()
        .join(prev.withColumnRenamed("value", "_prev"), "vid", "left")
        .join(affected, "vid", "left")
        .join(boundary, "vid", "left")
        .select(
            "vid",
            F.when(F.col("vid") == root, F.lit(0).cast("long"))
            .otherwise(
                F.when(F.col("_aff").isNotNull(), F.lit(None).cast("long"))
                .otherwise(F.col("_prev"))
            )
            .alias("value"),
            (
                (F.col("vid") == root)
                | (
                    F.col("_b").isNotNull()
                    & F.col("_aff").isNull()
                    & F.col("_prev").isNotNull()
                )
            ).alias("active"),
        )
    )

    res = _run_minplus(
        eng, init, root, max_iter, weight_col, checkpoint_dir, "bfs_decremental"
    )
    free_rdd_ids(spark, visited_ids)
    remaining.unpersist()
    rest.close()
    return res

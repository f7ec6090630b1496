"""PageRank — two variants (SURVEY.md §2.4 semantics note).

variant="standard": classic damped PageRank — alpha=0.85, out-degree
normalized contributions, teleport, dangling mass redistributed uniformly,
synchronous power iteration to max|Δ| <= tol.

variant="minigraph": the reference's literal float-space rule
(apps/cpp/pr_vc.cpp:33-63): next(v) = gamma * mean(rank of in-neighbors),
update only when (rank-next)^2 > epsilon, init rank=1. (The reference
additionally truncates to unsigned on write — pr_vc.cpp:52; we keep floats
per the survey's resolution, since the truncation is an artifact of its
32-bit vdata storage, not query semantics.)

Both are synchronous Jacobi sweeps: every superstep recomputes from the full
state (frontier=False), ONE sum-shuffle per iteration, whose map-side partial
aggregation collapses a hub's contributions before the exchange.
The dangling-mass scalar (standard variant) piggybacks on the engine's
per-iteration counts action via extra_agg — the Aggregate-hook analog
(auto_app_base.h:56-63) at zero extra Spark jobs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.superstep import (
    Fragment,
    FragmentKernel,
    Graph,
    SuperstepEngine,
    SuperstepResult,
    as_graph,
)


def _make_standard_kernel(
    n: int, alpha: float, tol: float, weight_col: str | None,
    personalize: list[int] | None,
) -> FragmentKernel:
    """One-fragment standard PageRank: one Jacobi sweep with the dangling
    mass of the sweep's input, active where |Δ| > tol — the loop's apply,
    term for term (weighted and personalized faces included)."""
    seeds = None if personalize is None else np.asarray(personalize, dtype=np.int64)

    def step(frag: Fragment, value: np.ndarray, cols: dict):
        outdeg = cols["outdeg"]
        has_out = ~np.isnan(outdeg)
        # only sources with out-edges send, as in the loop's scatter filter
        send = has_out[frag.src]
        msg = value[frag.src] / outdeg[frag.src]
        if weight_col is not None:
            w = frag.edge_cols[weight_col].astype(np.float64)
            send &= ~np.isnan(w)
            msg = msg * w
        agg = np.bincount(frag.dst[send], weights=msg[send], minlength=value.size)
        dangling = value[~has_out].sum()
        if seeds is None:
            new = (1 - alpha) / n + alpha * (agg + dangling / n)
        else:
            p = np.isin(frag.vid, seeds) / len(seeds)
            new = (1 - alpha) * p + alpha * (agg + dangling * p)
        return new, np.abs(new - value) > tol

    return FragmentKernel(step)


def run_pagerank(
    edges: DataFrame | Graph,
    variant: str = "standard",
    alpha: float = 0.85,
    gamma: float = 0.01,
    epsilon: float = 0.001,
    tol: float = 1e-6,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    init_ranks: DataFrame | None = None,
    personalize: list[int] | None = None,
    weight_col: str | None = None,
) -> SuperstepResult:
    """Returns state (vid, value=rank). standard ranks sum to 1.

    Pass ``personalize`` (a small seed-vertex list, embedded as a literal
    IN-list — the random-walk-with-restart face used for link-graph
    relevance around known-good pages): teleport and dangling mass then
    flow to the seeds uniformly instead of to all vertices, and the walk
    starts at the seeds. Standard variant only.

    Runs on the graph's directed view, (src, dst[, weight_col]). Pass a
    Graph to reuse its engine across runs — the one-time prepartition cost
    (the analog of the reference's graph_partition_exec step,
    tools/graph_partition.cpp:98-134) then amortizes over every run on the
    same graph.

    A resume (checkpoint_dir) refuses snapshots of another variant, alpha,
    gamma, epsilon, personalize or weight_col; tol and max_iter only decide
    where a run stops, so they may change.

    Pass ``init_ranks`` (vid, value — e.g. a previous run's state or a
    checkpoint snapshot) to warm-start the standard variant across graph
    versions — the IncEval-style face for PageRank (the power iteration
    converges to the same damped fixpoint from ANY positive start, so a
    near-fixpoint start just needs far fewer sweeps; new vertices seed at
    1/n and the vector is renormalized to sum 1 in-plan).
    """
    if variant not in ("standard", "minigraph"):
        raise ValueError(f"unknown variant {variant!r}")
    if weight_col is not None and variant != "standard":
        raise ValueError("weight_col applies to the standard variant only")

    if personalize is not None and (
        variant != "standard"
        or not personalize
        or len(set(personalize)) != len(personalize)
    ):
        raise ValueError(
            "personalize requires the standard variant and a non-empty, "
            "duplicate-free seed list (p normalizes by len(seeds))"
        )
    if init_ranks is not None and variant != "standard":
        raise ValueError(
            "init_ranks warm start applies to the standard variant only "
            "(the minigraph rule's epsilon-gate freezes near-fixpoint "
            "states rather than refining them)"
        )
    if personalize is not None:
        personalize = [int(v) for v in personalize]  # JSON-able run params
    with as_graph(edges) as g:
        eng = g.engine("directed", weight_col)
        if variant == "standard":
            return _run_standard(
                eng, alpha, tol, max_iter, checkpoint_dir, init_ranks,
                personalize, weight_col,
            )
        return _run_minigraph(eng, gamma, epsilon, max_iter, checkpoint_dir)


def _run_standard(
    eng: SuperstepEngine, alpha: float, tol: float, max_iter: int,
    checkpoint_dir: str | None, init_ranks: DataFrame | None,
    personalize: list[int] | None, weight_col: str | None,
) -> SuperstepResult:
    # ONE E-row pass builds the vertex set AND the out-degree
    # (guide §2.4 — remove shuffles outright): previously this was a
    # distinct-count job, a second distinct inside the init plan, an
    # outdeg groupBy and a V-row join — three extra E-scale exchanges
    # per run. Union src-endpoints (carrying the degree contribution)
    # with dst-endpoints (carrying a null/zero contribution) and group
    # once by vid; sum() skips nulls, so a vertex seen only as dst
    # aggregates to NULL = dangling, exactly the old left-join-miss
    # rule, and a src group's addend order is unchanged (the null
    # partials merge as no-ops), keeping the float results bit-stable.
    if weight_col is not None:
        # weighted mode: contributions split by edge weight / total
        # out-weight instead of 1 / out-degree. A source whose weights
        # sum to <= 0 cannot split rank mass (value / outdeg would be
        # Inf/NaN and propagate silently) — treat it as dangling
        # (outdeg NULL), the same rule an out-degree-0 vertex gets in
        # unweighted mode (ADVICE r3)
        ends = eng.edges.select(
            F.col("src").alias("vid"),
            F.col(weight_col).cast("double").alias("_d"),
        ).unionAll(
            eng.edges.select(
                F.col("dst").alias("vid"),
                F.lit(None).cast("double").alias("_d"),
            )
        )
        degs = ends.groupBy("vid").agg(F.sum("_d").alias("_deg"))
        outdeg_expr = F.when(F.col("_deg") > 0.0, F.col("_deg"))
    else:
        ends = eng.edges.select(
            F.col("src").alias("vid"), F.lit(1).alias("_d")
        ).unionAll(
            eng.edges.select(F.col("dst").alias("vid"), F.lit(0).alias("_d"))
        )
        degs = ends.groupBy("vid").agg(F.sum("_d").alias("_deg"))
        # count-of-out-edges semantics: >0 means has out-edges; the
        # 0-count (dst-only) vertex maps to NULL = dangling
        outdeg_expr = F.when(F.col("_deg") > 0, F.col("_deg"))
    # persist AND materialize under the engine's loop scope: degs'
    # groupBy exchange decides the partitioning the init state (and
    # thus every later superstep's state) inherits, and persist()
    # compiles the cached physical plan with the conf active AT CALL
    # TIME — at the session width it would mismatch the engine's
    # size-aware count and EnsureRequirements would then re-shuffle
    # the co-partitioned join sides every superstep (caught via
    # plans/r06: a 16-partition loop against a 32-partition state
    # re-exchanged the edge table per iteration)
    with eng.loop_confs():
        degs = degs.persist()
        # clamp: an empty edge table has zero vertices; the loop then
        # converges immediately on the empty state instead of dividing
        # by 0
        n = max(degs.count(), 1)
    # teleport distribution: uniform 1/n, or concentrated on the seeds.
    # p is an expression over vid (literal IN-list), re-evaluated inside
    # apply each sweep — WSCG-side, no extra join or state column.
    if personalize is not None:
        p_of = lambda vid_col: F.when(  # noqa: E731
            vid_col.isin(personalize), F.lit(1.0 / len(personalize))
        ).otherwise(F.lit(0.0))
    else:
        p_of = lambda vid_col: F.lit(1.0 / n)  # noqa: E731
    if init_ranks is not None:
        seeded = degs.join(
            init_ranks.select("vid", F.col("value").alias("_prev")), "vid", "left"
        ).select("vid", "_deg", F.coalesce("_prev", F.lit(1.0 / n)).alias("_r"))
        # renormalize in-plan (1-row broadcast, setup-only): vertex
        # churn across graph versions leaves the carried-over mass
        # summing to != 1
        total = seeded.agg(F.sum("_r").alias("_t"))
        start_val = F.col("_r") / F.col("_t")
        seeded = seeded.crossJoin(F.broadcast(total))
    else:
        seeded = degs.select("vid", "_deg", p_of(F.col("vid")).alias("_r"))
        start_val = F.col("_r")
    init = seeded.select(
        "vid",
        start_val.alias("value"),
        F.lit(True).alias("active"),
        outdeg_expr.cast("double").alias("outdeg"),
    )

    # loop-invariant Column trees built ONCE (not per superstep): plan
    # construction is a py4j roundtrip per expression node, a fixed
    # driver cost each iteration (see superstep._run_loop note)
    _has_out = F.col("outdeg").isNotNull()
    _vid_as_src = F.col("vid").alias("src")
    _c_col = (F.col("value") / F.col("outdeg")).alias("c")
    _msg_col = (
        (F.col("c") * F.col(weight_col).cast("double")).alias("msg")
        if weight_col is not None
        else F.col("c").alias("msg")
    )

    def scatter(e: DataFrame, state: DataFrame, ctx: dict) -> DataFrame:
        contrib = state.filter(_has_out).select(_vid_as_src, _c_col)
        return e.join(contrib, "src").select("dst", _msg_col)

    # dangling mass via the engine's Aggregate hook (extra_agg): the sum
    # of rank over out-degree-0 vertices is evaluated in the SAME
    # per-iteration job that reads convergence (zero extra Spark jobs)
    # and fed to the next superstep as a driver-side scalar literal. The
    # value aggregated over iteration k's state is exactly the dangling
    # mass apply needs at iteration k+1, because apply reads the
    # PREVIOUS state's mass.
    _dangling_agg = F.sum(F.when(F.col("outdeg").isNull(), F.col("value")))

    # loop-invariant subtrees of apply (the per-iteration dangling
    # literal stays inside apply_fn; these compose around it
    # unchanged — the expression tree is identical to the inline form)
    _coal_agg = F.coalesce(F.col("agg"), F.lit(0.0))
    _val_col = F.col("value")
    _lit_alpha = F.lit(alpha)
    if personalize is not None:
        _p_vid = p_of(F.col("vid"))
        _lit_tele = F.lit(1 - alpha) * _p_vid
    else:
        # keep the uniform-teleport arithmetic EXACTLY as before
        # ((1-alpha)/n folded driver-side): the 6-dp oracles are
        # bit-sensitive to re-associating these float ops
        _lit_tele = F.lit((1 - alpha) / n)

    def apply_fn(state: DataFrame, agg: DataFrame, ctx: dict) -> DataFrame:
        joined = state.join(agg.withColumnRenamed("dst", "vid"), "vid", "left")
        d = ctx.get("_dangling")
        dangling = F.lit(float(d) if d is not None else 0.0)
        if personalize is not None:
            new_val = _lit_tele + _lit_alpha * (_coal_agg + dangling * _p_vid)
        else:
            new_val = _lit_tele + _lit_alpha * (_coal_agg + dangling / n)
        return joined.select(
            "vid",
            new_val.alias("value"),
            (F.abs(new_val - _val_col) > tol).alias("active"),
            "outdeg",
        )

    res = eng.run(
        init, scatter=scatter, combiner="sum", apply_fn=apply_fn,
        frontier=False, max_iter=max_iter,
        algo=("pagerank", {"alpha": alpha, "personalize": personalize,
                           "weight_col": weight_col}),
        kernel=_make_standard_kernel(n, alpha, tol, weight_col, personalize),
        extra_agg={"_dangling": _dangling_agg},
        checkpoint_dir=checkpoint_dir,
    )
    degs.unpersist()
    return res


def _run_minigraph(
    eng: SuperstepEngine, gamma: float, epsilon: float, max_iter: int,
    checkpoint_dir: str | None,
) -> SuperstepResult:
    # same one-pass vertex-set + degree build as the standard variant, with
    # the roles of src/dst swapped (in-degree): one E-row exchange
    # replaces distinct + groupBy + join
    ends = eng.edges.select(
        F.col("dst").alias("vid"), F.lit(1).alias("_d")
    ).unionAll(
        eng.edges.select(F.col("src").alias("vid"), F.lit(0).alias("_d"))
    )
    init = (
        ends.groupBy("vid")
        .agg(F.sum("_d").alias("_deg"))
        .select(
            "vid",
            F.lit(1.0).alias("value"),
            F.lit(True).alias("active"),
            F.when(F.col("_deg") > 0, F.col("_deg"))
            .cast("double")
            .alias("indeg"),
        )
    )

    # loop-invariant Column trees, built once (see standard variant)
    _vid_as_src = F.col("vid").alias("src")
    _msg_col = F.col("value").alias("msg")
    _nxt = F.when(
        F.col("indeg").isNotNull(),
        F.lit(gamma) * F.col("agg") / F.col("indeg"),
    ).otherwise(F.col("value"))
    _changed = (F.col("value") - _nxt) * (F.col("value") - _nxt) > F.lit(epsilon)
    _value_col = F.when(_changed, _nxt).otherwise(F.col("value")).alias("value")
    _active_col = _changed.alias("active")

    def scatter_mg(e: DataFrame, state: DataFrame, ctx: dict) -> DataFrame:
        return e.join(state.select(_vid_as_src, "value"), "src").select(
            "dst", _msg_col
        )

    def apply_mg(state: DataFrame, agg: DataFrame, ctx: dict) -> DataFrame:
        return (
            state.join(agg.withColumnRenamed("dst", "vid"), "vid", "left")
            .select("vid", _value_col, _active_col, "indeg")
        )

    return eng.run(
        init, scatter=scatter_mg, combiner="sum", apply_fn=apply_mg,
        frontier=False, max_iter=max_iter,
        algo=("pagerank_minigraph", {"gamma": gamma, "epsilon": epsilon}),
        checkpoint_dir=checkpoint_dir,
    )

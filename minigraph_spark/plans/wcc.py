"""Weakly connected components — hash-min label propagation to fixpoint.

Reference semantics: init label=vid, exchange min labels until no change
(apps/cpp/wcc_vc_batch.cpp:23-26 kernel_init, :42-95 push/pull with
write_min, :139-148 fixpoint loop). True WCC needs the undirected closure
(SURVEY.md §2.4 A2 note), so we symmetrize first; `directed_minlabel` keeps
the raw directed propagation for parity with wcc_vc_stream.cpp:43-71.

Per superstep: ONE shuffle (the min-combine); the scatter join reuses the
persisted hash partitioning of the edge table. Frontier-driven: only
vertices whose label changed last round send messages (the reference's
in_visited bitmap guard, 2d_pie/auto_map.h:136).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.csr import make_minplus_block
from ..operators.project import symmetrize_raw
from ..operators.superstep import (
    ApplyFn,
    Fragment,
    FragmentKernel,
    SuperstepEngine,
    SuperstepResult,
)


# The scatter/apply builders below are FACTORIES returning closures with
# every loop-invariant Column expression prebuilt: per-superstep plan
# construction otherwise re-pays a py4j roundtrip per expression node
# (measured ~1100 JVM calls per hook+jump superstep — a driver-side floor
# that dominates small-graph rounds). The closures build the exact same
# expression trees as before, once. Only plan-bound references
# (merged["value"] on the self-join) remain per-iteration.


def _make_scatter_label():
    vid_as_src = F.col("vid").alias("src")
    msg_col = F.col("value").alias("msg")

    def _scatter(edges: DataFrame, state: DataFrame, ctx: dict) -> DataFrame:
        return edges.join(state.select(vid_as_src, "value"), "src").select(
            "dst", msg_col
        )

    return _scatter


def _make_apply_min():
    improved = F.col("agg").isNotNull() & (F.col("agg") < F.col("value"))
    value_col = (
        F.when(improved, F.col("agg")).otherwise(F.col("value")).alias("value")
    )
    active_col = improved.alias("active")

    def _apply(state: DataFrame, agg: DataFrame, ctx: dict) -> DataFrame:
        joined = state.join(agg.withColumnRenamed("dst", "vid"), "vid", "left")
        return joined.select("vid", value_col, active_col)

    return _apply


def _with_jump(base: ApplyFn) -> ApplyFn:
    """``base`` plus one pointer-jumping (path-halving) hop: labels are
    vertex ids, so chase label(label(v)) through a self-join. Valid because
    label(v) is always the id of a vertex whose ancestors are ancestors of v
    (transitivity), and labels only decrease — convergence drops from
    O(diameter) to O(log n) global rounds while the fixpoint is unchanged."""
    jv_col, jp_col = F.col("vid").alias("_jv"), F.col("value").alias("_jp")

    def _apply(state: DataFrame, agg: DataFrame, ctx: dict) -> DataFrame:
        # Lazy localCheckpoint, NOT persist(): the self-join references
        # merged twice, and cache-manager substitution is structural — it
        # reliably hits one side but misses the deduplicated side of a
        # self-join, silently re-executing the whole E-row scatter+combine
        # a second time per superstep (measured 2x superstep wall on the
        # big-frontier rounds). The lazy checkpoint instead rewrites the
        # plan to a single shared LogicalRDD leaf immediately, so both join
        # branches share one computation by construction; it also pins the
        # leaf's hashpartitioning (vid) so the jump side needs no exchange.
        merged = base(state, agg, ctx).localCheckpoint(eager=False)
        jump = merged.select(jv_col, jp_col)
        jumped = F.least(merged["value"], F.coalesce(jump["_jp"], merged["value"]))
        out = merged.join(jump, merged["value"] == jump["_jv"], "left").select(
            merged["vid"],
            jumped.alias("value"),
            (merged["active"] | (jumped < merged["value"])).alias("active"),
        )
        # the jump join keys on `value`, leaving the output value-
        # partitioned; repartition back to vid (one V-row exchange) so the
        # NEXT superstep's scatter join and apply join are both
        # exchange-free (saves two).
        return out.repartition(ctx["num_partitions"], "vid")

    return _apply


def _make_apply_min_jump() -> ApplyFn:
    return _with_jump(_make_apply_min())


def _make_apply_min_hook() -> ApplyFn:
    """_apply_min plus Shiloach-Vishkin-style hooking.

    Hooking routes each vertex's best candidate label to its CURRENT label
    vertex (a V-row shuffle keyed by label), so basin roots learn about
    better labels discovered at their boundary and the next jump spreads
    them basin-wide. Without it, min-label + jump degrades to a 1-vertex-
    per-round frontier crawl on path graphs whose vertex ids are random —
    exactly the transcript case (xxhash64 ids along conversation chains;
    observed 33 rounds / 24 of them single-active on a 200-conversation
    demo, vs 5 with hooking). Same fixpoint: hooks only ever deliver ids of
    ancestors-of-ancestors, which min-label may legally adopt."""
    cand_c = F.least(
        F.col("value"), F.coalesce(F.col("agg"), F.col("value"))
    ).alias("_c")
    cand_old = F.col("value").alias("_old")
    hook_pred = F.col("_c") < F.col("_old")
    hook_key = F.col("_old").alias("vid")
    hook_min = F.min("_c").alias("_h")
    m_val = F.least(F.col("_c"), F.coalesce(F.col("_h"), F.col("_c"))).alias("value")
    m_act = (
        (F.col("_c") < F.col("_old"))
        | (F.col("_h").isNotNull() & (F.col("_h") < F.col("_c")))
    ).alias("active")

    def _apply(state: DataFrame, agg: DataFrame, ctx: dict) -> DataFrame:
        cand = state.join(agg.withColumnRenamed("dst", "vid"), "vid", "left")
        cand = cand.select("vid", cand_c, cand_old).localCheckpoint(
            eager=False
        )  # shared by hook + merge branches (see _with_jump)
        hooks = cand.filter(hook_pred).groupBy(hook_key).agg(hook_min)
        return cand.join(hooks, "vid", "left").select("vid", m_val, m_act)

    return _apply


def _minlabel_step(frag: Fragment, value: np.ndarray, cols: dict):
    """One-fragment undirected WCC: min-label to the local fixpoint of the
    whole closure (the PEval inner loop, wcc_vc_batch.cpp:139-148) — one
    step is the answer, so the kernel declares fixpoint=True."""
    out = make_minplus_block(None)(pd.DataFrame({
        "src": frag.src, "dst": frag.dst,
        "src_state": value[frag.src], "dst_state": value[frag.dst],
    }))
    new = value.copy()
    new[out["vid"].to_numpy()] = out["value"].to_numpy()
    return new, new != value


_MINLABEL_KERNEL = FragmentKernel(_minlabel_step, fixpoint=True)


def _pick_apply(hooking: bool, directed: bool, pointer_jump: bool) -> ApplyFn:
    base = _make_apply_min_hook() if hooking and not directed else _make_apply_min()
    return _with_jump(base) if pointer_jump else base


def _wcc_engine(
    edges: DataFrame,
    directed: bool,
    checkpoint_dir: str | None,
    engine_kwargs: dict | None,
) -> SuperstepEngine:
    """The engine every WCC face runs on: the directed edges as given, or
    (undirected) the symmetrized closure, deduped inside the engine's
    one-time partitioning exchange (dedup_edges) rather than by a separate
    distinct shuffle, with its vertex set read from src alone (symmetric)
    — one E-scale Exchange instead of two at engine build, half the
    distinct input at init (guide §2.4)."""
    kw = {"checkpoint_dir": checkpoint_dir, **(engine_kwargs or {})}
    if directed:
        return SuperstepEngine(edges.select("src", "dst"), **kw)
    return SuperstepEngine(
        symmetrize_raw(edges), dedup_edges=True, symmetric=True, **kw
    )


def _init_labels(eng: SuperstepEngine) -> DataFrame:
    """Every vertex labelled with its own id, all active."""
    return eng.vertices().select(
        "vid", F.col("vid").alias("value"), F.lit(True).alias("active")
    )


def run_wcc(
    edges: DataFrame,
    directed: bool = False,
    max_iter: int = 200,
    pointer_jump: bool = True,
    hooking: bool = True,
    checkpoint_dir: str | None = None,
    engine_kwargs: dict | None = None,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """Min-label propagation; returns state (vid, value=component label).

    Pass ``engine`` (built over the SYMMETRIZED graph unless directed=True)
    to amortize the one-time prepartition across runs on the same graph,
    same contract as run_pagerank.

    directed=False (default): true WCC on the symmetrized graph.
    directed=True: the reference's literal directed min-label fixpoint
    (valid for pointer_jump too: ancestors of ancestors are ancestors).
    pointer_jump=True adds a path-halving hop per superstep — same fixpoint,
    O(log n) rounds instead of O(diameter); turn off for the literal
    one-hop-per-superstep reference parity behavior.
    hooking=True (undirected only — a hook target need not be reachable
    from the message origin under directed semantics, so it is ignored for
    directed=True) adds the SV-style V-row hook shuffle per superstep; see
    _make_apply_min_hook for why random vertex ids on path graphs need it.
    hooking composes with either pointer_jump setting.
    """
    eng = engine or _wcc_engine(edges, directed, checkpoint_dir, engine_kwargs)
    res = eng.run(
        _init_labels(eng),
        scatter=_make_scatter_label(),
        combiner="min",
        apply_fn=_pick_apply(hooking, directed, pointer_jump),
        frontier=True,
        max_iter=max_iter,
        algo="wcc_directed" if directed else "wcc",
        kernel=None if directed else _MINLABEL_KERNEL,
    )
    if engine is None:
        eng.close()  # free owned edge blocks; caller-passed engines live on
    return res


def run_wcc_incremental(
    edges: DataFrame,
    delta_edges: DataFrame,
    prev_labels: DataFrame,
    directed: bool = False,
    max_iter: int = 200,
    pointer_jump: bool = True,
    hooking: bool = True,
    checkpoint_dir: str | None = None,
    engine_kwargs: dict | None = None,
    engine: SuperstepEngine | None = None,
) -> SuperstepResult:
    """IncEval for WCC under edge ADDITIONS: re-converge the label fixpoint
    starting from a previous converged state, activating only the region the
    delta touches.

    This is the explicit face of the reference's PEval/IncEval split
    (2d_pie/auto_app_base.h:39-63 — PEval computes the batch fixpoint,
    IncEval re-converges from changed inputs): `prev_labels` is the old
    fixpoint (vid, value) — e.g. a checkpoint snapshot or run_wcc().state —
    and `delta_edges` are newly arrived edges (the streaming transcript
    case: new conversation turns project to new seq/tool links).

    Exactness: min-label is monotone — edge additions can only merge
    components, so old labels are valid upper bounds and propagating from
    them reaches exactly the batch fixpoint on the union graph. The frontier
    starts at delta endpoints plus unseen vertices only, so untouched
    components do ZERO scatter work (messages ∝ affected region, not |V| —
    the IncEval win). Deletions are NOT supported: removing an edge can
    split a component, which min-label cannot observe from a converged
    state; re-run run_wcc for deletions (the reference's IncEval has the
    same monotone-class restriction).
    """
    union_edges = edges.select("src", "dst").unionAll(delta_edges.select("src", "dst"))
    # engine, if passed, must hold the (symmetrized unless directed) UNION
    # graph — the caller owns the per-graph-version prepartition lifecycle
    eng = engine or _wcc_engine(union_edges, directed, checkpoint_dir, engine_kwargs)
    touched = (
        delta_edges.select(F.col("src").alias("vid"))
        .unionAll(delta_edges.select(F.col("dst").alias("vid")))
        .distinct()
        .withColumn("_touched", F.lit(True))
    )
    init = (
        eng.vertices()
        .join(prev_labels.select("vid", F.col("value").alias("_prev")), "vid", "left")
        .join(touched, "vid", "left")
        .select(
            "vid",
            F.coalesce("_prev", F.col("vid")).alias("value"),
            (F.col("_touched").isNotNull() | F.col("_prev").isNull()).alias("active"),
        )
    )
    res = eng.run(
        init,
        scatter=_make_scatter_label(),
        combiner="min",
        apply_fn=_pick_apply(hooking, directed, pointer_jump),
        frontier=True,
        max_iter=max_iter,
        algo="wcc_incremental",
        kernel=None if directed else _MINLABEL_KERNEL,
    )
    if engine is None:
        eng.close()
    return res


def run_wcc_decremental(
    edges: DataFrame,
    deleted_edges: DataFrame,
    prev_labels: DataFrame,
    max_iter: int = 200,
    pointer_jump: bool = True,
    hooking: bool = True,
    checkpoint_dir: str | None = None,
    engine_kwargs: dict | None = None,
) -> SuperstepResult:
    """IncEval for WCC under edge DELETIONS — the non-monotone direction the
    reference's IncEval cannot do (run_wcc_incremental's docstring; the
    reference shares the additions-only restriction at auto_app_base.h:39-63).
    Undirected semantics only: an edge {a, b} is removed whichever
    orientation either table stores.

    Deletions can SPLIT components, which a converged min-label state cannot
    observe — but only components that actually lost an edge can change, and
    components never span labels. So: (1) find the labels touched by
    actually-removed edges (deletions of absent edges are ignored), (2)
    batch-recompute WCC on the remaining edges INSIDE those components only,
    and (3) keep every untouched component's state verbatim. Labels are
    min-vid per component, determined independently per component, so the
    stitched result is EXACTLY run_wcc(edges minus deletions).state — batch
    semantics throughout, including vertex existence: a vertex that lost its
    last edge leaves the graph (WCC's vertex set is defined by edges), so it
    simply has no row. The driver oracle pins the equivalence with a
    recursive CTE over the filtered edges.

    Cost ∝ the affected components' edge volume, not |E| — the decremental
    analog of the IncEval win (a daily unlink-delta on a 10^12-edge link
    graph touches a vanishing fraction of components; everything else is a
    V-row anti-join and no scatter work at all).
    """
    def canon(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    base = canon(edges).persist()
    dele = canon(deleted_edges)
    removed = dele.join(base, ["src", "dst"], "left_semi")
    remaining = base.join(dele, ["src", "dst"], "left_anti")
    lab = prev_labels.select("vid", F.col("value").alias("label"))
    affected_labels = (
        removed.select(F.col("src").alias("vid"))
        .unionAll(removed.select(F.col("dst").alias("vid")))
        .join(lab, "vid")
        .select("label")
        .distinct()
        .persist()
    )
    # remaining edges inside affected components: src's label decides (both
    # endpoints of any remaining edge share the old label by definition)
    sub = (
        remaining.join(
            lab.select(F.col("vid").alias("src"), "label"), "src"
        )
        .join(affected_labels, "label", "left_semi")
        .select("src", "dst")
    )
    res = run_wcc(
        sub, max_iter=max_iter, pointer_jump=pointer_jump, hooking=hooking,
        checkpoint_dir=checkpoint_dir, engine_kwargs=engine_kwargs,
    )
    recomputed = res.state.select("vid", "value")
    unaffected = (
        prev_labels.select("vid", "value")
        .join(
            affected_labels.withColumnRenamed("label", "value"), "value", "left_anti"
        )
        .select("vid", "value")
    )
    # materialize the stitched state (run_wcc's result state is likewise
    # persisted) BEFORE freeing the helper caches its plan references
    state = unaffected.unionAll(recomputed).persist()
    state.count()
    base.unpersist()
    affected_labels.unpersist()
    return SuperstepResult(
        state=state, metrics=res.metrics, iterations=res.iterations,
        converged=res.converged,
    )


def component_sizes(labels: DataFrame) -> DataFrame:
    """(label, size) — the usual reporting face of WCC."""
    return labels.groupBy(F.col("value").alias("label")).agg(
        F.count(F.lit(1)).alias("size")
    )

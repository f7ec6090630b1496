"""Label propagation (classic most-frequent-label LPA).

Derived from the reference's propagate-combine skeleton
(apps/cpp/wcc_vc_stream.cpp:43-71) with the combiner swapped from write_min
to mode (SURVEY.md §2.4 'missing-from-reference' note). Deterministic:
synchronous updates, ties broken by the smallest label — matches
oracle.lpa_labels exactly.

The mode combiner is not a Spark builtin with deterministic ties; it is the
count-by-(dst,label) + windowless argmax in operators/partition.py
(make_mode_agg; map-side partial aggregation absorbs hubs) —
two small shuffles, both partial-aggregated map-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.superstep import (
    Fragment,
    FragmentKernel,
    Graph,
    SuperstepResult,
    as_graph,
)


def _mode_step(frag: Fragment, value: np.ndarray, cols: dict):
    """One-fragment LPA: one synchronous sweep. Each vertex takes the most
    frequent label among its in-neighbours, ties to the smallest label; a
    vertex without in-neighbours keeps its label (the mode combiner plus
    the coalescing apply of the loop)."""
    dst, lab = frag.dst, value[frag.src]
    order = np.lexsort((lab, dst))
    dst, lab = dst[order], lab[order]
    # one run per distinct (dst, label) pair, in (dst, label) order
    first = np.ones(dst.size, dtype=bool)
    first[1:] = (dst[1:] != dst[:-1]) | (lab[1:] != lab[:-1])
    starts = np.flatnonzero(first)
    cnt = np.diff(np.append(starts, dst.size))
    dst, lab = dst[starts], lab[starts]
    # best pair per dst: highest count, then smallest label
    order = np.lexsort((lab, -cnt, dst))
    dst, lab = dst[order], lab[order]
    best = np.ones(dst.size, dtype=bool)
    best[1:] = dst[1:] != dst[:-1]
    new = value.copy()
    new[dst[best]] = lab[best]
    return new, new != value


_MODE_KERNEL = FragmentKernel(_mode_step)


def run_lpa(
    edges: DataFrame | Graph,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """Synchronous LPA on the undirected simple closure.

    Returns state (vid, value=label). Note LPA may oscillate on bipartite
    structures under synchronous updates; max_iter bounds that, matching the
    oracle's fixed-sweep semantics.

    Runs on the graph's closure view, the engine run_wcc uses: pass one
    Graph to both and the closure is partitioned once. The combiner is
    mode, so the closure must be exactly deduplicated; the closure view's
    dedup (prepartition_edges dedup=True) is exact.
    """
    # loop-invariant Column trees built once, not per superstep (see
    # superstep._run_loop note on the per-iteration py4j floor)
    _vid_as_src = F.col("vid").alias("src")
    _msg_col = F.col("value").alias("msg")
    _new_val = F.coalesce(F.col("agg"), F.col("value"))
    _value_col = _new_val.alias("value")
    _active_col = (_new_val != F.col("value")).alias("active")

    def scatter(e: DataFrame, state: DataFrame, ctx: dict) -> DataFrame:
        return e.join(state.select(_vid_as_src, "value"), "src").select(
            "dst", _msg_col
        )

    def apply_fn(state: DataFrame, agg: DataFrame, ctx: dict) -> DataFrame:
        joined = state.join(agg.withColumnRenamed("dst", "vid"), "vid", "left")
        return joined.select("vid", _value_col, _active_col)

    with as_graph(edges) as g:
        eng = g.engine("closure")
        init = eng.vertices().select(
            "vid", F.col("vid").alias("value"), F.lit(True).alias("active")
        )
        return eng.run(
            init, scatter=scatter, combiner="mode", apply_fn=apply_fn,
            frontier=False, max_iter=max_iter, algo="lpa", kernel=_MODE_KERNEL,
            checkpoint_dir=checkpoint_dir,
        )

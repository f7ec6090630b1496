"""Greedy conflict-repair graph coloring (reference A5).

Reference semantics (apps/cpp/coloring.cpp:35-66,97-174): init color=0; for
every edge (u,v) with u<v whose endpoints share a color, write_add(color[u],
1) — i.e. the smaller-id endpoint of each conflicting edge bumps its color
by the number of its conflicts; loop until no conflicting edge remains.

Superstep mapping: scatter joins the canonical (src<dst) edge table with the
color state on BOTH endpoints and emits (src, 1) per conflict; combine is
the sum-combiner (write_add analog, utility/atomic.h:48-55); apply adds the
conflict count to the color. Colors only increase, so the fixpoint (no
conflicts) is a proper coloring; not minimal — same greedy quality class as
the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.project import canonicalize
from ..operators.superstep import Graph, SuperstepResult, as_graph


def run_coloring(
    edges: DataFrame | Graph,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """Returns state (vid, value=color) with no two adjacent vertices equal.

    Runs on the graph's canonical (src < dst) closure view, not the
    symmetrized one WCC/LPA use: each conflicting edge must be seen once,
    messaging its smaller endpoint."""

    def scatter(e: DataFrame, state: DataFrame, ctx: dict) -> DataFrame:
        cs = state.select(F.col("vid").alias("src"), F.col("value").alias("c_src"))
        cd = state.select(F.col("vid").alias("dst"), F.col("value").alias("c_dst"))
        conflicts = (
            e.join(cs, "src").join(cd, "dst").filter(F.col("c_src") == F.col("c_dst"))
        )
        # message target is the SMALLER endpoint (src, since e is canonical);
        # engine combines on column named 'dst', so emit it there
        return conflicts.select(F.col("src").alias("dst"), F.lit(1).alias("msg"))

    def apply_fn(state: DataFrame, agg: DataFrame, ctx: dict) -> DataFrame:
        joined = state.join(agg.withColumnRenamed("dst", "vid"), "vid", "left")
        bumped = F.col("agg").isNotNull()
        return joined.select(
            "vid",
            (F.col("value") + F.coalesce("agg", F.lit(0))).alias("value"),
            bumped.alias("active"),
        )

    with as_graph(edges) as g:
        eng = g.engine("canonical")
        # endpoints of the canonical closure = every non-isolated vertex
        init = eng.vertices().select(
            "vid", F.lit(0).cast("long").alias("value"), F.lit(True).alias("active")
        )
        return eng.run(
            init,
            scatter=scatter,
            combiner="sum",
            apply_fn=apply_fn,
            frontier=False,  # conflicts can involve non-changed endpoints
            max_iter=max_iter,
            algo="coloring",
            checkpoint_dir=checkpoint_dir,
        )


def coloring_conflicts(edges: DataFrame, colors: DataFrame) -> int:
    """Validity probe: number of edges whose endpoints share a color."""
    und = canonicalize(edges)
    cs = colors.select(F.col("vid").alias("src"), F.col("value").alias("c_src"))
    cd = colors.select(F.col("vid").alias("dst"), F.col("value").alias("c_dst"))
    return (
        und.join(cs, "src").join(cd, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .count()
    )

"""Transcript → link-graph projection (SURVEY.md §3.3; no reference analog —
this surface is mandated by BASELINE.json input_hint).

Input: transcript table (conv_id, turn_idx, role, text, tool, ts).
Output: edge table (src, dst, kind, conv_id) where a vertex is a turn,
identified by xxhash64(conv_id, turn_idx) (LongType — 10^12-turn scale
exceeds 2^32, SURVEY.md §1.2).

Edge kinds:
- 'seq'  : turn i -> turn i+1 within a conversation (window lead over
           (conv_id) ordered by turn_idx — one shuffle on conv_id, no join).
- 'tool' : tool turn -> later turns in the same conversation that reference
           the same tool, fan-out capped (Zipf tool distribution still
           yields hub vertices downstream).

Scale notes: both projections shuffle ONLY on conv_id(/tool) (conversations
are small: window state is bounded by max turns/conv), so each plan is one
hash exchange + per-group sort — no global sort, no join, no driver
collection; tool fan-out is a lead(1..k) chain, O(g*k) output per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schemas import PROJECTED_EDGE_SCHEMA


def turn_vid(conv_id="conv_id", turn_idx="turn_idx"):
    """Stable 64-bit vertex id for a turn."""
    return F.xxhash64(F.col(conv_id), F.col(turn_idx))


def transcript_vertices(transcripts: DataFrame) -> DataFrame:
    """Vertex table carrying turn attributes, for invariant checks and
    score joins: (vid, conv_id, turn_idx, role, text, tool, ts)."""
    return transcripts.withColumn("vid", turn_vid())


def seq_edges(transcripts: DataFrame) -> DataFrame:
    """Sequential turn->turn edges via window lead (axis-B projection)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.select(
            "conv_id",
            turn_vid().alias("src"),
            F.lead(turn_vid()).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .select("src", "dst", F.lit("seq").alias("kind"), "conv_id")
    )


def tool_edges(transcripts: DataFrame, max_fanout: int = 16) -> DataFrame:
    """Tool-reference edges: each tool turn -> up to ``max_fanout`` later
    turns in the same conversation using the same tool.

    The first ``max_fanout`` successors within the sorted (conv_id, tool)
    window ARE lead(1..max_fanout), so a lead chain + explode produces them
    directly: O(g*k) rows per group with no join at all. (The naive
    formulation — self-join on (conv_id, tool) then a row_number cap —
    materializes ALL O(g^2) later pairs per group before trimming to k,
    which a single hot group turns into the plan's bottleneck at scale;
    the equivalence is pinned by the driver oracle, which still states the
    join+cap form in SQL.)"""
    tools = transcripts.filter(F.col("tool").isNotNull()).select(
        "conv_id", "tool", "turn_idx", turn_vid().alias("src")
    )
    w = Window.partitionBy("conv_id", "tool").orderBy("turn_idx")
    nexts = F.array(*[F.lead("src", i).over(w) for i in range(1, max_fanout + 1)])
    return (
        tools.select("conv_id", "src", nexts.alias("_next"))
        .select("conv_id", "src", F.explode("_next").alias("dst"))
        .filter(F.col("dst").isNotNull())
        .select("src", "dst", F.lit("tool").alias("kind"), "conv_id")
    )


def project_edges(transcripts: DataFrame, with_tool_edges: bool = True,
                  max_fanout: int = 16) -> DataFrame:
    """Full projection: seq + tool edges, PROJECTED_EDGE_SCHEMA."""
    e = seq_edges(transcripts)
    if with_tool_edges:
        e = e.unionAll(tool_edges(transcripts, max_fanout))
    assert [f.name for f in PROJECTED_EDGE_SCHEMA.fields] == e.columns
    return e


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected closure: union of both directions, deduped, self-loops
    dropped (self-loop filter parity: edge_cut_partitioner.h:103).

    For a consumer that needs the deduplicated DataFrame itself. A plan
    runs on the closure through a Graph instead (superstep.Graph,
    view="closure"), whose engine partitions symmetrize_raw(edges) and
    folds this dedup into that one exchange."""
    return symmetrize_raw(edges).distinct()


def canonicalize(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple closure: each undirected edge once as
    (min, max), self-loops dropped. Row-identical to
    ``symmetrize(edges).filter(src < dst)`` but the dedup shuffle carries
    E rows instead of the 2E symmetrized union (the oriented_edges trick,
    plans/triangles.py:46, promoted here for every canonical-closure
    consumer — guide §2.3, shuffle fewer bytes).

    A plan runs on it through a Graph (view="canonical"), whose engine
    folds the dedup into its partitioning exchange."""
    return canonicalize_raw(edges).distinct()


def symmetrize_raw(edges: DataFrame) -> DataFrame:
    """Both directions with self-loops dropped but WITHOUT the dedup
    shuffle — the input to prepartition_edges(dedup=True), which folds the
    dedup into the partitioning exchange it performs anyway (one E-scale
    Exchange instead of two; guide §2.4). Use symmetrize() whenever the
    consumer needs a deduplicated DataFrame directly."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionAll(rev).filter(F.col("src") != F.col("dst"))


def canonicalize_raw(edges: DataFrame) -> DataFrame:
    """canonicalize() without the dedup shuffle (see symmetrize_raw)."""
    return edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))


def roundtrip_check(transcripts: DataFrame) -> bool:
    """Per-row invariant from BASELINE.json input_hint: projecting
    transcripts -> graph -> back must preserve per-turn text under stable
    (conv_id, turn_idx) ordering.

    Reconstructs (conv_id, turn_idx, text) from the vertex table reachable
    through the projected edges' endpoints plus isolated single-turn
    conversations, and anti-joins against the input — zero diffs = pass.
    """
    verts = transcript_vertices(transcripts).select("vid", "conv_id", "turn_idx", "text")
    edges = project_edges(transcripts)
    endpoint_vids = (
        edges.select(F.col("src").alias("vid"))
        .unionAll(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )
    # turns present in the graph
    graph_turns = verts.join(endpoint_vids, "vid").select("conv_id", "turn_idx", "text")
    # single-turn conversations produce no edges; they remain vertices by definition
    singletons = (
        transcripts.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") == 1)
        .join(transcripts, "conv_id")
        .select("conv_id", "turn_idx", "text")
    )
    reconstructed = graph_turns.unionAll(singletons).distinct()
    original = transcripts.select("conv_id", "turn_idx", "text").distinct()
    missing = original.exceptAll(reconstructed).count()
    extra = reconstructed.exceptAll(original).count()
    return missing == 0 and extra == 0

"""minigraph_spark — a from-scratch PySpark-native link-graph analytics engine.

Re-expresses the query semantics of SICS-Fundamental-Research-Center/MiniGraph
(an out-of-core C++ single-machine graph system, studied read-only at
/root/reference) as idiomatic Spark DataFrame pipelines:

- PIE-style iterative algorithms (PageRank, WCC, LPA, SSSP/BFS, coloring,
  triangle counting) as superstep scatter-combine-apply loops
  (`minigraph_spark.plans`, `minigraph_spark.operators.superstep`).
- Graph ETL (partitioning, dense-id compaction, degree statistics) as
  DataFrame operators (`minigraph_spark.operators`, `plans.stats`); the
  superstep engine partitions each graph once and keeps it cached
  (`operators.partition.prepartition_edges`, and one
  `operators.superstep.Fragment` at width 1).
- Transcript → edge-table projection for conversation/agent transcript tables
  (`minigraph_spark.operators.project`), the engine's primary input surface.
- Training-data-pipeline operators (dedup, similarity search, text analysis)
  as first-class DataFrame ops.

Everything here is built only on public Apache Spark / PySpark APIs; no code
is copied from the reference. Reference citations (file:line) in docstrings
identify the *behavior* being matched, never the implementation.
"""

__version__ = "0.1.0"

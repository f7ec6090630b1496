"""The superstep engine — PIE model re-expressed as one Catalyst plan per
iteration (SURVEY.md §3.1, §4).

The reference runs PEval/IncEval kernels per fragment with a shared
global message array and atomic min/max/add combiners
(reference: minigraph/2d_pie/auto_app_base.h:39-63, auto_map.h:92-177,
message push/pull wcc_vc_batch.cpp:42-95, combiners utility/atomic.h:30-55).
Here each superstep is:

    scatter:  msgs = f(edges ⋈ active-state)        -> (dst, msg)
    combine:  agg  = salted groupBy(dst).{min|max|sum|mode}(msg)
    apply:    state' = g(state ⟕ agg)               -> (vid, value, active)

all in ONE Catalyst plan with ONE data shuffle (the combine; the scatter
join reuses the edge table's persisted hash partitioning). This is the
package's only superstep loop: the CSR fragment path (operators/csr.py) is a
scatter of it that runs a local-fixpoint kernel per fragment. Convergence is a
driver-side count — the Aggregate-hook analog (auto_app_base.h:56-63). The
FSM / queues / schedulers of the reference (minigraph_sys.h:42-207) have no
port target: Spark's DAG scheduler owns those decisions.

Scale design (100 TB): edges are hash-partitioned ONCE and persisted
(prepartition_edges) so the per-iteration scatter join is co-located on the
edge side; messages shuffle on dst with map-side partial aggregation (the
write_min analog is exactly Catalyst's partial agg); hub vertices are salted
(operators/partition.py); lineage is truncated every iteration via
localCheckpoint and durable parquet snapshots every `checkpoint_every`
iterations make any run resumable (checkpoint.py).
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import checkpoint as ckpt
from ..session import iterative_confs
from .partition import (
    heavy_hitters,
    make_mode_agg,
    make_salted_agg,
    prepartition_edges,
)

# debug aid: MG_EXPLAIN=<k> prints the physical plan of superstep window k
_EXPLAIN = int(__import__("os").environ.get("MG_EXPLAIN", "-1") or -1)

ScatterFn = Callable[[DataFrame, DataFrame, dict], DataFrame]
ApplyFn = Callable[[DataFrame, DataFrame, dict], DataFrame]
PrepareFn = Callable[[DataFrame, dict], dict]


def persistent_rdd_ids(spark) -> set:
    """Ids of every persisted RDD in the JVM — includes localCheckpoint
    blocks, which df.unpersist() cannot free (they live outside the cache
    manager). Shared by every iterative loop in the package: snapshot
    around a materialization, diff, and free_rdd_ids the previous round.

    Reads the key set as ONE Java array instead of iterating the py4j map
    view: py4j's map/iterator protocol pays a JVM roundtrip per entry and
    terminates with a NoSuchElementException whose driver-side conversion
    walks ~13 instanceof calls (~20 ms per snapshot — profiled at 0.7 s
    of a 6.2 s warm 15-iteration events PageRank, two snapshots per
    superstep)."""
    jarr = spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    return {int(jarr[i]) for i in range(len(jarr))}


def free_rdd_ids(spark, ids: set) -> None:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        if rid in jmap:
            jmap[rid].unpersist(False)


def tracked_local_checkpoint(df, serialized: bool = False):
    """Eager localCheckpoint + the block ids it pinned, so the caller can
    free_rdd_ids them when the round state is superseded (the ADVICE-r3
    leak rule). One shared home for the snapshot/diff idiom every
    iterative plan uses.

    serialized=True passes MEMORY_AND_DISK_SER as the checkpoint's own
    storageLevel (the PySpark 4.0+ Dataset.localCheckpoint parameter) —
    ~3-5x smaller heap per row, the SuperstepEngine state_storage='ser'
    policy for E-scale round state (a 256M-edge symmetric closure held
    deserialized OOMs a 48g heap; serialized it fits). ADVICE-r4: the old
    persist-then-checkpoint idiom did NOT work for Datasets — localCheckpoint
    materializes a NEW internal RDD at the default Deserialized level
    (inheriting an existing level is an RDD-API behavior only), so it pinned
    a deserialized checkpoint PLUS a redundant serialized cache copy."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    if serialized:
        from pyspark.storagelevel import StorageLevel

        out = df.localCheckpoint(
            eager=True, storageLevel=StorageLevel(True, True, False, False)
        )
    else:
        out = df.localCheckpoint(eager=True)
    return out, persistent_rdd_ids(spark) - before


@dataclass
class IterationMetrics:
    iteration: int
    num_active: int
    num_changed: int
    num_messages: int
    elapsed_sec: float
    checkpointed: bool


@dataclass
class SuperstepResult:
    state: DataFrame
    metrics: list[IterationMetrics] = field(default_factory=list)
    iterations: int = 0
    converged: bool = False

    @property
    def total_sec(self) -> float:
        return sum(m.elapsed_sec for m in self.metrics)


@dataclass(frozen=True)
class Fragment:
    """The whole graph as one fragment, in local ids: vertex i is row i of
    the state (sorted by vid), and edge k runs src[k] -> dst[k]. Edges are
    sorted by (dst, src), so every float reduction over them runs in one
    fixed order whatever order the rows arrived in."""

    vid: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    edge_cols: dict[str, np.ndarray]


@dataclass(frozen=True)
class FragmentKernel:
    """A plan's NumPy superstep for one-fragment mode (SuperstepEngine).

    ``step(frag, value, cols) -> (value', active)`` is one iteration over
    the whole graph: ``cols`` holds the state's columns besides vid, value
    and active (e.g. PageRank's outdeg), and ``active`` marks the vertices
    the plan's loop would mark changed. ``fixpoint=True`` declares that one
    step reaches the fixpoint (a local min-label fixpoint), so the run
    converges after it."""

    step: Callable[[Fragment, np.ndarray, dict], tuple[np.ndarray, np.ndarray]]
    fixpoint: bool = False


def _fragment_fn(kernel: FragmentKernel, steps: int, stop_when_unchanged: bool):
    """The cogroup function of one one-fragment window: build the fragment
    from the edge rows and the state rows, run up to ``steps`` kernel
    iterations, and return the new state. The per-iteration changed counts
    and the converged flag ride on the first row's ``_stats`` column."""

    def fn(edges: pd.DataFrame, state: pd.DataFrame) -> pd.DataFrame:
        state = state.sort_values("vid", ignore_index=True)
        vid = state["vid"].to_numpy(np.int64)
        src = edges["src"].to_numpy(np.int64)
        dst = edges["dst"].to_numpy(np.int64)
        # edges with an endpoint outside the state carry no message, as in
        # the loop's inner scatter join and left apply join
        si = np.minimum(np.searchsorted(vid, src), vid.size - 1)
        di = np.minimum(np.searchsorted(vid, dst), vid.size - 1)
        keep = (vid[si] == src) & (vid[di] == dst)
        si, di = si[keep], di[keep]
        order = np.lexsort((si, di))
        frag = Fragment(
            vid=vid, src=si[order], dst=di[order],
            edge_cols={
                c: edges[c].to_numpy()[keep][order]
                for c in edges.columns if c not in ("src", "dst")
            },
        )
        cols = {
            c: state[c].to_numpy() for c in state.columns
            if c not in ("vid", "value", "active")
        }
        value = state["value"].to_numpy()
        changed: list[int] = []
        converged = False
        for _ in range(steps):  # steps >= 1
            value, active = kernel.step(frag, value, cols)
            changed.append(int(active.sum()))
            if kernel.fixpoint or (stop_when_unchanged and changed[-1] == 0):
                converged = True
                break
        out = state.assign(value=value, active=active, _stats=None)
        out.loc[0, "_stats"] = json.dumps([changed, converged])
        return out

    return fn


class SuperstepEngine:
    """Generic scatter-combine-apply driver over a fixed edge table — the
    one superstep loop every iterative plan runs on. A scatter is either a
    DataFrame join (plans/wcc, bfs, lpa, pagerank) or a fragment kernel
    (operators/csr.fragment_scatter: the edges grouped by fragment, each
    iterated to its local fixpoint in one Arrow task, run with
    frontier=False). One superstep is one Spark job whose eager
    localCheckpoint cuts the lineage; the window's intermediate blocks
    (lazy checkpoints an apply builds) and the previous state's blocks are
    freed once it exists, so a finished run holds only its result state.

    Parameters
    ----------
    edges : (src, dst) DataFrame; pre-partitioned by src and persisted here.
    num_partitions : hash-partition count for the edge table (defaults to
        spark.sql.shuffle.partitions).
    salt_skew : detect hub dst keys once and salt the combine for them.
        Default False — measured OFF-faster even on deliberately-hub-skewed
        inputs (16M-edge R-MAT PageRank: 1.8 vs 2.4 s/iter interleaved;
        8M-edge 20%-hub LPA: 11.8 vs 18.6 s total), because the combine's
        map-side partial aggregation already collapses a hot key to one row
        per partition before the shuffle; the salt machinery then only adds
        a per-row when/isin/hash, an extra merge phase, and the engine-build
        heavy-hitter scan. Turn on only for combiners whose phase-1 partial
        aggregation cannot collapse rows (or message streams already
        partitioned by dst, where the agg is single-task without it).
    checkpoint_dir / checkpoint_every : durable snapshot cadence; None
        disables durable snapshots (lineage is still truncated in memory).
    lineage_cut_every : localCheckpoint cadence. Default 1 (every
        iteration): plans that reference `state` several times (scatter +
        apply + pointer-jump self-joins) grow the LOGICAL plan ~4x per
        uncut round, and since every DataFrame op re-runs Catalyst
        analysis eagerly, even 3 uncut rounds make driver-side analysis
        the bottleneck (measured: 90% of wall time at 200+ iterations).
        The cut itself is one cheap job over the already-cached state.
    state_storage : "deser" (default) stores per-iteration state blocks
        deserialized (fastest sweep; the level every BASELINE.md number was
        measured at). "ser" stores them MEMORY_AND_DISK_SER — ~3-5x smaller
        heap footprint per row at some ser/deser CPU cost. Use "ser" when
        |V| rivals |E| (e.g. short transcript chains: a 256M-edge, 20-turn
        chains graph carries 269M vertices, and the deserialized state
        blocks alone exceed a 48g driver heap — measured OOM, round 4).

    One-fragment mode (``one_fragment``, read-only): chosen at build time
    when the exact edge-row count observed on the partitioning job is at
    most TARGET_ROWS_PER_PARTITION and the caller did not pin
    num_partitions > 1. The whole graph is then one fragment with no
    border vertices, so PEval alone is the answer (wcc_vc_batch.cpp:139-148)
    and a superstep needs no exchange. run() then executes a plan that
    ships a FragmentKernel as one Spark job per window: the cached edges
    and the state are cogrouped into ONE applyInPandas task, the kernel
    iterates in NumPy, and the new state (same schema as the loop's:
    vid, value, active[, outdeg]) comes back localCheckpointed. A window
    is the whole run, or with checkpoint_dir the stretch up to the next
    checkpoint_every boundary; snapshots, metrics.jsonl rows and
    IterationMetrics are the loop's, one per iteration. Kernels ship with:

    - undirected WCC, batch and incremental: one iteration is the local
      min-label fixpoint (csr.make_minplus_block), so the run converges
      after it;
    - LPA: one iteration is one synchronous mode sweep, ties to the
      smallest label;
    - standard PageRank (fuse=1): one iteration is one Jacobi sweep with
      dangling mass, stopping at max|Δ| <= tol.

    Every other plan or variant (directed WCC, the minigraph PageRank
    rule, fuse > 1, BFS, ...) runs the loop whatever the mode.
    """

    # size-aware parallelism: target edge rows per loop partition. At 16M+
    # edges this resolves to the full shuffle_partitions; on small/medium
    # graphs it shrinks the per-superstep stage width so task-scheduling
    # overhead stops dominating (measured on the 98.5k-edge sf0.1 events
    # graph at local[32]: 32 -> 4 partitions cut PageRank from 2.3 to 1.2
    # s/iter and WCC from 3.2 to 1.9 s/iter). The AQE-coalesce analog for
    # the fixed loop plan, decided ONCE at partition time like the
    # reference's -n fragment-count flag (tools/graph_partition.cpp).
    TARGET_ROWS_PER_PARTITION = int(
        __import__("os").environ.get("MG_TARGET_ROWS_PER_PARTITION", "32768") or 32768
    )

    # optimizer-estimate divisor for the pre-shuffle width choice below:
    # measured estimate/true-rows across this repo's edge inputs — parquet
    # scans 6.2-8.8 B/row (compressed file bytes propagated), plans over
    # persisted frames 16 B/row — so 12 keeps the derived width within the
    # 2x keep-band of the observed ideal for all of them
    EST_BYTES_PER_ROW = 12

    @staticmethod
    def _estimate_rows(df: DataFrame) -> int | None:
        """Pre-execution row estimate from the optimizer's stats: the exact
        rowCount when Catalyst knows it, else sizeInBytes divided by the
        measured bytes-per-row constant, else None (unknown/absurd)."""
        try:
            stats = df._jdf.queryExecution().optimizedPlan().stats()
            rc = stats.rowCount()
            if rc.isDefined():
                # str(): the scala.math.BigInt py4j proxy has no reliable
                # numeric accessor; its toString is the exact integer
                return max(1, int(str(rc.get())))
            b = int(stats.sizeInBytes())
        except Exception:
            return None
        if b <= 0 or b >= (1 << 60):
            return None
        return max(1, b // SuperstepEngine.EST_BYTES_PER_ROW)

    def __init__(
        self,
        edges: DataFrame,
        num_partitions: int | None = None,
        salt_skew: bool = False,
        checkpoint_dir: str | None = None,
        checkpoint_every: int = 5,
        lineage_cut_every: int = 1,
        state_storage: str = "deser",
        dedup_edges: bool = False,
        symmetric: bool = False,
    ):
        """dedup_edges=True folds an exact (src, dst) dedup into the
        one-time partitioning exchange (prepartition_edges dedup contract) —
        pass a NON-deduplicated closure (operators/project.symmetrize_raw)
        and skip the separate distinct shuffle. symmetric=True declares that
        the edge table contains both directions of every edge (an undirected
        closure), letting vertices() read the vertex set from src alone —
        half the distinct's input and no union."""
        spark = edges.sparkSession
        n_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n = num_partitions or n_max
        self.spark = spark
        # provenance markers from project.symmetrize / project.canonicalize:
        # the input IS `raw.distinct()`, so fold the dedup into the
        # partitioning exchange (prepartition dedup contract: exactly
        # `.distinct()`'s rows) instead of executing the distinct as its
        # own E-scale exchange, and — for symmetrize — read the vertex set
        # from src alone. Makes externally-composed engines (e.g.
        # SuperstepEngine(symmetrize(e))) build the same one-exchange plan
        # the in-package plans get via symmetrize_raw + dedup_edges=True.
        _raw = getattr(edges, "_mg_dedup_raw", None)
        if _raw is not None and not dedup_edges:
            symmetric = symmetric or getattr(edges, "_mg_symmetric", False)
            edges = _raw
            dedup_edges = True
        self.symmetric = symmetric
        self._verts: DataFrame | None = None
        _ids0 = self._persistent_ids()
        # keep any extra columns the caller selected (e.g. SSSP weights) —
        # scatter functions see self.edges as-is; only (src, dst) is required
        # the edge count (for the size-aware width and the one-fragment
        # rule) rides the prepartition materialization job as an observed
        # metric — no separate scan of the cached E rows (guide §1.2:
        # fewer passes)
        _n_obs = Observation()
        if num_partitions is None:
            # choose the INITIAL width from the optimizer's pre-shuffle size
            # estimate (guide §2.2 — derive partition counts from input
            # size): small graphs then shuffle ONCE at (near-)final width
            # instead of the wide-shuffle-then-downsize double pass. The
            # exact observed count below corrects the choice only when the
            # estimate was badly off — width is a performance knob with a
            # wide plateau, so a second full E-row shuffle is only worth
            # paying outside a 2x band of the ideal.
            _est = self._estimate_rows(edges)
            if _est is not None:
                n = max(1, min(n_max, -(-_est // self.TARGET_ROWS_PER_PARTITION)))
        self.edges = prepartition_edges(
            edges, n, by="src", dedup=dedup_edges, count_obs=_n_obs
        )
        self._edge_rdd_ids = self._persistent_ids() - _ids0
        n_edges = int(_n_obs.get["n"])
        self._one_fragment = n_edges <= self.TARGET_ROWS_PER_PARTITION and (
            num_partitions is None or num_partitions <= 1
        )
        if num_partitions is None:
            # corrective re-partition (one extra cached-side shuffle) only
            # when the estimated width missed the observed ideal by >2x in
            # either direction
            ideal = max(1, min(n_max, -(-n_edges // self.TARGET_ROWS_PER_PARTITION)))
            if ideal * 2 < n or ideal > n * 2:
                _ids1 = self._persistent_ids()
                small = prepartition_edges(self.edges, ideal, by="src")
                small_ids = self._persistent_ids() - _ids1
                self._free_ids(self._edge_rdd_ids)
                self.edges = small
                self._edge_rdd_ids = small_ids
                n = ideal
        self.num_partitions = n
        self.hot_keys = heavy_hitters(self.edges, "dst") if salt_skew else []
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = checkpoint_every
        self.lineage_cut_every = lineage_cut_every
        if state_storage not in ("deser", "ser"):
            raise ValueError(f"state_storage must be 'deser' or 'ser', got {state_storage!r}")
        from pyspark.storagelevel import StorageLevel

        # (useDisk, useMemory, useOffHeap, deserialized)
        self._state_level = (
            StorageLevel(True, True, False, True) if state_storage == "deser"
            else StorageLevel(True, True, False, False)
        )

    # -- persistent-RDD bookkeeping -------------------------------------
    # df.unpersist() cannot free a localCheckpoint (its data lives as a
    # plain persisted RDD outside the cache manager), so without explicit
    # freeing every superstep leaks one V-row block set until JVM GC of the
    # RDD handle — measured 40-70% throughput loss on repeated 16M-edge
    # runs as storage stole execution memory. The loop snapshots the
    # persistent-RDD id set around each state materialization and frees the
    # PREVIOUS state's ids once the new state's blocks exist (safe: the
    # checkpoint truncated the new state's lineage, so old blocks are
    # unreachable). Assumes the usual single driver loop per session —
    # concurrent persists from other threads would land in the diff.

    def _persistent_ids(self) -> set:
        return persistent_rdd_ids(self.spark)

    def _free_ids(self, ids: set) -> None:
        free_rdd_ids(self.spark, ids)

    def close(self) -> None:
        """Free the engine's prepartitioned edge blocks (an eager
        localCheckpoint — see prepartition_edges). The engine is unusable
        afterwards; final algorithm states held by callers are unaffected."""
        try:
            if self._verts is not None:
                self._verts.unpersist()
                self._verts = None
            self._free_ids(getattr(self, "_edge_rdd_ids", set()))
        except Exception:
            pass

    @property
    def one_fragment(self) -> bool:
        """True when run() executes kernel-carrying plans as one Arrow task
        per window (see the class docstring for the rule)."""
        return self._one_fragment

    def vertices(self) -> DataFrame:
        """Distinct vertex ids of the edge table (A8 analog:
        tools/get_statistics.cpp:71-90 bitmap popcount). On a symmetric
        engine every vertex appears as a src, so the src column alone is
        the vertex set — half the distinct input, no union."""
        if self._verts is None:
            if self.symmetric:
                v = self.edges.select(F.col("src").alias("vid")).distinct()
            else:
                v = (
                    self.edges.select(F.col("src").alias("vid"))
                    .unionAll(self.edges.select(F.col("dst").alias("vid")))
                    .distinct()
                )
            # lazy persist: no extra job — the first consumer's own
            # materialization fills the cache, so engines shared across
            # runs (run_wcc then run_lpa on one engine) execute the V-row
            # distinct once instead of once per init. Freed in close().
            # persist() compiles the cached physical plan with the conf
            # active AT CALL TIME, so scope it to the engine width — at
            # the session width the cached distinct (and thus the init
            # state) would mismatch the loop's exchanges and trigger
            # per-superstep re-shuffles (see loop_confs docstring).
            with self.loop_confs():
                self._verts = v.persist()
        return self._verts

    def run(
        self,
        init_state: DataFrame,
        scatter: ScatterFn,
        combiner: str | Callable[[DataFrame], DataFrame],
        apply_fn: ApplyFn,
        prepare: PrepareFn | None = None,
        extra_agg: dict | None = None,
        frontier: bool = True,
        max_iter: int = 100,
        fuse: int = 1,
        stop_when_unchanged: bool = True,
        resume: bool = True,
        algo: str = "superstep",
        kernel: FragmentKernel | None = None,
    ) -> SuperstepResult:
        """Run supersteps until fixpoint (no vertex changed) or max_iter.

        init_state must have (vid, value, active) — `active` marks the
        frontier (reference Bitmap analog, utility/bitmap.h). `scatter`
        sees only active vertices when frontier=True (the bitmap-guarded
        loop of auto_map.h:136,186). `apply_fn` must emit (vid, value,
        active) where active means "changed this superstep".

        extra_agg maps name -> Column; each is evaluated over the state in
        the SAME per-iteration counts action (no extra Spark job) and the
        previous iteration's values are available to scatter/apply via
        ctx[name] — the Aggregate-hook analog (auto_app_base.h:56-63) for
        driver-side scalars like PageRank's dangling mass. Requires fuse=1.

        fuse runs that many supersteps inside ONE Catalyst plan per
        materialization, amortizing per-materialization serial costs
        (driver analysis, job barriers, convergence collect, lineage
        checkpoint). CAVEAT — only worthwhile when apply_fn references
        `state` exactly once: Spark does not share non-exchange subplans,
        so k references per step re-execute k^fuse copies of the window's
        work (measured: fuse=5 on the 3-reference PageRank apply runs 5x
        SLOWER than fuse=1). With the co-partitioned exchange-free
        superstep plan the per-iteration fixed cost is small; default
        fuse=1 is right for all shipped plans.

        kernel: the plan's FragmentKernel, the same iteration in NumPy. On
        a one_fragment engine it replaces scatter/combiner/apply_fn (and
        prepare, extra_agg, frontier, fuse); elsewhere it is ignored.
        """
        if extra_agg and fuse > 1:
            raise ValueError("extra_agg feeds ctx per superstep; requires fuse=1")
        with self.loop_confs():
            if kernel is not None and self.one_fragment:
                return self._run_fragment(
                    init_state, kernel, max_iter, stop_when_unchanged, resume, algo
                )
            return self._run_loop(
                init_state, scatter, combiner, apply_fn, prepare, extra_agg,
                frontier, max_iter, fuse, stop_when_unchanged, resume, algo,
            )

    def _resume_point(self, init_state: DataFrame, resume: bool):
        """(first iteration, its input state): the newest complete snapshot
        + 1 when resuming from checkpoint_dir, else (0, init_state)."""
        if resume and self.checkpoint_dir:
            found = ckpt.load_snapshot(self.spark, self.checkpoint_dir)
            if found is not None:
                return found[0] + 1, found[1]
        return 0, init_state

    def _finish_window(
        self, result: SuperstepResult, state: DataFrame, first: int,
        changed: list[int], t0: float, converged: bool, algo: str,
    ) -> None:
        """Record one materialized window of len(changed) iterations
        starting at ``first``: its durable snapshot when due, one
        IterationMetrics (and metrics.jsonl row) per iteration, and the
        result's state/iteration/convergence fields. ``changed`` holds -1
        for iterations whose count was not observed (fused loop steps)."""
        it = first + len(changed) - 1
        checkpointed = False
        if self.checkpoint_dir and (
            it % self.checkpoint_every == self.checkpoint_every - 1 or converged
        ):
            ckpt.write_snapshot(
                state, self.checkpoint_dir, it,
                extra={"algo": algo, "num_changed": changed[-1]},
            )
            checkpointed = True
        window_sec = time.time() - t0
        for j, c in enumerate(changed):
            m = IterationMetrics(
                iteration=first + j,
                num_active=c,
                num_changed=c,
                num_messages=-1,  # not counted by default (extra action)
                elapsed_sec=window_sec / len(changed),
                checkpointed=checkpointed and j == len(changed) - 1,
            )
            result.metrics.append(m)
            if self.checkpoint_dir:
                ckpt.append_metrics(self.checkpoint_dir, m.__dict__)
        result.state = state
        result.iterations = it + 1
        result.converged = converged

    def _run_fragment(
        self,
        init_state: DataFrame,
        kernel: FragmentKernel,
        max_iter: int,
        stop_when_unchanged: bool,
        resume: bool,
        algo: str,
    ) -> SuperstepResult:
        """One-fragment mode: each window is ONE Spark job — cogroup the
        cached edges with the state into a single applyInPandas task, run
        the kernel there, and localCheckpoint the new state. Windows end at
        checkpoint_every boundaries when checkpoint_dir is set (so the
        snapshots match the loop's), else run to max_iter; every window
        also ends at convergence."""
        first, state = self._resume_point(init_state, resume)
        result = SuperstepResult(state=state)
        schema = T.StructType(
            [T.StructField(f.name, f.dataType) for f in state.schema.fields]
            + [T.StructField("_stats", T.StringType())]
        )
        key = F.lit(True)  # one group: the whole graph (an int would be an ordinal)
        prev_ids: set = set()
        while first < max_iter:
            end = max_iter
            if self.checkpoint_dir:
                every = self.checkpoint_every
                end = min(end, (first // every + 1) * every)
            t0 = time.time()
            ids_before = self._persistent_ids()
            obs = Observation()
            new_state = (
                self.edges.groupBy(key)
                .cogroup(state.groupBy(key))
                .applyInPandas(
                    _fragment_fn(kernel, end - first, stop_when_unchanged), schema
                )
                .observe(obs, F.max("_stats").alias("stats"))
                .select(*state.columns)
                .localCheckpoint(eager=True, storageLevel=self._state_level)
            )
            stats = obs.get["stats"]
            # an empty graph has no rows to carry the stats: one iteration
            # that changed nothing, as the loop reports it
            changed, converged = json.loads(stats) if stats else ([0], True)
            new_ids = self._persistent_ids() - ids_before
            self._free_ids(prev_ids)
            prev_ids = new_ids
            self._finish_window(
                result, new_state, first, changed, t0, converged, algo
            )
            state = new_state
            first = result.iterations
            if converged:
                break
        return result

    @contextmanager
    def loop_confs(self):
        """iterative_confs + the session shuffle width scoped to the
        engine's (size-aware) partition count, so combine/apply shuffles
        match the edge partitioning — otherwise small graphs still pay
        32-task stages on every groupBy despite a 4-partition plan.
        run() wraps the whole loop in this; plans must ALSO wrap any
        DataFrame they MATERIALIZE before run() whose partitioning the
        loop will inherit (e.g. run_pagerank's fused degree table): a
        table persisted at the session width feeds the loop a state
        partitioned n_session-ways while every loop exchange is
        num_partitions-ways, and EnsureRequirements then silently
        re-shuffles the big co-partitioned sides EVERY superstep (caught
        via plans/r06: a 16-partition loop against a 32-partition state
        re-exchanged the edge table per iteration)."""
        with iterative_confs(self.spark):
            saved = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(self.num_partitions)
            )
            try:
                yield self
            finally:
                self.spark.conf.set("spark.sql.shuffle.partitions", saved)

    def _run_loop(
        self,
        init_state: DataFrame,
        scatter: ScatterFn,
        combiner: str | Callable[[DataFrame], DataFrame],
        apply_fn: ApplyFn,
        prepare: PrepareFn | None,
        extra_agg: dict | None,
        frontier: bool,
        max_iter: int,
        fuse: int,
        stop_when_unchanged: bool,
        resume: bool,
        algo: str,
    ) -> SuperstepResult:
        start_iter, state = self._resume_point(init_state, resume)
        state = state.persist(self._state_level)

        # Column expression trees are immutable and plan-independent, so
        # every loop-invariant one is built ONCE here instead of per
        # superstep: each F.col/alias/operator is a py4j roundtrip, and the
        # per-iteration plan construction measured 600-1100 JVM calls —
        # a fixed driver-side floor of ~0.1-0.3 s/iteration that dominates
        # small-graph loops (the 'per-superstep fixed cost' item). Results
        # are bit-identical: the same expression objects produce the same
        # analyzed plans.
        _active_col = F.col("active")
        _n_col = F.count(F.lit(1)).alias("n")
        _changed_col = F.sum(_active_col.cast("long")).alias("changed")
        _extra_cols = [c.alias(k) for k, c in (extra_agg or {}).items()]
        if callable(combiner):
            combine_fn = combiner
        elif combiner == "mode":
            combine_fn = make_mode_agg("dst", "msg", self.hot_keys)
        else:
            combine_fn = make_salted_agg("dst", "msg", combiner, self.hot_keys)

        prev_extra: dict = {}
        if extra_agg:
            # materialize the init state AND read the initial extra_agg
            # scalars in ONE job (observed metrics on the materializing
            # count — the same CollectMetrics fusion the loop body uses)
            obs0 = Observation()
            state.observe(
                obs0, *[c.alias(k) for k, c in extra_agg.items()]
            ).count()
            row = obs0.get
            prev_extra = {k: row[k] for k in extra_agg}
        else:
            state.count()  # materialize

        result = SuperstepResult(state=state)
        prev_state_ids: set = set()  # init persist freed by state.unpersist()
        window_start = start_iter
        while window_start < max_iter:
            steps = min(fuse, max_iter - window_start)
            t0 = time.time()
            ctx: dict = {
                "iteration": window_start,
                "num_partitions": self.num_partitions,
                **prev_extra,
            }
            ctx["_unpersist_after"] = []  # apply_fn may cache intermediates

            # snapshot BEFORE the plan is built: a lazy localCheckpoint in
            # scatter/apply (wcc's self-join sharing) registers its RDD when
            # it is built, not when it runs
            ids_before = self._persistent_ids()
            new_state = state
            for j in range(steps):
                ctx["iteration"] = window_start + j
                if prepare is not None:
                    ctx.update(prepare(new_state, ctx))
                src_state = (
                    new_state.filter(_active_col) if frontier else new_state
                )
                msgs = scatter(self.edges, src_state, ctx)
                agg = combine_fn(msgs)
                new_state = apply_fn(new_state, agg, ctx)
            # Lineage + stats management, one superstep = ONE Spark job.
            # Persist the new state, attach the convergence counters as
            # OBSERVED metrics (CollectMetrics —
            # accumulator-based, exactly-once per row), and let the eager
            # localCheckpoint's own materialization job deliver them: the
            # single job computes the superstep, fills the cache, stores the
            # checkpoint blocks AND aggregates the counters — no separate
            # counts action and no extra cache-scan pass (guide §1.2: fewer
            # passes; verified plan-identical to the two-job path, and the
            # checkpoint still records the child's hashpartitioning —
            # CollectMetricsExec is partitioning-preserving). The persist is
            # stats hygiene, not reuse: the checkpoint's LogicalRDD rewrites
            # stats from the ORIGIN plan, and plans referencing `state` 2-3x
            # (scatter + apply + self-joins) SQUARE sizeInBytes per round —
            # the materialized InMemoryRelation re-reads the real cached
            # size and resets the BigInteger before Catalyst starts
            # multiplying megabyte-long numbers (measured on 16M-edge
            # PageRank: resetting every 8th round averaged 14.5 s/iter with
            # planning-bound spikes to 64 s; every round, a steady 1.5 s).
            if window_start == _EXPLAIN:
                new_state.explain("formatted")
            ids_built = self._persistent_ids()
            cached = new_state.persist(self._state_level)
            obs = Observation()
            new_state = cached.observe(
                obs, _n_col, _changed_col, *_extra_cols
            ).localCheckpoint(eager=True, storageLevel=self._state_level)
            counts = obs.get
            cached.unpersist()
            num_changed = int(counts["changed"] or 0)
            if extra_agg:
                prev_extra = {k: counts[k] for k in extra_agg}
            for df in ctx["_unpersist_after"]:
                df.unpersist()
            # free the window's intermediate blocks and the PREVIOUS
            # superstep's state blocks now that the new state is
            # materialized (see _persistent_ids docstring)
            new_state_ids = self._persistent_ids() - ids_built
            self._free_ids(ids_built - ids_before)
            self._free_ids(prev_state_ids)
            prev_state_ids = new_state_ids

            # only the window's last step is observed (fused steps: -1)
            self._finish_window(
                result, new_state, window_start,
                [-1] * (steps - 1) + [num_changed], t0,
                stop_when_unchanged and num_changed == 0, algo,
            )
            state.unpersist()
            state = new_state
            window_start += steps
            if result.converged:
                break
        return result

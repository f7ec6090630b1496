"""The superstep engine — PIE model re-expressed as one Catalyst plan per
iteration (SURVEY.md §3.1, §4).

The reference runs PEval/IncEval kernels per fragment with a shared
global message array and atomic min/max/add combiners
(reference: minigraph/2d_pie/auto_app_base.h:39-63, auto_map.h:92-177,
message push/pull wcc_vc_batch.cpp:42-95, combiners utility/atomic.h:30-55).
Here each superstep is:

    scatter:  msgs = f(edges ⋈ active-state)        -> (dst, msg)
    combine:  agg  = groupBy(dst).{min|max|sum|mode}(msg)
    apply:    state' = g(state ⟕ agg)               -> (vid, value, active)

all in ONE Catalyst plan with ONE data shuffle (the combine; the scatter
join reuses the edge table's persisted hash partitioning). This is the
package's only superstep loop; at width 1 a plan's FragmentKernel runs the
whole graph in one Arrow task instead (SuperstepEngine, one-fragment mode).
Convergence is a driver-side count — the Aggregate-hook analog
(auto_app_base.h:56-63). The FSM / queues / schedulers of the reference
(minigraph_sys.h:42-207) have no port target: Spark's DAG scheduler owns
those decisions.

Scale design (100 TB): edges are hash-partitioned ONCE and persisted
(prepartition_edges) so the per-iteration scatter join is co-located on the
edge side; messages shuffle on dst with map-side partial aggregation (the
write_min analog is exactly Catalyst's partial agg, which also collapses a
hub's messages to one row per partition before the shuffle); lineage is
truncated every iteration via localCheckpoint and durable parquet snapshots
every `checkpoint_every` iterations make any run resumable (checkpoint.py).

One graph, many plans: a Graph holds an edge table and the engine settings,
and builds each view's engine (the directed edges, the symmetrized closure,
the canonical closure of coloring and the triangle count) once, on first
use, for every plan that runs on it (MiniGraph partitions once and runs
every app over the resident fragments, minigraph_sys.h:28-207). A plan
given a DataFrame builds its own Graph and closes it; a plan given a Graph
asks it for the view it needs and leaves it open. A checkpoint_dir belongs
to one run, so it is a run() argument, not an engine setting.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import checkpoint as ckpt
from ..session import iterative_confs
from .partition import make_combine_agg, make_mode_agg, prepartition_edges
from .project import canonicalize_raw, symmetrize_raw

# debug aid: MG_EXPLAIN=<k> prints the physical plan of superstep k (on the
# one-fragment path, of the window that holds iteration k)
_EXPLAIN = int(__import__("os").environ.get("MG_EXPLAIN", "-1") or -1)

ScatterFn = Callable[[DataFrame, DataFrame, dict], DataFrame]
ApplyFn = Callable[[DataFrame, DataFrame, dict], DataFrame]


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
    """One fragment in local ids — the package's one CSR layout
    (immutable_csr.h:82-164): vertex i has global id vid[i] (sorted), and
    edge k runs src[k] -> dst[k]. Edges are sorted by (dst, src), so the
    fragment is the in-edge CSR (each vertex's in-edges are one contiguous
    run of dst) and every float reduction over them runs in one fixed order
    whatever order the rows arrived in."""

    vid: np.ndarray
    src: np.ndarray
    dst: np.ndarray
    edge_cols: dict[str, np.ndarray]

    @classmethod
    def from_local(
        cls, vid: np.ndarray, src: np.ndarray, dst: np.ndarray,
        edge_cols: dict[str, np.ndarray],
    ) -> Fragment:
        """The fragment over local ids ``src``/``dst`` into the sorted
        ``vid``, with ``edge_cols`` in the same (unsorted) edge order: one
        stable sort by the (dst, src) key puts the edges in CSR order."""
        order = np.argsort(dst * vid.size + src, kind="stable")
        return cls(
            vid=vid, src=src[order], dst=dst[order],
            edge_cols={c: a[order] for c, a in edge_cols.items()},
        )


@dataclass(frozen=True)
class FragmentKernel:
    """A plan's NumPy superstep over one Fragment — the package's one
    kernel type: SuperstepEngine's one-fragment mode runs it over the whole
    graph.

    ``step(frag, value, cols) -> (value', active)`` is one iteration over
    the fragment: ``cols`` holds the state's columns besides vid, value
    and active (e.g. PageRank's outdeg), and ``active`` marks the vertices
    the plan's loop would mark changed. ``fixpoint=True`` declares that one
    step reaches the fixpoint (a local min-label fixpoint), so the run
    converges after it, and that the plan's converged state depends on no
    stopping parameter: run() returns a converged snapshot of such a plan
    as the answer, with no window (see run()'s checkpoint_dir)."""

    step: Callable[[Fragment, np.ndarray, dict], tuple[np.ndarray, np.ndarray]]
    fixpoint: bool = False


def _fragment_fn(kernel: FragmentKernel, steps: int):
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
        frag = Fragment.from_local(vid, si[keep], di[keep], {
            c: edges[c].to_numpy()[keep]
            for c in edges.columns if c not in ("src", "dst")
        })
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
            if kernel.fixpoint or changed[-1] == 0:
                converged = True
                break
        out = state.assign(value=value, active=active, _stats=None)
        out.loc[0, "_stats"] = json.dumps([changed, converged])
        return out

    return fn


class SuperstepEngine:
    """Generic scatter-combine-apply driver over a fixed edge table — the
    one superstep loop every iterative plan runs on. A scatter is a
    DataFrame join (plans/wcc, bfs, lpa, pagerank); at width 1 the plan's
    FragmentKernel replaces the loop (one-fragment mode, below). One
    superstep is one Spark job whose eager localCheckpoint cuts the
    lineage; the superstep's intermediate blocks (lazy checkpoints an
    apply builds) and the previous state's blocks are freed once it
    exists, so a finished run holds only its result state.

    Parameters
    ----------
    edges : (src, dst) DataFrame; pre-partitioned by src and persisted here.
    view : which graph over ``edges`` the engine holds (VIEWS).
        "directed" (default): the edges as given, extra columns (an SSSP
        weight) included. "closure": both directions with self-loops
        dropped (project.symmetrize_raw), deduped inside the one-time
        partitioning exchange (prepartition_edges dedup=True) instead of a
        separate distinct shuffle, with the vertex set read from src alone
        (every vertex of a symmetric table is a src). "canonical": each
        undirected edge once as (least, greatest) (project.canonicalize_raw),
        deduped the same way. The two closures read only (src, dst).
    num_partitions : hash-partition count for the edge table. None (the
        default) derives it from the edge-row count: one partition per
        TARGET_ROWS_PER_PARTITION rows, capped at spark.sql.shuffle.partitions.
    checkpoint_every : durable snapshot cadence of a run with a
        checkpoint_dir (see run()).
    state_storage : "deser" (default) stores per-iteration state blocks
        deserialized (fastest sweep; the level every BASELINE.md number was
        measured at). "ser" stores them MEMORY_AND_DISK_SER — ~3-5x smaller
        heap footprint per row at some ser/deser CPU cost. Use "ser" when
        |V| rivals |E| (e.g. short transcript chains: a 256M-edge, 20-turn
        chains graph carries 269M vertices, and the deserialized state
        blocks alone exceed a 48g driver heap — measured OOM, round 4).

    One-fragment mode (``one_fragment``, read-only): exactly when the
    engine's width is 1, chosen by the width rule or pinned. One task then
    holds every edge, so the loop would gain no parallelism and pay one
    job per superstep; the whole graph is one fragment with no border
    vertices, so PEval alone is the answer (wcc_vc_batch.cpp:139-148). An
    automatic width of 1 implies at most 2 * TARGET_ROWS_PER_PARTITION =
    65 536 edge rows (the width rule's 2x band), which bounds the task's
    memory; a pinned 1 (or a session shuffle width of 1) has no such
    bound: it is the caller's promise that the graph fits one task.
    run() then executes a plan that ships a FragmentKernel as one Spark
    job per window: the cached edges and the state are cogrouped into ONE
    applyInPandas task, the kernel iterates in NumPy, and the new state
    (same schema as the loop's: vid, value, active[, outdeg]) comes back
    localCheckpointed. A window is the whole run, or with a checkpoint_dir
    the stretch up to the next checkpoint_every boundary; snapshots,
    metrics.jsonl rows and IterationMetrics are the loop's, one per
    iteration. Every metrics.jsonl row and lineage.json records which path
    ran (``mode``: "fragment" or "loop") and ``num_partitions``. Kernels
    ship with:

    - WCC (directed or not; batch and incremental): one iteration is the
      local min-label fixpoint (csr.make_minplus_kernel), so the run
      converges after it;
    - LPA: one iteration is one synchronous mode sweep, ties to the
      smallest label;
    - standard PageRank: one iteration is one Jacobi sweep with dangling
      mass, stopping at max|Δ| <= tol.

    Every other plan or variant (the minigraph PageRank rule, plans.bfs,
    ...) runs the loop whatever the mode. plans.triangles.triangle_count,
    which runs no supersteps, reads the mode of the canonical view too: at
    width 1 it counts in one Arrow task over the cached edges.
    """

    # size-aware parallelism: target edge rows per loop partition. At 16M+
    # edges this resolves to the full shuffle_partitions; on small/medium
    # graphs it shrinks the per-superstep stage width so task-scheduling
    # overhead stops dominating (measured on the 98.5k-edge sf0.1 events
    # graph at local[32]: 32 -> 4 partitions cut PageRank from 2.3 to 1.2
    # s/iter and WCC from 3.2 to 1.9 s/iter). The AQE-coalesce analog for
    # the fixed loop plan, decided ONCE at partition time like the
    # reference's -n fragment-count flag (tools/graph_partition.cpp).
    TARGET_ROWS_PER_PARTITION = 32768

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

    @classmethod
    def estimated_width(cls, edges: DataFrame) -> int:
        """The width rule's first choice for an edge table, read from the
        optimizer's pre-shuffle size estimate (guide §2.2 — derive partition
        counts from input size) so small graphs shuffle ONCE at (near-)final
        width instead of the wide-shuffle-then-downsize double pass:
        ceil(rows / TARGET_ROWS_PER_PARTITION), capped at the session's
        shuffle width, which is also the answer when the size is unknown.
        Runs no Spark job."""
        n_max = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        est = cls._estimate_rows(edges)
        if est is None:
            return n_max
        return max(1, min(n_max, -(-est // cls.TARGET_ROWS_PER_PARTITION)))

    # view -> the edge table it partitions (see ``view`` above)
    VIEWS = {
        "directed": lambda e: e, "closure": symmetrize_raw,
        "canonical": canonicalize_raw,
    }

    def __init__(
        self,
        edges: DataFrame,
        num_partitions: int | None = None,
        checkpoint_every: int = 5,
        state_storage: str = "deser",
        view: str = "directed",
    ):
        if view not in self.VIEWS:
            raise ValueError(f"view must be one of {list(self.VIEWS)}, got {view!r}")
        if state_storage not in ("deser", "ser"):
            raise ValueError(f"state_storage must be 'deser' or 'ser', got {state_storage!r}")
        spark = edges.sparkSession
        n_max = int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.spark = spark
        self.view = view
        edges = self.VIEWS[view](edges)
        self._verts: DataFrame | None = None
        _ids0 = self._persistent_ids()
        # keep any extra columns the caller selected (e.g. SSSP weights) —
        # scatter functions see self.edges as-is; only (src, dst) is required
        # the edge count (for the size-aware width and the snapshots' resume
        # check) and fingerprint (resume check) ride the prepartition
        # materialization job as observed metrics — no separate scan of
        # the cached E rows (guide §1.2: fewer passes)
        _n_obs = Observation()
        # the exact observed count below corrects the estimated width only
        # when the estimate was badly off — width is a performance knob with
        # a wide plateau, so a second full E-row shuffle is only worth
        # paying outside a 2x band of the ideal
        n = num_partitions or self.estimated_width(edges)
        self.edges = prepartition_edges(
            edges, n, by="src", dedup=view != "directed", count_obs=_n_obs
        )
        self._edge_rdd_ids = self._persistent_ids() - _ids0
        n_edges = int(_n_obs.get["n"])
        self.edge_fingerprint = _n_obs.get["fp"]
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
        self.n_edges = n_edges
        self.checkpoint_every = checkpoint_every
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
        per window: exactly when the width is 1 (see the class docstring)."""
        return self.num_partitions == 1

    def vertices(self) -> DataFrame:
        """Distinct vertex ids of the edge table (A8 analog:
        tools/get_statistics.cpp:71-90 bitmap popcount). On the closure
        view every vertex appears as a src, so the src column alone is the
        vertex set — half the distinct input, no union."""
        if self._verts is None:
            if self.view == "closure":
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
        extra_agg: dict | None = None,
        frontier: bool = True,
        max_iter: int = 100,
        algo: str | tuple[str, dict] = "superstep",
        kernel: FragmentKernel | None = None,
        checkpoint_dir: str | None = None,
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
        driver-side scalars like PageRank's dangling mass.

        kernel: the plan's FragmentKernel, the same iteration in NumPy. On
        a one_fragment engine it replaces scatter/combiner/apply_fn (and
        extra_agg, frontier); elsewhere it is ignored.

        checkpoint_dir: where this run writes durable snapshots (every
        checkpoint_every iterations and at convergence) and metrics.jsonl;
        None disables them (lineage is still truncated in memory). It
        belongs to this run, not to the engine: runs of other plans on a
        shared engine take their own dirs. A dir that holds snapshots
        resumes from the newest one, which must name the same run:
        ``algo`` (a name, or (name, plan parameters) — e.g. a BFS root;
        parameters that only decide where a run stops, such as a tolerance
        or max_iter, stay out so a run can resume with others) and the
        same edge rows (their count and fingerprint, the XOR of the rows'
        hashes observed in the partitioning job), else ValueError.

        A newest snapshot that records ``converged`` of a plan whose kernel
        declares ``fixpoint=True`` (the WCC family) is the answer for any
        max_iter, since a min-label fixpoint has no stopping parameter: the
        run returns it as SuperstepResult(state=<snapshot>,
        iterations=<its iteration> + 1, converged=True, metrics=[]) and
        runs no window and writes no snapshot. That state reads the
        snapshot's parquet files, so it stays valid as long as
        checkpoint_dir does. Any other plan (PageRank, whose convergence
        depends on the tol a resume may change; LPA; BFS) resumes with a
        window, as does a manifest without ``converged``.
        """
        name, params = (algo, None) if isinstance(algo, str) else algo
        run_id = {"algo": name, "params": params}
        with self.loop_confs():
            first, state = 0, init_state
            found = checkpoint_dir and ckpt.load_snapshot(
                self.spark, checkpoint_dir, name, self.n_edges,
                self.edge_fingerprint, params,
            )
            if found:
                it, state, converged = found
                if converged and kernel is not None and kernel.fixpoint:
                    return SuperstepResult(
                        state=state, iterations=it + 1, converged=True
                    )
                first = it + 1
            if kernel is not None and self.one_fragment:
                return self._run_fragment(
                    first, state, kernel, max_iter, run_id, checkpoint_dir
                )
            return self._run_loop(
                first, state, scatter, combiner, apply_fn, extra_agg,
                frontier, max_iter, run_id, checkpoint_dir,
            )

    def _finish_window(
        self, result: SuperstepResult, state: DataFrame, first: int,
        changed: list[int], t0: float, converged: bool, run_id: dict,
        mode: str, checkpoint_dir: str | None,
    ) -> None:
        """Record one materialized window of len(changed) iterations
        starting at ``first``: its durable snapshot when due, one
        IterationMetrics (and metrics.jsonl row) per iteration, and the
        result's state/iteration/convergence fields. ``mode`` names the
        path that ran the window ("fragment" or "loop")."""
        it = first + len(changed) - 1
        # the window's own time: the snapshot write below is parquet I/O,
        # not superstep work
        window_sec = time.time() - t0
        checkpointed = False
        run_info = {"mode": mode, "num_partitions": self.num_partitions}
        if checkpoint_dir and (
            it % self.checkpoint_every == self.checkpoint_every - 1 or converged
        ):
            ckpt.write_snapshot(
                state, checkpoint_dir, it,
                extra={
                    **run_id, "num_changed": changed[-1],
                    "converged": converged, "edge_rows": self.n_edges,
                    "edge_fingerprint": self.edge_fingerprint, **run_info,
                },
            )
            checkpointed = True
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
            if checkpoint_dir:
                ckpt.append_metrics(checkpoint_dir, {**m.__dict__, **run_info})
        result.state = state
        result.iterations = it + 1
        result.converged = converged

    def _run_fragment(
        self,
        first: int,
        state: DataFrame,
        kernel: FragmentKernel,
        max_iter: int,
        run_id: dict,
        checkpoint_dir: str | None,
    ) -> SuperstepResult:
        """One-fragment mode: each window is ONE Spark job — cogroup the
        cached edges with the state into a single applyInPandas task, run
        the kernel there, and localCheckpoint the new state. Windows end at
        checkpoint_every boundaries when checkpoint_dir is set (so the
        snapshots match the loop's), else run to max_iter; every window
        also ends at convergence. MG_EXPLAIN=k prints the plan of the
        window that holds iteration k. The run starts at iteration
        ``first`` from ``state`` (run() resolves the resume point)."""
        result = SuperstepResult(state=state)
        schema = T.StructType(
            [T.StructField(f.name, f.dataType) for f in state.schema.fields]
            + [T.StructField("_stats", T.StringType())]
        )
        key = F.lit(True)  # one group: the whole graph (an int would be an ordinal)
        prev_ids: set = set()
        while first < max_iter:
            end = max_iter
            if checkpoint_dir:
                every = self.checkpoint_every
                end = min(end, (first // every + 1) * every)
            t0 = time.time()
            ids_before = self._persistent_ids()
            obs = Observation()
            window = (
                self.edges.groupBy(key)
                .cogroup(state.groupBy(key))
                .applyInPandas(_fragment_fn(kernel, end - first), schema)
                .observe(obs, F.max("_stats").alias("stats"))
                .select(*state.columns)
            )
            if first <= _EXPLAIN < end:
                window.explain("formatted")
            new_state = window.localCheckpoint(
                eager=True, storageLevel=self._state_level
            )
            stats = obs.get["stats"]
            # an empty graph has no rows to carry the stats: one iteration
            # that changed nothing, as the loop reports it
            changed, converged = json.loads(stats) if stats else ([0], True)
            new_ids = self._persistent_ids() - ids_before
            self._free_ids(prev_ids)
            prev_ids = new_ids
            self._finish_window(
                result, new_state, first, changed, t0, converged, run_id,
                "fragment", checkpoint_dir,
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
        loop will inherit (e.g. run_pagerank's one-pass degree table): a
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
        start_iter: int,
        state: DataFrame,
        scatter: ScatterFn,
        combiner: str | Callable[[DataFrame], DataFrame],
        apply_fn: ApplyFn,
        extra_agg: dict | None,
        frontier: bool,
        max_iter: int,
        run_id: dict,
        checkpoint_dir: str | None,
    ) -> SuperstepResult:
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
            combine_fn = make_mode_agg("dst", "msg")
        else:
            combine_fn = make_combine_agg("dst", "msg", combiner)

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
        for it in range(start_iter, max_iter):
            t0 = time.time()
            ctx: dict = {
                "iteration": it,
                "num_partitions": self.num_partitions,
                **prev_extra,
            }
            # snapshot BEFORE the plan is built: a lazy localCheckpoint in
            # scatter/apply (wcc's self-join sharing) registers its RDD when
            # it is built, not when it runs
            ids_before = self._persistent_ids()
            src_state = state.filter(_active_col) if frontier else state
            msgs = scatter(self.edges, src_state, ctx)
            new_state = apply_fn(state, combine_fn(msgs), ctx)
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
            if it == _EXPLAIN:
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
            # free the superstep's intermediate blocks and the PREVIOUS
            # superstep's state blocks now that the new state is
            # materialized (see _persistent_ids docstring)
            new_state_ids = self._persistent_ids() - ids_built
            self._free_ids(ids_built - ids_before)
            self._free_ids(prev_state_ids)
            prev_state_ids = new_state_ids

            self._finish_window(
                result, new_state, it, [num_changed], t0, num_changed == 0,
                run_id, "loop", checkpoint_dir,
            )
            state.unpersist()
            state = new_state
            if result.converged:
                break
        return result


class Graph:
    """One edge table and the engine settings every plan over it shares —
    the package's graph handle (MiniGraph partitions a graph once and runs
    every app over the resident fragments, minigraph_sys.h:28-207).

    Each view's SuperstepEngine (see SuperstepEngine ``view``) is built on
    first use and kept until close(), so plans that need the same view
    share one partitioning exchange: run_wcc and run_lpa both run on the
    closure, run_pagerank and run_bfs on the directed edges, run_coloring,
    triangle_count and transitivity on the canonical closure (the triangle
    count reads its cached rows only at width 1, as one NumPy task; above it
    the intersect plan orients the edges itself, so the count asks width()
    before it builds the engine). The directed view holds the plan's
    columns, (src, dst) or (src, dst, weight_col), one engine per column
    set. A plan given a Graph asks it for the view it needs, so it cannot
    run on the wrong one, and leaves it open; a plan given a DataFrame
    builds a Graph and closes it.
    A Graph is a context manager that closes on exit.

    Parameters
    ----------
    edges : the edge table, with (src, dst) and any weight column a plan
        reads.
    num_partitions : the engines' width; None (the default) applies the
        width rule (SuperstepEngine.TARGET_ROWS_PER_PARTITION). At width 1
        kernel-carrying plans hold the whole graph in one Arrow task. The
        width rule picks 1 only up to 65 536 edge rows, which bounds that
        task's memory by rows, not bytes; a pinned 1 has no bound at all
        and is the caller's promise that the graph fits one task.
    checkpoint_every, state_storage : as SuperstepEngine's.
    """

    def __init__(
        self,
        edges: DataFrame,
        num_partitions: int | None = None,
        checkpoint_every: int = 5,
        state_storage: str = "deser",
    ):
        self.edges = edges
        self.num_partitions = num_partitions
        self.checkpoint_every = checkpoint_every
        self.state_storage = state_storage
        self._engines: dict[tuple, SuperstepEngine] = {}

    def engine(self, view: str = "directed", weight_col: str | None = None) -> SuperstepEngine:
        """The engine of ``view`` (with ``weight_col`` on the directed
        view), built on the first call and shared by every later one."""
        key = (view, weight_col)
        if key not in self._engines:
            cols = ["src", "dst"] + ([weight_col] if weight_col else [])
            self._engines[key] = SuperstepEngine(
                self.edges.select(*cols), self.num_partitions,
                self.checkpoint_every, self.state_storage, view=view,
            )
        return self._engines[key]

    def width(self, view: str) -> int:
        """The width of ``view``'s engine, without building it: the built
        engine's, else the pinned num_partitions, else the width rule's
        estimate (SuperstepEngine.estimated_width; an engine built later
        may correct it by its exact count). A plan whose path above width 1
        needs no engine reads this before paying the partitioning
        exchange."""
        eng = self._engines.get((view, None))
        if eng is not None:
            return eng.num_partitions
        return self.num_partitions or SuperstepEngine.estimated_width(
            SuperstepEngine.VIEWS[view](self.edges.select("src", "dst"))
        )

    def with_edges(self, edges: DataFrame) -> Graph:
        """A new handle over ``edges`` with this one's settings, no engine
        built yet — the next graph version for IncEval, or a subgraph."""
        return Graph(edges, self.num_partitions, self.checkpoint_every, self.state_storage)

    def close(self) -> None:
        """Free every engine this handle built; results already returned
        are unaffected. The handle builds afresh if used again."""
        for eng in self._engines.values():
            eng.close()
        self._engines.clear()

    def __enter__(self) -> Graph:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def as_graph(edges: DataFrame | Graph):
    """A plan's handle, as a context manager: a Graph is used as given and
    left open; a DataFrame gets a Graph with the default settings that is
    closed on exit."""
    return nullcontext(edges) if isinstance(edges, Graph) else Graph(edges)

"""Per-partition CSR blocks inside vectorized Arrow UDFs, with local
sub-iterations before each global message exchange.

This is the DataFrame-native port of the reference's fragment pipeline: each
hash partition of the edge table plays the role of a MiniGraph fragment
(reference: minigraph/graphs/immutable_csr.h:82-164 CSR layout —
globalid_by_index / degree / offset / edge sections built by prefix sums);
the UDF rebuilds the same struct-of-arrays locally from Arrow buffers with
np.unique / argsort / cumsum, then runs the PEval inner loop
(apps/cpp/wcc_vc_batch.cpp:139-148: iterate the kernel to LOCAL fixpoint
before exchanging border messages) so that one global shuffle round does the
work of many. On top of the local contraction, each global round applies one
pointer-jumping (path-halving) step on the label forest — label(v) :=
label(label(v)) — so convergence is O(log n) global rounds even when hash
partitioning scatters long paths across fragments (where the reference's
contiguous-range fragments would contract them locally,
edge_cut_partitioner.h:251-254; hashed 64-bit vertex ids have no usable
range locality, so the jump step replaces that).

There is one superstep loop, SuperstepEngine's: run_wcc_csr and run_bfs_csr
run the fragment kernel as the engine's scatter (fragment_scatter) with the
min combiner and the plan's own apply, so one round is one Spark job and
width, checkpoints, block freeing and metrics are the engine's.

The local/global id dance of the reference (immutable_csr.h:319-327,
SURVEY.md §1.4) is exactly `np.unique(..., return_inverse=True)` here.

Applicability: local sub-iteration is semantics-preserving only for
idempotent, commutative, monotone combiners (min/max — WCC, directed
min-label, BFS-class). PageRank's sum-gather must stay globally synchronous
(one gather per superstep), and Catalyst's join + partial-agg is already the
idiomatic scale path for a single gather — so PageRank keeps the pure
DataFrame plan (plans/pagerank.py) and the CSR path earns its shuffle
savings on the propagation family.

Scale: fragments hold |E|/P edges; the UDF is O(edges) memory in int64
NumPy arrays (at 10^9 edges and P=2000, ~8 MB-per-column blocks). All per-row
work is vectorized — no per-row Python anywhere (input_hint mandate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .partition import edge_cut_pid
from .superstep import ScatterFn, SuperstepEngine, SuperstepResult


def build_csr_block(src: np.ndarray, dst: np.ndarray):
    """Build an in-edge CSR block from COO arrays.

    Returns (verts, offsets, in_src, src_local, dst_local):
    - verts: sorted distinct global vertex ids in the block
    - offsets: int64[len(verts)+1] prefix-sum of in-degrees
    - in_src: local src id of each in-edge, grouped by destination
    - src_local/dst_local: local ids of the input COO edges

    Parity: the 8-section CSR blob of the reference (immutable_csr.h:82-164)
    minus the sections Spark makes redundant (membership bitmap, vdata/edata
    arrays travel as DataFrame columns). localid<->globalid maps
    (immutable_csr.h:319-327) are `verts` (local->global) and the implicit
    `return_inverse` (global->local).
    """
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    src_local = inv[: src.size]
    dst_local = inv[src.size :]
    order = np.argsort(dst_local, kind="stable")
    in_src = src_local[order]
    indeg = np.bincount(dst_local, minlength=verts.size)
    offsets = np.zeros(verts.size + 1, dtype=np.int64)
    np.cumsum(indeg, out=offsets[1:])
    return verts, offsets, in_src, src_local, dst_local


# distances/labels never exceed this; far below int64 max so transient
# INF + weight sums cannot overflow
INF64 = 1 << 62


def make_minplus_block(delta: str | None, op: str = "min"):
    """Generic fragment kernel factory — the repo analog of the reference's
    auto-parallelized user kernel surface (auto_map.h:92-120, F(u,v) at
    :39-43): per fragment, build the CSR block and run a vectorized
    gather sweep to LOCAL fixpoint before emitting border proposals:

        state[v] = op(state[v], op over in-edges (state[src] + delta))

    op='min'|'max' — the write_min/write_max combiner pair
    (utility/atomic.h:30-47); delta selects the edge increment:
    delta=None  -> 0 per edge: min/max-label propagation (components).
    delta='unit'-> 1 per edge: BFS levels / longest-path-on-DAG with max
                   (sssp_vc_stream.cpp:25-28 for the min instance).
    delta='w'   -> the edge's `w` column: weighted SSSP.

    Any monotone idempotent (op, +) kernel is semantics-preserving under
    local sub-iteration (module docstring); sum-gather kernels (PageRank)
    must NOT go through this path.
    """
    if op not in ("min", "max"):
        raise ValueError(f"op must be 'min' or 'max', got {op!r}")
    ufunc = np.minimum if op == "min" else np.maximum

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        sstate = pdf["src_state"].to_numpy(np.int64)
        dstate = pdf["dst_state"].to_numpy(np.int64)
        verts, offsets, in_src, src_local, dst_local = build_csr_block(src, dst)

        # seed local state with the best incoming state per vertex
        # (write_min/write_max analog, utility/atomic.h:30-47).
        # Sentinel (the op's identity): labels span the FULL int64 range
        # (xxhash64 vids can exceed 2^62), so label mode uses the int64
        # extreme (safe: delta adds 0); distance modes use +-INF64 so
        # transient INF + weight cannot overflow
        if delta is None:
            inf = np.iinfo(np.int64).max if op == "min" else np.iinfo(np.int64).min
        else:
            inf = INF64 if op == "min" else -INF64
        st = np.full(verts.size, inf, dtype=np.int64)
        ufunc.at(st, src_local, sstate)
        ufunc.at(st, dst_local, dstate)

        if delta is None:
            w_in: np.ndarray | int = 0
        elif delta == "unit":
            w_in = 1
        else:
            order = np.argsort(dst_local, kind="stable")  # same order as in_src
            w_in = pdf[delta].to_numpy(np.int64)[order]

        indeg_nz = (offsets[1:] - offsets[:-1]) > 0
        starts = offsets[:-1][indeg_nz]
        # local fixpoint: gather over in-neighbors via reduceat on the
        # CSR (the inner ActiveEMap loop, wcc_vc_batch.cpp:139-148)
        while starts.size:
            gathered = ufunc.reduceat(st[in_src] + w_in, starts)
            new = st.copy()
            new[indeg_nz] = ufunc(st[indeg_nz], gathered)
            if np.array_equal(new, st):
                break
            st = new
        return pd.DataFrame({"vid": verts, "value": st})

    return block


def fragment_scatter(block, pid: Column) -> ScatterFn:
    """The SuperstepEngine scatter that runs a fragment kernel: attach the
    current state to both endpoints of the engine's cached edges, group the
    edges by fragment id ``pid`` (a Column over src) and let ``block`` (a
    make_minplus_block kernel) iterate each fragment to its local fixpoint.
    Its per-vertex results are the proposals, returned as (dst, msg) for
    the engine's combine. Needs the whole state: run with frontier=False."""
    src_side = (F.col("vid").alias("src"), F.col("value").alias("src_state"))
    dst_side = (F.col("vid").alias("dst"), F.col("value").alias("dst_state"))
    out_cols = (F.col("vid").alias("dst"), F.col("value").alias("msg"))

    def scatter(edges: DataFrame, state: DataFrame, ctx: dict) -> DataFrame:
        work = edges.join(state.select(*src_side), "src").join(
            state.select(*dst_side), "dst"
        )
        return (
            work.groupBy(pid)
            .applyInPandas(block, schema="vid long, value long")
            .select(*out_cols)
        )

    return scatter


def _hash_pid(num_partitions: int) -> Column:
    return F.pmod(F.xxhash64("src"), F.lit(num_partitions)).cast("int")


def run_wcc_csr(
    edges: DataFrame,
    directed: bool = False,
    num_partitions: int | None = None,
    max_rounds: int = 60,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """WCC via per-partition CSR blocks + local sub-iterations.

    Semantics identical to plans/wcc.run_wcc (min-label to fixpoint); far
    fewer global rounds on long-path graphs. One SuperstepEngine run on the
    same engine run_wcc builds: each round is fragment_scatter over
    hash(src) fragments, the min-combine, and run_wcc's min + pointer-jump
    apply. An undirected graph that fits one fragment takes the engine's
    one-fragment path. num_partitions=None means the engine's width rule;
    checkpoint_dir gives snapshots and resume as in run_wcc.
    """
    from ..plans.wcc import (
        _MINLABEL_KERNEL,
        _init_labels,
        _make_apply_min_jump,
        _wcc_engine,
    )

    eng = _wcc_engine(
        edges, directed, checkpoint_dir, {"num_partitions": num_partitions}
    )
    res = eng.run(
        _init_labels(eng),
        scatter=fragment_scatter(
            make_minplus_block(None), _hash_pid(eng.num_partitions)
        ),
        combiner="min",
        apply_fn=_make_apply_min_jump(),
        frontier=False,
        max_iter=max_rounds,
        algo="wcc_csr",
        kernel=None if directed else _MINLABEL_KERNEL,
    )
    eng.close()
    return res


def run_bfs_csr(
    edges: DataFrame,
    root: int,
    weight_col: str | None = None,
    num_partitions: int | None = None,
    max_rounds: int = 500,
    partition: str = "hash",
) -> SuperstepResult:
    """BFS / min-plus SSSP via per-partition CSR blocks + local
    sub-iterations (the generalized kernel surface the WCC CSR path uses —
    reference parity: the sssp_vc_stream.cpp:103-158 inner loop running
    inside each fragment before border exchange). One SuperstepEngine run:
    fragment_scatter, the min-combine and plans.bfs's apply, with INF64 as
    the unreached distance.

    partition='hash' (default): hash(src) fragments — correct everywhere.
    partition='range': the reference's contiguous edge-cut rule
    (edge_cut_partitioner.h:251-254) — on graphs with id locality (paths,
    grids, compacted ids) fragments contract whole runs locally, cutting
    global rounds from O(diameter) to O(num_fragments); this is exactly the
    locality argument for the reference's edge-cut partitioner.

    Unreachable vertices end with value NULL (same face as plans.bfs).
    """
    from ..plans.bfs import _make_superstep_fns

    cols = [F.col("src"), F.col("dst")] + (
        [F.col(weight_col).cast("long").alias("w")] if weight_col else []
    )
    eng = SuperstepEngine(edges.select(*cols), num_partitions=num_partitions)
    p = eng.num_partitions
    if partition == "range":
        nv = eng.edges.agg(F.max(F.greatest("src", "dst")) + 1).first()[0]
        pid = edge_cut_pid(F.col("src"), int(nv), p)
    else:
        pid = _hash_pid(p)
    init = eng.vertices().select(
        "vid",
        F.when(F.col("vid") == root, F.lit(0))
        .otherwise(F.lit(INF64))
        .cast("long")
        .alias("value"),
        F.lit(True).alias("active"),
    )
    res = eng.run(
        init,
        scatter=fragment_scatter(
            make_minplus_block("w" if weight_col else "unit"), pid
        ),
        combiner="min",
        apply_fn=_make_superstep_fns(None)[1],
        frontier=False,
        max_iter=max_rounds,
        algo="bfs_csr",
    )
    eng.close()
    res.state = res.state.select(
        "vid",
        F.when(F.col("value") >= INF64, F.lit(None))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return res

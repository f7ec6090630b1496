"""The min-label fragment kernel and the run_wcc_csr name.

make_minplus_kernel is WCC's FragmentKernel: a min-label (or max-label)
gather over a superstep.Fragment — the package's one CSR layout
(immutable_csr.h:82-164) — run to the LOCAL fixpoint, the PEval inner loop
(apps/cpp/wcc_vc_batch.cpp:139-148). SuperstepEngine runs it as the
one-fragment path whenever the engine's width is 1; at any other width
run_wcc runs the DataFrame superstep loop, one exchange per round.

Applicability: local sub-iteration is semantics-preserving only for
idempotent, commutative, monotone combiners (min/max — WCC, directed
min-label). PageRank's sum-gather must stay globally synchronous (one
gather per superstep), so it ships its own kernel (plans/pagerank.py).
BFS/SSSP ship none: run_bfs accepts negative weights, where a local
fixpoint need not exist, and runs the loop at every width.

All per-row work is vectorized — no per-row Python anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .superstep import Fragment, FragmentKernel, Graph, SuperstepResult


def make_minplus_kernel(op: str = "min") -> FragmentKernel:
    """Label-propagation fragment kernel — the repo analog of the
    reference's auto-parallelized user kernel surface (auto_map.h:92-120,
    F(u,v) at :39-43): a vectorized gather sweep over the fragment's
    in-edge CSR, run to the LOCAL fixpoint (so fixpoint=True):

        state[v] = op(state[v], op over in-edges state[src])

    op='min'|'max' — the write_min/write_max combiner pair
    (utility/atomic.h:30-47); the name is the (min, +) semiring's, with a
    zero edge increment. A sweep only moves labels monotonically to
    values already in the state, so the fixpoint loop ends.
    """
    if op not in ("min", "max"):
        raise ValueError(f"op must be 'min' or 'max', got {op!r}")
    ufunc = np.minimum if op == "min" else np.maximum

    def step(frag: Fragment, value: np.ndarray, cols: dict):
        src, dst = frag.src, frag.dst
        # dst is sorted: each run is one vertex's in-edge segment
        starts = np.flatnonzero(np.diff(dst, prepend=-1))
        heads = dst[starts]
        st = value
        # local fixpoint: gather over in-neighbors via reduceat on the
        # CSR (the inner ActiveEMap loop, wcc_vc_batch.cpp:139-148)
        while starts.size:
            gathered = ufunc.reduceat(st[src], starts)
            new = st.copy()
            new[heads] = ufunc(st[heads], gathered)
            if np.array_equal(new, st):
                break
            st = new
        return st, st != value

    return FragmentKernel(step, fixpoint=True)


def run_wcc_csr(
    edges: DataFrame,
    directed: bool = False,
    num_partitions: int | None = None,
    max_rounds: int = 60,
    checkpoint_dir: str | None = None,
) -> SuperstepResult:
    """WCC labels — exactly plans.wcc.run_wcc at the engine width
    ``num_partitions`` (None: the width rule).

    The name remains for its callers (perfbench's ``wcc_csr`` operation,
    the ``wcc_csr_components_snr`` contract query, ``submit_job.py --algo
    wcc_csr``); WCC has one path, run_wcc's: the min-label kernel at width
    1, the DataFrame superstep loop above it.
    """
    from ..plans.wcc import run_wcc

    with Graph(edges, num_partitions=num_partitions) as g:
        return run_wcc(g, directed, max_iter=max_rounds, checkpoint_dir=checkpoint_dir)

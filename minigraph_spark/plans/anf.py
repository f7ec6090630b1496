"""Approximate neighborhood function — HyperBall-style per-vertex
HyperLogLog ball sketches (link_graph-tier op; no reference app. The
neighborhood function |{u : dist(v,u) <= d}| underlies effective-diameter
and centrality estimation on web graphs — Palmer et al.'s ANF and Boldi &
Vigna's HyperBall; exact computation is O(V^2) memory and off the table at
scale, the register-sketch iteration is the production algorithm).

Every vertex carries m = 16 HLL registers. Round d merges (element-wise
max) each vertex's sketch with its out-neighbors' round-(d-1) sketches, so
after D rounds the sketch summarizes {u : dist(v, u) <= D}. Merging is
monotone + idempotent, so frontier delta-propagation is EXACT (same
argument as BFS/WCC): only vertices whose sketch changed rescatter.

Everything is DETERMINISTIC and cross-engine checkable: the item hash is
the repo-wide md5_int63 idiom (functions/hashing.py), register index =
low 4 bits, register value rho = 1 + trailing zeros of the remaining 56
bits (geometric(1/2), and 2^-rho sums are exact powers of two, so the
harmonic-sum arithmetic is bit-identical in Spark and DuckDB). The DuckDB
oracle computes the SAME registers from an exact bounded-depth closure —
no sketch-vs-exact slack in the test, the estimates match to 6 dp.

Scale shape: state is V rows x 16 ints; each round is one E-row scatter
join (co-partitioned, exchange-free on the edge side) + one combine
shuffle whose 16 per-slot max aggregations collapse map-side. Registers
grow only, so the frontier empties by round ~diameter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_int63
from ..operators.superstep import SuperstepEngine, SuperstepResult

M = 16          # registers per sketch (b = 4 index bits)
ALPHA_M = 0.673  # HLL bias constant for m = 16
RHO_CAP = 57    # rho when the 56 post-index bits are all zero (~2^-56 odds)


def _vid_registers(vid_col: Column) -> Column:
    """The singleton-{v} sketch: rho(v) at slot j(v), zeros elsewhere."""
    h = md5_int63(vid_col.cast("string"))
    j = h % M
    w = F.shiftright(h, 4)
    lowbit = w.bitwiseAND(-w)
    # exact trailing_zeros + 1: lowbit is a power of two, so its binary
    # digit count IS floor(log2)+1 — no float log, whose 1-ulp-low results
    # on exact powers could mis-derive a register per engine (same integer
    # trick as stats.degree_histogram; ADVICE r3)
    rho = (
        F.when(w == 0, F.lit(RHO_CAP))
        .otherwise(F.length(F.conv(lowbit.cast("string"), 10, 2)))
        .cast("tinyint")
    )
    # registers are tinyint (rho <= 57 < 127): the per-round message is an
    # array of 16 of them, and the narrower element type shrinks every
    # scatter/combine row from ~88 to ~40 bytes (UnsafeArrayData padding
    # included) — guide §2.3 "narrower types", halving the E-row combine
    # shuffle. Register VALUES are unchanged, so the register-exact DuckDB
    # oracles and est_expr (which casts to double) are unaffected.
    return F.array(
        *[F.when(j == i, rho).otherwise(F.lit(0)).cast("tinyint") for i in range(M)]
    )


def _make_superstep_fns():
    """scatter/combine/apply closures with every loop-invariant Column
    tree prebuilt (the 16-register combine alone is ~50 expression nodes,
    each a py4j roundtrip when rebuilt per superstep — see
    superstep._run_loop). Identical expression trees, built once."""
    vid_as_src = F.col("vid").alias("src")
    msg_col = F.col("value").alias("msg")
    agg_col = F.array(
        *[F.max(F.element_at(F.col("msg"), i + 1)) for i in range(M)]
    ).alias("agg")
    merged = F.zip_with(
        "value", F.coalesce(F.col("agg"), F.col("value")),
        lambda a, b: F.greatest(a, b),
    )
    value_col = merged.alias("value")
    active_col = (merged != F.col("value")).alias("active")

    def _scatter(e: DataFrame, state: DataFrame, ctx: dict) -> DataFrame:
        return e.join(state.select(vid_as_src, "value"), "src").select(
            "dst", msg_col
        )

    def _combine(msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("dst").agg(agg_col)

    def _apply(state: DataFrame, agg: DataFrame, ctx: dict) -> DataFrame:
        return (
            state.join(agg.withColumnRenamed("dst", "vid"), "vid", "left")
            .select("vid", value_col, active_col)
        )

    return _scatter, _combine, _apply


def run_anf(edges: DataFrame, depth: int = 3) -> SuperstepResult:
    """Ball sketches of {u : dist(v, u) <= depth} along OUT-edges. Returns
    state (vid, value = array<int> of 16 registers).

    The engine holds the REVERSED edge table (messages flow dst -> src:
    N(v, d+1) = {v} ∪ ⋃_{v->w} N(w, d))."""
    eng = _reversed_engine(edges)
    init = eng.vertices().select(
        "vid", _vid_registers(F.col("vid")).alias("value"),
        F.lit(True).alias("active"),
    )
    scatter, combine, apply_fn = _make_superstep_fns()
    res = eng.run(
        init, scatter=scatter, combiner=combine, apply_fn=apply_fn,
        frontier=True, max_iter=depth, algo="anf",
    )
    eng.close()
    return res


def _reversed_engine(edges: DataFrame) -> SuperstepEngine:
    return SuperstepEngine(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def est_expr(value_col: Column) -> Column:
    """The HLL cardinality estimate of one sketch column — raw
    harmonic-mean estimator with the standard small-range linear-counting
    correction (est <= 2.5m with empty registers). All built-in float ops,
    mirrored term-for-term by the SQL oracle."""
    reg = [F.element_at(value_col, i + 1) for i in range(M)]
    s = F.lit(0.0)
    for r in reg:
        s = s + F.pow(F.lit(2.0), -r.cast("double"))
    zeros = F.lit(0)
    for r in reg:
        zeros = zeros + F.when(r == 0, 1).otherwise(0)
    raw = F.lit(ALPHA_M * M * M) / s
    return F.when(
        (raw <= F.lit(2.5 * M)) & (zeros > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / zeros),
    ).otherwise(raw)


def anf_estimates(state: DataFrame) -> DataFrame:
    """(vid, est) — see est_expr."""
    return state.select("vid", est_expr(F.col("value")).alias("est"))


def neighborhood_function(
    edges: DataFrame, max_depth: int = 4
) -> list[tuple[int, float]]:
    """[(d, NF(d))] for d = 1..max_depth: the estimated number of REACHABLE
    (ordered) pairs within distance d — sum of per-vertex ball estimates.

    Runs ONE sketch state through max_depth single-round engine windows
    (delta frontier preserved across calls — the state's `active` flags
    carry over), reading one scalar per depth. The per-vertex estimates are
    rounded to 6 dp and summed in DECIMAL so the total is order-independent
    and bit-identical to the SQL oracle. Once the frontier empties the ball
    equals the exact closure and the curve goes flat; remaining depths
    reuse the scalar without more Spark jobs. The engine holds the
    REVERSED edges, as run_anf's."""
    eng = _reversed_engine(edges)
    state = eng.vertices().select(
        "vid", _vid_registers(F.col("vid")).alias("value"),
        F.lit(True).alias("active"),
    )
    nf_col = F.round(
        F.sum(F.round(est_expr(F.col("value")), 6).cast("decimal(18,6)"))
        .cast("double"),
        6,
    ).alias("nf")
    curve: list[tuple[int, float]] = []
    done = False
    nf = float("nan")
    scatter, combine, apply_fn = _make_superstep_fns()
    for d in range(1, max_depth + 1):
        if not done:
            res = eng.run(
                state, scatter=scatter, combiner=combine, apply_fn=apply_fn,
                frontier=True, max_iter=1, algo="anf_curve",
            )
            state = res.state
            nf = state.agg(nf_col).collect()[0]["nf"]
            if res.metrics and res.metrics[-1].num_changed == 0:
                done = True
        curve.append((d, nf))
    eng.close()
    return curve


def effective_diameter(
    edges: DataFrame, q: float = 0.9, max_depth: int = 16
) -> float:
    """Smallest d with NF(d) >= q * NF(max_depth), linearly interpolated
    between the bracketing depths (the standard HyperBall/ANF effective-
    diameter convention). max_depth is the closure horizon: on graphs whose
    sketch frontier empties before max_depth the reference mass is the full
    transitive closure and the figure is the true (estimated) q-effective
    diameter."""
    curve = neighborhood_function(edges, max_depth=max_depth)
    target = q * curve[-1][1]
    prev_d, prev_nf = 0, 0.0
    for d, nf in curve:
        if nf >= target:
            if nf == prev_nf:
                return float(d)
            frac = (target - prev_nf) / (nf - prev_nf)
            return prev_d + frac * (d - prev_d)
        prev_d, prev_nf = d, nf
    return float(curve[-1][0])

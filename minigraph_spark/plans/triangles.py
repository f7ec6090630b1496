"""Triangle counting — degree-oriented adjacency intersection (SURVEY.md §2.4).

No reference app exists (README lists it as future work); the north rule
requires it. triangle_count takes a DataFrame or a superstep.Graph and
picks one path per width of the graph's canonical view (view "canonical":
each undirected edge once as (least, greatest), self-loops dropped,
deduped inside the engine's one partitioning exchange), by the same width
rule as PEval:

- width 1 (one fragment): the whole count is one Arrow task over the
  canonical engine's cached edges. In NumPy: rank every vertex by
  (degree, vid), orient each edge low-rank -> high-rank into a
  superstep.Fragment (its (dst, src) sort is the oriented out-CSR), and
  test every wedge (a pair of one vertex's oriented out-neighbors) against
  the sorted edge keys with searchsorted, WEDGE_CHUNK wedges at a time.
  Each triangle a<b<c (by rank) is the one wedge (b, c) at a, so it is
  counted exactly once.
- width > 1 (intersect): no engine is built (Graph.width reads the width
  rule's estimate). oriented_edges canonicalizes, dedups and orients the
  edges low-rank -> high-rank in Spark, then per-vertex oriented adjacency
  arrays are built and for every oriented edge (u, v) |adj(u) ∩ adj(v)| is
  counted via JVM-side `array_intersect`. The quadratic sum_v deg_out(v)^2
  volume rides *inside* row arrays (two E-row joins) instead of being
  materialized as a shuffled wedge table — measured 10x over the wedge
  join on a 2M-edge R-MAT (140M wedges -> 0 wedge rows). Orienting the
  canonical engine's rows instead was measured slower on that graph
  (bench.py's triangles_rmat on 4 cores, median of 10 interleaved runs:
  28.9 s -> 37.5 s): the engine's exchange does not pay for itself in a
  plan that reshuffles anyway.

Degree orientation bounds oriented out-degree at O(sqrt(|E|)) on power-law
graphs — the standard skew defense at 100 TB; residual hub rows are split
by AQE skew-join handling. The DataFrame helpers below (oriented_edges,
per_vertex_triangles, clustering_coefficients) serve the per-vertex plans,
ktruss and linkpred.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.project import canonicalize
from ..operators.superstep import Fragment, Graph, as_graph

# wedges tested per NumPy step of the one-fragment count: the task's working
# memory is a few int64 arrays of this length, whatever the oriented degrees
WEDGE_CHUNK = 1 << 20


def oriented_edges(
    edges: DataFrame, by_degree: bool = True, materialize: bool = False
) -> DataFrame:
    """Undirected simple closure, each edge kept once, oriented
    low-rank -> high-rank where rank = (degree, vid) when by_degree.

    materialize=True persists + counts the result and scopes a persist of
    the canonical closure across its two consumers (degree agg + the
    orientation join) — without it the E-row distinct recomputes per
    branch, measured ~2x on the end-to-end count.

    The closure is canonicalized (least, greatest) BEFORE distinct
    (project.canonicalize), so the dedup shuffle carries E rows, not the 2E
    symmetrized rows of the naive union — and the two degree joins
    downstream ride the same E-row set (degrees come from an explode of both
    endpoints, whose 2E rows collapse map-side in the partial agg).
    Orientation swaps columns in-row, so no filter ever discards half the
    join output."""
    canon = canonicalize(edges)
    return _orient(canon.persist() if materialize else canon, by_degree, materialize)


def _orient(canon: DataFrame, by_degree: bool, materialize: bool) -> DataFrame:
    """oriented_edges over rows that are already canonical (src < dst) and
    deduped. With materialize=True, ``canon`` must be persisted: the result
    is persisted and counted, and ``canon`` released once the oriented rows
    exist (it IS the result when not by_degree)."""
    if not by_degree:
        # canonical rows already satisfy src < dst
        if materialize:
            canon.count()
        return canon
    deg = (
        canon.select(F.explode(F.array("src", "dst")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = (
        canon.join(deg.select(F.col("v").alias("src"), F.col("deg").alias("sdeg")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("deg").alias("ddeg")), "dst")
    )
    # rank = (degree, vid); canon has src < dst, so on a degree tie the
    # canonical direction is already low-rank -> high-rank
    swap = F.col("ddeg") < F.col("sdeg")
    out = ranked.select(
        F.when(swap, F.col("dst")).otherwise(F.col("src")).alias("src"),
        F.when(swap, F.col("src")).otherwise(F.col("dst")).alias("dst"),
    )
    if materialize:
        out = out.persist()
        out.count()
        canon.unpersist()
    return out


def _edge_intersections(e: DataFrame, adj: DataFrame | None = None) -> DataFrame:
    """(u, v, cs): for each oriented edge, the common oriented out-neighbors
    — the triangle closers. e must be the simple oriented edge set (or a
    subset of it, with ``adj`` precomputed over the FULL set)."""
    if adj is None:
        adj = e.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    return (
        e.join(
            adj.select(F.col("src").alias("u"), F.col("nbrs").alias("u_nbrs")),
            e["src"] == F.col("u"),
        )
        .join(
            # inner join: an edge whose dst has no oriented out-edges closes
            # no triangle, so dropping it is exact
            adj.select(F.col("src").alias("v"), F.col("nbrs").alias("v_nbrs")),
            e["dst"] == F.col("v"),
        )
        .select("u", "v", F.array_intersect("u_nbrs", "v_nbrs").alias("cs"))
    )


def _count_fragment(src: np.ndarray, dst: np.ndarray, by_degree: bool, chunk: int) -> int:
    """Triangles of the canonical edge rows (src < dst, no duplicates) in
    NumPy: the one-fragment count (see the module docstring), testing at
    most ``chunk`` wedges per step."""
    m = src.size
    if m == 0:
        return 0
    vid, local = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = vid.size
    s, d = local[:m], local[m:]
    deg = np.bincount(local, minlength=n) if by_degree else np.zeros(n, np.int64)
    rank = np.empty(n, np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)  # (degree, vid) order
    swap = rank[d] < rank[s]
    # dst = the low-rank end, so each vertex's oriented out-neighbors are
    # one run of the fragment's rows, sorted by local id
    frag = Fragment.from_local(
        vid, src=np.where(swap, s, d), dst=np.where(swap, d, s), edge_cols={}
    )
    keys = np.sort(s * n + d)  # every edge as (smaller, larger) local id
    # row k pairs with its later row-mates k+1 .. end-1 of its run
    after = np.searchsorted(frag.dst, frag.dst, side="right") - 1 - np.arange(m)
    last = np.cumsum(after)  # wedges of rows 0..k
    found = 0
    for w0 in range(0, int(last[-1]), chunk):
        w = np.arange(w0, min(w0 + chunk, int(last[-1])))
        k = np.searchsorted(last, w, side="right")
        mate = k + 1 + w - (last[k] - after[k])
        q = frag.src[k] * n + frag.src[mate]  # frag.src[k] < frag.src[mate]
        at = np.minimum(np.searchsorted(keys, q), m - 1)
        found += int(np.count_nonzero(keys[at] == q))
    return found


def _count_one_fragment(eng, by_degree: bool) -> int:
    """The one-fragment count: one Arrow task over the width-1 engine's
    cached edges. They are one partition, so mapInArrow needs no exchange:
    0.30 s against 0.35 s for applyInPandas on a constant key, on 43k
    canonical R-MAT edges at local[4] (medians of 7 alternated runs). The
    ids are cast to long on the way in: the view keeps the input's id type
    (int ids from sources.edgelist.retype_ids, int parquet)."""
    chunk = WEDGE_CHUNK  # read here, so the task sees the current value

    def fn(batches):
        import pyarrow as pa

        t = pa.Table.from_batches(list(batches), schema=pa.schema(
            [("src", pa.int64()), ("dst", pa.int64())]
        ))
        n = _count_fragment(
            t.column("src").to_numpy(), t.column("dst").to_numpy(), by_degree, chunk
        )
        yield pa.RecordBatch.from_pydict({"num_triangles": [n]})

    ids = eng.edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    rows = ids.mapInArrow(fn, "num_triangles long").collect()
    return rows[0][0] if rows else 0  # an empty view returns no row


def _count_intersect(e: DataFrame, src_buckets: int) -> int:
    """The width > 1 count over the oriented edges ``e``: one intersect
    pass, or src_buckets sequential passes (see triangle_count)."""
    if src_buckets <= 1:
        return int(_edge_intersections(e).agg(
            F.coalesce(F.sum(F.size("cs")), F.lit(0)).cast("long")
        ).collect()[0][0])
    adj = e.groupBy("src").agg(F.collect_list("dst").alias("nbrs")).persist()
    adj.count()
    total = 0
    bucket = F.pmod(F.xxhash64("src"), F.lit(src_buckets))
    for b in range(src_buckets):
        part = _edge_intersections(e.filter(bucket == b), adj).agg(
            F.coalesce(F.sum(F.size("cs")), F.lit(0)).cast("long")
        )
        total += int(part.collect()[0][0])
    adj.unpersist()
    return total


def triangle_count(
    edges: DataFrame | Graph, by_degree: bool = True, src_buckets: int = 1,
) -> DataFrame:
    """One-row DataFrame (num_triangles). Exact on the undirected closure.

    A Graph shares its canonical view with run_coloring and transitivity;
    a DataFrame gets its own handle, closed here. When that view is one
    fragment (width 1) the count is one Arrow task over its cached edges;
    above width 1 it is the intersect plan over oriented_edges, and no
    engine is built unless the Graph already holds one (see the module
    docstring). by_degree=False orients by vid alone. The count is taken
    eagerly, so no oriented edge cache outlives the call.

    src_buckets applies to the width > 1 plan only. src_buckets > 1 chunks
    the intersection pass by hash bucket of the oriented edge's src: the
    adjacency-array table is built ONCE (E longs total, persisted), then
    each bucket joins only its ~E/B edge slice against it and contributes a
    partial sum. Peak shuffle/spill of the array-shipping join — the
    sum_v deg_out(v)^2 volume that ENOSPC'd the 256M-edge run at ~77 GB
    projected vs ~54 GB free — drops to ~1/B while total work stays flat
    (B cheap scans of the cached inputs). Each oriented edge lands in
    exactly one bucket, so the sum is exact. This is the per-node-disk knob
    a 100 TB deployment sets from spill_budget >= wedge_volume/B; B
    driver-side loop rounds are bounded and tiny (one count job each), not
    a per-row driver loop. The one-fragment count needs no such knob: it
    tests WEDGE_CHUNK wedges at a time."""
    with as_graph(edges) as g:
        if g.width("canonical") == 1 and g.engine("canonical").one_fragment:
            n = _count_one_fragment(g.engine("canonical"), by_degree)
        else:
            e = oriented_edges(g.edges, by_degree, materialize=True)
            n = _count_intersect(e, src_buckets)
            e.unpersist()
    return g.edges.sparkSession.createDataFrame([(n,)], "num_triangles long")


def triangle_count_incremental(
    base_edges: DataFrame, delta_edges: DataFrame, prev_count: int
) -> DataFrame:
    """IncEval for the triangle count under edge ADDITIONS: maintain the
    metric without recounting the base graph (see plans/wcc.py::
    run_wcc_incremental for the PEval/IncEval framing — this is the
    non-propagation instance: an exactly-maintained aggregate).

    New triangles (those using >= 1 genuinely-new undirected edge) are
    counted by inclusion-exclusion over how many delta edges each uses:

        dT = S1 - P + S3
        S1 = sum over new edges (u,v) of |N_U(u) ∩ N_U(v)|   (j-new counted j times)
        P  = # unordered pairs of new edges sharing a triangle (t2 + 3*t3)
        S3 = # triangles wholly inside the delta            (t3)

    so dT = t1 + t2 + t3 exactly. All three terms keep the delta on the
    small side of wedge-style joins (work ∝ delta neighborhood volume, not
    |E|^1.5 — the whole point at 100 TB); no per-vertex adjacency arrays are
    built, so hub degrees cannot blow a row. Deltas may repeat base edges,
    contain both orientations, or self-loops — the canonical closure
    normalizes all of it (a repeated edge adds no triangle).

    prev_count is triangle_count(base).collect()[0][0] or a maintained
    scalar. Returns the same one-row face as triangle_count on the union.
    """

    def canon(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    b = canon(base_edges).persist()
    d = canon(delta_edges).join(b, ["src", "dst"], "left_anti").persist()
    u_canon = b.unionAll(d)
    u_und = (
        u_canon.unionAll(
            u_canon.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    ).persist()

    # S1: wedge join with the delta edge as the base — (u,v) in D,
    # (u,w) and (v,w) in U
    s1 = (
        d.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(u_und.select(F.col("src").alias("u"), F.col("dst").alias("w")), "u")
        .join(u_und.select(F.col("src").alias("v"), F.col("dst").alias("w")), ["v", "w"])
        .count()
    )
    # P: two delta edges sharing vertex w, closed by any union edge {u,v}
    d_und = d.unionAll(d.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    p = (
        d_und.select(F.col("src").alias("w"), F.col("dst").alias("u"))
        .join(d_und.select(F.col("src").alias("w"), F.col("dst").alias("v")), "w")
        .filter(F.col("u") < F.col("v"))
        .join(u_canon.select(F.col("src").alias("u"), F.col("dst").alias("v")), ["u", "v"])
        .count()
    )
    # S3: triangles wholly inside the delta (canonical a<b<c wedge join)
    ab = d.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = d.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = d.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    s3 = ab.join(bc, "b").join(ac, ["a", "c"]).count()

    u_und.unpersist()
    d.unpersist()
    b.unpersist()
    total = int(prev_count) + s1 - p + s3
    return base_edges.sparkSession.createDataFrame(
        [(int(total),)], "num_triangles long"
    )


def clustering_coefficients(
    edges: DataFrame, by_degree: bool = True, src_buckets: int = 1
) -> DataFrame:
    """(vid, deg, triangles, lcc) over the simple undirected closure —
    lcc = 2*T(v) / (deg(v) * (deg(v)-1)), 0 when deg < 2 (the nx.clustering
    convention). Every closure vertex is emitted, zero-triangle ones with
    lcc = 0.

    Rides the degree-oriented intersection machinery (per_vertex_triangles),
    so the quadratic wedge volume stays inside row arrays and src_buckets
    bounds peak spill exactly as for the raw counts. Result is persisted +
    materialized (V rows) so the E-row closure cache frees here; callers
    unpersist when done.

    The closure is canonicalized once: the degrees (V rows, materialized
    first) and the orientation both read the one persisted canonical set,
    which the triangle count releases."""
    canon = canonicalize(edges).persist()
    deg = (
        canon.select(F.explode(F.array("src", "dst")).alias("vid"))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist()
    )
    deg.count()
    tri = _triangles_of(_orient(canon, by_degree, materialize=True), src_buckets)
    out = (
        deg.join(tri, "vid", "left")
        .select(
            "vid",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                2.0 * F.coalesce("triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - F.lit(1.0))),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
        .persist()
    )
    out.count()
    tri.unpersist()
    deg.unpersist()
    return out


def transitivity(edges: DataFrame | Graph, src_buckets: int = 1) -> DataFrame:
    """One row (num_triangles, num_wedges, transitivity): the global
    clustering coefficient 3T / W with W = sum_v deg(v)*(deg(v)-1)/2 wedges
    on the simple undirected closure; 0.0 on a wedge-free graph.

    The wedge degrees read the canonical view of ``edges``, which
    triangle_count shares at width 1 (one partitioning exchange in all;
    above width 1 the count orients the edges itself); src_buckets is
    triangle_count's."""
    with as_graph(edges) as g:
        canon = g.engine("canonical").edges
        t = triangle_count(g, src_buckets=src_buckets)
        w = (
            canon.select(F.explode(F.array("src", "dst")).alias("vid"))
            .groupBy("vid")
            .agg(F.count(F.lit(1)).alias("deg"))
            .agg(
                (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2)
                .cast("long")
                .alias("num_wedges")
            )
        )
        out = t.crossJoin(w).select(
            "num_triangles",
            "num_wedges",
            F.when(
                F.col("num_wedges") > 0,
                3.0 * F.col("num_triangles") / F.col("num_wedges"),
            )
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
        )
        rows = out.collect()  # 1 row, read before the handle closes
    return canon.sparkSession.createDataFrame(
        rows, "num_triangles long, num_wedges long, transitivity double"
    )


def _per_corner(inter: DataFrame) -> DataFrame:
    """Corner contributions of closed wedges: u and v get the intersection
    size, every closer c gets 1 via explode — all JVM-side."""
    inter = inter.filter(F.size("cs") > 0)
    return (
        inter.select(F.col("u").alias("vid"), F.size("cs").alias("t"))
        .unionAll(inter.select(F.col("v").alias("vid"), F.size("cs").alias("t")))
        .unionAll(inter.select(F.explode("cs").alias("vid"), F.lit(1).alias("t")))
    )


def per_vertex_triangles(
    edges: DataFrame, by_degree: bool = True, src_buckets: int = 1
) -> DataFrame:
    """(vid, triangles) — per-vertex participation count (nx.triangles
    analog); sums to 3x the global count.

    src_buckets > 1 applies the same disk-budget chunking as
    triangle_count: per-bucket V-row partial counts are materialized
    SEQUENTIALLY (so only one bucket's array-shipping join is in flight —
    a single unioned plan would execute every bucket at once and restore
    the unbucketed peak), then merged with one final V-row sum.

    Returned persisted + materialized (V rows) so the E-row oriented edge
    cache can be freed here instead of leaking; callers may unpersist the
    result when done."""
    return _triangles_of(oriented_edges(edges, by_degree, materialize=True), src_buckets)


def _triangles_of(e: DataFrame, src_buckets: int) -> DataFrame:
    """per_vertex_triangles over the persisted oriented edge set ``e``,
    which it unpersists."""
    if src_buckets > 1:
        adj = e.groupBy("src").agg(F.collect_list("dst").alias("nbrs")).persist()
        adj.count()
        bucket = F.pmod(F.xxhash64("src"), F.lit(src_buckets))
        partials = []
        for b in range(src_buckets):
            pb = (
                _per_corner(_edge_intersections(e.filter(bucket == b), adj))
                .groupBy("vid")
                .agg(F.sum("t").cast("long").alias("t"))
                .persist()
            )
            pb.count()
            partials.append(pb)
        merged = partials[0]
        for pb in partials[1:]:
            merged = merged.unionAll(pb)
        out = (
            merged.groupBy("vid")
            .agg(F.sum("t").cast("long").alias("triangles"))
            .persist()
        )
        out.count()
        for pb in partials:
            pb.unpersist()
        adj.unpersist()
        e.unpersist()
        return out
    out = (
        _per_corner(_edge_intersections(e))
        .groupBy("vid")
        .agg(F.sum("t").cast("long").alias("triangles"))
        .persist()
    )
    out.count()
    e.unpersist()
    return out

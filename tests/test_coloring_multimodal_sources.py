"""Greedy coloring (A5), edge-list sources/sinks, ANN search (exact, LSH,
IVF, matmul), stratified and negative sampling, and text statistics.

The file name is kept from when it also held the media-codec tests, so
that the surviving tests keep their ids."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from minigraph_spark.fixtures import TINY7_EDGES, make_rmat_edges_np, tiny7_edges
from minigraph_spark.operators.similarity import cosine_topk, cosine_topk_lsh
from minigraph_spark.plans.coloring import coloring_conflicts, run_coloring
from minigraph_spark.schemas import EDGE_SCHEMA
from minigraph_spark.sources.edgelist import (
    batch_convert_edgelists,
    rewrite_separator,
    read_edge_csv,
    read_edges_parquet,
    retype_ids,
    sample_head_fraction,
    write_adjacency_text,
    write_edges_parquet,
)


def _spark_edges(spark, arr):
    return spark.createDataFrame(
        pd.DataFrame(arr, columns=["src", "dst"]), schema="src long, dst long"
    )


# ------------------------------------------------------------- coloring
def test_coloring_tiny7(spark):
    e = tiny7_edges(spark)
    res = run_coloring(e)
    assert res.converged
    assert coloring_conflicts(e, res.state) == 0


def test_coloring_triangle_and_rmat(spark):
    tri = _spark_edges(spark, np.array([[1, 2], [1, 3], [2, 3]]))
    res = run_coloring(tri)
    assert coloring_conflicts(tri, res.state) == 0
    arr = make_rmat_edges_np(8, 600, seed=3)
    e = _spark_edges(spark, arr)
    res2 = run_coloring(e)
    assert res2.converged
    assert coloring_conflicts(e, res2.state) == 0


# -------------------------------------------------------------- sources
def test_edge_csv_roundtrip(spark, tmp_path):
    p = tmp_path / "edges.csv"
    p.write_text("".join(f"{s},{d}\n" for s, d in TINY7_EDGES) + "3,3\n")
    e = read_edge_csv(spark, str(p))
    got = sorted((r["src"], r["dst"]) for r in e.collect())
    assert got == sorted(TINY7_EDGES)  # self-loop dropped

    out = str(tmp_path / "edges_parquet")
    write_edges_parquet(e, out, buckets=4)
    back = read_edges_parquet(spark, out)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(TINY7_EDGES)


def test_adjacency_text_sink(spark, tmp_path):
    out = str(tmp_path / "adj")
    write_adjacency_text(tiny7_edges(spark), out)
    lines = sorted(spark.read.text(out).toPandas()["value"])
    assert "0: 2 3" in lines
    assert "3: 1 4" in lines


def test_batch_convert_edgelists(spark, tmp_path):
    # parity: tools/batch_graph_convert.cpp — a DIRECTORY of csv edge lists
    # converts into one merged binary (parquet) edge table in a single call
    src = tmp_path / "csvs"
    src.mkdir()
    half = len(TINY7_EDGES) // 2
    (src / "a.csv").write_text("".join(f"{s},{d}\n" for s, d in TINY7_EDGES[:half]))
    (src / "b.csv").write_text(
        "".join(f"{s},{d}\n" for s, d in TINY7_EDGES[half:]) + "5,5\n"
    )
    out = str(tmp_path / "bin")
    got = batch_convert_edgelists(spark, str(src), out)
    assert sorted((r["src"], r["dst"]) for r in got.collect()) == sorted(TINY7_EDGES)
    back = read_edges_parquet(spark, out)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(TINY7_EDGES)

    # parquet -> adjacency text through the same driver
    adj = str(tmp_path / "adj")
    batch_convert_edgelists(spark, out, adj, in_format="parquet",
                            out_format="adjacency_text")
    lines = sorted(spark.read.text(adj).toPandas()["value"])
    assert "0: 2 3" in lines


def test_rewrite_separator_roundtrip(spark, tmp_path):
    # P9 parity (tools/python/replace_sep.py): read one sep, write another;
    # values and row count survive, and the output really uses the new sep
    src = tmp_path / "tabbed"
    src.mkdir()
    (src / "e.tsv").write_text("".join(f"{s}\t{d}\n" for s, d in TINY7_EDGES))
    out = str(tmp_path / "commas")
    rewrite_separator(spark, str(src), out, in_sep="\t", out_sep=",")
    raw = sorted(spark.read.text(out).toPandas()["value"])
    assert all("," in line and "\t" not in line for line in raw)
    back = spark.read.option("sep", ",").schema(EDGE_SCHEMA).csv(out)
    assert sorted((r["src"], r["dst"]) for r in back.collect()) == sorted(TINY7_EDGES)


def test_retype_and_sample(spark):
    e = tiny7_edges(spark)
    assert retype_ids(e, "int").schema["src"].dataType.simpleString() == "int"
    assert sample_head_fraction(e, 0.5).count() == 3


# ---------------------------------------------------------------- LSH ANN
def test_lsh_topk_recall(spark):
    rng = np.random.default_rng(5)
    # 4 well-separated clusters in 16 dims
    centers = rng.standard_normal((4, 16)) * 10
    vecs = np.concatenate(
        [centers[i] + rng.standard_normal((50, 16)) for i in range(4)]
    )
    pdf = pd.DataFrame(
        {"vec_id": np.arange(200), "embedding": [v.astype(np.float32) for v in vecs]}
    )
    emb = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, q, k=5).toPandas()
    approx = cosine_topk_lsh(emb, q, k=5, num_planes=4, dim=16, num_tables=6).toPandas()
    ek = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    ak = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(ek & ak) / len(ek)
    assert recall >= 0.8, recall


def test_ivf_topk_all_probes_equals_exact_and_recall(spark):
    from minigraph_spark.operators.similarity import cosine_topk_ivf, ivf_centroids

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((4, 16)) * 10
    vecs = np.concatenate(
        [centers[i] + rng.standard_normal((50, 16)) for i in range(4)]
    )
    pdf = pd.DataFrame(
        {"vec_id": np.arange(200), "embedding": [v.astype(np.float32) for v in vecs]}
    )
    emb = spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(emb, q, k=5).toPandas()
    ek = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}

    # nprobe == num_centroids degrades to exact brute force: identical frames
    full = cosine_topk_ivf(emb, q, k=5, num_centroids=4, iters=2, nprobe=4).toPandas()
    cols = ["query_id", "neighbor_id", "sim", "rank"]
    pd.testing.assert_frame_equal(
        exact[cols].sort_values(cols).reset_index(drop=True),
        full[cols].sort_values(cols).reset_index(drop=True),
    )

    # clustered data, 1 probe of 4 cells: queries land in their own cluster
    one = cosine_topk_ivf(emb, q, k=5, num_centroids=4, iters=2, nprobe=1).toPandas()
    ak = {(r.query_id, r.neighbor_id) for r in one.itertuples()}
    assert len(ek & ak) / len(ek) >= 0.8

    # quantizer is deterministic and drops nothing on this fixture
    cents = ivf_centroids(emb, num_centroids=4, iters=2)
    assert [c for c, _ in cents] == [0, 1, 2, 3]
    assert cents == ivf_centroids(emb, num_centroids=4, iters=2)


def test_stratified_sample_deterministic_and_balanced(spark):
    from minigraph_spark.operators.sampling import stratified_sample

    rows = [(i, "ab"[i % 2]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    got = stratified_sample(df, "lang", "doc_id", k=5).collect()
    assert len(got) == 10
    by = {}
    for r in got:
        by.setdefault(r["lang"], []).append((r["rank"], r["doc_id"]))
    import hashlib

    for lang in ("a", "b"):
        ids = [i for i, l in rows if l == lang]
        h = {i: int(hashlib.md5(f"strat:{i}".encode()).hexdigest()[:15], 16)
             for i in ids}
        want = sorted(ids, key=lambda i: (h[i], i))[:5]
        assert [d for _, d in sorted(by[lang])] == want
    # rerun identical (no RNG state)
    again = stratified_sample(df, "lang", "doc_id", k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_stratified_sample_small_stratum_underfills(spark):
    from minigraph_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "doc_id long, lang string"
    )
    got = stratified_sample(df, "lang", "doc_id", k=5).collect()
    assert sorted((r["lang"], r["doc_id"]) for r in got) == [
        ("x", 1), ("x", 2), ("y", 3)
    ]


def test_bigram_topk_matches_python(spark):
    from collections import Counter

    from minigraph_spark.operators.textops import bigram_topk

    texts = ["a b a b c", "b c", "a", "", "c a b"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    cnt = Counter()
    for t in texts:
        ts = t.split(" ")
        for x, y in zip(ts, ts[1:]):
            cnt[f"{x} {y}"] += 1
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    got = [(r["bigram"], r["cnt"]) for r in
           bigram_topk(df, k=3).orderBy("rank").collect()]
    assert got == want


def test_negative_samples_are_nonedges_and_deterministic(spark):
    import hashlib

    import numpy as np

    from minigraph_spark.operators.sampling import negative_edge_samples

    rng = np.random.default_rng(5)
    arr = rng.integers(0, 40, size=(120, 2))
    df = spark.createDataFrame([(int(a), int(b)) for a, b in arr],
                               "src long, dst long")
    got = negative_edge_samples(df, k=2).collect()
    und = {(int(a), int(b)) for a, b in arr} | {(int(b), int(a)) for a, b in arr}
    verts = sorted({v for e in und for v in e})
    dense = {i: v for i, v in enumerate(verts)}
    for r in got:
        assert (r["vid"], r["neg_vid"]) not in und
        assert r["neg_vid"] != r["vid"]
        assert 1 <= r["rank"] <= 2
    # python mirror of the hash rule for one vertex
    v = verts[0]
    cands = []
    for j in range(1, 9):
        h = int(hashlib.md5(f"neg:{v}:{j}".encode()).hexdigest()[:15], 16)
        t = dense[h % len(verts)]
        if t != v and (v, t) not in und:
            if t not in [c for _, c in cands]:
                cands.append((j, t))
    want = [t for _, t in cands[:2]]
    mine = [r["neg_vid"] for r in sorted(
        (r for r in got if r["vid"] == v), key=lambda r: r["rank"])]
    assert mine == want
    again = negative_edge_samples(df, k=2).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_interarrival_stats_tiny(spark):
    """Hand-computable timeline: user 1 has gaps 60s and 3600s (sub-second
    parts floor away), user 2 has a single event (NULL gap stats), and the
    tie on user 3's equal timestamps breaks by event_id (gap 0)."""
    import datetime as dt

    from minigraph_spark.operators.textops import interarrival_stats

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 500000)
    rows = [
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(seconds=60, microseconds=100)),
        (3, 1, t0 + dt.timedelta(seconds=3660)),
        (4, 2, t0),
        (5, 3, t0),
        (6, 3, t0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz"
    )
    got = {
        r["user_id"]: r.asDict()
        for r in interarrival_stats(ev).collect()
    }
    assert got[1]["n_events"] == 3 and got[1]["n_gaps"] == 2
    assert got[1]["min_gap_s"] == 60 and got[1]["max_gap_s"] == 3600
    assert abs(got[1]["avg_gap_s"] - 1830.0) < 1e-9
    assert got[2]["n_events"] == 1 and got[2]["n_gaps"] == 0
    assert got[2]["min_gap_s"] is None and got[2]["avg_gap_s"] is None
    assert got[3]["n_gaps"] == 1 and got[3]["min_gap_s"] == 0


def _clustered_emb(spark, seed=13, n_clusters=4, per=50, dim=16):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 10
    vecs = np.concatenate(
        [centers[i] + rng.standard_normal((per, dim)) for i in range(n_clusters)]
    )
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n_clusters * per),
            "embedding": [v.astype(np.float32) for v in vecs],
        }
    )
    return spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>")


def test_cosine_topk_matmul_equals_hof_exact(spark):
    """The vectorized exact scorer is the same operator as cosine_topk —
    identical frames (values round to 6dp; ranks deterministic)."""
    from minigraph_spark.operators.similarity import cosine_topk_matmul

    emb = _clustered_emb(spark)
    q = emb.filter(F.col("vec_id") < 8)
    cols = ["query_id", "neighbor_id", "sim", "rank"]
    a = cosine_topk(emb, q, k=5).toPandas()[cols].sort_values(cols)
    b = cosine_topk_matmul(emb, q, k=5).toPandas()[cols].sort_values(cols)
    pd.testing.assert_frame_equal(
        a.reset_index(drop=True), b.reset_index(drop=True)
    )


def test_cosine_topk_matmul_zero_vector_guard(spark):
    """An all-zero corpus row must never enter a top-k (sim 0, not
    0/0 = NaN — Spark's descending sort ranks NaN FIRST), and a zero-vector
    query must return finite sims; see similarity._unit_rows."""
    from minigraph_spark.operators.similarity import cosine_topk_matmul

    emb = _clustered_emb(spark)
    zero = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": [10_000], "embedding": [np.zeros(16, dtype=np.float32)]}
        ),
        schema="vec_id long, embedding array<float>",
    )
    corpus = emb.unionByName(zero)
    out = cosine_topk_matmul(corpus, corpus.filter(F.col("vec_id") < 4), k=5)
    pdf = out.toPandas()
    assert np.isfinite(pdf["sim"]).all()
    # Precondition (ADVICE r5): the zero row's exclusion holds because the
    # clustered fixture gives every query >= k neighbors with sim > 0 —
    # a 0.0-sim row legitimately enters a top-k that has fewer than k
    # non-negative-sim candidates. Assert the precondition explicitly so a
    # fixture tweak fails here, not mysteriously on the guard assertion.
    assert (pdf["sim"] > 0).all(), "fixture must give k positive-sim neighbors"
    assert 10_000 not in set(pdf["neighbor_id"])
    # zero-vector QUERY: finite sims (all 0.0 against unit rows)
    qz = cosine_topk_matmul(corpus, zero, k=3).toPandas()
    assert len(qz) == 3 and np.isfinite(qz["sim"]).all()
    assert (qz["sim"].abs() < 1e-9).all()


def test_hyperplane_buckets_vectorized_matches_literal(spark):
    """BLAS bucketing computes the same (vec_id, table, bucket) rows as the
    literal-expression face (same planes; only float summation order
    differs, and no dot in this fixture sits at the sign boundary)."""
    from minigraph_spark.operators.similarity import hyperplane_buckets

    emb = _clustered_emb(spark, seed=17)
    cols = ["vec_id", "table", "bucket"]
    lit = hyperplane_buckets(
        emb, num_planes=6, dim=16, num_tables=3
    ).toPandas()[cols].sort_values(cols).reset_index(drop=True)
    vec = hyperplane_buckets(
        emb, num_planes=6, dim=16, num_tables=3, vectorized=True
    ).toPandas()[cols].sort_values(cols).reset_index(drop=True)
    assert (lit["vec_id"].to_numpy() == vec["vec_id"].to_numpy()).all()
    assert (lit["table"].to_numpy() == vec["table"].to_numpy()).all()
    assert (lit["bucket"].to_numpy() == vec["bucket"].to_numpy()).all()


def test_ivf_build_search_index(spark, tmp_path):
    """Partitioned-IVF pair: nprobe == cells degrades to exact (same pair
    set), 1 probe on clustered data keeps recall, and the index layout is
    one parquet partition dir per cell."""
    import os

    from minigraph_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_search,
    )

    emb = _clustered_emb(spark, seed=23)
    q = emb.filter(F.col("vec_id") < 8)
    idx = str(tmp_path / "ivf_idx")
    cm = ivf_build(emb, idx, num_centroids=4, train_fraction=None, iters=3)
    assert cm.shape == (4, 16)
    assert sorted(d for d in os.listdir(idx) if d.startswith("cid=")) == [
        f"cid={i}" for i in range(4)
    ]

    exact = cosine_topk(emb, q, k=5).toPandas()
    ek = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    full = ivf_search(spark, idx, cm, q, k=5, nprobe=4).toPandas()
    fk = {(r.query_id, r.neighbor_id) for r in full.itertuples()}
    assert fk == ek
    one = ivf_search(spark, idx, cm, q, k=5, nprobe=1).toPandas()
    ak = {(r.query_id, r.neighbor_id) for r in one.itertuples()}
    assert len(ek & ak) / len(ek) >= 0.8

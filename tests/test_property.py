"""Property-based tests (hypothesis) for the pure-Python/NumPy kernels —
fast invariant checks that don't need a SparkSession, complementing the
example-based Spark tests (SURVEY.md §5 test plan)."""

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from minigraph_spark import oracle
from minigraph_spark.operators.csr import make_minplus_kernel
from tests.conftest import coo_fragment

edges_strategy = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)), min_size=1, max_size=200
)


@settings(max_examples=200, deadline=None)
@given(edges_strategy)
def test_csr_block_invariants(pairs):
    src = np.array([p[0] for p in pairs], dtype=np.int64)
    dst = np.array([p[1] for p in pairs], dtype=np.int64)
    frag = coo_fragment(src, dst)
    # vid: sorted distinct union of endpoints; local ids round-trip (the
    # fragment's edges are the input pairs, as a multiset)
    assert (frag.vid == np.unique(np.concatenate([src, dst]))).all()
    assert sorted(zip(frag.vid[frag.src].tolist(), frag.vid[frag.dst].tolist())) == sorted(pairs)
    # in-edge CSR: dst non-decreasing, so each vertex's in-edges are one
    # segment, holding exactly the sources of its in-edges (as a multiset)
    assert (np.diff(frag.dst) >= 0).all()
    bounds = np.searchsorted(frag.dst, np.arange(frag.vid.size + 1))
    for k in range(frag.vid.size):
        got = sorted(frag.vid[frag.src[bounds[k]: bounds[k + 1]]].tolist())
        want = sorted(s for s, d in pairs if d == frag.vid[k])
        assert got == want
    # the min-label kernel's one step is the directed min-label fixpoint
    value, _ = make_minplus_kernel().step(frag, frag.vid.copy(), {})
    assert dict(zip(frag.vid.tolist(), value.tolist())) == oracle.directed_minlabel(
        np.array(pairs)
    )


@settings(max_examples=200, deadline=None)
@given(edges_strategy)
def test_wcc_oracle_is_partition_refinement_of_bfs(pairs):
    """Union-find oracle sanity: two vertices with equal labels must be
    mutually reachable in the undirected closure (checked via BFS), and
    labels are the component minimum."""
    labels = oracle.wcc_labels(np.array(pairs))
    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    for v, lab in labels.items():
        # component minimum property
        seen, stack = {v}, [v]
        while stack:
            u = stack.pop()
            for w in adj.get(u, ()):
                if w not in seen:
                    seen.add(w)
                    stack.append(w)
        assert lab == min(seen)
        assert all(labels[w] == lab for w in seen)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=30, unique=True),
    st.integers(1, 5),
    st.randoms(use_true_random=False),
)
def test_stream_chain_equals_batch(turn_idx, num_batches, rnd):
    """The stateful seq-edge chain, fed ANY split of a conversation's turns
    into arrival batches with non-decreasing turn_idx (and arbitrary
    duplicate re-deliveries of already-seen turns), emits exactly the batch
    projection's consecutive-pair edges, each once."""
    from pyspark.sql.streaming.state import GroupState  # noqa: F401  (import parity)

    from minigraph_spark.streaming import _make_seq_edges_stateful

    turns = sorted(turn_idx)

    class FakeState:
        exists = False
        hasTimedOut = False
        get = None

        def update(self, v):
            self.exists = True
            self.get = v

    fn = _make_seq_edges_stateful(None)
    state = FakeState()
    # split into contiguous batches, then append a replay of a random prefix
    cuts = sorted(rnd.sample(range(len(turns) + 1), min(num_batches - 1, len(turns))))
    batches = []
    lo = 0
    for c in cuts + [len(turns)]:
        batches.append(turns[lo:c])
        lo = c
    if turns:
        batches.append(turns[: rnd.randrange(len(turns)) + 1])  # duplicate replay
    got = []
    for b in batches:
        if not b:
            b_df = pd.DataFrame({"turn_idx": pd.Series([], dtype="int64")})
        else:
            b_df = pd.DataFrame({"turn_idx": b})
        for out in fn(("c",), iter([b_df]), state):
            got += list(zip(out["src_turn"], out["dst_turn"]))
    want = list(zip(turns, turns[1:]))
    assert got == want


def test_simhash_banded_equals_allpairs(spark):
    """Bit-band blocking is exact by pigeonhole: banded near-pair output
    must equal the brute-force all-pairs formulation row-for-row."""
    from pyspark.sql import functions as F

    from minigraph_spark.fixtures import make_transcripts
    from minigraph_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_pairs,
    )

    docs = (
        make_transcripts(spark, 120, seed=3)
        .select(
            F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
            F.col("text"),
        )
    )
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_near_pairs(docs, bits=16, max_hamming=2).collect()
    }
    fps = simhash_fingerprints(docs, 16)
    a = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fa"))
    b = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fb"))
    brute = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))))
        .filter(F.col("hamming") <= 2)
        .collect()
    }
    assert banded == brute
    assert len(banded) > 0  # fixture produces real near-pairs


def test_embedding_dup_lsh_subset_of_exact(spark):
    """LSH-blocked dup pairs must be a subset of the exact all-pairs result
    with identical sims, and recall must be non-trivial at this setting."""
    import numpy as np

    from minigraph_spark.operators.similarity import (
        embedding_cosine_dup_pairs,
        embedding_cosine_dup_pairs_exact,
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16))
    # 20 perturbed near-dups of the first 20 vectors
    near = base[:20] + 0.15 * rng.standard_normal((20, 16))
    vecs = np.vstack([base, near])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lsh = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in embedding_cosine_dup_pairs(
            emb, threshold=0.9, num_planes=4, num_tables=8, dim=16
        ).collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in embedding_cosine_dup_pairs_exact(emb, threshold=0.9).collect()
    }
    assert set(lsh).issubset(set(exact))
    for k in lsh:
        assert lsh[k] == exact[k]
    assert len(exact) >= 15
    assert len(lsh) / len(exact) >= 0.5  # band-OR recall at 4x8 planes/tables


def test_chain_fixture_structure_and_wcc(spark, tmp_path):
    """Transcript-chain fixture: exactly num_edges/(L-1) disjoint chains of
    L vertices (the BASELINE.json (conv_id, turn_idx) input shape), ids
    scrambled but collision-free; run_wcc finds one component per chain,
    each of size L."""
    import numpy as np

    from minigraph_spark.fixtures import ensure_chain_parquet
    from minigraph_spark.plans.wcc import component_sizes, run_wcc

    p = ensure_chain_parquet(19 * 50, chain_len=20, directory=str(tmp_path))
    edges = spark.read.parquet(p)
    assert edges.count() == 19 * 50
    res = run_wcc(edges)
    sizes = [r["size"] for r in component_sizes(res.state).collect()]
    assert len(sizes) == 50 and set(sizes) == {20}
    # determinism: same parameters -> identical content hash
    from minigraph_spark.fixtures import dir_content_md5

    p2 = ensure_chain_parquet(19 * 50, chain_len=20,
                              directory=str(tmp_path / "again"))
    assert dir_content_md5(p) == dir_content_md5(p2)


def test_rich_club_matches_brute(spark):
    """phi(k) vs a dict/set brute force on a small random digraph,
    including the NULL tail where fewer than two vertices qualify."""
    import numpy as np

    from minigraph_spark.plans.stats import rich_club

    rng = np.random.default_rng(5)
    pairs = {
        (int(rng.integers(0, 30)), int(rng.integers(0, 30)))
        for _ in range(120)
    }
    edges = spark.createDataFrame(sorted(pairs), "src long, dst long")
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    deg = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    mx = max(deg.values())
    got = {r["k"]: r for r in rich_club(edges).collect()}
    assert sorted(got) == list(range(mx))
    for k in range(mx):
        nodes = {v for v, d in deg.items() if d > k}
        es = sum(1 for a, b in und if a in nodes and b in nodes)
        assert got[k]["n_nodes"] == len(nodes)
        assert got[k]["n_edges"] == es
        if len(nodes) >= 2:
            want = 2.0 * es / (len(nodes) * (len(nodes) - 1))
            assert abs(got[k]["phi"] - want) < 1e-6
        else:
            assert got[k]["phi"] is None

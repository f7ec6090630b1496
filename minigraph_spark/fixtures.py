"""Deterministic synthetic fixtures (FIXTURES.md F1-F4b).

All generators are seeded NumPy — no wall clock, no external data. The
transcript generator matches the shape demanded by BASELINE.json input_hint
(conv_id, turn_idx, role, text, tool, ts); the R-MAT generator mirrors the
*behavior* of the reference's synthetic graph tool
(reference: tools/graph_gen.cpp:66-243, quadrant-descent R-MAT) as a
vectorized NumPy routine.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .schemas import TRANSCRIPT_SCHEMA

_EPOCH = np.datetime64("2026-01-01T00:00:00")

TOOLS = [f"tool_{i:02d}" for i in range(12)]

# FIXTURES.md F3: the 5-vertex 7-edge example documented in the reference's
# own partitioner doc comment (edge_cut_partitioner.h:31-37).
TINY7_EDGES = [(0, 2), (0, 3), (1, 0), (3, 1), (3, 4), (4, 1), (4, 2)]
TINY7_NUM_VERTICES = 5


def make_transcripts_pdf(num_convs: int, seed: int = 42) -> pd.DataFrame:
    """Synthesize a transcript table as pandas (FIXTURES.md F1).

    Conversation lengths ~ 1 + Zipf(2.1) clipped to [1, 200]; roles cycle
    user/assistant with p=0.15 tool turns after assistant turns; tool names
    Zipf-weighted over 12 tools (creates hub vertices for tool-reference
    edges); text is a deterministic token soup unique per (conv_id, turn_idx).
    """
    rng = np.random.default_rng(seed)
    lengths = np.clip(1 + rng.zipf(2.1, size=num_convs), 1, 200).astype(np.int64)
    total = int(lengths.sum())
    conv_idx = np.repeat(np.arange(num_convs, dtype=np.int64), lengths)
    # turn_idx = position within conversation
    starts = np.concatenate(([0], np.cumsum(lengths)[:-1]))
    turn_idx = (np.arange(total, dtype=np.int64) - starts[conv_idx]).astype(np.int32)

    # roles: even turn -> user, odd -> assistant; some assistant turns are
    # followed by tool turns — emulate by marking p=0.15 of odd turns 'tool'.
    is_odd = (turn_idx % 2) == 1
    tool_mask = is_odd & (rng.random(total) < 0.15)
    role = np.where(tool_mask, "tool", np.where(is_odd, "assistant", "user"))

    # tool names with Zipf weights over 12 tools (hubs)
    tool_ranks = np.arange(1, len(TOOLS) + 1, dtype=np.float64)
    tool_probs = (1.0 / tool_ranks**1.5) / np.sum(1.0 / tool_ranks**1.5)
    tool_choice = rng.choice(len(TOOLS), size=total, p=tool_probs)
    tool = np.where(tool_mask, np.array(TOOLS)[tool_choice], None)

    reps = 1 + rng.integers(0, 8, size=total)
    text = [
        (f"t{c:x}-{t:x} " * r).rstrip()
        for c, t, r in zip(conv_idx, turn_idx, reps)
    ]
    ts = _EPOCH + np.arange(total).astype("timedelta64[s]") * 60

    return pd.DataFrame(
        {
            "conv_id": [f"c{c:08d}" for c in conv_idx],
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts.astype("datetime64[us]"),
        }
    )


def make_transcripts(spark: SparkSession, num_convs: int, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(make_transcripts_pdf(num_convs, seed), schema=TRANSCRIPT_SCHEMA)


def make_rmat_edges_np(
    power: int,
    num_edges: int,
    seed: int = 42,
    a: float = 0.57,
    b: float = 0.19,
    c: float = 0.19,
    drop_self_loops: bool = True,
) -> np.ndarray:
    """Vectorized R-MAT: (num_edges, 2) int64 array over 2^power vertices.

    Behavioral analog of the reference generator's recursive quadrant descent
    (tools/graph_gen.cpp:66-243): at each of `power` levels choose a quadrant
    with probs (a,b,c,d) and set one bit of src/dst accordingly. Self-loops
    dropped to match partitioner behavior (edge_cut_partitioner.h:103);
    duplicate edges kept.
    """
    rng = np.random.default_rng(seed)
    # per-level accumulation: shift-and-add one level at a time instead of
    # materializing (num_edges, power) float/int64 matrices — the original
    # formulation moved ~20 GB of temporaries per 8M-edge chunk and was
    # DRAM-bandwidth-bound when chunks generate in parallel (measured 58 s
    # for 1M edges under 12-way generation; this form is ~10x lighter).
    # Same quadrant distribution and per-seed determinism; the draw order
    # differs from the pre-round-2 matrix form, so regenerating an old
    # fixture yields a statistically identical but not bit-identical graph.
    acc = np.int32 if power <= 31 else np.int64
    src = np.zeros(num_edges, dtype=acc)
    dst = np.zeros(num_edges, dtype=acc)
    for _ in range(power):
        u = rng.random(num_edges)
        np.left_shift(src, 1, out=src)
        np.left_shift(dst, 1, out=dst)
        # quadrant thresholds: a | b | c | d — quadrants c,d set the src
        # bit; b or d set the dst bit
        src += u >= a + b
        dst += ((u >= a) & (u < a + b)) | (u >= a + b + c)
    edges = np.stack([src.astype(np.int64), dst.astype(np.int64)], axis=1)
    if drop_self_loops:
        edges = edges[edges[:, 0] != edges[:, 1]]
    return edges


def make_rmat_edges(
    spark: SparkSession, power: int, num_edges: int, seed: int = 42
) -> DataFrame:
    e = make_rmat_edges_np(power, num_edges, seed)
    pdf = pd.DataFrame({"src": e[:, 0], "dst": e[:, 1]})
    return spark.createDataFrame(pdf, schema="src long, dst long")


def tiny7_edges(spark: SparkSession) -> DataFrame:
    pdf = pd.DataFrame(TINY7_EDGES, columns=["src", "dst"])
    return spark.createDataFrame(pdf, schema="src long, dst long")


def fixture_base_dir() -> str:
    """Per-user scratch root for generated fixture directories.

    A FIXED shared path (the old /tmp/minigraph_*) lets another tenant of a
    shared box pre-create the name and have their content silently accepted
    as the oracle input; keying by uid (overridable via
    $MINIGRAPH_FIXTURE_DIR) plus the content-hash check below closes that.
    """
    import os

    base = os.environ.get(
        "MINIGRAPH_FIXTURE_DIR", f"/tmp/minigraph_fixtures_uid{os.getuid()}"
    )
    os.makedirs(base, exist_ok=True)
    return base


_CONTENT_MD5_NAME = "_CONTENT_MD5"  # no data-glob (*.parquet/*.csv) matches it


def dir_content_md5(path: str) -> str:
    """md5 over (name, bytes) of every non-sidecar file, sorted by name."""
    import hashlib
    import os

    h = hashlib.md5()
    for name in sorted(os.listdir(path)):
        if name == _CONTENT_MD5_NAME:
            continue
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def seal_dir(tmp: str) -> None:
    """Write the content-hash sidecar into a fully-written fixture dir."""
    import os

    digest = dir_content_md5(tmp)
    with open(os.path.join(tmp, _CONTENT_MD5_NAME), "w") as fh:
        fh.write(digest)


def valid_fixture_dir(path: str) -> bool:
    """True iff the dir exists and its bytes match its sealed sidecar —
    content validation, not a file-count heuristic (partial writes and
    foreign content both fail)."""
    import os

    sidecar = os.path.join(path, _CONTENT_MD5_NAME)
    if not os.path.isdir(path) or not os.path.isfile(sidecar):
        return False
    with open(sidecar) as fh:
        want = fh.read().strip()
    return dir_content_md5(path) == want


def publish_dir(tmp: str, path: str) -> None:
    """Atomically publish a fully-written fixture dir at `path`.

    Losing a concurrent-publish race is FINE (content is deterministic), so
    both failure shapes are handled: path already present -> discard ours;
    os.replace raising (ENOTEMPTY: the loser's rename onto a dir that
    appeared after our existence check) -> also discard ours."""
    import os
    import shutil

    if os.path.isdir(path):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    try:
        os.replace(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _write_rmat_part(args) -> None:
    power, n, seed, part_path = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    e = make_rmat_edges_np(power, n, seed=seed)
    pq.write_table(
        pa.table(
            {"src": e[:, 0], "dst": e[:, 1]},
            schema=pa.schema([("src", pa.int64()), ("dst", pa.int64())]),
        ),
        part_path,
    )


def ensure_rmat_parquet(
    power: int,
    num_edges: int,
    seed: int = 42,
    directory: str = "/tmp",
    chunk: int = 8_000_000,
    workers: int = 8,
) -> str:
    """Materialize the seeded R-MAT edge table as a parquet directory
    (written once; chunks generated in parallel worker processes so the
    10^8-edge fixtures don't serialize on one core) and return its path.

    Benchmarks and any multi-use consumer MUST read the graph from storage
    rather than holding a driver-born DataFrame: a pandas-created DataFrame
    is a LocalRelation that Spark re-ships from the driver on every stage
    that scans it — even under persist() it measured 2x slower end-to-end
    on a 2M-edge triangle count. Reading parquet also matches the real
    deployment (the 10^9-edge graph lives in Iceberg, not on the driver).
    Deterministic: chunk k always uses seed+k*chunk regardless of workers.

    The cache name carries a generator version (g2 = the round-2 per-level
    rewrite of make_rmat_edges_np): the rewrite changed the draw order for
    the same (power, num_edges, seed), so version-less names could serve a
    stale pre-rewrite graph as "seed 42" — results must be reproducible from
    parameters alone, across machines and cache states.
    """
    import os
    import shutil
    from concurrent.futures import ProcessPoolExecutor

    path = f"{directory}/minigraph_rmat_p{power}_e{num_edges}_s{seed}_g2.parquet"
    if os.path.exists(path):
        return path
    # pid-suffixed temp dir: concurrent invocations each build their own
    # (identical, content-deterministic) copy and the first rename wins —
    # a shared ".tmp" would let one process rmtree another's in-progress dir
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jobs = []
    done = 0
    while done < num_edges:
        n = min(chunk, num_edges - done)
        jobs.append((power, n, seed + done, f"{tmp}/part-{len(jobs):05d}.parquet"))
        done += n
    if len(jobs) == 1:
        _write_rmat_part(jobs[0])
    else:
        with ProcessPoolExecutor(max_workers=min(workers, len(jobs))) as ex:
            list(ex.map(_write_rmat_part, jobs))
    publish_dir(tmp, path)
    return path


def make_rmat_edges_parquet(
    spark: SparkSession, power: int, num_edges: int, seed: int = 42
) -> DataFrame:
    """Storage-backed R-MAT edge DataFrame (see ensure_rmat_parquet)."""
    return spark.read.parquet(ensure_rmat_parquet(power, num_edges, seed))


def _write_chain_part(args) -> None:
    first_edge, n, chain_len, part_path = args
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # global edge index e belongs to chain e // (chain_len - 1); within the
    # chain it links turn (e % (L-1)) -> turn +1. Vertex id = scrambled
    # (chain, turn) so ids look like the production xxhash64 conv/turn keys
    # (scattered ids are WCC's hard case — BASELINE.md hooking notes), via
    # a fixed odd-multiplier bijection on 2^62.
    e = np.arange(first_edge, first_edge + n, dtype=np.int64)
    per = chain_len - 1
    chain, turn = e // per, e % per
    mult = np.int64(0x9E3779B97F4A7C15 & ((1 << 62) - 1)) | np.int64(1)
    mask = np.int64((1 << 62) - 1)

    def vid(c, t):
        return ((c * np.int64(chain_len) + t) * mult) & mask

    pq.write_table(
        pa.table(
            {"src": vid(chain, turn), "dst": vid(chain, turn + 1)},
            schema=pa.schema([("src", pa.int64()), ("dst", pa.int64())]),
        ),
        part_path,
    )


def ensure_chain_parquet(
    num_edges: int,
    chain_len: int = 20,
    directory: str = "/tmp",
    chunk: int = 8_000_000,
    workers: int = 8,
) -> str:
    """Transcript-shaped edge fixture: disjoint conversation chains of
    `chain_len` turns (chain_len - 1 edges each), vertex ids scrambled by a
    fixed bijection — the BASELINE.json input shape ((conv_id, turn_idx)
    chains at 10^12-turn scale has millions of tiny components, the exact
    opposite locality profile of one R-MAT giant component). Deterministic
    from (num_edges, chain_len) alone; storage-backed like the R-MAT
    fixture and cached under the same content-md5 protocol."""
    import os
    import shutil
    from concurrent.futures import ProcessPoolExecutor

    path = f"{directory}/minigraph_chains_e{num_edges}_l{chain_len}_g1.parquet"
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jobs = []
    done = 0
    while done < num_edges:
        n = min(chunk, num_edges - done)
        jobs.append((done, n, chain_len, f"{tmp}/part-{len(jobs):05d}.parquet"))
        done += n
    if len(jobs) == 1:
        _write_chain_part(jobs[0])
    else:
        with ProcessPoolExecutor(max_workers=min(workers, len(jobs))) as ex:
            list(ex.map(_write_chain_part, jobs))
    publish_dir(tmp, path)
    return path


def _write_embedding_part(args) -> None:
    first_id, n, dim, n_clusters, seed, part_path = args
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Mixture-of-Gaussians corpus: cluster centers regenerated identically
    # in every worker from `seed`; per-chunk noise seeded by the chunk's
    # first id, so the table is deterministic from (n, dim, clusters, seed)
    # regardless of chunking/worker count. Clustered data (not isotropic
    # noise) is what makes IVF/LSH recall curves meaningful.
    centers = np.random.default_rng(seed).standard_normal((n_clusters, dim)) * 3.0
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    cluster = (ids % n_clusters).astype(np.int64)
    noise = np.random.default_rng(seed + 1 + first_id).standard_normal((n, dim))
    vecs = (centers[cluster] + noise).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(vecs.reshape(-1), pa.float32()), dim
                ).cast(pa.list_(pa.float32())),
            }
        ),
        part_path,
    )


def ensure_embeddings_parquet(
    num_vecs: int,
    dim: int = 64,
    n_clusters: int = 256,
    seed: int = 42,
    directory: str = "/tmp",
    chunk: int = 1_000_000,
    workers: int = 8,
) -> str:
    """Deterministic (vec_id, embedding:array<float>) corpus for ANN
    at-scale evidence — mixture of `n_clusters` Gaussians so approximate
    indexes have real structure to exploit. Same storage-backed cache
    protocol as the R-MAT/chains fixtures."""
    import os
    import shutil
    from concurrent.futures import ProcessPoolExecutor

    path = (
        f"{directory}/minigraph_emb_v{num_vecs}_d{dim}_c{n_clusters}_s{seed}_g1"
        ".parquet"
    )
    if os.path.exists(path):
        return path
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jobs = []
    done = 0
    while done < num_vecs:
        n = min(chunk, num_vecs - done)
        jobs.append(
            (done, n, dim, n_clusters, seed, f"{tmp}/part-{len(jobs):05d}.parquet")
        )
        done += n
    if len(jobs) == 1:
        _write_embedding_part(jobs[0])
    else:
        with ProcessPoolExecutor(max_workers=min(workers, len(jobs))) as ex:
            list(ex.map(_write_embedding_part, jobs))
    publish_dir(tmp, path)
    return path

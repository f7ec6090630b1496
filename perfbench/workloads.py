"""The benchmark's workloads: seeded inputs, the timed operation sequence,
and the reference outputs each operation is checked against.

Every workload is a closed loop with one client: the harness issues one
repetition of the operation sequence after the previous one completes, and
each operation is the public call a user makes (plans build their own
engines, exactly as without the benchmark).

Inputs are generated from the seed alone and cached under the benchmark's
work directory with the fixtures content-hash protocol (seal_dir /
valid_fixture_dir), so a set-up round only validates and reads them.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

import checks
from minigraph_spark import fixtures
from minigraph_spark.operators.csr import run_wcc_csr
from minigraph_spark.operators.project import (
    project_edges,
    roundtrip_check,
    transcript_vertices,
)
from minigraph_spark.plans.lpa import run_lpa
from minigraph_spark.plans.pagerank import run_pagerank
from minigraph_spark.plans.triangles import triangle_count
from minigraph_spark.plans.wcc import run_wcc, run_wcc_incremental
from minigraph_spark.schemas import TRANSCRIPT_SCHEMA
from minigraph_spark.sources.edgelist import read_edges_parquet
from minigraph_spark.sources.transcripts import load_transcripts

# tool-edge fan-out of operators.project.tool_edges (its default)
TOOL_FANOUT = 16


def _write_edges(path: str, src, dst) -> None:
    pq.write_table(
        pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())}),
        path,
    )


def _read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    return t["src"].to_numpy(), t["dst"].to_numpy()


def _capped(cap, key: str = "max_iter") -> dict:
    """Keyword arguments capping a plan's iterations at ``cap``, if set."""
    return {key: cap} if cap else {}


def _labels_frame(result) -> pd.DataFrame:
    return result.state.select("vid", "value").toPandas()


class Workload:
    """Base: input cache handling. Subclasses set ``name``, ``SIZES`` and
    implement generate / load / run_rep / collect / expected / check.

    ``run_rep(op, cap)`` issues the operation sequence through ``op``;
    ``cap``, when set, caps every plan's iterations (the warm-up runs each
    plan once with cap 1, so its outputs are not checked)."""

    name = ""
    SIZES: dict[str, dict] = {}
    # op -> (layer the op calls into)
    LAYERS: dict[str, str] = {}

    def __init__(self, seed: int, size: str, work_dir: str):
        self.seed = seed
        self.p = self.SIZES[size]
        self.work_dir = work_dir
        params = "-".join(f"{k}{v}" for k, v in self.p.items())
        self.dir = os.path.join(work_dir, "inputs", f"{self.name}-{params}-s{seed}")
        # per-layer counts the trace reads (rows scanned, edges projected, ...)
        self.counts: dict[str, float] = {}

    def ensure_inputs(self, spark) -> None:
        """Generate the seeded inputs unless a sealed copy is already cached."""
        if fixtures.valid_fixture_dir(self.dir):
            return
        shutil.rmtree(self.dir, ignore_errors=True)
        tmp = f"{self.dir}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        self.generate(spark, tmp)
        fixtures.seal_dir(tmp)
        fixtures.publish_dir(tmp, self.dir)

    def validate(self) -> None:
        if not fixtures.valid_fixture_dir(self.dir):
            raise RuntimeError(f"input cache {self.dir} failed its content-hash check")

    def input_path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def release(self, outputs: dict) -> None:
        """Unpersist the DataFrames a repetition cached itself."""

    def once_checks(self, spark) -> dict[str, bool]:
        """Checks run once per process rather than per repetition."""
        return {}


class RmatSweep(Workload):
    """Seeded R-MAT power-law digraph: PageRank for a fixed number of
    sweeps, WCC to fixpoint on both code paths (the DataFrame superstep
    loop and the Arrow-UDF CSR fragments), and the triangle count."""

    name = "rmat-sweep"
    SIZES = {"full": {"power": 13, "edges": 50_000}, "tiny": {"power": 9, "edges": 2_000}}
    LAYERS = {
        "pagerank": "plans.pagerank", "wcc": "plans.wcc", "wcc_csr": "operators.csr",
        "triangles": "plans.triangles",
    }
    PR_SWEEPS = 10
    HEADLINE = "pagerank"

    def generate(self, spark, d: str) -> None:
        # the generator behind fixtures.ensure_rmat_parquet, written as one
        # file so the directory content hash covers it
        e = fixtures.make_rmat_edges_np(self.p["power"], self.p["edges"], seed=self.seed)
        _write_edges(os.path.join(d, "edges.parquet"), e[:, 0], e[:, 1])

    def load(self, spark) -> None:
        self.validate()
        self.edges = read_edges_parquet(spark, self.input_path("edges.parquet"))
        self.num_edges = self.edges.count()

    def run_rep(self, op, cap=None) -> dict:
        return {
            "pagerank": op("pagerank", lambda: run_pagerank(
                self.edges, tol=0.0, max_iter=cap or self.PR_SWEEPS)),
            "wcc": op("wcc", lambda: run_wcc(self.edges, **_capped(cap))),
            "wcc_csr": op("wcc_csr", lambda: run_wcc_csr(self.edges, **_capped(cap, "max_rounds"))),
            "triangles": op("triangles", lambda: int(
                triangle_count(self.edges).collect()[0]["num_triangles"])),
        }

    def headline_edges(self) -> int:
        return self.num_edges

    def collect(self, out: dict) -> dict:
        return {
            "pagerank": _labels_frame(out["pagerank"]),
            "wcc": _labels_frame(out["wcc"]),
            "wcc_csr": _labels_frame(out["wcc_csr"]),
            "triangles": out["triangles"],
        }

    def expected(self, first: dict) -> dict:
        src, dst = _read_edges(self.input_path("edges.parquet"))
        return {
            "pagerank": checks.pagerank(src, dst, tol=0.0, max_iter=self.PR_SWEEPS),
            "wcc": checks.wcc_labels(src, dst),
            "wcc_csr": checks.wcc_labels(src, dst),
            "triangles": checks.triangle_count(src, dst),
        }

    def check(self, op: str, got, want) -> bool:
        if op == "pagerank":
            return checks.close_ranks(got, want)
        if op == "triangles":
            return got == want
        return checks.same_labels(got, want)


def _transcripts_pdf(p: dict, seed: int) -> pd.DataFrame:
    """The seeded transcript table, cut to whole conversations holding at
    most p["turns"] turns: conversation lengths are Zipf-distributed, so a
    fixed conversation count would let the graph size swing with the seed."""
    pdf = fixtures.make_transcripts_pdf(p["turns"] // 3, seed=seed)
    ends = pdf.groupby("conv_id", sort=True).size().cumsum()
    keep = ends.index[ends.to_numpy() <= p["turns"]]
    return pdf.loc[pdf["conv_id"].isin(keep)].reset_index(drop=True)


def expected_projection_counts(pdf: pd.DataFrame) -> dict[str, int]:
    """Edge counts per kind and distinct endpoints that project_edges must
    produce, derived from the transcript table alone: one seq edge per
    consecutive turn pair, and each tool turn linking to at most TOOL_FANOUT
    later turns of its conversation that use the same tool."""
    lengths = pdf.groupby("conv_id").size()
    tools = pdf.loc[pdf["tool"].notna()].groupby(["conv_id", "tool"]).size().to_numpy()
    m = np.minimum(tools, TOOL_FANOUT + 1)
    tool_edges = int((m * (m - 1) // 2 + TOOL_FANOUT * (tools - m)).sum())
    return {
        "seq": int((lengths - 1).sum()),
        "tool": tool_edges,
        "endpoints": int(lengths[lengths > 1].sum()),
    }


class TranscriptPipeline(Workload):
    """The production shape: a batch pass over the transcript table (source
    scan, projection, WCC, LPA for fixed sweeps, PageRank to a tolerance),
    then the IncEval pass. The table holds the first ~90% of every
    conversation; the edges the appended tails add are absorbed into the
    batch WCC labels with run_wcc_incremental under a checkpoint directory,
    and the same call is re-issued, which resumes from the newest snapshot."""

    name = "transcript-pipeline"
    SIZES = {"full": {"turns": 9_000}, "tiny": {"turns": 600}}
    LAYERS = {
        "sources": "sources", "project": "operators.project", "wcc": "plans.wcc",
        "lpa": "plans.lpa", "pagerank": "plans.pagerank",
        "delta_wcc": "plans.wcc", "resume": "plans.wcc",
    }
    LPA_SWEEPS = 3
    PR_TOL = 1e-4
    PR_MAX_ITER = 200
    BASE_SHARE = 0.9
    HEADLINE = "pagerank"

    def generate(self, spark, d: str) -> None:
        pdf = _transcripts_pdf(self.p, self.seed)
        length = pdf.groupby("conv_id")["turn_idx"].transform("size").to_numpy()
        in_base = pdf["turn_idx"].to_numpy() < np.ceil(self.BASE_SHARE * length)
        df = spark.createDataFrame(
            pdf.assign(base=in_base),
            schema=T.StructType(TRANSCRIPT_SCHEMA.fields + [T.StructField("base", T.BooleanType())]),
        )
        full = project_edges(df).select("src", "dst").toPandas()
        base_vids = transcript_vertices(df).filter("base").select("vid").toPandas()["vid"]
        # base turns are a prefix of every conversation, so the edges the
        # base table projects to are exactly the full projection's edges
        # among base turns; every other edge arrives with the tail
        delta = full.loc[~(full["src"].isin(base_vids) & full["dst"].isin(base_vids))]
        pdf.loc[in_base].to_parquet(os.path.join(d, "transcripts.parquet"), index=False)
        _write_edges(os.path.join(d, "delta_edges.parquet"), delta["src"], delta["dst"])

    def load(self, spark) -> None:
        self.validate()
        self.spark = spark
        self.path = self.input_path("transcripts.parquet")
        self.turns = spark.read.parquet(self.path).count()
        self.delta = spark.read.parquet(self.input_path("delta_edges.parquet")).persist()
        self.delta.count()
        self.rep = 0

    def run_rep(self, op, cap=None) -> dict:
        def scan():
            t = load_transcripts(self.spark, self.path).persist()
            self.counts["sources.rows"] = t.count()
            return t

        def project():
            e = project_edges(transcripts).persist()
            self.counts["project.edges_out"] = e.count()
            return e

        self.rep += 1
        self.ck = os.path.join(self.work_dir, "checkpoints", f"{self.name}-{os.getpid()}-{self.rep}")
        shutil.rmtree(self.ck, ignore_errors=True)
        transcripts = op("sources", scan)
        edges = op("project", project)
        g = edges.select("src", "dst")
        self._cached = [transcripts, edges]
        out = {
            "project": edges,
            "wcc": op("wcc", lambda: run_wcc(g, **_capped(cap))),
            "lpa": op("lpa", lambda: run_lpa(g, max_iter=cap or self.LPA_SWEEPS)),
            "pagerank": op("pagerank", lambda: run_pagerank(
                g, tol=self.PR_TOL, max_iter=cap or self.PR_MAX_ITER)),
        }

        def absorb():
            return run_wcc_incremental(
                g, self.delta, out["wcc"].state, checkpoint_dir=self.ck, **_capped(cap))

        out["delta_wcc"] = op("delta_wcc", absorb)
        out["resume"] = op("resume", absorb)
        return out

    def headline_edges(self) -> int:
        return int(self.counts["project.edges_out"])

    def release(self, outputs: dict) -> None:
        for df in self._cached:
            df.unpersist()
        shutil.rmtree(self.ck, ignore_errors=True)

    def collect(self, out: dict) -> dict:
        e = out["project"].select("src", "dst", "kind").toPandas()
        e = e.sort_values(["src", "dst", "kind"], ignore_index=True)
        self.counts["project.tool_edge_share"] = float((e["kind"] == "tool").mean())
        size = 0
        for dirpath, _, files in os.walk(self.ck):
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        self.counts["checkpoint.bytes_mb"] = size / 2**20
        return {"project": e, **{
            name: _labels_frame(out[name])
            for name in ("wcc", "lpa", "pagerank", "delta_wcc", "resume")
        }}

    def expected(self, first: dict) -> dict:
        """Plan references are computed on the first repetition's projected
        edges; the projection itself is checked against counts derived from
        the transcript table and must repeat exactly in every repetition."""
        pdf = pd.read_parquet(self.path)
        e = first["project"]
        src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
        ds, dd = _read_edges(self.input_path("delta_edges.parquet"))
        union = checks.wcc_labels(np.r_[src, ds], np.r_[dst, dd])
        return {
            "project": (expected_projection_counts(pdf), e),
            "wcc": checks.wcc_labels(src, dst),
            "lpa": checks.lpa_labels(src, dst, self.LPA_SWEEPS),
            "pagerank": checks.pagerank(src, dst, tol=self.PR_TOL, max_iter=self.PR_MAX_ITER),
            "delta_wcc": union,
            "resume": union,
        }

    def check(self, op: str, got, want) -> bool:
        if op == "project":
            counts, first = want
            kinds = got["kind"].value_counts()
            endpoints = np.unique(np.r_[got["src"].to_numpy(), got["dst"].to_numpy()]).size
            return (
                int(kinds.get("seq", 0)) == counts["seq"]
                and int(kinds.get("tool", 0)) == counts["tool"]
                and endpoints == counts["endpoints"]
                and got.equals(first)
            )
        if op == "pagerank":
            return checks.close_ranks(got, want)
        return checks.same_labels(got, want)

    def once_checks(self, spark) -> dict[str, bool]:
        # per-turn text survives transcripts -> graph -> transcripts
        return {"roundtrip": roundtrip_check(load_transcripts(spark, self.path))}


WORKLOADS = {w.name: w for w in (RmatSweep, TranscriptPipeline)}

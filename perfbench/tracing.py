"""Traced-run instrumentation, built only from the benchmark's own files.

Spans: the harness opens one span per operation it issues, and while a
traced repetition runs, the public functions at each module boundary the
plans call through are wrapped (and restored afterwards):

    operators.superstep.SuperstepEngine.run     -> "superstep"
    operators.partition.prepartition_edges      -> "partition"  (as bound
                                                   in operators.superstep)
    plans.triangles.oriented_edges              -> "triangles.orient"
    checkpoint.write_snapshot / load_snapshot   -> "checkpoint.write" / ".load"

Spark work: after each traced repetition the jobs it submitted, and their
stages, are read from Spark's status store over py4j
(``sc._jsc.sc().statusStore()``) and attributed to the innermost span whose
interval holds the job's submission time. Nothing is read from Spark while
a span is open, so tracing adds little besides one vertex count per loop.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

import numpy as np

from minigraph_spark import checkpoint
from minigraph_spark.operators import superstep
from minigraph_spark.plans import triangles

MB = 2**20
# Spark reports job times in whole milliseconds
_EPS = 0.002


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = cores
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.rep = -1
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self._seen_job = -1
        self._gc_ms = self._driver_summary().totalGCTime()

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        s = {
            "id": len(self.spans), "name": name, "layer": layer or name, "rep": self.rep,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def _wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name, layer) as s:
                out = orig(*args, **kwargs)
            if after is not None:
                after(s, args, kwargs, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self, rep: int) -> None:
        self.rep = rep

        def after_loop(s, args, kwargs, res):
            s["steps"] = [[m.elapsed_sec, m.num_active] for m in res.metrics]
            s["vertices"] = res.state.count()

        def after_partition(s, args, kwargs, out):
            s["num_partitions"] = args[1] if len(args) > 1 else kwargs["num_partitions"]
            obs = kwargs.get("count_obs")
            if kwargs.get("dedup") and obs is not None:
                s["kept"] = int(obs.get["n"])

        self._wrap(superstep.SuperstepEngine, "run", "superstep",
                   "operators.superstep", after_loop)
        self._wrap(superstep, "prepartition_edges", "partition",
                   "operators.partition", after_partition)
        self._wrap(triangles, "oriented_edges", "triangles.orient", "plans.triangles")
        self._wrap(checkpoint, "write_snapshot", "checkpoint.write", "checkpoint")
        self._wrap(checkpoint, "load_snapshot", "checkpoint.load", "checkpoint")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark status store ----------------------------------------------

    def _driver_summary(self):
        execs = self.store.executorList(True)
        for i in range(execs.length()):
            e = execs.apply(i)
            if e.id() == "driver":
                return e
        return execs.apply(0)

    def storage_mb(self) -> float:
        return self._driver_summary().memoryUsed() / MB

    def gc_s(self) -> float:
        """Driver-JVM GC seconds since the previous call."""
        ms = self._driver_summary().totalGCTime()
        out, self._gc_ms = (ms - self._gc_ms) / 1000.0, ms
        return out

    def _new_job_ids(self) -> list[int]:
        ids = sorted(int(i) for i in self.sc.statusTracker().getJobIdsForGroup(None))
        new = [i for i in ids if i > self._seen_job]
        if ids:
            self._seen_job = max(self._seen_job, ids[-1])
        return new

    def skip_jobs(self) -> None:
        """Mark every job so far as seen (an untraced repetition)."""
        self._new_job_ids()

    def read_jobs(self) -> None:
        """Read the jobs submitted since the last read, with their stage
        totals, and attribute each to the innermost span of this rep."""
        spans = [s for s in self.spans if s["rep"] == self.rep]
        for jid in self._new_job_ids():
            j = self.store.job(jid)
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            job = {
                "id": jid, "start": sub.get().getTime() / 1000.0,
                "end": done.get().getTime() / 1000.0, "busy_s": 0.0,
                "shuffle_write_mb": 0.0, "shuffle_write_rows": 0,
                "shuffle_read_mb": 0.0, "spill_mb": 0.0, "span": None,
            }
            ids = j.stageIds()
            for k in range(ids.length()):
                st = self.store.lastStageAttempt(ids.apply(k))
                job["busy_s"] += st.executorRunTime() / 1000.0
                job["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                job["shuffle_write_rows"] += st.shuffleWriteRecords()
                job["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                job["spill_mb"] += st.diskBytesSpilled() / MB
            inner = [s for s in spans
                     if s["start"] - _EPS <= job["start"] <= s["end"] + _EPS]
            if inner:
                job["span"] = max(inner, key=lambda s: s["start"])["id"]
            self.jobs.append(job)

    # -- reductions --------------------------------------------------------

    def _descendants(self, span: dict) -> set[int]:
        out = {span["id"]}
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def _jobs_in(self, span: dict) -> list[dict]:
        ids = self._descendants(span)
        return [j for j in self.jobs if j["span"] in ids]

    @staticmethod
    def _covered(intervals, lo: float, hi: float) -> float:
        """Length of the union of intervals, clipped to [lo, hi]."""
        total, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    total += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            total += cur_hi - cur_lo
        return total

    def self_time(self, span: dict) -> float:
        children = [(s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]]
        return (span["end"] - span["start"]) - self._covered(children, span["start"], span["end"])

    def rep_metrics(self, rep: int, ops: dict, iterations: dict, op_steps: dict) -> dict[str, float]:
        """Per-layer metrics of one traced repetition. ``ops`` maps op name
        to the layer it calls into; ``iterations`` and ``op_steps`` map op name
        to the returned iteration count and per-iteration seconds."""
        spans = [s for s in self.spans if s["rep"] == rep]

        def named(name):
            return [s for s in spans if s["name"] == name]

        def dur(ss):
            return sum(s["end"] - s["start"] for s in ss)

        def jobs_of(ss):
            return [j for s in ss for j in self._jobs_in(s)]

        m: dict[str, float] = {}
        m["sources.scan_s"] = dur(named("sources"))
        m["project.s"] = dur(named("project"))

        parts = named("partition")
        pjobs = jobs_of(parts)
        m["partition.s"] = dur(parts)
        m["partition.num_partitions"] = max((s["num_partitions"] for s in parts), default=0)
        kept = sum(s.get("kept", 0) for s in parts)
        raw = sum(j["shuffle_write_rows"] for s in parts if "kept" in s for j in self._jobs_in(s))
        m["partition.dedup_ratio"] = kept / raw if raw else 0.0
        m["partition.shuffle_write_mb"] = sum(j["shuffle_write_mb"] for j in pjobs)

        loops = named("superstep")
        ljobs = jobs_of(loops)
        steps = [st for s in loops for st in s["steps"]]
        times = np.array([t for t, _ in steps]) if steps else np.zeros(1)
        wall = dur(loops)
        busy = sum(j["busy_s"] for j in ljobs)
        active = sum(a for _, a in steps if a >= 0)
        swept = sum(s["vertices"] * len(s["steps"]) for s in loops)
        m["superstep.count"] = len(steps)
        m["superstep.first_s"] = float(np.mean([s["steps"][0][0] for s in loops if s["steps"]])) \
            if steps else 0.0
        m["superstep.p50_s"] = float(np.percentile(times, 50))
        m["superstep.p90_s"] = float(np.percentile(times, 90))
        m["superstep.driver_s"] = sum(
            (s["end"] - s["start"])
            - self._covered([(j["start"], j["end"]) for j in self._jobs_in(s)], s["start"], s["end"])
            for s in loops
        )
        m["superstep.task_busy_s"] = busy
        m["superstep.core_util"] = busy / (wall * self.cores) if wall else 0.0
        m["superstep.shuffle_write_mb"] = sum(j["shuffle_write_mb"] for j in ljobs)
        m["superstep.shuffle_read_mb"] = sum(j["shuffle_read_mb"] for j in ljobs)
        m["superstep.spill_mb"] = sum(j["spill_mb"] for j in ljobs)
        m["superstep.jobs"] = len(ljobs)
        m["superstep.active_sum"] = active
        m["superstep.frontier_ratio"] = active / swept if swept else 0.0

        for plan in ("pagerank", "wcc", "lpa"):
            m[f"{plan}.iterations"] = sum(
                it for op, it in iterations.items() if ops.get(op) == f"plans.{plan}"
            )
        op_spans = {op: [s for s in spans if s["name"] == op] for op in ops}
        m["pagerank.init_s"] = sum(
            self.self_time(s) for op, ss in op_spans.items()
            if ops[op] == "plans.pagerank" for s in ss
        )
        tri = op_spans.get("triangles", [])
        m["triangles.orient_s"] = dur(named("triangles.orient"))
        m["triangles.intersect_s"] = sum(self.self_time(s) for s in tri)
        m["triangles.spill_mb"] = sum(j["spill_mb"] for j in jobs_of(tri))

        csr = [op for op in ops if ops[op] == "operators.csr"]
        cjobs = jobs_of([s for op in csr for s in op_spans[op]])
        rounds = [t for op in csr for t in op_steps.get(op, [])]
        m["csr.rounds"] = len(rounds)
        m["csr.round_p50_s"] = float(np.percentile(rounds, 50)) if rounds else 0.0
        m["csr.task_busy_s"] = sum(j["busy_s"] for j in cjobs)
        m["csr.shuffle_write_mb"] = sum(j["shuffle_write_mb"] for j in cjobs)

        m["checkpoint.snapshots"] = len(named("checkpoint.write"))
        m["checkpoint.write_s"] = dur(named("checkpoint.write"))
        m["checkpoint.load_s"] = dur(named("checkpoint.load"))
        return m

    def dump(self, path: str, extra: dict) -> None:
        layers: dict[str, float] = {}
        for s in self.spans:
            layers[s["layer"]] = layers.get(s["layer"], 0.0) + self.self_time(s)
        with open(path, "w") as fh:
            json.dump(
                {**extra, "self_time_s": layers, "spans": self.spans, "jobs": self.jobs},
                fh, indent=1,
            )

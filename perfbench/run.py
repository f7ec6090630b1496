"""Link-graph benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload rmat-sweep --seed 1 --seconds 10 --trace 0

Run from the repository root. Each invocation starts its own Spark driver
at local[<cores>] (cores = the CPUs this process may run on), generates or
reuses the seeded inputs, and then:

1. set-up, five rounds: (re)start the Spark session, validate and load the
   inputs; ``setup_s`` is the median round (the first also launches the JVM);
2. a warm-up pass: every operation once, each plan capped at one iteration;
3. repetitions back to back until ``--seconds`` have passed, at least one;
   ``job_s`` is their median;
4. every output of every timed repetition is checked against a reference
   computed outside Spark; mismatches and exceptions count as failed
   operations.

Human-readable lines (every metric with its unit, including per-operation
times) precede the last line, a JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A traced run alternates untraced and
traced repetitions, so it also reports the tracing overhead, and writes its
spans and Spark counters to ``.perfbench_work/trace-<workload>-s<seed>.json``.

``--size tiny`` and ``--inject-wrong`` exist for the smoke test: a small
input, and a deliberately wrong expected output that must raise ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
# driver heap for a 16 GB machine shared with other jobs; inputs are a few MB
HEAP = "3g"
SETUP_ROUNDS = 5

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "fixtures.gen_s": "s",
    "sources.scan_s": "s", "sources.rows": "count",
    "project.s": "s", "project.edges_out": "count", "project.tool_edge_share": "ratio",
    "partition.s": "s", "partition.num_partitions": "count",
    "partition.dedup_ratio": "ratio", "partition.shuffle_write_mb": "MB",
    "superstep.count": "count", "superstep.first_s": "s", "superstep.p50_s": "s",
    "superstep.p90_s": "s", "superstep.driver_s": "s", "superstep.task_busy_s": "s",
    "superstep.core_util": "ratio", "superstep.shuffle_write_mb": "MB",
    "superstep.shuffle_read_mb": "MB", "superstep.spill_mb": "MB", "superstep.jobs": "count",
    "superstep.active_sum": "count", "superstep.frontier_ratio": "ratio",
    "pagerank.iterations": "count", "wcc.iterations": "count", "lpa.iterations": "count",
    "pagerank.init_s": "s", "pagerank.edges_per_s": "edges/s",
    "triangles.orient_s": "s", "triangles.intersect_s": "s",
    "triangles.spill_mb": "MB",
    "csr.rounds": "count", "csr.round_p50_s": "s", "csr.task_busy_s": "s",
    "csr.shuffle_write_mb": "MB",
    "checkpoint.snapshots": "count", "checkpoint.write_s": "s",
    "checkpoint.bytes_mb": "MB", "checkpoint.load_s": "s",
    "jvm.gc_s": "s", "jvm.storage_mb": "MB", "jvm.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(cores: int) -> None:
    """Everything the Spark driver and its Python workers inherit; must be
    set before the JVM launches."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # temporary files of Python, py4j and every JVM (the spark-submit
    # launcher and the driver) stay in the work directory
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def _start_session(cores: int):
    from minigraph_spark.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job of a repetition back
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )


def _stop_jvm(spark) -> None:
    """Stop Spark and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _corrupt(want):
    """A deliberately wrong copy of an expected output."""
    if isinstance(want, tuple):
        counts, first = want
        return {**counts, "seq": counts["seq"] + 1}, first
    if isinstance(want, int):
        return want + 1
    bad = want.copy()
    bad.iloc[0] += 1
    return bad


class Rep:
    def __init__(self, traced: bool):
        self.traced = traced
        self.times: dict[str, float] = {}
        self.iterations: dict[str, int] = {}
        self.steps: dict[str, list[float]] = {}
        self.wall = 0.0
        self.outputs: dict = {}
        self.error: str | None = None


def run(args) -> dict:
    import workloads
    from minigraph_spark.operators.superstep import SuperstepResult, free_rdd_ids, persistent_rdd_ids

    cores = _cores()
    wl = workloads.WORKLOADS[args.workload](args.seed, args.size, WORK)

    spark = None
    rounds = []
    start_s = gen_s = 0.0
    for k in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _start_session(cores)
        session_s = time.perf_counter() - t0
        if k == 0:
            start_s = session_s
            t0 = time.perf_counter()
            wl.ensure_inputs(spark)
            gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.load(spark)
        rounds.append(session_s + time.perf_counter() - t0)

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(spark, cores)
    keep = persistent_rdd_ids(spark)

    def one_rep(traced: bool, index: int, cap: int | None = None) -> Rep:
        rep = Rep(traced)

        def op(name, fn):
            t0 = time.perf_counter()
            if traced:
                with tracer.span(name, wl.LAYERS[name]):
                    out = fn()
            else:
                out = fn()
            rep.times[name] = time.perf_counter() - t0
            if isinstance(out, SuperstepResult):
                rep.iterations[name] = out.iterations
                rep.steps[name] = [m.elapsed_sec for m in out.metrics]
            return out

        if traced:
            tracer.install(index)
        t0 = time.perf_counter()
        try:
            outputs = wl.run_rep(op, cap)
            rep.wall = time.perf_counter() - t0
        except Exception:
            rep.error = traceback.format_exc()
            print(rep.error, file=sys.stderr)
            return rep
        finally:
            if traced:
                tracer.uninstall()
        # outside the timed region: bring outputs to the driver, then free
        # everything the repetition cached
        if cap is None:
            rep.outputs = wl.collect(outputs)
        if tracer is not None:
            if traced:
                tracer.read_jobs()
                rep.layer = tracer.rep_metrics(index, wl.LAYERS, rep.iterations, rep.steps)
                rep.layer.update({k: v for k, v in wl.counts.items()})
                rep.layer["jvm.storage_mb"] = tracer.storage_mb()
                rep.layer["jvm.gc_s"] = tracer.gc_s()
            else:
                tracer.skip_jobs()
                tracer.gc_s()
        wl.release(outputs)
        free_rdd_ids(spark, persistent_rdd_ids(spark) - keep)
        return rep

    # warm-up: every operation once with its plan capped at one iteration,
    # so code generation, the JIT and the Python workers are warm for the
    # timed repetitions at a fraction of a full repetition's cost
    warm = one_rep(False, 0, cap=1)
    # a new repetition while the window has time left. A traced run
    # alternates untraced and traced repetitions, at least untraced, traced,
    # untraced, so the traced one is bracketed by untraced ones as the JIT
    # keeps warming
    reps: list[Rep] = []
    min_reps = 3 if args.trace else 1
    t_window = time.perf_counter()
    while warm.error is None:
        rep = one_rep(bool(args.trace) and len(reps) % 2 == 1, len(reps) + 1)
        reps.append(rep)
        if rep.error is not None:
            break
        if len(reps) >= min_reps and time.perf_counter() - t_window >= args.seconds:
            break

    # checks, outside every timed region
    t_checks = time.perf_counter()
    attempted = failed = 0
    done = [r for r in reps if r.error is None]
    for r in [warm] + reps:
        if r.error is not None:
            attempted += 1
            failed += 1
    expected = wl.expected(done[0].outputs) if done else {}
    if args.inject_wrong and expected:
        first = next(iter(expected))
        expected[first] = _corrupt(expected[first])
    mismatches: dict[str, int] = {}
    for r in done:
        for name, got in r.outputs.items():
            attempted += 1
            if not wl.check(name, got, expected[name]):
                failed += 1
                mismatches[name] = mismatches.get(name, 0) + 1
    for name, ok in wl.once_checks(spark).items():
        attempted += 1
        if not ok:
            failed += 1
            mismatches[name] = mismatches.get(name, 0) + 1

    plain = [r for r in done if not r.traced]
    traced = [r for r in done if r.traced]
    if not plain:
        _stop_jvm(spark)
        raise RuntimeError("no repetition completed")

    def med(values):
        return float(statistics.median(values))

    head = wl.HEADLINE
    e2e = {"setup_s": med(rounds), "job_s": med(r.wall for r in plain)}
    # BASELINE's edges/sec per PageRank iteration: edges over the median
    # sweep of every untraced PageRank call. The median sweep does not depend
    # on how many sweeps a tolerance needs, nor on the one-time engine build
    # and the slower first sweep
    edges_per_s = wl.headline_edges() / med(step for r in plain for step in r.steps[head])
    ops = {name: med(r.times[name] for r in plain) for name in plain[0].times}
    peak_rss_mb = _peak_rss_mb(spark)
    info = {
        "workload": args.workload, "seed": args.seed, "cores": cores, "heap": HEAP,
        "repetitions": len(plain), "warmup_s": warm.wall, "session_start_s": start_s,
        "inputs_s": gen_s, "headline_edges": wl.headline_edges(), "peak_rss_mb": peak_rss_mb,
        "checks_s": time.perf_counter() - t_checks,
        "iterations": plain[0].iterations, "job_s_each": [round(r.wall, 3) for r in plain],
    }
    layer = {}
    if traced:
        layer = {name: med(r.layer.get(name, 0.0) for r in traced) for name in PER_LAYER}
        layer["session.start_s"] = start_s
        layer["fixtures.gen_s"] = gen_s
        layer["jvm.peak_rss_mb"] = peak_rss_mb
        layer["pagerank.edges_per_s"] = edges_per_s
        layer["trace.overhead_s"] = med(r.wall for r in traced) - e2e["job_s"]
        trace_path = os.path.join(WORK, f"trace-{args.workload}-s{args.seed}.json")
        tracer.dump(trace_path, {"info": info, "per_layer": layer})
        info["trace_file"] = trace_path
    _stop_jvm(spark)
    return {
        "attempted": attempted, "failed": failed, "mismatches": mismatches,
        "e2e": e2e, "ops": ops, "edges_per_s": edges_per_s, "layer": layer, "info": info,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--inject-wrong", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "minigraph_spark", "__init__.py")):
        print(f"perfbench: no minigraph_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    _configure_env(_cores())
    res = run(args)

    for key, value in res["info"].items():
        print(f"# {key}: {value}")
    for name, secs in res["ops"].items():
        print(f"{name}_s {secs:.4f} s")
    print(f"edges_per_s {res['edges_per_s']:.6g} edges/s")
    print(f"failed_ops {res['failed']} count (of {res['attempted']} attempted) "
          f"{res['mismatches'] or ''}")
    if args.trace:
        metrics = {k: {"value": res["layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": res["failed"] == 0, "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

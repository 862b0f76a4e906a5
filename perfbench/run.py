"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 5 --trace 0

Runs one workload (perfbench/workloads.py) against the program in this
checkout from a single Python process on ``local[<nproc>]``, with one
closed-loop client. Prints a human-readable report and a ``REPORT`` JSON
line (seed, input sizes, machine state, every named figure), then, as the
last line of standard output, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run traces set-up and the measured loop (spans at every layer
boundary, written to ``perfbench/out/`` at exit), then repeats the loop's
operations untraced; ``trace_overhead`` is the traced loop's wall time over
the untraced repeat's.

Everything the run writes stays under ``perfbench/.work`` (Spark local and
temporary directories included, removed at exit) and ``perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

GEN_REPEATS = 3
LAYERS = (
    "session", "sources", "operators.shard", "index.builder",
    "index.persistence", "index.searcher", "index.serving",
    "operators.dedup", "operators.components",
)
LAYER_STATS = (
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
    ("failed_tasks", "count"), ("cpu_driver_s", "s"), ("cpu_jvm_s", "s"),
    ("cpu_pyworker_s", "s"),
)
# metric -> (span name, figure, unit); a figure is "wall", "jobs", "tasks"
# or an attribute the workload put on the span (see per_layer_metrics)
NAMED = {
    "session.start_s": ("session.start", "wall", "s"),
    "sources.ingest_s": ("sources.ingest", "wall", "s"),
    "operators.shard.assign_s": ("operators.shard.assign", "wall", "s"),
    "index.builder.build_s": ("index.builder.build", "wall", "s"),
    "index.builder.shards": ("index.builder.build", "shards", "count"),
    "index.builder.append_s": ("index.builder.append", "wall", "s"),
    "index.builder.affected_shards": ("index.builder.append", "affected_shards", "count"),
    "index.persistence.save_s": ("index.persistence.save", "wall", "s"),
    "index.persistence.load_s": ("index.persistence.load", "wall", "s"),
    "index.persistence.bytes_written": ("index.persistence.save", "bytes", "bytes"),
    "index.persistence.files_written": ("index.persistence.save", "files", "count"),
    "index.searcher.query_s": ("index.searcher.query", "wall", "s"),
    "index.serving.warm_s": ("index.serving.warm", "wall", "s"),
    "index.serving.batch_s": ("index.serving.batch", "wall", "s"),
    "index.serving.jobs_per_batch": ("index.serving.batch", "jobs", "count"),
    "index.serving.tasks_per_batch": ("index.serving.batch", "tasks", "count"),
    "index.serving.refresh_s": ("index.serving.refresh", "wall", "s"),
    "index.serving.refresh_shards": ("index.serving.refresh", "refresh_shards", "count"),
    "index.serving.bytes_resident": ("index.serving.bytes_resident", "bytes", "bytes"),
    "operators.dedup.minhash_s": ("operators.dedup.minhash", "wall", "s"),
    "operators.dedup.minhash_pairs": ("operators.dedup.minhash", "pairs", "count"),
    "operators.dedup.embedding_s": ("operators.dedup.embedding", "wall", "s"),
    "operators.dedup.embedding_pairs": ("operators.dedup.embedding", "pairs", "count"),
    "operators.components.clusters_s": ("operators.components.clusters", "wall", "s"),
    "operators.components.kept_docs": ("operators.components.clusters", "kept_docs", "count"),
}
# rates derived from a named span: metric -> (span, attribute, unit, scale)
RATES = {
    "sources.mb_per_s": ("sources.ingest", "bytes", "MB/s", 1e-6),
    "index.builder.vectors_per_s": ("index.builder.build", "vectors", "1/s", 1.0),
    "index.searcher.queries_per_s": ("index.searcher.query", "queries", "1/s", 1.0),
}
TRACE_FIGURES = (
    ("trace_overhead", "ratio"), ("trace.traced_s", "s"),
    ("trace.untraced_s", "s"), ("trace.probe_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, with its unit."""
    out = [(m, spec[2]) for m, spec in NAMED.items()]
    out += [(m, spec[2]) for m, spec in RATES.items()]
    out += [(f"{layer}.{stat}", unit) for layer in LAYERS for stat, unit in LAYER_STATS]
    out += list(TRACE_FIGURES)
    return out


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


class Context:
    """What a workload needs from the run: session, tracer, CPU probe."""

    def __init__(self, work: str, tracer):
        from perfbench.tracer import ProcCpu

        self.work = work
        self.tracer = tracer
        self.nproc = nproc()
        self.spark = None
        self.cpu = ProcCpu()


def start_session(ctx: "Context"):
    from vector_index_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{ctx.nproc}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(ctx.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            # a run is a one-minute JVM: C2's background compiles were ~40%
            # of the measured CPU and its largest run-to-run noise
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={ctx.work}/tmp -XX:TieredStopAtLevel=1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.parallelize([0], 1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def calibrate(spark) -> dict:
    """A fixed numpy GEMM and an empty Spark job, medians of three, timed
    before the workload so a slow or loaded machine is visible."""
    import numpy as np

    a = np.random.default_rng(0).normal(size=(512, 512))
    gemm, job = [], []
    for _ in range(3):
        t = time.perf_counter()
        a @ a
        gemm.append(time.perf_counter() - t)
        t = time.perf_counter()
        spark.sparkContext.parallelize([0], 1).count()
        job.append(time.perf_counter() - t)
    return {"gemm_512_ms": statistics.median(gemm) * 1e3,
            "empty_spark_job_ms": statistics.median(job) * 1e3}


@contextmanager
def layer_probes(tracer):
    """While tracing, wrap the shard-assignment and graph-build functions
    that ``VectorIndex.build`` and ``append_to_index`` call, so they show
    as child spans; each forces its output so the span holds its work."""
    import vector_index_spark.api as api
    import vector_index_spark.index.builder as builder
    import vector_index_spark.operators.shard as shard

    def wrap(fn, name, layer):
        def probe(*a, **kw):
            with tracer.span(name, layer):
                out = fn(*a, **kw)
                return out.localCheckpoint(eager=True) if tracer.enabled else out
        return probe

    saved = [(shard, "ivf_cell_shards"), (api, "build_graph_index"),
             (builder, "build_graph_index")]
    originals = [getattr(m, n) for m, n in saved]
    shard.ivf_cell_shards = wrap(originals[0], "operators.shard.assign",
                                 "operators.shard")
    graph = wrap(originals[1], "index.builder.graph", "index.builder")
    api.build_graph_index = builder.build_graph_index = graph
    try:
        yield
    finally:
        for (m, n), fn in zip(saved, originals):
            setattr(m, n, fn)


def per_layer_metrics(tracer, trace_figs: dict) -> dict:
    """Named figures: the mean over the spans of that name in the traced
    pass, or in set-up when the timed loop has none (session start, the
    serving warm-up, and the bulk build ``serve_mixed`` runs in set-up).
    Layer figures: totals over every traced span of the run."""
    from perfbench.tracer import layer_totals

    tracer.finish()
    timed = {tid for tid, t in tracer.traces.items() if t["kind"] != "setup"}

    def spans_named(name):
        sp = [s for s in tracer.spans if s.name == name]
        return [s for s in sp if s.trace_id in timed] or sp

    def figure(s, what):
        if what == "wall":
            return s.wall_s
        if what in ("jobs", "tasks"):
            return getattr(s, what)
        return s.attrs.get(what, 0)

    out = {}
    for metric, (name, what, unit) in NAMED.items():
        vals = [figure(s, what) for s in spans_named(name)]
        out[metric] = (sum(vals) / len(vals) if vals else 0.0, unit)
    for metric, (name, attr, unit, scale) in RATES.items():
        sp = spans_named(name)
        wall = sum(s.wall_s for s in sp)
        out[metric] = (sum(s.attrs.get(attr, 0) for s in sp) * scale / wall
                       if wall else 0.0, unit)
    totals = layer_totals(tracer.spans)
    for layer in LAYERS:
        t = totals.get(layer, {})
        for stat, unit in LAYER_STATS:
            out[f"{layer}.{stat}"] = (t.get(stat, 0.0), unit)
    out.update(trace_figs)
    return out


def emit_report(args, ctx, machine, wl, e2e, report, setup_parts):
    """The human-readable table and the ``REPORT`` JSON line."""
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs": wl.inputs(), "machine": machine,
        "setup": setup_parts,
        "samples": wl.samples,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "figures": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
    }
    print(f"== perfbench {args.workload} seed={args.seed} nproc={ctx.nproc} "
          f"trace={args.trace}")
    for k, (v, u) in {**e2e, **report}.items():
        print(f"  {k:32s} {v!s:>24} {u}" if not isinstance(v, float)
              else f"  {k:32s} {v:24.6f} {u}")
    print("REPORT " + json.dumps(info, default=str))


def measure(args, ctx, wl):
    """Session start, calibration, set-up and the timed (or traced)
    passes; returns what the report and the result line need."""
    import numpy
    import pyarrow
    import pyspark

    from perfbench.tracer import SparkJobs
    from perfbench.workloads import cpu_delta

    tracer, cpu = ctx.tracer, ctx.cpu
    c0, t0 = cpu.snapshot(), time.perf_counter()
    with tracer.trace("setup", kind="setup"), tracer.span("session.start", "session"):
        ctx.spark = start_session(ctx)
    session_s = time.perf_counter() - t0
    session_cpu = cpu_delta(c0, cpu.snapshot())
    if args.trace:
        tracer.jobs = SparkJobs(ctx.spark.sparkContext)
    machine = {
        "nproc": ctx.nproc, "python": platform.python_version(),
        "spark": pyspark.__version__, "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__, "platform": platform.platform(),
        **calibrate(ctx.spark),
    }
    gen_s, gen_cpu = [], []
    for _ in range(GEN_REPEATS):
        c, t = cpu.snapshot(), time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t)
        gen_cpu.append(cpu_delta(c, cpu.snapshot()))
    wl.expected()
    c, t = cpu.snapshot(), time.perf_counter()
    with tracer.trace("setup.program", kind="setup"):
        wl.setup()
    program_s = time.perf_counter() - t
    program_cpu = cpu_delta(c, cpu.snapshot())
    setup = {
        "setup_s": (session_s + statistics.median(gen_s) + program_s, "s"),
        # process-tree CPU over the same parts; time spent waiting for a
        # CPU counts in setup_s and not here
        "setup_cpu_s": (session_cpu + statistics.median(gen_cpu) + program_cpu, "s"),
    }

    trace_figs = {}
    if args.trace:
        # the traced pass is the measured loop of an untraced run; the
        # untraced reference pass then issues the same operations
        probe0 = tracer.overhead_s
        t = time.perf_counter()
        n_ops = wl.run(args.seconds)
        traced = time.perf_counter() - t
        wl.finish()
        tracer.enabled = False
        untraced = wl.replay(n_ops)
        trace_figs = {
            "trace_overhead": (traced / untraced, "ratio"),
            "trace.traced_s": (traced, "s"),
            "trace.untraced_s": (untraced, "s"),
            "trace.probe_s": (tracer.overhead_s - probe0, "s"),
        }
    else:
        wl.run(args.seconds)
        wl.finish()
    e2e, report = wl.metrics()
    e2e = {**setup, **e2e}
    report["failed_op_ratio"] = (
        wl.failed / wl.attempted if wl.attempted else 1.0, "ratio")
    setup_parts = {"session_s": session_s, "generate_s": gen_s,
                   "program_s": program_s, "session_cpu_s": session_cpu,
                   "generate_cpu_s": gen_cpu, "program_cpu_s": program_cpu}
    if args.trace:
        return machine, setup_parts, e2e, {**report, **trace_figs}, \
            per_layer_metrics(tracer, trace_figs)
    return machine, setup_parts, e2e, report, e2e


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import vector_index_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 3
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every temporary file of this process, the JVM and the Python
    # workers inside the checkout; workers import the program from ROOT
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # the benchmark pins its own session shape; ignore tuning variables
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
                "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)

    from perfbench.tracer import ProcCpu, Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(cpu=ProcCpu() if args.trace else None)
    tracer.enabled = bool(args.trace)
    ctx = Context(work, tracer)
    wl = WORKLOADS[args.workload](ctx, args.seed)
    try:
        with layer_probes(tracer) if args.trace else nullcontext():
            measured = measure(args, ctx, wl)
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
    machine, setup_parts, e2e, report, metrics = measured

    emit_report(args, ctx, machine, wl, e2e, report, setup_parts)
    if args.trace:
        tracer.dump(
            os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "machine": machine,
             "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
        )
    for p in wl.problems[:10]:
        print("PROBLEM " + p.replace("\n", " | "))
    result = {
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())

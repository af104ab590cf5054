"""Benchmark of the headlines engine: one workload, one process.

    python3 perfbench/run.py --workload headlines|curate --seed N \\
        --seconds S --trace 0|1 [--cores 4]

Run from the root of a checkout. The run builds its inputs from the seed
(not counted in any metric), starts one SparkSession on ``local[cores]``
and runs the workload as a closed loop with one client: operations run
back to back, one at a time.

- The cold pass, the first in the fresh session, collects every output
  and checks it. ``setup_s`` is the package import plus session start
  plus that cold pass: what a one-shot user pays on every run.
- One untimed warm-up pass follows: the JIT is still settling on the
  first warm pass, which reads 10-20% slower and far less steady.
- ``--trace 0`` then times ``round(S / nominal pass)`` warm passes (at
  least one) with tracing off; ``pass_s`` is their median wall.
- A host probe (``hostprobe.py``) runs before the inputs are built and
  again after the JVM has exited; ``setup_s`` and ``pass_s`` are
  reported at a reference host speed, raw wall times the reference
  probe wall over the median probe wall. The raw walls go into
  ``run.json``.
- ``--trace 1`` instead times one traced pass between two untraced ones
  and prints the per-layer metrics: spans around each call into the
  program, Spark jobs/stages/tasks per job group, CPU per process class
  from ``/proc``, and Python exec nodes in the executed plans.

Checkpoint blocks are freed between operations, outside every timed
region. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

import inputs
import procstat
import hostprobe
from spans import Tracer
from sparkstats import (SqlExecutions, free_blocks, group_counts,
                        job_group)
from workloads import CURATE_STAGES, WORKLOADS

PACKAGE = "mapreduce_stockheadlines_spark"


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    @contextlib.contextmanager
    def span(self, name, **attrs):
        yield None


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--cores", type=int, default=4,
                    help="N in local[N]; pinned in BENCHMARK.json")
    return ap.parse_args(argv)


def start_session(cores: int, work: str):
    from mapreduce_stockheadlines_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    """Runs passes and counts operations; checks run between passes."""

    def __init__(self, spark, wl, tracer) -> None:
        self.spark, self.wl, self.tracer = spark, wl, tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.pending: list[tuple[str, object]] = []

    def one_pass(self, collect=False, each_op=None) -> float:
        """Run every operation once; return the summed operation walls.
        ``each_op`` wraps each operation (the traced pass's job groups)."""
        wall = 0.0
        for op in self.wl.ops:
            self.wl.prepare(op)
            self.attempted += 1
            wrap = each_op(op) if each_op else contextlib.nullcontext()
            t = time.perf_counter()
            try:
                with wrap:
                    out = self.wl.run_op(self.spark, op, self.tracer, collect)
            except Exception as e:  # an operation that raises has failed
                self.failures.append(f"{op}: {type(e).__name__}: {e}")
                out = None
            wall += time.perf_counter() - t
            if out is not None:
                self.pending.append((op, out))
            free_blocks(self.spark)
        return wall

    def check_pending(self) -> None:
        for op, out in self.pending:
            self.failures += [f"{op}: {p}" for p in self.wl.check(op, out)]
        self.pending = []


def passes_for(seconds: float, nominal: float) -> int:
    return max(1, round(seconds / nominal))


def traced_metrics(spark, wl, runner, tracer, cores, data_dir, work):
    """Sources scans, then untraced / traced / untraced passes. Returns
    the per-layer metrics (every name, 0 where the layer is unused)."""
    from mapreduce_stockheadlines_spark.plans.catalog import table

    sc = spark.sparkContext
    m: dict[str, float] = {}
    for t in wl.tables:
        with tracer.span("sources.scan", table=t) as sp:
            table(spark, data_dir, t).write.format("noop").mode(
                "overwrite").save()
        m[f"sources.scan_s.{t}"] = sp.duration
    m["sources.scan_s"] = tracer.total("sources.scan")

    def untraced_pass() -> float:
        wall = runner.one_pass()
        runner.check_pending()
        return wall

    counts: dict[str, dict[str, int]] = {}

    @contextlib.contextmanager
    def grouped(op):
        try:
            with job_group(sc, f"op:{op}"):
                yield
        finally:
            counts[op] = group_counts(sc, f"op:{op}")

    untraced = [untraced_pass()]
    execs = SqlExecutions(spark)
    cpu0 = procstat.snapshot()
    runner.tracer = tracer
    with tracer.span("traced_pass") as tp:
        traced_wall = runner.one_pass(each_op=grouped)
    runner.tracer = NullTracer()
    cpu = procstat.delta(cpu0, procstat.snapshot())
    m["python.exec_nodes"] = execs.take()
    runner.check_pending()
    untraced.append(untraced_pass())

    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = sum(c[k] for c in counts.values())
    for op in wl.ops:
        if counts[op]["failed_jobs"]:
            runner.failures.append(f"{op}: {counts[op]['failed_jobs']} failed jobs")
    m["cpu.jvm_s"] = cpu["jvm"]
    m["cpu.pyworker_s"] = cpu["pyworker"]
    m["cpu.driver_py_s"] = cpu["driver_py"]
    m["cpu.util"] = sum(cpu.values()) / (tp.duration * cores)
    m["trace.overhead_frac"] = traced_wall / statistics.mean(untraced) - 1.0

    op_spans = {}
    for s in tracer.spans:
        if "op" in s.attrs:
            op_spans[(s.attrs["op"], s.name)] = s.duration
    for op in sorted({q for w in WORKLOADS.values() for q in w.queries}):
        m[f"op.{op}.build_s"] = op_spans.get((op, "plans.build"), 0.0)
        m[f"op.{op}.exec_s"] = op_spans.get((op, "plans.exec"), 0.0)
        m[f"op.{op}.jobs"] = counts[op]["jobs"] if op in counts else 0

    stage_m = {}
    if hasattr(wl, "stage_chain"):
        out = os.path.join(work, "stage_chain")
        runner.attempted += 1
        try:
            stage_m = wl.stage_chain(spark, tracer, out)
            runner.failures += [f"stage chain: {p}" for p in wl.check("curate_cli", out)]
        except Exception as e:  # counted like a failed operation
            runner.failures.append(f"stage chain: {type(e).__name__}: {e}")
        free_blocks(spark)
    for st in CURATE_STAGES:
        for k in ("s", "rows_out", "jobs"):
            m[f"curate.{st}.{k}"] = stage_m.get(f"curate.{st}.{k}", 0)
    for k in ("sinks.write_s", "curate.lsh_precision", "curate.keep_frac"):
        m[k] = stage_m.get(k, 0.0)
    # build/exec walls of the traced pass, plus the stage chain's
    m["plans.build_s"] = tracer.total("plans.build")
    m["plans.exec_s"] = tracer.total("plans.exec")
    for t in {t for w in WORKLOADS.values() for t in w.tables}:
        m.setdefault(f"sources.scan_s.{t}", 0.0)
    return m


def declared_units(root: str, trace: int) -> dict[str, str]:
    """Name -> unit of the metrics ``BENCHMARK.json`` declares for this
    mode: ``end_to_end`` untraced, ``per_layer`` traced."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repo root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    units = declared_units(root, args.trace)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # Python workers must import the package from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # Spark's scratch and every temp file stay inside the checkout
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    # first: the machine is idle, and this process has no other threads
    probe = hostprobe.HostProbe(args.cores)

    tracer = Tracer() if args.trace else NullTracer()
    cls = WORKLOADS[args.workload]

    t_imp = time.perf_counter()
    from mapreduce_stockheadlines_spark.plans.catalog import DEFAULT_SF_DIR

    data_dir = os.path.join(work, "data")
    wl = cls(data_dir, work)
    import_s = time.perf_counter() - t_imp

    src_dir = os.path.join(os.path.dirname(DEFAULT_SF_DIR), cls.source)
    sizes = inputs.build(src_dir, data_dir, cls.tables, cls.factor, args.seed)

    spark = None
    try:
        probe.measure()
        t0 = time.perf_counter()
        with tracer.span("session.get_spark") as sess:
            spark = start_session(args.cores, work)
        runner = Runner(spark, wl, NullTracer())
        with tracer.span("warmup.cold_pass") as cold:
            runner.one_pass(collect=True)
        setup_s = import_s + time.perf_counter() - t0
        runner.check_pending()
        runner.one_pass()  # warm-up
        runner.check_pending()
        walls = []
        if args.trace:
            metrics = traced_metrics(spark, wl, runner, tracer, args.cores,
                                     data_dir, work)
            metrics["session.start_s"] = sess.duration
            metrics["warmup.cold_pass_s"] = cold.duration
        else:
            for _ in range(passes_for(args.seconds, cls.nominal_pass_s)):
                walls.append(runner.one_pass())
                runner.check_pending()
        stop_session(spark)
        spark = None
        probe.measure()  # the JVM and its workers have exited
    finally:
        if spark is not None:
            stop_session(spark)
        probe.close()
    # raw walls at the reference host speed (see hostprobe.py)
    scale = probe.scale()
    if not args.trace:
        metrics = {"setup_s": setup_s * scale,
                   "pass_s": statistics.median(walls) * scale}
    for name in os.listdir(work):  # keep only run.json / spans.json
        shutil.rmtree(os.path.join(work, name), ignore_errors=True)

    failed = len(runner.failures)
    for f in runner.failures:
        print(f"FAILED {f}", file=sys.stderr)
    info = {
        "workload": args.workload, "seed": args.seed, "cores": args.cores,
        "trace": args.trace, "inputs": sizes, "pass_walls_s": walls,
        "setup_s": setup_s, "probe_walls_s": probe.walls,
        "host_scale": scale, "failures": runner.failures,
        # measured but not declared: pinned output counts, failed tasks
        "undeclared": {k: v for k, v in sorted(metrics.items())
                       if k not in units},
    }
    with open(os.path.join(work, "run.json"), "w") as f:
        json.dump(info, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(work, "spans.json"))
    print(json.dumps(info))
    if not args.trace:
        print(f"{args.workload}: setup_s {metrics['setup_s']:.3f} s, pass_s "
              f"{metrics['pass_s']:.3f} s (median of {len(walls)} passes; "
              f"raw walls x {scale:.3f}), "
              f"fail_frac {failed / runner.attempted:.4g} "
              f"({failed}/{runner.attempted} operations)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in sorted(units.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

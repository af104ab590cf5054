"""Tests of the benchmark's own machinery.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import hostprobe  # noqa: E402
import inputs  # noqa: E402
import procstat  # noqa: E402
import sparkstats  # noqa: E402
from spans import Tracer  # noqa: E402

from mapreduce_stockheadlines_spark.plans.catalog import DEFAULT_SF_DIR  # noqa: E402

TESTDATA = os.path.dirname(DEFAULT_SF_DIR)


# --- spans -----------------------------------------------------------------

def test_self_time_on_a_recorded_tree():
    # root [0, 10] holds a [1, 4] (which holds a.x [2, 3]) and b [5, 9]
    ticks = iter([0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 9.0, 10.0])
    t = Tracer(clock=lambda: next(ticks))
    with t.span("root"):
        with t.span("a"):
            with t.span("a.x"):
                pass
        with t.span("b"):
            pass
    root, a, ax, b = t.spans
    assert (a.parent, ax.parent, b.parent) == (0, 1, 0)
    assert t.self_time(root.id) == pytest.approx(10 - 3 - 4)
    assert t.self_time(a.id) == pytest.approx(3 - 1)
    assert t.self_time(ax.id) == pytest.approx(1)
    assert t.total("b") == pytest.approx(4)


def test_tracer_records_parents_and_durations():
    ticks = iter([0.0, 1.0, 3.0, 4.0, 9.0, 10.0])
    t = Tracer(clock=lambda: next(ticks))
    with t.span("outer"):
        with t.span("inner", op="q"):
            pass
        with t.span("inner"):
            pass
    outer, first, second = t.spans
    assert (first.parent, second.parent, outer.parent) == (0, 0, None)
    assert first.attrs == {"op": "q"}
    assert t.total("inner") == pytest.approx(2.0 + 5.0)
    assert t.self_time(0) == pytest.approx(10.0 - 7.0)


# --- /proc CPU tree ----------------------------------------------------------

def test_read_proc_sees_own_cpu_grow():
    before = procstat.read_proc(os.getpid())
    end = time.process_time() + 0.3
    while time.process_time() < end:
        pass
    after = procstat.read_proc(os.getpid())
    assert after.pid == os.getpid() and after.ppid == os.getppid()
    assert after.own_s - before.own_s >= 0.2


def test_classify_splits_driver_jvm_and_workers():
    P = procstat.Proc
    table = {
        1: P(1, "init", 0, 9.0, 9.0),
        10: P(10, "python", 1, 2.0, 5.0),  # driver; reaped time ignored
        11: P(11, "java", 10, 30.0, 0.5),  # JVM; reaped workers count
        12: P(12, "python", 11, 1.0, 4.0),  # worker daemon
        13: P(13, "python", 12, 3.0, 0.0),  # live worker
        20: P(20, "python", 1, 7.0, 0.0),  # unrelated process
    }
    assert procstat.classify(table, 10) == {
        "driver_py": 2.0,
        "jvm": 30.0,
        "pyworker": 0.5 + (1.0 + 4.0) + 3.0,
    }
    assert procstat.classify(table, 20) == {
        "driver_py": 7.0, "jvm": 0.0, "pyworker": 0.0}


# --- host probe ---------------------------------------------------------------

def test_host_probe_reaps_its_workers():
    probe = hostprobe.HostProbe(2)
    pids = list(probe.pool._processes)
    assert len(pids) == 2
    probe.measure(3)
    assert len(probe.walls) == 3 and min(probe.walls) > 0
    assert probe.scale() == pytest.approx(
        hostprobe.PROBE_REF_S / sorted(probe.walls)[1])
    probe.close()
    assert all(procstat.read_proc(pid) is None for pid in pids)


# --- plan parsing ------------------------------------------------------------

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   * HashAggregate (5)
   +- ArrowEvalPython (4)
      +- MapInPandas (3)
+- == Initial Plan ==
   HashAggregate (8)
   +- ArrowEvalPython (7)
      +- MapInPandas (6)


(3) MapInPandas
Input [1]: [id#0L]

(4) ArrowEvalPython
Arguments: [f(id#0L)#3]
"""


def test_python_nodes_count_final_plan_tree_only():
    assert sparkstats.python_nodes(PLAN) == 2
    assert sparkstats.python_nodes("== Physical Plan ==\n* Range (1)\n") == 0


# --- seeded inputs -----------------------------------------------------------

def _rows(path):
    con = duckdb.connect()
    try:
        return con.sql(f"SELECT * FROM read_parquet('{path}')").fetchall()
    finally:
        con.close()


def test_seeds_permute_rows_without_changing_them(tmp_path):
    src = f"{TESTDATA}/sf0.001"
    base = inputs.build(src, str(tmp_path / "s0"), ("documents", "part"), 1, 0)
    perm = inputs.build(src, str(tmp_path / "s7"), ("documents", "part"), 1, 7)
    assert {t: v["rows"] for t, v in base.items()} == {
        t: v["rows"] for t, v in perm.items()}
    for t in ("documents", "part"):
        s0 = _rows(f"{tmp_path}/s0/{t}.parquet")
        s7 = _rows(f"{tmp_path}/s7/{t}.parquet")
        assert s0 == _rows(f"{src}/{t}.parquet")  # seed 0: source order
        assert s7 != s0 and sorted(s7) == sorted(s0)
    again = inputs.build(src, str(tmp_path / "again"), ("part",), 1, 7)
    assert again["part"]["rows"] == perm["part"]["rows"]
    assert _rows(f"{tmp_path}/again/part.parquet") == _rows(
        f"{tmp_path}/s7/part.parquet")


def test_replication_keeps_ids_unique(tmp_path):
    src = f"{TESTDATA}/sf0.001"
    sizes = inputs.build(src, str(tmp_path), ("documents",), 3, 5)
    n = len(_rows(f"{src}/documents.parquet"))
    assert sizes["documents"]["rows"] == 3 * n
    con = duckdb.connect()
    distinct = con.sql(
        f"SELECT count(DISTINCT doc_id) FROM read_parquet('{tmp_path}/documents.parquet')"
    ).fetchone()[0]
    assert distinct == 3 * n


# --- Spark-side counters and the curate stage chain --------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.dirname(HERE), os.environ.get("PYTHONPATH")) if p)
    s = run.start_session(2, str(tmp_path_factory.mktemp("spark")))
    yield s
    run.stop_session(s)


def test_group_counts_two_job_query(spark):
    sc = spark.sparkContext
    df = spark.range(0, 100, 1, 2)
    df.collect()  # outside the group: not counted
    with sparkstats.job_group(sc, "toy"):
        df.collect()
        df.collect()
    got = sparkstats.group_counts(sc, "toy")
    assert got == {"jobs": 2, "failed_jobs": 0, "stages": 2, "tasks": 4,
                   "failed_tasks": 0}
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_sql_executions_count_python_nodes(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus1(s: pd.Series) -> pd.Series:
        return s + 1

    execs = sparkstats.SqlExecutions(spark)
    spark.range(10).write.format("noop").mode("overwrite").save()
    assert execs.take() == 0
    spark.range(10).select(plus1("id").alias("y")).write.format(
        "noop").mode("overwrite").save()
    assert execs.take() == 1


def test_stage_chain_keeps_the_same_docs_as_the_cli(spark, tmp_path):
    from workloads import CURATE_DIGEST, CURATE_KEPT, Curate, doc_id_digest

    wl = Curate(f"{TESTDATA}/sf0.01", str(tmp_path))
    wl.prepare("curate_cli")
    cli_out = wl.run_op(spark, "curate_cli", Tracer())
    tracer = Tracer()
    m = wl.stage_chain(spark, tracer, str(tmp_path / "chain"))
    kept, digest = doc_id_digest(cli_out)
    assert (kept, digest) == (CURATE_KEPT, CURATE_DIGEST)
    assert doc_id_digest(str(tmp_path / "chain")) == (kept, digest)
    assert m["curate.token_counts.rows_out"] == kept
    assert m["curate.dedup_by_pairs.jobs"] >= 1
    names = {s.name for s in tracer.spans}
    assert {"curate.text_stats", "plans.build", "plans.exec",
            "sinks.write"} <= names

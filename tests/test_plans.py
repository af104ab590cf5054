"""Physical-plan regression tests: assert the *plans*, not just results.

At 100 TB the plan IS the product: a filter that doesn't reach the parquet
scan, a dim join that doesn't broadcast, or a range join that falls back
to a nested loop are 100x regressions invisible at test scale. Pin the
plan properties that matter (SURVEY.md §4.2).
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES


def plan_of(spark, sf_dir: str, name: str) -> str:
    df = ALL_QUERIES[name].builder(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_filter_and_projection_reach_the_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_filter_project")
    assert "PushedFilters: [" in plan
    # a pushed filter list that is not empty
    assert "PushedFilters: []" not in plan
    # column pruning: lineitem has 10 cols; the scan must not read them all
    scan_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert scan_schema.count(":") <= 6  # few read columns, not the full table


def test_q05_small_dim_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q05_join_broadcast_dim")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q07_semi_and_anti_joins_are_hash_not_loop(spark, sf_dir):
    """The tag-union consolidation (round 5) must keep BOTH existence-join
    physical shapes — hash semi and hash anti, no loop fallback."""
    plan = plan_of(spark, sf_dir, "q07_join_semi_anti")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q03_topk_fuses_to_take_ordered(spark, sf_dir):
    """Top-k-then-rank (round 5): the limit compiles to
    TakeOrderedAndProject over the aggregated table and NO window — and
    therefore no exchange of any kind — ever sees the full table."""
    plan = plan_of(spark, sf_dir, "q03_topk_rank")
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_q14_full_rank_has_no_single_partition(spark, sf_dir):
    """Full ranked output uses the bucketed row_number construction —
    the reference's single-reducer sort shape must not appear even in
    its own analogue query."""
    plan = plan_of(spark, sf_dir, "q14_stock_count_analogue")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_rtier" in plan


def test_q15_stopword_anti_join_broadcasts(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q15_word_count_analogue")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q19_large_join_never_degenerates(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q19_large_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q24_range_join_is_equijoin_not_cartesian(spark, sf_dir):
    """The whole point of the bucketed construction: a point-in-interval
    join must compile to a hash join on (key, bucket), never to the
    nested-loop fallback Spark uses for pure range predicates."""
    plan = plan_of(spark, sf_dir, "q24_range_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q23_asof_join_is_single_key_shuffle(spark, sf_dir):
    """Union-and-fill as-of: no join operator at all — one hash exchange
    on the key feeding a window sort."""
    plan = plan_of(spark, sf_dir, "q23_asof_join")
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan
    assert "Window" in plan


def test_whole_stage_codegen_everywhere_core(spark, sf_dir):
    """Core relational queries must stay inside codegen (no Python eval in
    the hot path). AQE hides codegen spans in the pre-execution formatted
    plan, so toggle it off just for the inspection."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ("q02_group_agg", "q04_join_inner_agg", "q33_math_date_functions"):
            plan = plan_of(spark, sf_dir, name)
            assert "codegen id" in plan, name  # whole-stage codegen spans
            assert "BatchEvalPython" not in plan, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_aggregates_are_partial_then_final(spark, sf_dir):
    """The combiner the reference never implemented (README.md:94-100):
    partial HashAggregate before the exchange, final after."""
    plan = plan_of(spark, sf_dir, "q02_group_agg")
    assert "partial_sum" in plan and "partial_count" in plan
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning" in plan


def test_q09_rank_filter_becomes_window_group_limit(spark, sf_dir):
    """rank <= N over a partitioned window must push into WindowGroupLimit
    (per-partition top-N heaps before the full window sort) — both
    tag-union branches of the consolidated window query keep it."""
    plan = plan_of(spark, sf_dir, "q09_window_partitioned")
    assert plan.count("WindowGroupLimit") >= 2


def test_x08_text_stats_is_one_scan_no_join(spark, sf_dir):
    """lang_id + quality fused into one projection: the per-doc stats must
    NOT be computed as two scans joined on doc_id."""
    import re

    plan = plan_of(spark, sf_dir, "x08_text_stats")
    assert "Join" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_q10_window_functions_share_one_window_operator(spark, sf_dir):
    """Frame aggregate + lag/lead/delta/ntile over the same partitioned
    sort must collapse into a single Window operator (one shuffle, one
    sort — the point of merging the queries)."""
    import re

    plan = plan_of(spark, sf_dir, "q10_window_functions")
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1


def test_q12_set_ops_no_cartesian_or_loop(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q12_set_ops")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _plan_df(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_chunking_is_narrow_no_exchange(spark, sf_dir):
    """Chunking must fuse into the scan: a Generate over codegen
    expressions, zero shuffles."""
    from mapreduce_stockheadlines_spark.operators.packing import chunk_documents
    from mapreduce_stockheadlines_spark.plans.catalog import table

    plan = _plan_df(
        chunk_documents(table(spark, sf_dir, "documents"), "doc_id", "text", 64, 8)
    )
    assert "Generate" in plan
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quantile_filter_never_shuffles_the_corpus(spark, sf_dir):
    """The threshold side is one sketch aggregate broadcast back; the
    corpus side must stay a scan + filter (no Exchange on the data path,
    no sort)."""
    from mapreduce_stockheadlines_spark.operators.sampling import (
        quantile_threshold_filter,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table
    from pyspark.sql import functions as F

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("double").alias("score")
    )
    plan = _plan_df(quantile_threshold_filter(docs, "score", 0.5))
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar side
    assert "Sort" not in plan  # no global sort of the corpus
    # only shuffle allowed: the single-partition agg of the sketch
    # (the BroadcastExchange ships the scalar, it is not a data shuffle;
    # formatted explain prints each op twice, so compare op counts)
    assert "SinglePartition" in plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan


def test_deterministic_shuffle_is_range_partitioned(spark, sf_dir):
    from mapreduce_stockheadlines_spark.operators.sampling import (
        deterministic_shuffle,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    plan = _plan_df(
        deterministic_shuffle(table(spark, sf_dir, "documents"), "doc_id")
    )
    assert "rangepartitioning" in plan  # even split of the uniform hash key


# --- plan guard (runtime linter) ----------------------------------------


def test_plan_guard_catches_cartesian(spark, sf_dir):
    from mapreduce_stockheadlines_spark.plans.catalog import table
    from mapreduce_stockheadlines_spark.plans.guard import (
        PlanGuardError,
        assert_scalable,
        check_plan,
    )

    a = table(spark, sf_dir, "nation")
    b = table(spark, sf_dir, "region")
    bad = a.crossJoin(b)
    assert check_plan(bad)  # non-empty violations
    with pytest.raises(PlanGuardError, match="NestedLoop|Cartesian"):
        assert_scalable(bad)


def test_plan_guard_passes_shipped_queries(spark, sf_dir):
    """Every registry query must satisfy the default guard. Documented
    exception: x06's block pair map is a <=max_blocks^2 range join over
    BLOCK INDICES (spark.range x spark.range, never corpus rows), where
    the nested-loop join is bounded and correct."""
    from mapreduce_stockheadlines_spark.plans.guard import check_plan

    for name, spec in ALL_QUERIES.items():
        if name == "x06_embedding_neardup":
            continue
        df = spec.builder(spark, sf_dir)
        violations = check_plan(df)
        assert not violations, f"{name}: {violations}"


def test_plan_guard_smoke_on_shared_stage_queries(spark, sf_dir):
    """Default-run smoke of the slow full-registry sweep above, over the
    three queries whose builders share one staged input across several
    consumers: x13 (one audio decode), x27 (one corpus head for every
    trainer) and x32 (one DSIR feature stream for fit and score)."""
    from mapreduce_stockheadlines_spark.plans.guard import check_plan

    for name in (
        "x13_multimodal_pipeline",
        "x27_quantize_embeddings",
        "x32_sampling",
    ):
        violations = check_plan(ALL_QUERIES[name].builder(spark, sf_dir))
        assert not violations, f"{name}: {violations}"


def test_plan_guard_catches_staged_hof_inlining(spark, sf_dir):
    """VERDICT r11 #1: the staged-HOF pushdown-inlining trap as
    machinery. A predicate on a staged expensive-HOF column gets pushed
    by PushDownPredicates below the staging Projects, arriving at the
    scan as the FUSED sel(grams(text)) form whose per-window lambda
    re-evaluates the whole gram array per element — O(n^2·k)/doc,
    interpreted (two measured ~1 min/doc pathologies in round 11).
    check_plan must flag the fused form by default; the engineered-out
    staged forms (explode_outer + generated-attribute filter) and
    cheap FLAT scan-level lambdas (x30's token-count gate) must pass."""
    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.operators import textstats as TS
    from mapreduce_stockheadlines_spark.plans.catalog import table
    from mapreduce_stockheadlines_spark.plans.guard import check_plan

    docs = table(spark, sf_dir, "documents")
    # the trap, deliberately: filter on the staged winnow-selection
    # column -> Catalyst inlines the whole chain into a scan Filter
    fused = (
        docs.withColumn("_wg", TS.winnow_gram_col(F.col("text")))
        .withColumn("_ws", TS.winnow_sel_col("_wg"))
        .filter(F.size("_ws") > 0)
        .select("doc_id", F.size("_ws").alias("n"))
    )
    violations = check_plan(fused)
    # the first rendered lambda in the fused chain may classify as
    # nested-HOF or as a free-input re-derivation depending on render
    # order — either way the trap must be called out as inlining
    assert violations and any("pushdown-inlined" in v for v in violations), (
        violations
    )
    # the FLAT variant of the same trap (round-12 review finding): a
    # predicate on the staged char-code column inlines the whole
    # normalization regex chain into a single flat lambda — no nested
    # lambda, but the chain re-runs per element (the measured 29x)
    flat_fused = (
        docs.withColumn("_wn", TS._winnow_norm(F.col("text")))
        .withColumn("_wc", TS.winnow_char_col("_wn"))
        .filter(F.size("_wc") > 0)
        .select("doc_id", F.size("_wc").alias("n"))
    )
    fv = check_plan(flat_fused)
    assert fv and any("re-deriving" in v for v in fv), fv
    # the engineered-out form infers no pushable predicate and stays clean
    assert check_plan(TS.winnow_fingerprints(docs, "doc_id", "text")) == []
    # a cheap FLAT lambda at the scan (the x30 shape) is legitimate
    flat = docs.filter(
        F.size(
            F.filter(
                F.split(F.col("text"), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        )
        >= 8
    ).select("doc_id")
    assert check_plan(flat) == []


def test_cdc_chunk_dedup_plan_shape(spark, sf_dir):
    """The round-12 chunk-dedup operator must satisfy the default guard
    (no cartesian/NLJ, no staged-HOF scan filter) and keep its shuffles
    to the designed set: census agg + probe join + reassembly + the
    base join — never a corpus self-join."""
    from mapreduce_stockheadlines_spark.operators.dedup import (
        cdc_chunk_dedup,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table
    from mapreduce_stockheadlines_spark.plans.guard import check_plan

    df = cdc_chunk_dedup(
        table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
        "text",
    )
    assert check_plan(df) == []
    # the chunk pipeline below the checkpoint barrier is exercised
    # separately (test_chunking / the x25 guard sweep, where the
    # barrier is inside the lineage); here pin the dedup joins above it
    plan = _plan_df(df)
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_plan_guard_shuffle_cap_and_pushdown(spark, sf_dir):
    from mapreduce_stockheadlines_spark.plans.catalog import table
    from mapreduce_stockheadlines_spark.plans.guard import check_plan
    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem")
    q = li.filter(F.col("l_quantity") > 10).groupBy("l_returnflag").count()
    assert check_plan(q, max_shuffles=1, require_pushed_filters=True) == []
    assert check_plan(q, max_shuffles=0)  # the agg shuffle is counted


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """The session's runtime bloom filter + a selective dim filter must
    inject a bloom_filter_agg on the dim side and a might_contain probe
    on the fact side's scan — the shuffle-join analogue of broadcast
    pruning."""
    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.plans.catalog import table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        # tiny thresholds so the rule fires on test-sized scans; kill
        # broadcast so the join is shuffle-based (where the filter applies)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100GB",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = table(spark, sf_dir, "lineitem")
        orders = table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        # result must be identical to the unfiltered-plan answer
        n_with = j.collect()[0]["count"]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    n_plain = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .count()
        .collect()[0]["count"]
    )
    assert n_with == n_plain


def test_domain_blocklist_plan_broadcasts_blocklist(spark, sf_dir):
    """filter_blocked_domains: the blocklist side must broadcast (it is
    the stop-word-table role); no cartesian/NLJ anywhere; the final
    doc-id anti-join is deliberately NOT forced broadcast (corpus-derived
    side), so the plan may choose either join there."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        filter_blocked_domains,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents")
    block = spark.createDataFrame([("example.com",), ("spam.biz",)], ["domain"])
    df = filter_blocked_domains(docs, "doc_id", "text", block)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan


def test_plans_md_regenerated_at_head():
    """VERDICT r7 #4: the PLANS.md regeneration invariant. Re-derives the
    full 50-plan dump in a FRESH interpreter (expression/plan-id counters
    are session-global, so only a clean session in registry order
    reproduces the committed artifact — dump_plans normalizes the
    residual volatile counters) and fails if the committed PLANS.md is
    stale. A plans/ change without `python scripts/dump_plans.py` goes
    red here instead of relying on the builder remembering."""
    import os
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "scripts/dump_plans.py", "--verify"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (
        "PLANS.md is stale — regenerate with scripts/dump_plans.py\n"
        + proc.stdout[-2000:]
        + proc.stderr[-2000:]
    )


def test_stage_records_decorated_and_with_sections():
    """``_stage`` as a decorator on ``_overlap`` thunks and as a ``with``
    block records exactly those keys in STAGE_SECS; a section that
    raises still records its key and re-raises."""
    from mapreduce_stockheadlines_spark.plans.extensions import (
        STAGE_SECS,
        _overlap,
        _stage,
    )

    STAGE_SECS.clear()

    @_stage("left")
    def _left():
        return 1

    @_stage("right")
    def _right():
        return 2

    assert _overlap(_left, _right) == [1, 2]
    with _stage("tail"):
        pass
    assert set(STAGE_SECS) == {"left", "right", "tail"}
    assert all(v >= 0 for v in STAGE_SECS.values())

    STAGE_SECS.clear()
    with pytest.raises(ValueError, match="boom"):
        with _stage("broken"):
            raise ValueError("boom")
    assert set(STAGE_SECS) == {"broken"}


def test_bench_stage_pass_reports_x31_stages(spark, sf_dir):
    """bench.py's attribution pass for x31: the builder's eager sections
    plus the run of the built plan."""
    import bench

    stages = bench.stage_pass(spark, "x31_pagerank", sf_dir)
    assert set(stages) == {"edges", "components", "pagerank", "hits",
                           "execute"}

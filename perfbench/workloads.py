"""The benchmark's workloads.

Each workload names the tables it reads, the scale its inputs are built
at, its operations, and how an operation's output is checked. A pass
runs every operation once, back to back, from one client.

- ``headlines``: the reference's two jobs (q14 StockCount analogue, q15
  WordCount analogue, over documents) and the two event queries (q21,
  q22) on the 10x corpus, each to the noop sink. Checked against the
  query's DuckDB oracle (:func:`oracle_check`).
- ``curate``: the ``jobs.pipeline`` CLI with default flags, called
  in-process on the sf0.01 documents, then x06 (embedding cosine
  near-dup pairs, scored in an applyInPandas) on the sf0.01 embeddings
  to the noop sink. The CLI is checked by the kept-row count and an
  order-insensitive digest of the kept ``doc_id``s, pinned below; x06
  against its DuckDB oracle.

The traced run of ``curate`` also runs the CLI's default stage chain one
stage at a time (:meth:`Curate.stage_chain`), so each stage gets its
own time, row count and job count.
"""

from __future__ import annotations

import contextlib
import hashlib
import inspect
import io
import os
import shutil

import duckdb
import pyarrow.dataset as pads

from sparkstats import group_counts, job_group

# kept-row count and sha256 of the sorted kept doc_ids (one per line)
# for the default CLI over the sf0.01 documents, in any row order
CURATE_KEPT = 41
CURATE_DIGEST = (
    "09d06c963947a16cbe9f9a6df9b99e3e311994c81a5388c9cdedf22cffd1f932"
)

CURATE_STAGES = (
    "content_hash_dedup",
    "minhash_signature",
    "lsh_candidate_pairs",
    "doc_shingles",
    "jaccard_pairs",
    "dedup_by_pairs",
    "text_stats",
    "pii",
    "token_counts",
)


def doc_id_digest(path: str) -> tuple[int, str]:
    """Row count and order-insensitive digest of the doc_ids in a
    (source-partitioned) parquet output directory."""
    ids = sorted(
        pads.dataset(path, format="parquet", partitioning="hive")
        .to_table(columns=["doc_id"])
        .column("doc_id")
        .to_pylist()
    )
    return len(ids), hashlib.sha256(
        "\n".join(map(str, ids)).encode()
    ).hexdigest()


def run_query(spark, data_dir: str, op: str, tracer, collect: bool):
    """Build a registry query, then run it to the noop sink, or collect
    it when its output is to be checked."""
    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    with tracer.span("plans.build", op=op):
        df = ALL_QUERIES[op].builder(spark, data_dir)
    with tracer.span("plans.exec", op=op):
        if collect:
            from mapreduce_stockheadlines_spark.oracle_compare import (
                spark_type_kinds,
            )

            return df.toPandas(), spark_type_kinds(df.schema)
        df.write.format("noop").mode("overwrite").save()
    return None


def oracle_check(data_dir: str, tables, op: str, out) -> list[str]:
    """Compare a collected query result with its DuckDB oracle from the
    registry, run over the same parquet inputs."""
    from mapreduce_stockheadlines_spark.oracle_compare import (
        arrow_type_kinds,
        compare,
    )
    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    sdf, skinds = out
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        tbl = con.sql(ALL_QUERIES[op].oracle).arrow()
    finally:
        con.close()
    return compare(sdf, tbl.to_pandas(), skinds, arrow_type_kinds(tbl.schema))


class Headlines:
    name = "headlines"
    source = "sf0.1"
    tables = ("documents", "events", "part")
    factor = 10
    nominal_pass_s = 6.5
    ops = (
        "q14_stock_count_analogue",
        "q15_word_count_analogue",
        "q21_time_windows",
        "q22_dedup",
    )
    queries = ops

    def __init__(self, data_dir: str, work_dir: str) -> None:
        self.data_dir = data_dir

    def prepare(self, op: str) -> None:
        pass

    def run_op(self, spark, op: str, tracer, collect: bool = False):
        return run_query(spark, self.data_dir, op, tracer, collect)

    def check(self, op: str, out) -> list[str]:
        return oracle_check(self.data_dir, self.tables, op, out)


class Curate:
    name = "curate"
    source = "sf0.01"
    tables = ("documents", "embeddings")
    factor = 1
    nominal_pass_s = 7.5
    ops = ("curate_cli", "x06_embedding_neardup")
    # x06 scores embedding pairs with numpy in an applyInPandas: the
    # workload's Python exec node, at the pandas-UDF boundary
    queries = ("x06_embedding_neardup",)

    def __init__(self, data_dir: str, work_dir: str) -> None:
        self.data_dir = data_dir
        self.out_dir = os.path.join(work_dir, "curated")
        from mapreduce_stockheadlines_spark.jobs import pipeline

        self.pipeline = pipeline

    def prepare(self, op: str) -> None:
        if op == "curate_cli":
            shutil.rmtree(self.out_dir, ignore_errors=True)

    def run_op(self, spark, op: str, tracer, collect: bool = False):
        if op in self.queries:
            return run_query(spark, self.data_dir, op, tracer, collect)
        # the CLI end to end: read, curate, write parquet, count
        with tracer.span("jobs.pipeline.main"):
            with contextlib.redirect_stdout(io.StringIO()):
                self.pipeline.main([self.out_dir, "--sf-dir", self.data_dir])
        return self.out_dir

    def check(self, op: str, out) -> list[str]:
        if op in self.queries:
            return oracle_check(self.data_dir, self.tables, op, out)
        got = doc_id_digest(out)
        if got != (CURATE_KEPT, CURATE_DIGEST):
            return [f"kept {got[0]} docs, doc_id digest {got[1]}; expected "
                    f"{CURATE_KEPT}, {CURATE_DIGEST}"]
        return []

    def stage_chain(self, spark, tracer, out_dir: str) -> dict[str, float]:
        """The CLI's default ``curate`` chain, one stage at a time. Each
        stage's input is materialised before its span opens, so the span
        holds only that stage's own work: the operator calls (including
        their eager rounds) under ``plans.build`` and the
        materialisation of its output under ``plans.exec``. The output
        is written with the CLI's sink to ``out_dir``."""
        from pyspark.sql import functions as F

        from mapreduce_stockheadlines_spark.operators import dedup as D
        from mapreduce_stockheadlines_spark.operators import textstats as TS
        from mapreduce_stockheadlines_spark.plans.catalog import parallel_table

        sc = spark.sparkContext
        defaults = {
            k: p.default
            for k, p in inspect.signature(self.pipeline.curate).parameters.items()
        }
        metrics: dict[str, float] = {}

        def stage(name, build):
            group = f"curate.{name}"
            with job_group(sc, group), tracer.span(group) as sp:
                with tracer.span("plans.build"):
                    df = build()
                with tracer.span("plans.exec"):
                    df = df.localCheckpoint()
            metrics[f"{group}.s"] = sp.duration
            metrics[f"{group}.jobs"] = group_counts(sc, group)["jobs"]
            metrics[f"{group}.rows_out"] = df.count()
            return df

        docs = parallel_table(spark, self.data_dir, "documents").localCheckpoint()
        n_in = docs.count()
        docs = stage("content_hash_dedup", lambda: docs.join(
            D.content_hash_dedup(docs, "text", "doc_id").select(
                F.col("keep_id").alias("doc_id")),
            "doc_id", "left_semi"))
        sig = stage("minhash_signature", lambda: D.minhash_signature(
            docs, "doc_id", "text", num_hashes=8, shingle_n=3))
        cand = stage("lsh_candidate_pairs", lambda: D.lsh_candidate_pairs(
            sig, "doc_id", num_hashes=8, bands=4))
        shingles = stage("doc_shingles", lambda: D.doc_shingles(
            docs, "doc_id", "text", n=3))
        verified = stage("jaccard_pairs", lambda: D.jaccard_pairs(
            shingles, cand).filter(
                F.col("jaccard") > defaults["jaccard_threshold"]))
        docs = stage("dedup_by_pairs", lambda: D.dedup_by_pairs(
            docs, verified, "doc_id"))
        keep_cond = (F.col("pred_lang") == defaults["lang"]) & (
            F.col("quality") >= defaults["min_quality"])
        docs = stage("text_stats", lambda: docs.join(
            TS.text_stats(docs, "doc_id", "text").filter(keep_cond).select(
                "doc_id", "quality"),
            "doc_id"))
        docs = stage("pii", lambda: docs.withColumn(
            "n_pii", TS.pii_count("text")).withColumn(
                "text", TS.pii_redacted("text")))
        docs = stage("token_counts", lambda: docs.select(
            "*",
            TS.whitespace_token_count("text").alias("n_ws_tokens"),
            TS.bpe_ish_token_count("text").alias("n_bpe_tokens")))
        with job_group(sc, "sinks.write"), tracer.span("sinks.write") as sp:
            docs.write.mode("overwrite").partitionBy("source").parquet(out_dir)
        metrics["sinks.write_s"] = sp.duration
        cand_n = metrics["curate.lsh_candidate_pairs.rows_out"]
        metrics["curate.lsh_precision"] = (
            metrics["curate.jaccard_pairs.rows_out"] / cand_n if cand_n else 0.0
        )
        metrics["curate.keep_frac"] = (
            metrics["curate.token_counts.rows_out"] / n_in if n_in else 0.0
        )
        return metrics


WORKLOADS = {w.name: w for w in (Headlines, Curate)}

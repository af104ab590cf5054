"""Sequence packing: exactly-once assignment, budget respected, oversized
flagged, determinism under input partitioning, packing efficiency."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.operators.packing import (
    chunk_documents,
    pack_sequences,
)
from mapreduce_stockheadlines_spark.operators.textstats import (
    whitespace_token_count,
)
from mapreduce_stockheadlines_spark.plans.catalog import table


def _docs_with_counts(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", whitespace_token_count("text").alias("n_tokens")
    )


def test_packing_invariants(spark, sf_dir):
    counted = _docs_with_counts(spark, sf_dir)
    packed = pack_sequences(counted, "doc_id", "n_tokens", budget=256).toPandas()
    # every doc exactly once
    assert sorted(packed.id) == sorted(
        r.doc_id for r in counted.collect()
    )
    # budget respected for every non-truncate pack
    sums = packed[~packed["truncate"]].groupby("pack_id").n_tokens.sum()
    assert (sums <= 256).all()
    # truncate packs are singletons holding only oversized docs
    tr = packed[packed["truncate"]]
    assert (tr["n_tokens"] > 256).all()
    assert (~packed[~packed["truncate"]].pack_id.isin(tr["pack_id"])).all()
    assert tr["pack_id"].is_unique
    # oversized docs exist in this corpus at budget 256 or the test is vacuous
    assert len(tr) + len(sums) == packed.pack_id.nunique()


def test_packing_is_partitioning_invariant(spark, sf_dir):
    counted = _docs_with_counts(spark, sf_dir)
    a = pack_sequences(counted, "doc_id", "n_tokens", 256).toPandas()
    b = pack_sequences(
        counted.repartition(7), "doc_id", "n_tokens", 256
    ).toPandas()
    key = lambda df: sorted(zip(df.id, df.pack_id, df["truncate"]))
    assert key(a) == key(b)


def test_packing_efficiency(spark, sf_dir):
    """FFD within partitions must land reasonably close to the lower bound
    ceil(total/budget) — a regression here means packing degenerated to
    one-doc-per-pack."""
    import math

    counted = _docs_with_counts(spark, sf_dir)
    packed = pack_sequences(counted, "doc_id", "n_tokens", 512).toPandas()
    normal = packed[~packed["truncate"]]
    lower = math.ceil(normal.n_tokens.sum() / 512)
    n_packs = normal.pack_id.nunique()
    # 64 partitions each waste at most a partial bin; allow 2x + slack
    assert n_packs <= 2 * lower + 64


def test_packing_rejects_bad_budget(spark, sf_dir):
    counted = _docs_with_counts(spark, sf_dir)
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(counted, "doc_id", "n_tokens", 0)


# --- document chunking ---------------------------------------------------

CHUNK_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> length(x) > 0) AS toks
  FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
c AS (
  SELECT doc_id, toks, n,
         unnest(range(greatest((n - {overlap} + {stride} - 1) // {stride},
                               1))) AS chunk_id
  FROM nz)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(len(toks[chunk_id * {stride} + 1 :
                     chunk_id * {stride} + {chunk}]) AS BIGINT)
         AS n_chunk_tokens,
       array_to_string(toks[chunk_id * {stride} + 1 :
                            chunk_id * {stride} + {chunk}], ' ')
         AS chunk_text
FROM c ORDER BY doc_id, chunk_id
"""


def test_chunking_hand_values(spark):
    df = spark.createDataFrame(
        [
            (0, "a b c d e f g"),   # 7 tokens
            (1, "x"),               # shorter than one chunk
            (2, "   "),             # whitespace-only: no chunks
        ],
        ["doc_id", "text"],
    )
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=1)
    rows = [
        (r.id, r.chunk_id, r.chunk_text)
        for r in out.orderBy("id", "chunk_id").collect()
    ]
    # stride 3: starts 0, 3; ceil((7-1)/3) = 2 chunks for doc 0
    assert rows == [
        (0, 0, "a b c d"),
        (0, 1, "d e f g"),
        (1, 0, "x"),
    ]


def test_chunking_covers_every_token(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    chunked = chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=8)
    got = chunked.groupBy("id").agg(
        F.sum("n_chunk_tokens").alias("sum_chunk"),
        F.max(F.col("chunk_id") * (64 - 8) + F.col("n_chunk_tokens")).alias(
            "max_end"
        ),
    )
    counted = _docs_with_counts(spark, sf_dir).filter(F.col("n_tokens") > 0)
    joined = got.join(
        counted.withColumnRenamed("doc_id", "id"), "id", "full"
    ).collect()
    for r in joined:
        assert r.sum_chunk is not None and r.n_tokens is not None  # same docs
        assert r.max_end == r.n_tokens  # last chunk ends at the last token
        assert r.sum_chunk >= r.n_tokens  # overlap only adds coverage


def test_chunking_matches_duckdb(spark, sf_dir):
    import duckdb

    docs = table(spark, sf_dir, "documents")
    got = [
        (r.id, r.chunk_id, r.n_chunk_tokens, r.chunk_text)
        for r in chunk_documents(docs, "doc_id", "text", 32, 4)
        .orderBy("id", "chunk_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    sql = CHUNK_ORACLE.format(chunk=32, overlap=4, stride=28)
    want = [tuple(t) for t in con.sql(sql).fetchall()]
    assert got == want


def test_chunking_rejects_bad_params(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(docs, "doc_id", "text", 0, 0)
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, "doc_id", "text", 8, 8)


def test_assign_bins_overflow_raises():
    """The pack-id namespace guard must fail loudly, never wrap into the
    next partition's namespace (VERDICT r3). Exercised directly with a
    tiny max_bins: 5 single-bin items into a 4-bin namespace."""
    from mapreduce_stockheadlines_spark.operators.packing import _assign_bins

    # fits exactly: 4 items, each fills one bin
    assign, trunc = _assign_bins([10, 10, 10, 10], 10, 1024, max_bins=4)
    assert assign == [0, 1, 2, 3] and trunc == [False] * 4
    with pytest.raises(RuntimeError, match="pack-id namespace"):
        _assign_bins([10, 10, 10, 10, 10], 10, 1024, max_bins=4)
    # oversized (truncate) path hits the same guard
    with pytest.raises(RuntimeError, match="pack-id namespace"):
        _assign_bins([99, 99, 99, 99, 99], 10, 1024, max_bins=4)


def test_pack_sequences_id_range_guard(spark):
    """Ids at/above 2^39 would overflow the shifted namespace — loud error."""
    df = spark.createDataFrame(
        [(1 << 40, 5), (2, 5)], ["doc_id", "n_tokens"]
    )
    packed = pack_sequences(df, "doc_id", "n_tokens", budget=16, num_partitions=2)
    with pytest.raises(Exception, match="namespace"):
        packed.collect()


# --- paragraph-boundary chunking ---------------------------------------------


def test_chunk_by_paragraphs_semantics(spark):
    from mapreduce_stockheadlines_spark.operators.packing import (
        chunk_by_paragraphs,
    )

    text = (
        "one two three\n\n"        # 3 tokens  -> chunk 0 (cum 0)
        "four five\n\n"            # 2 tokens  -> chunk 0 (cum 3)
        "\n \n"                    # empty     -> vanishes
        "six seven eight nine\n\n" # 4 tokens  -> chunk 1 (cum 5)
        "ten\n\n"                  # 1 token   -> chunk 1 (cum 9... < 10? no: cum 9 -> chunk 1)
        "a b c d e f g h i j k"    # 11 tokens -> chunk 2 (cum 10), oversize
    )
    df = spark.createDataFrame([(1, text), (2, None)], "doc_id int, text string")
    out = {
        (r.id, r.chunk_id): r
        for r in chunk_by_paragraphs(df, "doc_id", "text", chunk_tokens=5).collect()
    }
    assert set(out) == {(1, 0), (1, 1), (1, 2)}  # NULL text -> no chunks
    c0, c1, c2 = out[(1, 0)], out[(1, 1)], out[(1, 2)]
    assert c0.chunk_text == "one two three\n\nfour five"
    assert (c0.n_paragraphs, c0.n_chunk_tokens) == (2, 5)
    assert c1.chunk_text == "six seven eight nine\n\nten"
    assert (c1.n_paragraphs, c1.n_chunk_tokens) == (2, 5)
    assert c2.n_chunk_tokens == 11 and c2.has_oversize_paragraph
    assert not c0.has_oversize_paragraph
    # paragraphs never split; every token survives exactly once
    total = sum(r.n_chunk_tokens for r in out.values())
    assert total == 3 + 2 + 4 + 1 + 11


def test_chunk_by_paragraphs_matches_duckdb_and_partitioning(spark, sf_dir):
    """DuckDB re-derives paragraph splits, the exclusive prefix sum,
    chunk assignment and the re-joined chunk text exactly; membership
    is partitioning-invariant. Corpus text gains deterministic
    paragraph breaks (sentence boundaries) in BOTH engines first."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.packing import (
        chunk_by_paragraphs,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace("text", r"\. ", ".\n\n")
    )
    out = chunk_by_paragraphs(docs, "doc_id", "text", chunk_tokens=64)
    got = sorted(
        (r.id, r.chunk_id, r.n_paragraphs, r.n_chunk_tokens,
         r.has_oversize_paragraph, r.chunk_text)
        for r in out.collect()
    )
    got2 = sorted(
        (r.id, r.chunk_id, r.n_paragraphs, r.n_chunk_tokens,
         r.has_oversize_paragraph, r.chunk_text)
        for r in chunk_by_paragraphs(
            docs.repartition(13), "doc_id", "text", chunk_tokens=64
        ).collect()
    )
    assert got == got2 and len(got) > 400
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(
        r"""
        WITH d AS (
          SELECT doc_id, regexp_replace(text, '\. ', '.' || chr(10) || chr(10), 'g') AS text
          FROM documents WHERE text IS NOT NULL),
        p AS (
          SELECT doc_id, unnest(string_split_regex(text, '\n\s*\n')) AS para,
                 generate_subscripts(string_split_regex(text, '\n\s*\n'), 1)
                   AS pid
          FROM d),
        tp AS (
          SELECT doc_id, pid, para,
                 len(list_filter(string_split_regex(trim(para), '\s+'),
                                 t -> t <> '')) AS nt
          FROM p),
        ne AS (SELECT * FROM tp WHERE nt > 0),
        cb AS (
          SELECT doc_id, pid, para, nt,
                 sum(nt) OVER (PARTITION BY doc_id ORDER BY pid) - nt AS cum
          FROM ne)
        SELECT doc_id, CAST(cum // 64 AS INT) AS chunk_id,
               CAST(count(*) AS BIGINT) AS n_paragraphs,
               CAST(sum(nt) AS BIGINT) AS n_chunk_tokens,
               max(nt) > 64 AS has_oversize,
               string_agg(para, chr(10) || chr(10) ORDER BY pid) AS chunk_text
        FROM cb GROUP BY doc_id, CAST(cum // 64 AS INT)
        ORDER BY doc_id, chunk_id
        """
    ).fetchall()
    assert got == [tuple(r) for r in want]


def test_curate_chunk_paragraphs_mode(spark, sf_dir):
    """--chunk-paragraphs plumbs the natural-boundary chunker into
    curate's chunk stage: composite ids compose the same way, chunk
    text joins whole paragraphs, and no chunk text starts or ends
    mid-paragraph (every chunk is a \\n\\n-join of source paragraphs)."""
    from mapreduce_stockheadlines_spark.jobs.pipeline import curate
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents").withColumn(
        "text", F.regexp_replace("text", r"\. ", ".\n\n")
    )
    out = curate(
        docs, min_quality=0.0, chunk_tokens=64, chunk_paragraphs=True
    )
    rows = out.select(
        "doc_id", "parent_doc_id", "chunk_id", "text"
    ).limit(50).collect()
    assert rows
    src = {
        r.doc_id: r.text
        for r in docs.select("doc_id", "text").collect()
        if r.text is not None
    }
    for r in rows:
        assert r.doc_id == r.parent_doc_id * (1 << 20) + r.chunk_id
        for para in r.text.split("\n\n"):
            assert para in src[r.parent_doc_id]  # whole paragraphs only


def test_chunk_summary_cols_match_operator(spark, sf_dir):
    """The round-8 x08 registry columns (``chunk_summary_cols``) pin the
    SAME chunking as ``chunk_documents``: per doc, n_chunks equals the
    operator's row count and chunk_fp8 equals the md5-prefix of the
    operator's chunk_texts '|'-joined in chunk order; docs with zero
    chunks (empty/NULL text) carry 0/NULL and produce no operator rows.
    Non-degenerate at the test SF (promotion guard)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.operators.packing import (
        chunk_documents,
        chunk_summary_cols,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents")
    summ = docs.select(
        "doc_id", *chunk_summary_cols("text", chunk_tokens=32, overlap=8)
    )
    assert_column_nondegenerate(summ, "n_chunks")
    op = chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)
    ordered = F.array_sort(
        F.collect_list(F.struct("chunk_id", "chunk_text"))
    )
    agg = op.groupBy("id").agg(
        F.count("*").cast("int").alias("n_op"),
        F.substring(
            F.md5(
                F.array_join(
                    F.transform(ordered, lambda s: s.chunk_text), "|"
                )
            ),
            1,
            8,
        ).alias("fp_op"),
    )
    joined = summ.join(
        agg, summ.doc_id == agg.id, "left"
    ).localCheckpoint()
    bad = joined.filter(
        (F.col("n_chunks") > 0)
        & (
            (F.col("n_chunks") != F.col("n_op"))
            | (F.col("chunk_fp8") != F.col("fp_op"))
        )
    )
    assert bad.count() == 0
    # zero-chunk docs: summary says 0/NULL, operator emits nothing
    assert joined.filter(
        (F.col("n_chunks") == 0)
        & (F.col("n_op").isNotNull() | F.col("chunk_fp8").isNotNull())
    ).count() == 0


def _sentence_chunk_summary_cols(src, chunk_tokens):
    """(n_sent_chunks, sent_chunk_fp8) from the one-walk fold, the two
    builders x08 stages through a bound column."""
    from mapreduce_stockheadlines_spark.operators.packing import (
        sentence_chunk_cols_from,
        sentence_chunk_fold_col,
    )

    return sentence_chunk_cols_from(
        sentence_chunk_fold_col(src, chunk_tokens)
    )


def test_sentence_chunk_summary_cols_match_operator(spark, sf_dir):
    """The round-10 x08 registry columns (``sentence_chunk_fold_col``
    through ``sentence_chunk_cols_from``) pin the SAME chunking as
    ``chunk_by_sentences``: per doc, n_sent_chunks equals the
    operator's chunk count and sent_chunk_fp8 equals the md5-prefix of
    the chunk_texts '|'-joined in chunk order,
    over the x08 decorated source (period every 5th word + the
    abbreviation-arm suffix); empty/NULL docs carry 0/NULL.
    Non-degenerate at the test SF (promotion guard)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.operators.packing import (
        chunk_by_sentences,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table
    from mapreduce_stockheadlines_spark.plans.extensions import (
        _SENT_DECO_SUFFIX,
        _SENT_SPLIT5,
    )

    docs = table(spark, sf_dir, "documents").withColumn(
        "_src",
        F.concat(
            F.regexp_replace(F.col("text"), _SENT_SPLIT5, "$1. "),
            F.lit(_SENT_DECO_SUFFIX),
        ),
    )
    summ = docs.select(
        "doc_id", *_sentence_chunk_summary_cols("_src", chunk_tokens=16)
    )
    assert_column_nondegenerate(summ, "n_sent_chunks")
    assert_column_nondegenerate(summ, "sent_chunk_fp8")
    op = chunk_by_sentences(docs, "doc_id", "_src", chunk_tokens=16)
    ordered = F.array_sort(
        F.collect_list(F.struct("chunk_id", "chunk_text"))
    )
    agg = op.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_op"),
        F.substring(
            F.md5(
                F.array_join(
                    F.transform(ordered, lambda s: s.chunk_text), "|"
                )
            ),
            1,
            8,
        ).alias("fp_op"),
    )
    joined = summ.join(
        agg, summ.doc_id == agg.id, "left"
    ).localCheckpoint()
    bad = joined.filter(
        (F.col("n_sent_chunks") > 0)
        & (
            (F.col("n_sent_chunks") != F.col("n_op"))
            | (F.col("sent_chunk_fp8") != F.col("fp_op"))
        )
    )
    assert bad.count() == 0
    assert joined.filter(
        (F.col("n_sent_chunks") == 0)
        & (F.col("n_op").isNotNull() | F.col("sent_chunk_fp8").isNotNull())
    ).count() == 0


def test_sentence_chunk_summary_cols_edge_contracts(spark):
    """Empty / NULL / single-sentence docs under the scalar fold: 0 and
    NULL for no-sentence docs, 1 chunk for a short doc; an oversize
    sentence still lands in one chunk (budget-aligned rule)."""
    df = spark.createDataFrame(
        [
            (1, "short one."),
            (2, ""),
            (3, None),
            (4, "w " * 50 + "end."),  # one 51-token sentence, budget 16
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_sent_chunks, r.sent_chunk_fp8)
        for r in df.select(
            "doc_id", *_sentence_chunk_summary_cols("text", chunk_tokens=16)
        ).collect()
    }
    assert out[1][0] == 1 and out[1][1] is not None
    assert out[2] == (0, None)
    assert out[3] == (0, None)
    assert out[4][0] == 1  # never split mid-sentence


def test_chunk_by_sentences_boundaries_and_abbreviations(spark):
    """Sentence chunking: terminators stay attached, common
    abbreviations don't split, budget-aligned grouping matches the
    paragraph chunker's rule."""
    from mapreduce_stockheadlines_spark.operators.packing import (
        chunk_by_sentences,
    )

    docs = spark.createDataFrame(
        [
            (1, "Dr. Smith arrived early. The market closed higher! "
                "Was it rain? Nobody knew."),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    # budget 8 tokens: sentences have 4 ('Dr. Smith arrived early.'),
    # 4, 3, 2 tokens → cum-before 0, 4, 8, 11 → chunks 0, 0, 1, 1
    out = {
        (r.id, r.chunk_id): r
        for r in chunk_by_sentences(docs, "doc_id", "text", 8).collect()
    }
    assert set(out) == {(1, 0), (1, 1)}
    c0, c1 = out[(1, 0)], out[(1, 1)]
    assert c0.n_sentences == 2 and c1.n_sentences == 2
    # 'Dr.' did not split; the terminator stays with its sentence
    assert c0.chunk_text == (
        "Dr. Smith arrived early. The market closed higher!"
    )
    assert c1.chunk_text == "Was it rain? Nobody knew."
    assert c0.n_chunk_tokens == 8 and c1.n_chunk_tokens == 5
    assert not c0.has_oversize_sentence


def test_chunk_by_sentences_oversize_flag(spark):
    from mapreduce_stockheadlines_spark.operators.packing import (
        chunk_by_sentences,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven. ok.")],
        "doc_id long, text string",
    )
    rows = chunk_by_sentences(docs, "doc_id", "text", 3).collect()
    assert any(r.has_oversize_sentence for r in rows)


def test_cdc_chunk_summary_matches_python_reference(spark, sf_dir):
    """Round-11 promotion pin: content-defined chunking
    (packing.cdc_cuts_col — Rabin rolling-hash boundaries with the
    FastCDC min-size guard) must reproduce an independent pure-python
    greedy walk boundary-for-boundary on real corpus docs."""
    import hashlib
    import re

    from conftest import cdc_summary

    from mapreduce_stockheadlines_spark.plans.catalog import table

    def ref(text, k=5, divisor=64, rem=0, min_size=16):
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        if len(norm) < k:
            return (0, None)
        grams = [
            sum(ord(norm[i + j]) * 131 ** (k - 1 - j) for j in range(k))
            % 1_000_003
            for i in range(len(norm) - k + 1)
        ]
        # last inits at 1: the first chunk spans [1, cut), so the
        # min_size floor applies to it exactly like every later chunk
        cuts, last = [], 1
        for pos, h in enumerate(grams, start=1):
            if h % divisor == rem and pos - last >= min_size:
                cuts.append(pos)
                last = pos
        csv = "".join(f",{c}" for c in cuts)
        return (
            len(cuts) + 1,
            hashlib.md5(csv.encode()).hexdigest()[:8],
        )

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    got = {
        r.id: (r.n_cdc_chunks, r.cdc_fp8)
        for r in cdc_summary(docs, "doc_id", "text").collect()
    }
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert got == {d: ref(t) for d, t in texts.items()}
    # the boundary walk actually cut somewhere (not all single-chunk)
    assert any(n > 1 for n, _ in got.values())


def test_cdc_edge_contracts_and_x08_columns(spark, sf_dir):
    """CDC edge contracts (empty/NULL/short docs -> 0/NULL; a doc with
    grams but no qualifying boundary -> 1 chunk, md5('') digest) plus
    the x08 registry nondegeneracy guard and the oracle's unroll-depth
    bound (no doc may need more greedy steps than the DuckDB twin
    unrolls)."""
    import hashlib

    from conftest import assert_column_nondegenerate, cdc_summary

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x08_text_stats,
    )

    rows = [
        (1, None),
        (2, ""),
        (3, "abc"),  # shorter than k=5 normalized chars
        (4, "zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: (r.n_cdc_chunks, r.cdc_fp8)
        for r in cdc_summary(df, "doc_id", "text").collect()
    }
    assert out == {1: (0, None), 2: (0, None), 3: (0, None), 4: (0, None)}
    # a real gram array with no boundary candidate at all still yields
    # the whole-doc chunk and the empty-cut-list digest
    empty8 = hashlib.md5(b"").hexdigest()[:8]
    df2 = spark.createDataFrame(
        [(1, "abcdef")], "doc_id long, text string"
    )
    got2 = cdc_summary(
        df2, "doc_id", "text", divisor=1_000_003, rem=1_000_002
    ).collect()[0]
    # 'abcdef' has exactly two grams hashing to 431031 and 195445 —
    # rem 1000002 matches neither, so zero cuts: one whole-doc chunk
    # with the empty-cut-list digest
    assert (got2.n_cdc_chunks, got2.cdc_fp8) == (1, empty8)

    x08 = x08_text_stats(spark, sf_dir)
    assert_column_nondegenerate(x08, "n_cdc_chunks", f"at {sf_dir}")
    assert_column_nondegenerate(x08, "cdc_fp8", f"at {sf_dir}")
    # oracle unroll bound: the DuckDB twin unrolls 64 greedy steps, so
    # no doc may accept more than 64 cuts (n_cdc_chunks <= 65). Checked
    # via an AGGREGATE, not a filter: a pushed-down predicate on the
    # derived column would inline the staged CDC fold below the
    # projections (the explode_outer/InferFiltersFromGenerate lesson,
    # filter-pushdown flavor) and run the fused O(n^2 k) form.
    assert x08.agg(F.max("n_cdc_chunks")).first()[0] <= 65


def test_cdc_oracle_overflow_guard_fires(sf_dir):
    """Round-12 advice fix: the DuckDB twin's unrolled greedy walk must
    raise an EXPLICIT overflow through error() when a doc would accept
    more cuts than the unroll depth — never silently truncate into a
    downstream hash mismatch. max_steps=1 over the real corpus (where
    many docs accept >= 2 cuts) must blow; the shipped depth of 64 must
    stay quiet (x08's oracle hash-match plus the n_cdc_chunks <= 65
    aggregate pin cover that side)."""
    import duckdb
    import pytest

    from mapreduce_stockheadlines_spark.plans.extensions import (
        _cdc_sql_ctes,
        _winnow_sql_ctes,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    body = "WITH {w},\n{c}\nSELECT max(n_cdc_chunks) FROM cdc"
    with pytest.raises(duckdb.Error, match="overflow"):
        con.sql(
            body.format(
                w=_winnow_sql_ctes("documents", "w"),
                c=_cdc_sql_ctes(max_steps=1),
            )
        ).fetchall()
    # and the same query at a sufficient depth returns without raising
    assert (
        con.sql(
            body.format(
                w=_winnow_sql_ctes("documents", "w"),
                c=_cdc_sql_ctes(max_steps=64),
            )
        ).fetchall()[0][0]
        <= 65
    )


def test_cdc_chunks_rows_consistent_with_summary(spark, sf_dir):
    """cdc_chunks (the chunk-ROW form) must agree with the registry
    summary columns structurally: chunks concatenate back to the
    normalized text, cut positions recovered from chunk lengths
    reproduce cdc_fp8 and the row count equals n_cdc_chunks; and the
    chunk TEXTS match an independent pure-python greedy walk. Gram-less
    docs produce no rows."""
    import hashlib
    import re

    from conftest import cdc_summary

    from mapreduce_stockheadlines_spark.operators.packing import cdc_chunks
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    rows = cdc_chunks(docs, "doc_id", "text").collect()
    summ = {
        r.id: (r.n_cdc_chunks, r.cdc_fp8)
        for r in cdc_summary(docs, "doc_id", "text").collect()
    }
    texts = {r.doc_id: r.text for r in docs.collect()}

    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.id, []).append((r.chunk_id, r.chunk_text))
        assert r.n_chunk_chars == len(r.chunk_text) > 0
    for did, pieces in by_doc.items():
        pieces.sort()
        assert [c for c, _ in pieces] == list(range(len(pieces)))
        norm = re.sub(r"\s+", " ", texts[did].lower()).strip()
        assert "".join(t for _, t in pieces) == norm
        # cuts from chunk lengths: cut_i = 1 + len(chunks[0..i])
        cuts, acc = [], 0
        for _, t in pieces[:-1]:
            acc += len(t)
            cuts.append(acc + 1)
        csv = "".join(f",{c}" for c in cuts)
        fp = hashlib.md5(csv.encode()).hexdigest()[:8]
        assert summ[did] == (len(pieces), fp)
    # every doc with chunks per the summary produced rows, and only those
    assert set(by_doc) == {d for d, (n, _) in summ.items() if n > 0}

    # edge contracts: NULL/short docs emit no rows
    edge = spark.createDataFrame(
        [(1, None), (2, ""), (3, "abc")], "doc_id long, text string"
    )
    assert cdc_chunks(edge, "doc_id", "text").count() == 0

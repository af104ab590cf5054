"""End-to-end curation pipeline invariants (jobs/pipeline.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.jobs.pipeline import curate
from mapreduce_stockheadlines_spark.operators import textstats as TS
from mapreduce_stockheadlines_spark.plans.catalog import table


def test_curate_invariants(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    out = curate(docs, lang="en", min_quality=0.4, jaccard_threshold=0.8)
    pdf = out.toPandas()
    assert len(pdf) > 0
    # survivors are input rows
    in_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert set(pdf.doc_id) <= in_ids
    # no exact content duplicates survive
    assert pdf.text.nunique() == len(pdf)
    # every survivor passes the gates it was filtered on
    assert (pdf.quality >= 0.4).all()
    langs = {
        r.doc_id: r.pred_lang
        for r in TS.text_stats(docs, "doc_id", "text").collect()
    }
    assert all(langs[d] == "en" for d in pdf.doc_id)
    # token columns are present and consistent
    assert (pdf.n_ws_tokens > 0).all()
    assert (pdf.n_bpe_tokens >= pdf.n_ws_tokens).all()


def test_curate_drops_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base, "s"),
        (2, base + " extra", "s"),  # near-dup of 1 (high shingle overlap)
        (3, "completely different content about the weather in spring", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(docs, lang="en", min_quality=0.0, jaccard_threshold=0.5)
    ids = sorted(r.doc_id for r in out.select("doc_id").collect())
    # 2 dropped as near-dup of 1 (higher id loses); 1 and 3 survive
    assert 2 not in ids
    assert 1 in ids and 3 in ids


def test_curate_fix_mojibake_stage(spark):
    """The repair runs BEFORE exact dedup: a doc that is the cp1252
    mojibake of another collapses onto it (min-id survivor) once
    fix_mojibake=True, and both survive when the stage is off."""
    clean = "the naïve café crew met again and again — the best of the day"
    broken = clean.encode("utf-8").decode("cp1252")
    rows = [
        (1, clean, "s"),
        (2, broken, "s"),
        (3, "completely different content about the weather in spring", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # off-branch: the mojibake twin is token-IDENTICAL to its original under
    # the ASCII tokenizer (O6 strips non-[a-zA-Z ]), so any near-dup threshold
    # < 1.0 collapses it regardless of this stage; 1.0 (strict >) never fires,
    # isolating the exact-digest stage this test is about.
    off = curate(docs, lang="en", min_quality=0.0, jaccard_threshold=1.0)
    assert sorted(r.doc_id for r in off.select("doc_id").collect()) == [1, 2, 3]
    on = curate(
        docs, lang="en", min_quality=0.0, jaccard_threshold=1.0, fix_mojibake=True
    )
    got = {r.doc_id: r.text for r in on.select("doc_id", "text").collect()}
    assert sorted(got) == [1, 3]
    assert got[1] == clean


def test_curate_near_dup_removal_is_transitive(spark):
    """A~B and B~C must collapse the whole chain to its min-id rep even if
    (A, C) never verifies as a pair directly — the component stage, not
    per-pair drops (which would keep a spurious survivor)."""
    a = "the alpha and beta of the gamma is delta epsilon zeta eta theta"
    b = a + " lambda mu"              # near-dup of a
    c = b + " nu xi omicron"          # near-dup of b, farther from a
    rows = [(1, a, "s"), (2, b, "s"), (3, c, "s"),
            (4, "entirely different words about markets and weather", "s")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(docs, lang="en", min_quality=0.0, jaccard_threshold=0.5)
    ids = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert ids == [1, 4]


def test_curate_with_packing(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    out = curate(docs, lang="en", min_quality=0.4, pack_budget=256).toPandas()
    assert "pack_id" in out.columns and "truncate" in out.columns
    sums = out[~out["truncate"]].groupby("pack_id").n_ws_tokens.sum()
    assert (sums <= 256).all()
    assert out.doc_id.is_unique


def test_pipeline_cli_split(spark, tmp_path):
    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    out = str(tmp_path / "out")
    main([out, "--sf-dir", "/root/testdata/sf0.001", "--min-quality", "0.3",
          "--pack-budget", "512", "--test-fraction", "0.2"])
    train = spark.read.parquet(f"{out}/train")
    test = spark.read.parquet(f"{out}/test")
    tr = {r.doc_id for r in train.select("doc_id").collect()}
    te = {r.doc_id for r in test.select("doc_id").collect()}
    assert tr and te and tr.isdisjoint(te)


def test_curate_scrubs_pii(spark):
    rows = [
        (1, "the market news today reach me at alice@corp.example.com for "
            "more details about the quarterly earnings and the outlook", "s"),
        (2, "entirely different words about sports and the weather today "
            "with no sensitive content at all in the entire text", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in curate(
        docs, lang="en", min_quality=0.0, jaccard_threshold=0.5
    ).collect()}
    assert out[1].n_pii == 1
    assert "<EMAIL>" in out[1].text and "alice@" not in out[1].text
    assert out[2].n_pii == 0


def test_pipeline_cli_decontaminate(spark, tmp_path):
    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    out = str(tmp_path / "out")
    main([out, "--sf-dir", "/root/testdata/sf0.001", "--min-quality", "0.0",
          "--test-fraction", "0.3", "--max-containment", "0.15"])
    train = spark.read.parquet(f"{out}/train")
    test = spark.read.parquet(f"{out}/test")
    # decontamination holds: no surviving train doc has >15% of its
    # distinct 3-grams inside the held-out set
    cont = TS.ngram_contamination(train, test, "doc_id", "text")
    assert cont.filter(F.col("containment") > 0.15).count() == 0
    assert train.count() > 0 and test.count() > 0


def test_curate_with_quantile_gate_and_chunking(spark, sf_dir):
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents")
    base = curate(docs, lang="en", min_quality=0.0)
    out = curate(
        docs,
        lang="en",
        min_quality=0.0,
        keep_top=0.5,
        chunk_tokens=32,
        chunk_overlap=4,
    ).toPandas()
    n_base = base.count()
    # quantile gate kept roughly half the quality distribution
    n_parents = out.parent_doc_id.nunique()
    assert 0.4 * n_base <= n_parents <= 0.6 * n_base
    # every chunk respects the token budget and ids are composite
    assert (out.n_ws_tokens <= 32).all()
    assert (out.doc_id == out.parent_doc_id * (1 << 20) + out.chunk_id).all()
    # chunks carry the parent's metadata columns
    assert {"source", "quality", "n_pii"} <= set(out.columns)
    # quality survived the gate
    thr = base.toPandas().quality.quantile(0.5)
    assert out.quality.min() >= thr - 0.05


def test_curate_blocklist_and_boilerplate_stages(spark):
    """The optional leading stages: a doc referencing a blocked domain is
    dropped outright; cross-doc repeated lines vanish BEFORE dedup, so
    two docs identical except for their (different) boilerplate headers
    collapse to one survivor."""
    rows = [
        (1, "HEADER X\nthe quick brown fox jumps over the lazy dog", "s"),
        (2, "HEADER Y\nthe slow green turtle walks under the happy sun", "s"),
        (3, "HEADER X\nsee https://bad.example.net/x for the details", "s"),
        (4, "HEADER X\nHEADER Y\nthe completely different content about the weather", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    blocked = spark.createDataFrame([("example.net",)], ["domain"])
    out = curate(
        docs,
        lang="en",
        min_quality=0.0,
        jaccard_threshold=0.99,
        blocked_domains=blocked,
        strip_boilerplate=True,
    )
    ids = sorted(r.doc_id for r in out.select("doc_id").collect())
    # 3: blocked domain — removed BEFORE the line census, so only the
    # surviving docs define boilerplate: X repeats in 1+4, Y in 2+4 ->
    # both stripped everywhere; each doc's own content line is unique
    # (a cross-doc repeated content line would be stripped too — that IS
    # the operator's contract) so 1, 2, 4 all survive, headerless
    assert ids == [1, 2, 4]
    texts = {r.doc_id: r.text for r in out.select("doc_id", "text").collect()}
    assert not any("HEADER" in t for t in texts.values())


def test_curate_dup_window_gate(spark):
    """The duplicated-window gate drops a rewrapped partial copy that
    survives both exact and near-dup (Jaccard) removal."""
    shared = "the quarterly earnings call revealed strong growth across all segments"
    rows = [
        (1, shared + " while analysts noted some concerns about margins", "s"),
        # doc 2: mostly the shared passage plus DISTINCT framing — below
        # the 0.8 Jaccard near-dup bar but mostly duplicated windows
        (2, "breaking report " + shared + " more below", "s"),
        (3, "entirely unrelated discussion of weather patterns and sports", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    base = curate(docs, lang="en", min_quality=0.0, jaccard_threshold=0.95)
    assert sorted(r.doc_id for r in base.select("doc_id").collect()) == [1, 2, 3]
    gated = curate(
        docs, lang="en", min_quality=0.0, jaccard_threshold=0.95,
        max_dup_window_fraction=0.5, dup_window_tokens=3,
    )
    ids = sorted(r.doc_id for r in gated.select("doc_id").collect())
    assert 3 in ids and 2 not in ids  # mostly-shared doc dropped


def test_curate_reliable_checkpoint_path(spark, tmp_path):
    """A configured checkpoint dir is the one switch: curate, with no
    flag of its own, writes its lineage cuts there as reliable
    checkpoints and keeps the same docs as a run without a dir."""
    import os

    a = "the alpha and beta of the gamma is delta epsilon zeta eta theta"
    rows = [(1, a, "s"), (2, a + " lambda mu", "s"),
            (3, "entirely different words about markets and weather", "s")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    def kept():
        out = curate(docs, lang="en", min_quality=0.0, jaccard_threshold=0.5)
        return sorted(r.doc_id for r in out.select("doc_id").collect())

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = kept()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = kept()
    finally:
        # the session fixture is shared: later tests keep local cuts
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None
    assert local == reliable == [1, 3]
    ckpt = tmp_path / "ckpt"
    assert any(f for _, _, fs in os.walk(ckpt) for f in fs)  # files written


def test_pipeline_cli_checkpoint_dir_is_cleaned_up(spark, tmp_path):
    """``--checkpoint-dir`` leaves no checkpoint files behind and no
    checkpoint dir set on the shared session after the run."""
    import os

    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    ckpt = tmp_path / "ckpt"
    main([str(tmp_path / "out"), "--sf-dir", "/root/testdata/sf0.001",
          "--checkpoint-dir", str(ckpt)])
    assert spark.read.parquet(str(tmp_path / "out")).count() > 0
    assert not [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert spark.sparkContext.getCheckpointDir() is None


def _curate_pinned_output(spark):
    """The fixed-flag full-chain run the content pin is computed over:
    blocklist + boilerplate strip + exact dedup + near-dup + PII +
    lang/quality + chunking + token accounting + packing + hash split +
    decontamination — every stage from VERDICT r4 #7, all deterministic
    (packing sorts within hash-partitioned groups; no approx sketches).
    Planted doc_id-derived URLs and line structure give the blocklist
    and boilerplate stages real work on the URL-free synthetic docs."""
    from mapreduce_stockheadlines_spark.jobs.pipeline import curate
    from mapreduce_stockheadlines_spark.operators import sampling as SA
    from mapreduce_stockheadlines_spark.plans.catalog import parallel_table

    docs = parallel_table(spark, "/root/testdata/sf0.01", "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.lit("NAV HEADER v"), (did % 3).cast("string"), F.lit("\n"),
        F.col("text"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("\nsee http://ads"), (did % 3).cast("string"),
                F.lit(".spam-net.biz/x"),
            ),
        ).otherwise(F.lit("")),
        F.lit("\nfooter "), did.cast("string"),
    )
    docs = docs.withColumn("text", aug)
    blocked = spark.createDataFrame([("spam-net.biz",)], ["domain"])
    out = curate(
        docs,
        lang="en",
        min_quality=0.3,
        jaccard_threshold=0.8,
        chunk_tokens=64,
        chunk_overlap=8,
        pack_budget=256,
        blocked_domains=blocked,
        strip_boilerplate=True,
    )
    train, test = SA.train_test_split(out, "doc_id", 0.2)
    cont = TS.ngram_contamination(train, test, "doc_id", "text")
    dirty = cont.filter(F.col("containment") > 0.5).select("doc_id")
    train = train.join(dirty, "doc_id", "left_anti")
    return train, test


def _canonical_digest(split_frames) -> str:
    """sha256 over the sorted canonical rows of every (tag, DataFrame)."""
    import hashlib

    lines = []
    for tag, df in split_frames:
        rows = df.select(
            "doc_id",
            "parent_doc_id",
            "chunk_id",
            F.md5(F.col("text").cast("binary")).alias("text_fp"),
            "source",
            F.round("quality", 4).alias("q"),
            "n_pii",
            "n_ws_tokens",
            "n_bpe_tokens",
            "pack_id",
            "truncate",
        ).collect()
        lines.extend(
            f"{tag}|{r.doc_id}|{r.parent_doc_id}|{r.chunk_id}|{r.text_fp}|"
            f"{r.source}|{r.q}|{r.n_pii}|{r.n_ws_tokens}|{r.n_bpe_tokens}|"
            f"{r.pack_id}|{r.truncate}"
            for r in rows
        )
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def test_curate_end_to_end_content_pin(spark):
    """VERDICT r4 #7: the COMPOSITION is pinned, not just the stages —
    this digest moves if any stage's semantics drift (survivor sets,
    redacted text, chunk boundaries, pack assignment, split membership,
    decontamination). Recompute deliberately after an intended semantic
    change:

        python - <<'PY'
        from tests.test_pipeline import _curate_pinned_output, _canonical_digest
        from mapreduce_stockheadlines_spark.session import get_spark
        spark = get_spark('pin')
        tr, te = _curate_pinned_output(spark)
        print(_canonical_digest([('train', tr), ('test', te)]))
        PY
    """
    train, test = _curate_pinned_output(spark)
    n_train, n_test = train.count(), test.count()
    assert n_train > 0 and n_test > 0
    digest = _canonical_digest([("train", train), ("test", test)])
    assert digest == (
        "7d8acb562e9c86687231616955eedfb35c46a8eb4555ae403b9277a8a677f7fd"
    )


def test_curate_model_quality_gates(spark):
    """The classifier floor (real weight table) and the perplexity
    ceiling drop exactly the documents the standalone operators flag —
    and the gates compose with the rest of the pipeline."""
    from mapreduce_stockheadlines_spark.operators import relevance as RV
    from mapreduce_stockheadlines_spark.operators import textstats as TSX

    fluent = (
        "the market is strong and the outlook for the quarter is good "
        "because the earnings of the company are strong"
    )
    junky = "zxqj vvkw qqpl mmtr zzed ghrw zxqj vvkw qqpl mmtr"
    rows = [
        (1, fluent, "a"),
        (2, "the market is weak but the outlook for the year is fair "
            "because the earnings of the sector are stable", "a"),
        (3, junky, "a"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    weights = spark.createDataFrame(
        [("market", 2.0), ("outlook", 2.0), ("earnings", 2.0),
         ("zxqj", -5.0), ("vvkw", -5.0)],
        ["token", "weight"],
    )

    # expected survivors from the standalone operators, same settings
    clf = TSX.classifier_score(docs, "doc_id", "text", weights=weights)
    clf_pass = {r.doc_id for r in clf.filter(F.col("clf_score") >= 0.5).collect()}
    lm, ctx, v = RV.train_bigram_lm(docs, "doc_id", "text")
    ppl = RV.lm_perplexity(docs, lm, ctx, v, "doc_id", "text")
    ppl_vals = {r.doc_id: r.ppl for r in ppl.collect()}
    cut = sorted(ppl_vals.values())[1]  # keep the two most fluent
    ppl_pass = {d for d, p in ppl_vals.items() if p <= cut}

    out = curate(
        docs,
        lang="en",
        min_quality=0.0,
        min_clf_score=0.5,
        clf_weights=weights,
        max_perplexity=cut,
    )
    got = {r.doc_id for r in out.select("doc_id").collect()}
    # lang gate: all three docs must come through it identically, so the
    # model gates alone decide — junk doc 3 is out on both signals
    assert 3 not in got
    assert got == clf_pass & ppl_pass & {1, 2, 3}


def test_embed_pipeline_build_and_search(spark, tmp_path, sf_dir):
    """Vector-side pipeline end to end: semantic dedup drops planted
    copies, quantization attaches codes, the persisted IVF index serves
    search without retraining, and the served neighbors match running
    ivf_topk directly on the same centroids."""
    from mapreduce_stockheadlines_spark.jobs.embed_pipeline import (
        build_index,
        curate_embeddings,
        load_centroids,
    )
    from mapreduce_stockheadlines_spark.operators import similarity as S

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    copies = emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    both = emb.unionByName(copies)

    out = curate_embeddings(
        both, sem_threshold=0.99, n_clusters=4, train_iters=1, quantize=True
    )
    out_dir = str(tmp_path / "vec")
    out.write.mode("overwrite").parquet(f"{out_dir}/corpus")
    kept = spark.read.parquet(f"{out_dir}/corpus")
    assert sorted(r.vec_id for r in kept.select("vec_id").collect()) == sorted(
        r.vec_id for r in emb.select("vec_id").collect()
    )
    assert {"qvec", "scale", "rmse"} <= set(kept.columns)

    build_index(kept, out_dir, n_centroids=4, train_iters=1)
    cent = load_centroids(spark, out_dir)
    assert cent.shape == (4, 64)

    queries = kept.filter(F.col("vec_id") < 2)
    served = S.ivf_topk(queries, kept, k=5, n_probe=2, centroids=cent)
    # the REAL parity claim: persisted-and-loaded centroids must serve
    # the same neighbors as training fresh with identical parameters
    # (kmeans init is deterministic), so load_centroids round-trips
    direct = S.ivf_topk(
        queries, kept, k=5, n_probe=2, n_centroids=4, train_iters=1
    )
    got = sorted(map(tuple, served.collect()))
    assert got == sorted(map(tuple, direct.collect()))
    assert len(got) > 0


def test_curate_repetition_gate(spark):
    """The Gopher repetition gate drops the looping doc and keeps
    normal prose, matching the standalone repetition_stats decision."""
    from mapreduce_stockheadlines_spark.operators import textstats as TSX

    loop = "the market is up " * 20
    prose = (
        "the market closed higher today while energy shares lagged and "
        "investors rotated into defensive sectors before the fed meeting"
    )
    docs = spark.createDataFrame(
        [(1, prose, "a"), (2, loop, "a")],
        "doc_id long, text string, source string",
    )
    rep = {
        r.doc_id: r.dup_fraction
        for r in TSX.repetition_stats(
            docs, "doc_id", "text", ngram_ns=(3,)
        ).collect()
    }
    assert rep[2] > 0.9 and rep[1] < 0.5
    out = curate(
        docs, lang="en", min_quality=0.0, max_dup_ngram_fraction=0.5
    )
    assert [r.doc_id for r in out.select("doc_id").collect()] == [1]


def test_corpus_report_values(spark):
    """The report's metric rows agree with directly-computed values on a
    corpus with known composition (one exact dup pair, one URL doc)."""
    from mapreduce_stockheadlines_spark.jobs.report import corpus_report

    rows = [
        (1, "the market is strong and the outlook is good today"),
        (2, "the market is strong and the outlook is good today"),  # dup
        (3, "see https://example.com for more on the market trend"),
        (4, "der markt ist stark und die aussicht ist gut heute ja"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rep = {
        r.metric: r.value
        for r in corpus_report(docs, "doc_id", "text").collect()
    }
    assert rep["n_docs"] == 4.0
    assert {"quality_p25", "quality_p50", "quality_p75"} <= set(rep)
    assert rep["quality_p25"] <= rep["quality_p50"] <= rep["quality_p75"]
    assert rep["exact_dup_frac"] == 0.25  # 1 redundant copy of 4 docs
    assert rep["docs_with_urls_frac"] == 0.25
    assert rep["lang_frac_en"] == 0.75
    assert rep["lang_frac_de"] == 0.25
    import re

    def cleaned_tokens(t):
        return len(re.sub(r"[^a-z ]", " ", t.lower()).split())

    assert rep["total_ws_tokens"] == sum(cleaned_tokens(t) for _, t in rows)
    assert 0.0 < rep["clf_score_mean"] < 1.0
    # docs 1/2 are verbatim copies: every window duplicated (frac 1.0
    # each), docs 3/4 share nothing 8 tokens long -> mean = 2/4
    assert rep["dup_window_frac_mean"] == 0.5
    # all four docs are ~10 words: every one fails Gopher's >= 50 word
    # rule and C4's >= 3 sentence rule
    assert rep["gopher_kept_frac"] == 0.0
    assert rep["c4_kept_frac"] == 0.0
    # round-12 rows — duplicated-span incidence: the verbatim pair 1/2
    # shares every winnow fingerprint (>= 5), docs 3/4 share only
    # incidental common-5-gram hashes (< 5) -> 2 of 4 docs paired
    assert rep["winnow_pair_doc_frac"] == 0.5
    # CDC chunk stats at the curate default geometry (min_size=64):
    # every ~50-char doc is a single whole-doc chunk whose size is its
    # normalized length
    assert rep["cdc_chunks_per_doc_mean"] == 1.0
    norm_lens = sorted(
        float(len(re.sub(r"\s+", " ", t.lower()).strip())) for _, t in rows
    )
    qs = [
        rep["cdc_chunk_chars_p25"],
        rep["cdc_chunk_chars_p50"],
        rep["cdc_chunk_chars_p75"],
    ]
    assert qs == sorted(qs)
    assert all(q in norm_lens for q in qs)


def test_gates_pass_unscorable_docs(spark):
    """Docs the scorers cannot score — shorter than the n-gram order,
    zero tokens after cleaning — must PASS the repetition/classifier/
    perplexity gates (gates act on positive evidence only), never be
    silently dropped by a missing aggregate row. The lang gate is held
    open (these docs read as 'unknown') to isolate the model gates."""
    docs = spark.createDataFrame(
        [
            (2, "ok", "a"),            # 1 token: no 3-gram stats row
            (3, "2024 +5% !!", "a"),   # 0 tokens after cleaning
        ],
        "doc_id long, text string, source string",
    )
    out = curate(
        docs,
        lang="unknown",
        min_quality=0.0,
        max_dup_ngram_fraction=0.5,
        min_clf_score=0.0,
        max_perplexity=1e9,
    )
    got = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert got == [2, 3]  # every unscoring gate passes them through


def test_curate_encode_and_pack_by_encoded_length(spark):
    """--encode-vocab-top attaches ordered token-id sequences and makes
    packing budget by encoded length: every doc's token_ids length
    equals its n_vocab_tokens, ids beyond top-V collapse to unk 0, and
    no pack exceeds the budget in encoded tokens."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (
            i,
            "the market and the outlook of "
            + " ".join(words[j % 6] for j in range(i, i + 5)),
            "a",
        )
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(
        docs,
        lang="en",
        min_quality=0.0,
        encode_vocab_top=4,
        pack_budget=30,
    ).collect()
    assert out  # survivors exist (identical texts dedup to 3 variants)
    for r in out:
        assert len(r.token_ids) == r.n_vocab_tokens
        assert r.n_unk == sum(1 for t in r.token_ids if t == 0)
        assert max(r.token_ids) <= 4  # top-V cap: everything else unk
    # per-pack encoded totals respect the budget (modulo the packer's
    # oversize-doc truncate flag)
    from collections import defaultdict

    packs = defaultdict(int)
    for r in out:
        if not r.truncate:
            packs[r.pack_id] += r.n_vocab_tokens
    assert packs and all(total <= 30 for total in packs.values())


def test_curate_encode_tokenless_doc_gets_empty_sequence(spark):
    """A surviving doc with NO [a-z] tokens gets an EMPTY token_ids
    array and zero counts — never NULL model-ready columns — and
    encode_vocab_top < 1 is rejected outright (vocabulary() would treat
    0 as 'no cap')."""
    import pytest

    docs = spark.createDataFrame(
        [
            (1, "the market and the outlook are good", "a"),
            (2, "1234 --- 5678 !!", "a"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: r
        for r in curate(
            docs, lang="unknown", min_quality=0.0, encode_vocab_top=10
        )
        .filter(F.col("doc_id") == 2)
        .collect()
    }
    if 2 in out:  # survives the open gates
        assert out[2].token_ids == []
        assert out[2].n_vocab_tokens == 0 and out[2].n_unk == 0

    with pytest.raises(ValueError, match="encode_vocab_top"):
        curate(docs, encode_vocab_top=0)


def test_pipeline_cli_sized_output(spark, tmp_path):
    """--files-per-partition bounds parquet files per source= directory
    in the CLI output."""
    import glob

    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    out = str(tmp_path / "out")
    main([out, "--sf-dir", "/root/testdata/sf0.001", "--min-quality", "0.0",
          "--files-per-partition", "2"])
    dirs = glob.glob(f"{out}/source=*")
    assert dirs
    for d in dirs:
        n = len(glob.glob(f"{d}/*.parquet"))
        assert 1 <= n <= 2, f"{d} has {n} files"


def test_pipeline_cli_shuffle_plus_sized_output_preserves_order(spark, tmp_path):
    """--shuffle-output + --files-per-partition must keep the md5
    training order WITHIN each written file (the sized repartition
    would otherwise discard it silently)."""
    import glob
    import hashlib

    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    out = str(tmp_path / "out")
    main([out, "--sf-dir", "/root/testdata/sf0.001", "--min-quality", "0.0",
          "--files-per-partition", "2", "--shuffle-output"])

    def md5key(doc_id):
        return hashlib.md5(f"shuffle:{doc_id}".encode()).hexdigest()

    for f in glob.glob(f"{out}/source=*/*.parquet"):
        ids = [r.doc_id for r in spark.read.parquet(f).collect()]
        assert ids == sorted(ids, key=lambda d: (md5key(d), str(d)))


def test_curate_bpe_encode_and_pack_by_piece_count(spark):
    """--encode-bpe-merges attaches subword piece-id sequences: every
    doc's piece_token_ids length equals n_bpe_pieces, pieces
    concatenate back to the doc's tokens, packing budgets by piece
    count, and combining the two encode stages is rejected."""
    import pytest

    from mapreduce_stockheadlines_spark.operators import bpe as B

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (
            i,
            "the market and the outlook of "
            + " ".join(words[j % 6] for j in range(i, i + 5)),
            "a",
        )
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(
        docs,
        lang="en",
        min_quality=0.0,
        bpe_merges=20,
        pack_budget=60,
    ).collect()
    assert out
    merges, alphabet = B.train_bpe(
        curate(docs, lang="en", min_quality=0.0), "text", 20
    )
    ranks = {p: i for i, p in enumerate(merges)}
    ids = B.piece_id_map(merges, alphabet)
    for r in out:
        assert len(r.piece_token_ids) == r.n_bpe_pieces
        toks = [w for w in r.text.lower().split() if w]
        want = [ids[p] for w in toks for p in B._encode_word(w, ranks)]
        assert r.piece_token_ids == want
    from collections import defaultdict

    packs = defaultdict(int)
    for r in out:
        if not r.truncate:
            packs[r.pack_id] += r.n_bpe_pieces
    assert packs and all(total <= 60 for total in packs.values())

    with pytest.raises(ValueError, match="one encode stage"):
        curate(docs, encode_vocab_top=5, bpe_merges=5)


def test_pipeline_cli_bpe_artifact_round_trip(spark, tmp_path, sf_dir):
    """Train + save a BPE artifact, then run the pipeline CLI with
    --bpe-dir: the pretrained tokenizer encodes the corpus and the
    output carries piece-id sequences."""
    from mapreduce_stockheadlines_spark.jobs.pipeline import main
    from mapreduce_stockheadlines_spark.operators import bpe as B

    ref = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges, alphabet = B.train_bpe(ref, "text", 30)
    bpe_dir = str(tmp_path / "bpe")
    B.save_bpe(spark, merges, alphabet, bpe_dir)

    out = str(tmp_path / "out")
    main([out, "--sf-dir", sf_dir, "--min-quality", "0.0",
          "--bpe-dir", bpe_dir])
    got = spark.read.parquet(out)
    rows = got.limit(5).collect()
    assert rows
    for r in rows:
        assert len(r.piece_token_ids) == r.n_bpe_pieces


def test_corpus_drift_report_values(spark):
    """Drift rows: JS divergence matches a hand computation, vocab
    Jaccard counts shared terms, top rows name the diverging terms."""
    import math

    from mapreduce_stockheadlines_spark.jobs.report import (
        corpus_drift_report,
    )

    a = spark.createDataFrame(
        [(1, "alpha beta alpha beta")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(1, "alpha beta alpha gamma")], "doc_id long, text string"
    )
    rep = {r.metric: r.value for r in corpus_drift_report(a, b).collect()}
    # hand JS: P = {alpha .5, beta .5}; Q = {alpha .5, beta .25, gamma .25}
    def js(p, q):
        terms = set(p) | set(q)
        s = 0.0
        for t in terms:
            pi, qi = p.get(t, 0.0), q.get(t, 0.0)
            m = (pi + qi) / 2
            if pi:
                s += 0.5 * pi * math.log(pi / m)
            if qi:
                s += 0.5 * qi * math.log(qi / m)
        return s

    want = js(
        {"alpha": 0.5, "beta": 0.5},
        {"alpha": 0.5, "beta": 0.25, "gamma": 0.25},
    )
    assert rep["js_divergence"] == round(want, 4)
    assert rep["vocab_jaccard"] == round(2 / 3, 4)
    # gamma (disjoint) and beta (shifted) carry the drift
    assert "js_top_gamma" in rep and "js_top_beta" in rep
    assert rep["js_top_gamma"] >= rep["js_top_beta"] > 0
    # identical corpora: zero divergence, full overlap
    same = {r.metric: r.value for r in corpus_drift_report(a, a).collect()}
    assert same["js_divergence"] == 0.0
    assert same["vocab_jaccard"] == 1.0

def test_curate_encode_config_errors_raise_before_any_work(spark):
    """Conflicting/degenerate encode configs raise immediately — before
    the eager encode barriers execute the curation chain."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "the market is fine", "a")],
        "doc_id long, text string, source string",
    )
    with pytest.raises(ValueError, match="one encode stage"):
        curate(docs, encode_vocab_top=5, bpe_merges=5)
    with pytest.raises(ValueError, match="mutually exclusive"):
        curate(docs, bpe_merges=5, bpe_model=([], ["a"]))
    with pytest.raises(ValueError, match="bpe_merges must be >= 1"):
        curate(docs, bpe_merges=0)
    with pytest.raises(ValueError, match="encode_vocab_top must be >= 1"):
        curate(docs, encode_vocab_top=0)


def test_corpus_drift_report_tokenless_corpora(spark):
    """A token-less corpus is the zero measure: drift vs a real corpus
    is the defined limit ln(2)/2, never NULL; two token-less corpora
    report zero divergence and full overlap."""
    import math

    from mapreduce_stockheadlines_spark.jobs.report import (
        corpus_drift_report,
    )

    full = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    empty = spark.createDataFrame(
        [(1, "123 !!! 456")], "doc_id long, text string"
    )
    rep = {r.metric: r.value for r in corpus_drift_report(full, empty).collect()}
    assert rep["js_divergence"] == round(math.log(2) / 2, 4)
    assert rep["vocab_jaccard"] == 0.0
    both = {r.metric: r.value for r in corpus_drift_report(empty, empty).collect()}
    assert both["js_divergence"] == 0.0
    assert both["vocab_jaccard"] == 1.0


def test_embed_pipeline_eval_cli(spark, tmp_path, sf_dir, capsys):
    """eval mode prints per-query recall/rr plus macro lines, and the
    perfect-recall case (n_probe = n_centroids = exhaustive probing)
    reports recall 1.0 everywhere."""
    from mapreduce_stockheadlines_spark.jobs.embed_pipeline import main

    out_dir = str(tmp_path / "vec")
    main(["build", out_dir, "--sf-dir", sf_dir, "--build-index",
          "--n-centroids", "4", "--train-iters", "1"])
    main(["eval", out_dir, "--query-ids", "0,1", "--k", "5",
          "--n-probe", "4"])
    lines = [
        ln for ln in capsys.readouterr().out.splitlines()
        if "recall=" in ln
    ]
    assert len(lines) == 3  # 2 queries + macro
    assert lines[-1].startswith("macro\trecall=1.0")
    assert all("recall=1.0" in ln for ln in lines)


def test_report_cli_save_census(spark, tmp_path, sf_dir, capsys):
    """--save-census persists the (term, freq) census whose token total
    equals the report's own total_ws_tokens row."""
    from mapreduce_stockheadlines_spark.jobs.report import main

    census = str(tmp_path / "census")
    main(["--sf-dir", sf_dir, "--save-census", census])
    out = capsys.readouterr().out
    total = next(
        float(ln.split("\t")[1])
        for ln in out.splitlines()
        if ln.startswith("total_ws_tokens")
    )
    got = spark.read.parquet(census).agg(F.sum("freq")).collect()[0][0]
    assert float(got) == total


def test_curate_unicode_normalization_stage(spark):
    """--normalize-unicode folds accents/width before digests and
    tokenization: a composed-accent doc and its decomposed twin become
    EXACT duplicates (one survives), and accented words survive the
    ASCII tokenizer as their stripped forms."""
    rows = [
        (1, "café trading results for the market today", "s"),
        (2, "café trading results for the market today", "s"),
        (3, "a wholly different note about the weather", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(
        docs, lang="en", min_quality=0.0, jaccard_threshold=0.99,
        normalize_unicode_form="NFKC",
    )
    got = {r.doc_id: r.text for r in out.select("doc_id", "text").collect()}
    assert sorted(got) == [1, 3]  # 2 collapsed into 1 as an exact dup
    assert got[1].startswith("cafe trading")
    # without normalization both variants survive exact dedup
    base = curate(docs, lang="en", min_quality=0.0, jaccard_threshold=0.99)
    assert sorted(r.doc_id for r in base.select("doc_id").collect()) == [1, 2, 3]


def test_curate_neardup_keep_best_policy(spark):
    """--neardup-keep-best keeps each near-dup cluster's highest-quality
    doc: a near-dup pair where the HIGHER id is the cleaner text keeps
    that id (min-id default would keep the lower one)."""
    clean = ("the quick brown fox jumps over the lazy dog near the "
             "river and the meadow in the morning light")
    # same content, mangled with junk punctuation -> lower quality score
    dirty = clean + " ### $$$ %%% 123 456 789 000 111"
    rows = [
        (1, dirty, "s"),
        (2, clean, "s"),
        (3, "a wholly different report about markets and weather", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    best = sorted(
        r.doc_id
        for r in curate(
            docs, lang="en", min_quality=0.0, jaccard_threshold=0.5,
            neardup_keep_best=True,
        ).select("doc_id").collect()
    )
    default = sorted(
        r.doc_id
        for r in curate(
            docs, lang="en", min_quality=0.0, jaccard_threshold=0.5,
        ).select("doc_id").collect()
    )
    assert default == [1, 3]  # min id wins
    assert best == [2, 3]     # cleaner text wins


def test_curate_token_budget_gate(spark, sf_dir):
    """--token-budget keeps a best-quality subset whose token mass fits
    the budget; without it the full survivor set flows through."""
    docs = table(spark, sf_dir, "documents")
    base = curate(docs, lang="en", min_quality=0.0).collect()
    total = sum(r.n_ws_tokens for r in base)
    budget = total // 3
    got = curate(docs, lang="en", min_quality=0.0, token_budget=budget).collect()
    kept = sum(r.n_ws_tokens for r in got)
    assert 0 < kept <= budget
    # kept docs are the quality top end: min kept quality >= the
    # quality of every dropped doc below the threshold bin
    kept_ids = {r.doc_id for r in got}
    thr = min(r.quality for r in got)
    assert all(r.quality <= thr or r.doc_id in kept_ids for r in base)


def test_curate_remove_dup_spans_stage(spark):
    """--remove-dup-spans cuts the shared passage out of surviving docs
    (instead of dropping them) and downstream token counts see the
    cleaned text; the unrelated doc's text is untouched."""
    shared = "this viral passage is quoted verbatim in many otherwise original docs"
    rows = [
        (1, "my own analysis of the market is that " + shared
            + " but in the end the data says otherwise", "s"),
        (2, "here is another take on the subject and " + shared
            + " with some original conclusions of note", "s"),
        (3, "entirely unrelated discussion of weather patterns and sports", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(
        docs, lang="en", min_quality=0.0, jaccard_threshold=0.95,
        remove_dup_spans=True, dup_window_tokens=3,
    ).select("doc_id", "text", "n_ws_tokens").collect()
    by_id = {r.doc_id: r for r in out}
    assert sorted(by_id) == [1, 2, 3]  # nothing dropped, spans cut
    for did in (1, 2):
        assert shared not in by_id[did].text
        assert by_id[did].text  # original framing survives
    assert by_id[3].text == rows[2][1]
    # token counts reflect the CLEANED text, not the original
    assert by_id[1].n_ws_tokens == len(by_id[1].text.split())


def test_pipeline_cli_epoch_weights(spark, tmp_path):
    """--epoch-weights replicates per-source with a dense epoch index;
    with --test-fraction the held-out side stays UN-upsampled (an
    upsampled eval set would double-count) and replicas never straddle
    the split."""
    from mapreduce_stockheadlines_spark.jobs.pipeline import main

    out = str(tmp_path / "out")
    main([out, "--sf-dir", "/root/testdata/sf0.001", "--min-quality", "0.0",
          "--test-fraction", "0.25", "--epoch-weights", "src0=2.0,src1=3.0"])
    train = spark.read.parquet(f"{out}/train")
    test = spark.read.parquet(f"{out}/test")
    # named sources replicate by their integer weight; UNLISTED sources
    # pass through once (default_weight=1.0 — the CLI must not silently
    # erase every source the user did not name)
    per = train.groupBy("source", "doc_id").count().collect()
    assert per
    want = {"src0": 2, "src1": 3}
    for r in per:
        assert r["count"] == want.get(r.source, 1), (r.source, r["count"])
    assert "epoch" in train.columns and "epoch" not in test.columns
    tper = test.groupBy("doc_id").count().collect()
    assert tper and all(r["count"] == 1 for r in tper)
    # hash-disjoint: no doc in both sides
    tr = {r.doc_id for r in per}
    te = {r.doc_id for r in tper}
    assert tr.isdisjoint(te)


def test_embed_pipeline_pca_build_and_eval(spark, tmp_path, sf_dir, capsys):
    """--pca-k projects the corpus before indexing (stored vectors are
    k-dim), persists the fit to <out>/pca, prints explained variance,
    and exhaustive-probe eval on the projected corpus still reports
    perfect self-recall (search queries come from the projected corpus,
    so no re-projection step exists to get wrong)."""
    from mapreduce_stockheadlines_spark.jobs.embed_pipeline import main

    out_dir = str(tmp_path / "vec")
    main(["build", out_dir, "--sf-dir", sf_dir, "--pca-k", "8",
          "--build-index", "--n-centroids", "4", "--train-iters", "1"])
    out = capsys.readouterr().out
    ev = next(
        float(ln.split("\t")[3])
        for ln in out.splitlines()
        if ln.startswith("pca.k")
    )
    assert 0.0 < ev <= 1.0
    corpus = spark.read.parquet(f"{out_dir}/corpus")
    assert {len(r.embedding) for r in corpus.select("embedding").collect()} == {8}
    pca = spark.read.parquet(f"{out_dir}/pca")
    assert pca.count() == 9  # mean row (-1) + 8 components
    assert {len(r.vec) for r in pca.collect()} == {64}

    main(["eval", out_dir, "--query-ids", "0,1", "--k", "5",
          "--n-probe", "4"])
    lines = [
        ln for ln in capsys.readouterr().out.splitlines() if "recall=" in ln
    ]
    assert lines and lines[-1].startswith("macro\trecall=1.0")


def test_curate_max_per_domain_gate(spark):
    """--max-per-domain rations survivors per primary registered domain,
    best quality first; docs with no URL at all always survive."""
    # distinct English texts (survive dedup + lang gate) with planted
    # URLs: five docs on flood.com, one on rare.org, one URL-less
    rows = [
        (i, f"the quick brown fox number {w} jumps over the lazy dog and "
            "this is a perfectly normal sentence with common words "
            f"http://www.flood.com/p/{i}")
        for i, w in enumerate(["one", "two", "three", "four", "five"])
    ]
    rows.append((10, "the small clean corpus doc is here with its own "
                     "words and a link http://a.rare.org/x"))
    rows.append((11, "the doc with no link at all still has enough good "
                     "english words to pass the quality gate easily"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    base = curate(docs, lang="en", min_quality=0.0)
    assert base.count() == 7  # no cap: everything survives
    got = curate(docs, lang="en", min_quality=0.0, max_per_domain=2)
    kept = {r.doc_id for r in got.collect()}
    # flood.com capped to its 2 best-quality docs; rare.org (1 doc) and
    # the URL-less doc untouched
    assert 10 in kept and 11 in kept
    assert len([i for i in kept if i < 10]) == 2


def test_embed_pipeline_ivfpq_cli(spark, tmp_path, sf_dir, capsys):
    """--index-type ivfpq persists pq_codebooks next to the coarse
    centroids; search/eval auto-detect the artifact and serve the ADC
    path (printed marker + adc_fp score column), and every returned
    rank list is well-formed. Recall against exact cosine on a
    structureless random corpus is measured, not asserted — that
    trade-off is exactly what eval mode exists to surface."""
    import os

    from mapreduce_stockheadlines_spark.jobs.embed_pipeline import main

    out_dir = str(tmp_path / "vecpq")
    main(["build", out_dir, "--sf-dir", sf_dir, "--build-index",
          "--index-type", "ivfpq", "--n-centroids", "4",
          "--train-iters", "1", "--pq-m", "4", "--pq-ksub", "4"])
    assert os.path.isdir(f"{out_dir}/pq_codebooks")
    cb = spark.read.parquet(f"{out_dir}/pq_codebooks")
    assert cb.count() == 16  # m=4 x ksub=4
    assert {r.sub for r in cb.select("sub").distinct().collect()} == {
        0, 1, 2, 3
    }
    capsys.readouterr()
    main(["search", out_dir, "--query-ids", "0,1", "--k", "3",
          "--n-probe", "4"])
    out = capsys.readouterr().out
    assert "serving IVFPQ (m=4, ksub=4)" in out
    rows = [ln.split("\t") for ln in out.splitlines() if "\t" in ln]
    assert len(rows) == 6  # 2 queries x k=3
    by_q: dict[str, list] = {}
    for q, rank, nid, adc in rows:
        by_q.setdefault(q, []).append((int(rank), int(nid), int(adc)))
    for q, rs in by_q.items():
        rs.sort()
        assert [r[0] for r in rs] == [1, 2, 3]
        assert all(r[1] != int(q) for r in rs)  # self masked
        assert [r[2] for r in rs] == sorted(r[2] for r in rs)
    # eval mode runs the same serving path against exact brute force
    main(["eval", out_dir, "--query-ids", "0,1", "--k", "3",
          "--n-probe", "4"])
    lines = [
        ln for ln in capsys.readouterr().out.splitlines()
        if "recall=" in ln
    ]
    assert len(lines) == 3 and lines[-1].startswith("macro")


def test_embed_pipeline_ivfpq_artifact_lifecycle(spark, tmp_path, sf_dir):
    """Round-8 review findings: a rebuilt plain-IVF index drops the
    stale pq_codebooks artifact (serving must not auto-detect residual
    codebooks trained under retired centroids)."""
    import os

    from mapreduce_stockheadlines_spark.jobs.embed_pipeline import main

    out_dir = str(tmp_path / "veclife")
    main(["build", out_dir, "--sf-dir", sf_dir, "--build-index",
          "--index-type", "ivfpq", "--n-centroids", "4",
          "--train-iters", "1", "--pq-m", "4", "--pq-ksub", "4"])
    assert os.path.isdir(f"{out_dir}/pq_codebooks")
    main(["build", out_dir, "--sf-dir", sf_dir, "--build-index",
          "--n-centroids", "4", "--train-iters", "1"])
    assert not os.path.isdir(f"{out_dir}/pq_codebooks")


def test_curate_gopher_and_c4_gates(spark):
    """--gopher-rules / --c4-rules gate on the named rule conjunctions,
    fused into the same stats projection as the quality gate."""
    good = (
        "the quick brown fox jumps over a lazy dog and then it would "
        "have to run far away with great speed because that is what "
        "foxes do when they feel like running through fields of grass "
        "and the wind blows softly over the hills while birds sing "
        "their morning songs. They greet the new day. It is good."
    )
    good2 = (
        "a small ship sails to the harbor and the crew would have to "
        "wait for the tide to turn before they could be on their way "
        "with the cargo of spices and silk that merchants from the "
        "east had sent across the sea to trade for wool and grain in "
        "the busy market town. The voyage was long. It went well."
    )
    rows = [
        (1, good, "s"),
        (2, "way too short for the gopher word count rule here", "s"),
        # distinct prose (NOT a near-dup of 1) failing C4 only
        (3, good2 + " var x = { a }; lorem ipsum", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    g = curate(docs, lang="en", min_quality=0.0, gopher_rules=True)
    g_ids = sorted(r.doc_id for r in g.select("doc_id").collect())
    assert 1 in g_ids and 2 not in g_ids and 3 in g_ids
    c = curate(docs, lang="en", min_quality=0.0, c4_rules=True)
    c_ids = sorted(r.doc_id for r in c.select("doc_id").collect())
    assert 1 in c_ids and 3 not in c_ids


def test_curate_unigram_encode_stage(spark):
    rows = [
        (1, "data database dart data the the", "s"),
        (2, "the data dart", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(
        docs, lang="en", min_quality=0.0, unigram_pieces=6, pack_budget=16
    )
    got = {r.doc_id: r for r in out.collect()}
    for r in got.values():
        # pieces re-join to the original words and ids parallel them
        assert len(r.piece_token_ids) == r.n_uni_pieces
        assert r.n_uni_pieces >= 1
    # packing budgeted by the unigram piece count
    assert all(r.pack_id is not None for r in got.values())

    import pytest

    with pytest.raises(ValueError, match="one encode stage"):
        curate(docs, unigram_pieces=4, encode_vocab_top=10)
    with pytest.raises(ValueError, match="unigram_pieces"):
        curate(docs, unigram_pieces=0)


def test_pipeline_cli_unigram_artifact_round_trip(spark, tmp_path):
    """save_unigram -> --unigram-dir encodes with the frozen table (the
    save_bpe deployment shape) and matches the in-process encode."""
    from mapreduce_stockheadlines_spark.operators import unigram as UG

    rows = [
        (1, "data database dart data the the", "s"),
        (2, "the data dart", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    model = UG.train_unigram(docs, "text", vocab_size=6)
    path = str(tmp_path / "uni")
    UG.save_unigram(spark, model, path)
    assert UG.load_unigram(spark, path) == model

    direct = curate(docs, lang="en", min_quality=0.0, unigram_pieces=6)
    frozen = curate(docs, lang="en", min_quality=0.0, unigram_model=model)
    d = {r.doc_id: list(r.piece_token_ids) for r in direct.collect()}
    f = {r.doc_id: list(r.piece_token_ids) for r in frozen.collect()}
    assert d == f

    import pytest

    with pytest.raises(ValueError, match="mutually exclusive"):
        curate(docs, unigram_pieces=4, unigram_model=model)


def test_curate_wordpiece_encode_stage(spark):
    rows = [
        (1, "data database dart data the the", "s"),
        (2, "the data dart", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(
        docs, lang="en", min_quality=0.0, wordpiece_merges=6, pack_budget=16
    )
    got = {r.doc_id: r for r in out.collect()}
    for r in got.values():
        # ids parallel the pieces; trained alphabet covers the corpus,
        # so no [UNK] (id 0) appears
        assert len(r.piece_token_ids) == r.n_wp_pieces
        assert r.n_wp_pieces >= 1
        assert 0 not in r.piece_token_ids
    # packing budgeted by the WordPiece piece count
    assert all(r.pack_id is not None for r in got.values())

    import pytest

    with pytest.raises(ValueError, match="one encode stage"):
        curate(docs, wordpiece_merges=4, encode_vocab_top=10)
    with pytest.raises(ValueError, match="wordpiece_merges"):
        curate(docs, wordpiece_merges=0)


def test_curate_wordpiece_frozen_vocab_matches_self_trained(spark):
    """save_wordpiece -> wordpiece_vocab encodes with the frozen
    vocabulary (the save_bpe deployment shape) and matches the
    in-process self-trained encode."""
    from mapreduce_stockheadlines_spark.operators import wordpiece as WPO

    rows = [
        (1, "data database dart data the the", "s"),
        (2, "the data dart", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    vocab, _, _ = WPO.train_wordpiece(docs, "text", num_merges=6)

    direct = curate(docs, lang="en", min_quality=0.0, wordpiece_merges=6)
    frozen = curate(docs, lang="en", min_quality=0.0, wordpiece_vocab=vocab)
    d = {r.doc_id: list(r.piece_token_ids) for r in direct.collect()}
    f = {r.doc_id: list(r.piece_token_ids) for r in frozen.collect()}
    assert d == f

    import pytest

    with pytest.raises(ValueError, match="mutually exclusive"):
        curate(docs, wordpiece_merges=4, wordpiece_vocab=vocab)


def test_apply_wordpiece_reassembles_in_order_and_restores_empty(spark):
    """apply_wordpiece: pieces re-spell each doc's words in token
    order; token-less docs survive with empty arrays; piece ids
    parallel the pieces with [UNK] -> 0."""
    from mapreduce_stockheadlines_spark.operators import wordpiece as WPO

    docs = spark.createDataFrame(
        [(1, "hello help"), (2, ""), (3, None)], "doc_id long, text string"
    )
    vocab, _, _ = WPO.train_wordpiece(
        docs.filter("doc_id = 1"), "text", num_merges=3
    )
    out = {
        r.doc_id: r
        for r in WPO.apply_wordpiece(
            docs, "doc_id", "text", vocab,
            piece_ids=WPO.wordpiece_piece_id_map(vocab),
        ).collect()
    }
    joined = "".join(
        p[2:] if p.startswith("##") else p for p in out[1].pieces
    )
    assert joined == "hellohelp"
    assert len(out[1].piece_token_ids) == out[1].n_pieces
    assert out[2].pieces == [] and out[2].n_pieces == 0
    assert out[3].pieces == [] and out[3].piece_token_ids == []


def test_embed_pipeline_opq_build_search_eval(spark, tmp_path, sf_dir, capsys):
    """--index-type opq persists rotation + codebooks; serving
    auto-detects the rotation artifact (rotated flat ADC, banner
    printed), eval runs end-to-end, and a plain-IVF rebuild drops the
    stale rotation so serving falls back to IVF."""
    import numpy as np

    from mapreduce_stockheadlines_spark.jobs.embed_pipeline import (
        _rotation_dir_exists,
        load_rotation,
        main,
    )

    out_dir = str(tmp_path / "vec")
    main(["build", out_dir, "--sf-dir", sf_dir, "--build-index",
          "--index-type", "opq", "--pq-m", "4", "--pq-ksub", "4",
          "--train-iters", "1"])
    capsys.readouterr()
    assert _rotation_dir_exists(out_dir)
    rot = load_rotation(spark, out_dir)
    assert np.allclose(rot @ rot.T, np.eye(rot.shape[0]), atol=1e-10)

    main(["search", out_dir, "--query-ids", "0", "--k", "3"])
    out = capsys.readouterr().out
    assert "serving OPQ" in out
    hit_lines = [ln for ln in out.splitlines() if ln.startswith("0\t")]
    assert len(hit_lines) == 3
    # fixed-point ADC distances ascend with rank (NOTE: the self-match
    # need not rank first — ADC measures the query against candidate
    # RECONSTRUCTIONS, and another vector's reconstruction can sit
    # nearer the query than the query's own does)
    adcs = [int(ln.split("\t")[3]) for ln in hit_lines]
    assert adcs == sorted(adcs)

    main(["eval", out_dir, "--query-ids", "0,1", "--k", "5"])
    ev = capsys.readouterr().out
    assert "macro\trecall=" in ev

    main(["build", out_dir, "--sf-dir", sf_dir, "--build-index",
          "--n-centroids", "4", "--train-iters", "1"])
    capsys.readouterr()
    assert not _rotation_dir_exists(out_dir)
    main(["search", out_dir, "--query-ids", "0", "--k", "3"])
    assert "serving OPQ" not in capsys.readouterr().out


def test_report_tokenizer_fertility_rows(spark, capsys):
    """--tokenizer-metrics: three fertility rows, each the freq-weighted
    census fertility of a self-trained tokenizer; absent without the
    flag; hand-checked against driver-side encodes."""
    from mapreduce_stockheadlines_spark.jobs.report import corpus_report
    from mapreduce_stockheadlines_spark.operators import bpe as B
    from mapreduce_stockheadlines_spark.operators import wordpiece as WPO

    docs = spark.createDataFrame(
        [
            (1, "data database dart data the the", "s"),
            (2, "the data dart", "s"),
        ],
        "doc_id long, text string, source string",
    )
    base = {r.metric for r in corpus_report(docs, "doc_id", "text").collect()}
    assert not any(m.endswith("_fertility") for m in base)

    rep = {
        r.metric: r.value
        for r in corpus_report(
            docs, "doc_id", "text", tokenizer_pieces=6
        ).collect()
    }
    for m in ("bpe_fertility", "wordpiece_fertility", "unigram_fertility"):
        assert m in rep and rep[m] >= 1.0, m

    census = [
        (r["word"], int(r["freq"]))
        for r in B.word_census(docs, "text", 4096).collect()
    ]
    tot = sum(f for _, f in census)
    vocab, _, _ = WPO.train_wordpiece(docs, "text", 6, census=census)
    vset = set(vocab)
    want_wp = round(
        sum(f * len(WPO._encode_word_wp(w, vset)) for w, f in census) / tot,
        4,
    )
    assert rep["wordpiece_fertility"] == want_wp


def test_report_tokenizer_metrics_rejects_zero(spark):
    from mapreduce_stockheadlines_spark.jobs.report import corpus_report

    docs = spark.createDataFrame(
        [(1, "a b", "s")], "doc_id long, text string, source string"
    )
    import pytest

    with pytest.raises(ValueError, match="tokenizer_pieces"):
        corpus_report(docs, "doc_id", "text", tokenizer_pieces=0).collect()


def test_curate_chunk_sentences_stage(spark):
    """--chunk-sentences: chunks split at sentence boundaries with the
    composite-id convention, require chunk_tokens, and exclude
    chunk_paragraphs."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "The cat sat. The dog ran far away. Birds sing songs.", "s")],
        "doc_id long, text string, source string",
    )
    out = curate(
        docs, lang="en", min_quality=0.0, chunk_tokens=6,
        chunk_sentences=True,
    ).collect()
    assert len(out) >= 2
    assert all(r.parent_doc_id == 1 for r in out)
    for r in out:
        assert r.doc_id == (1 << 20) + r.chunk_id
        assert r.text.rstrip().endswith(".")  # never cut mid-sentence

    with pytest.raises(ValueError, match="require chunk_tokens"):
        curate(docs, chunk_sentences=True)
    with pytest.raises(ValueError, match="mutually exclusive"):
        curate(docs, chunk_tokens=6, chunk_sentences=True,
               chunk_paragraphs=True)


def test_pipeline_warc_end_to_end_matches_parquet_path(
    spark, tmp_path, capsys
):
    """VERDICT r9 #6: the WARC source anchored end-to-end. The same
    planted records flow through BOTH entry paths of the curation CLI —
    (a) --warc-dir over real WARC segments (HTTP-framed responses + a
    WET conversion) and (b) --sf-dir over an equivalent documents
    parquet holding the already-extracted text — and the curated
    outputs must agree url-for-url and byte-for-byte on the text
    (doc ids legitimately differ: the WARC branch hashes record ids).
    The report job then runs over the WARC-path output, closing the
    WARC -> curate -> report chain."""
    from test_readers import _http_payload, _warc_record

    from mapreduce_stockheadlines_spark.jobs.pipeline import main
    from mapreduce_stockheadlines_spark.jobs.report import corpus_report

    html = {
        "http://news.example/a": (
            "<html><body><p>the quick brown fox jumps over the lazy dog "
            "and the day is bright and the market is calm</p>"
            "<script>var x=1;</script></body></html>"
        ),
        "http://news.example/b": (
            "<html><body>the weather in spring is mild and the birds "
            "are singing in the park while the sun is warm</body></html>"
        ),
        # German: dropped by the lang=en gate on BOTH paths
        "http://news.example/d": (
            "<html><body>der hund und die katze sind nicht im haus "
            "und das wetter ist ein traum mit dem wald</body></html>"
        ),
    }
    wet_text = (
        "the plain extracted text of this page is short and the words "
        "are common and the style is simple and clear"
    )
    warc_dir = tmp_path / "segs"
    warc_dir.mkdir()
    seg = b"".join(
        _warc_record(
            "response", f"r{i}", url, _http_payload(body.encode()),
            extra=[b"Content-Type: application/http; msgtype=response"],
        )
        for i, (url, body) in enumerate(sorted(html.items()))
    ) + _warc_record(
        "conversion", "c1", "http://news.example/e", wet_text.encode(),
        extra=[b"Content-Type: text/plain"],
    )
    (warc_dir / "seg1.warc").write_bytes(seg)

    # equivalent parquet: the extracted text the WARC branch would
    # produce — derived with the SAME strip_html operator
    stripped = {
        r.url: r.t
        for r in spark.createDataFrame(
            [(u, h) for u, h in html.items()], "url string, raw string"
        )
        .select("url", TS.strip_html(F.col("raw")).alias("t"))
        .collect()
    }
    stripped["http://news.example/e"] = wet_text
    pq_dir = tmp_path / "sf"
    spark.createDataFrame(
        [
            (i, u, stripped[u], "warc")
            for i, u in enumerate(sorted(stripped))
        ],
        "doc_id long, url string, text string, source string",
    ).write.parquet(str(pq_dir / "documents.parquet"))

    out_warc = str(tmp_path / "out_warc")
    out_pq = str(tmp_path / "out_pq")
    main([out_warc, "--warc-dir", str(warc_dir), "--min-quality", "0.0"])
    main([out_pq, "--sf-dir", str(pq_dir), "--min-quality", "0.0"])

    got_warc = {
        r.url: r.text for r in spark.read.parquet(out_warc).collect()
    }
    got_pq = {r.url: r.text for r in spark.read.parquet(out_pq).collect()}
    assert got_warc == got_pq
    # the lang gate dropped exactly the German doc on both paths
    assert set(got_warc) == {
        "http://news.example/a",
        "http://news.example/b",
        "http://news.example/e",
    }
    # WARC payload bytes survived framing + strip intact
    assert got_warc["http://news.example/e"] == wet_text

    rep = {
        r.metric: r.value
        for r in corpus_report(
            spark.read.parquet(out_warc), "doc_id", "text"
        ).collect()
    }
    assert rep.get("lang_frac_en") == 1.0
    assert rep.get("exact_dup_frac") == 0.0


def test_curate_winnow_neardup_stage(spark):
    """--winnow-min-shared: a doc embedding a long span copied from
    another doc collapses onto one representative even though
    whole-set MinHash jaccard sits far below the 0.8 near-dup gate;
    with the stage off both survive."""
    shared = (
        "the quick brown fox jumps over the lazy dog near the wide "
        "river bank today while the sun is high"
    )
    rows = [
        (1, shared + " and the first document continues with its own "
            "unique closing words about the market and the weather "
            "and the trading day ahead of the close", "s"),
        (2, "a completely different opening paragraph with its own "
            "story begins here before quoting " + shared, "s"),
        (3, "totally unrelated text about gardens and the flowers "
            "that bloom in the spring with the rain and the sun", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    base = curate(docs, lang="en", min_quality=0.0)
    assert base.count() == 3  # MinHash jaccard never fires
    out = curate(
        docs, lang="en", min_quality=0.0, winnow_min_shared=5
    )
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert ids == {1, 3}  # min-id representative of {1, 2} plus the
    # unrelated doc


def test_curate_moore_lewis_gate(spark):
    """--ml-target-source/--min-ml-excess: pool docs that read like the
    in-domain subset survive the gate, OOV-heavy pool docs drop, and
    config errors raise before any work."""
    import pytest

    rows = [
        (1, "the market rallied and the shares closed higher while "
            "the trading volume rose", "tgt"),
        (2, "the shares rallied while the market closed mixed and "
            "the volume fell again", "tgt"),
        (3, "the market closed higher and the shares rallied while "
            "the volume rose", "pool"),
        (4, "purple elephants juggle quantum bananas under neon rain "
            "beside plasma volcanoes tonight", "pool"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = curate(
        docs, lang="en", min_quality=0.0,
        ml_target_source="tgt", min_ml_excess=-1.0,
    )
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 3 in ids and 4 not in ids
    with pytest.raises(ValueError, match="ml_target_source"):
        curate(docs, min_ml_excess=0.0)
    with pytest.raises(ValueError, match="source"):
        curate(docs.drop("source"), ml_target_source="tgt",
               min_ml_excess=0.0)


def test_curate_winnow_ml_gate_stack_oracle(spark, sf_dir):
    """Round-11 composition pin (VERDICT r10 #7): the curate gate STACK
    — planted corpus -> exact dedup -> winnow near-dup collapse ->
    lang/quality gates -> Moore-Lewis selection — with the survivor id
    set re-derived end to end by DuckDB. Each stage's operator is
    already oracle-pinned on its own registry query (x01/x04/x08/x28);
    this pins their COMPOSITION: every stage's input is the previous
    stage's survivor set, so a wrong intermediate set changes the ML
    training corpus and with it the final ids. MinHash near-dup is
    neutralized (4dp jaccard can never exceed 1.01), so the winnow
    stage sees exactly the exact-dedup survivors; the model gates that
    don't run (clf/ppl/repetition) default off."""
    import duckdb

    from mapreduce_stockheadlines_spark.plans.extensions import (
        _ADDK_LM_CTES,
        _ml_excess_sql_ctes,
        _winnow_pairs_sql_ctes,
        _x04_winnow_docs,
        _X04_WINNOW_DECO_SQL,
        _X08_LANG_BODY,
        _X08_QUALITY_BODY,
    )

    docs = table(spark, sf_dir, "documents")
    w = _x04_winnow_docs(docs, extra_cols=("source",))
    out = curate(
        w,
        lang="en",
        min_quality=0.5,
        jaccard_threshold=1.01,
        winnow_min_shared=2,
        winnow_max_df=20,
        ml_target_source="src0",
        min_ml_excess=0.0,
    ).localCheckpoint()
    got = sorted(r.doc_id for r in out.select("doc_id").collect())
    # PII redaction is the identity on this corpus (no planted PII), so
    # the DuckDB ML phase below may score the unredacted text
    assert out.agg(F.sum("n_pii")).first()[0] == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW rawdocs AS SELECT doc_id, text, source "
        f"FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    # the planted corpus (the x04 decoration), then stage 1: exact dedup
    con.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"SELECT doc_id, {_X04_WINNOW_DECO_SQL} AS text, source "
        "FROM rawdocs"
    )
    con.execute(
        "CREATE TABLE d1 AS SELECT d.* FROM documents d JOIN ("
        "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text"
        ") k USING (doc_id)"
    )
    # stage 2d: winnow pairs + transitive min-id collapse (the
    # dedup_by_pairs policy) via a recursive closure over the pair graph
    con.execute(
        f"""CREATE TABLE d2 AS
WITH RECURSIVE {_winnow_pairs_sql_ctes('d1')},
e2 AS (SELECT id_a AS a, id_b AS b FROM wpairs
       UNION ALL SELECT id_b AS a, id_a AS b FROM wpairs),
rr(a, b) AS (SELECT a, b FROM e2
             UNION
             SELECT rr.a, e.b FROM rr JOIN e2 e ON rr.b = e.a
             WHERE e.b <> rr.a),
rep AS (SELECT a AS id, least(a, min(b)) AS rep FROM rr GROUP BY a)
SELECT * FROM d1
WHERE doc_id NOT IN (SELECT id FROM rep WHERE rep <> id)"""
    )
    # stages 3+4: the fused lang + quality gates over winnow survivors
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM d2")
    con.execute(
        f"""CREATE TABLE d3 AS
SELECT d2.* FROM d2
JOIN ({_X08_LANG_BODY}) l USING (doc_id)
JOIN ({_X08_QUALITY_BODY}) q USING (doc_id)
WHERE l.pred_lang = 'en' AND q.quality >= 0.5"""
    )
    # stage 4c: Moore-Lewis over the gate survivors (threshold 0.0 ->
    # drop ml_excess_fp < 0; gram-less docs have no mlex row and pass)
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM d3")
    off = {
        r[0]
        for r in con.execute(
            f"""WITH RECURSIVE {_ADDK_LM_CTES},
{_ml_excess_sql_ctes('src0')}
SELECT doc_id FROM mlex WHERE ml_excess_fp < 0"""
        ).fetchall()
    }
    d3_ids = {
        r[0] for r in con.execute("SELECT doc_id FROM d3").fetchall()
    }
    expected = sorted(d3_ids - off)
    assert got == expected
    # every composed stage actually fired in both directions
    d1_n = con.execute("SELECT count(*) FROM d1").fetchone()[0]
    d2_n = con.execute("SELECT count(*) FROM d2").fetchone()[0]
    assert d2_n < d1_n, "winnow collapse dropped nothing"
    assert off, "Moore-Lewis gate dropped nothing"
    assert d3_ids - off, "Moore-Lewis gate dropped everything"


def test_curate_cdc_chunk_dedup_stage(spark):
    """curate(dedup_cdc_chunks=True): the stage-2e composition — a doc
    embedding a long span copied from an earlier doc keeps its original
    prose but loses the copied span's chunks (partial overlap that the
    whole-doc near-dup stages deliberately pass), the first doc stays
    intact (normalized), and the gates downstream score the REBUILT
    text."""
    import re

    span = (
        "the quarterly earnings statement shows revenue growth across "
        "all business segments with particularly strong performance in "
        "the cloud division where margins expanded again this year"
    )
    original = (
        "completely different prose about mountain weather patterns and "
        "the migration of birds across the northern hemisphere in autumn "
        "when the passes close early and the valleys fill with fog"
    )
    docs = spark.createDataFrame(
        [(1, span, "s"), (2, original + " " + span, "s")],
        "doc_id long, text string, source string",
    )
    out = curate(
        docs, lang="en", min_quality=0.0, jaccard_threshold=0.9,
        dedup_cdc_chunks=True, cdc_min_size=32,
    )
    got = {r.doc_id: r.text for r in out.select("doc_id", "text").collect()}
    assert set(got) == {1, 2}
    norm = lambda s: re.sub(r"\s+", " ", s.lower()).strip()  # noqa: E731
    assert got[1] == norm(span)  # first occurrence survives whole
    # the copier keeps its original prose but lost copied-span chunks
    assert got[2].startswith(norm(original)[:40])
    assert len(got[2]) < len(norm(original + " " + span))


def test_curate_cdc_chunking_stage(spark):
    """curate(chunk_cdc=True): survivors split at content-defined
    boundaries — chunk rows reassemble each parent's NORMALIZED text,
    composite ids encode (parent, chunk), and the config guards fire
    (mutually exclusive with the boundary modes; no token budget)."""
    import re

    import pytest

    rows = [
        (
            1,
            "markets rallied strongly on tuesday as analysts noted the "
            "quarterly filing shows revenue growth continuing through "
            "next year while commodity desks reported heavy volume and "
            "traders repositioned ahead of the federal statement",
            "s",
        ),
        (
            2,
            "completely different prose about mountain weather patterns "
            "and the migration of birds across the northern hemisphere "
            "in autumn when the passes close early and the valleys "
            "fill with fog before the first durable snow",
            "s",
        ),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = curate(
        docs, lang="en", min_quality=0.0, jaccard_threshold=0.8,
        chunk_cdc=True, cdc_min_size=32,
    )
    pdf = out.toPandas()
    assert set(pdf.parent_doc_id) == {1, 2}
    for did, text in [(1, rows[0][1]), (2, rows[1][1])]:
        sub = pdf[pdf.parent_doc_id == did].sort_values("chunk_id")
        assert list(sub.chunk_id) == list(range(len(sub)))
        assert list(sub.doc_id) == [
            did * (1 << 20) + c for c in sub.chunk_id
        ]
        norm = re.sub(r"\s+", " ", text.lower()).strip()
        assert "".join(sub.text) == norm
    with pytest.raises(ValueError, match="mutually exclusive"):
        curate(docs, chunk_cdc=True, chunk_paragraphs=True, chunk_tokens=8)
    with pytest.raises(ValueError, match="content-defined"):
        curate(docs, chunk_cdc=True, chunk_tokens=8)

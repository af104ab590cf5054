"""End-to-end training-data curation pipeline: the engine's LLM-pipeline
operators composed the way a 100 TB pretraining-data job would use them.

    documents
      → unicode normalize      (optional: NFC/NFKC + accent strip before
                                any tokenizer/digest touches the text —
                                --normalize-unicode)
      → domain blocklist       (optional: drop docs referencing blocked
                                registered domains — --blocked-domains)
      → boilerplate strip      (optional: corpus-level repeated-line
                                removal BEFORE dedup — --strip-boilerplate)
      → exact dedup            (content-hash groupBy; digest shuffle key)
      → near-dup removal       (MinHash 3-gram shingles → LSH banding →
                                exact Jaccard verify > threshold →
                                connected components over verified pairs →
                                keep the min-id representative per group)
      → dup-window gate        (optional: drop docs whose cross-doc
                                duplicated-token-window fraction exceeds
                                --max-dup-window-fraction)
      → CDC chunk dedup        (optional: corpus-wide chunk-level dedup
                                at content-defined boundaries — first
                                occurrence of each chunk digest
                                survives, text rebuilt normalized —
                                --dedup-cdc-chunks/--cdc-min-size)
      → language + quality     (ONE fused stats projection over the RAW
                                text, optionally with the named Gopher /
                                C4 rule gates riding the same projection
                                — --gopher-rules / --c4-rules; see the
                                inlining note at the stats stage for why
                                the gates run before redaction)
      → PII redaction          (codegen regex scrub of the survivors;
                                keeps n_pii)
      → repetition gate        (optional: drop looping/boilerplate docs by
                                within-doc duplicate-n-gram share —
                                --max-dup-ngram-fraction, Gopher rule)
      → model quality gates    (optional: linear-classifier score floor
                                --min-clf-score [--clf-weights] and
                                bigram-LM perplexity ceiling
                                --max-perplexity)
      → quantile gate          (optional: keep the top fraction by
                                quality via one t-digest sketch —
                                --keep-top)
      → chunking               (optional: split long docs into
                                overlapping fixed-token windows —
                                --chunk-tokens/--chunk-overlap; at
                                paragraph/sentence boundaries —
                                --chunk-paragraphs / --chunk-sentences;
                                or at content-defined Rabin boundaries —
                                --chunk-cdc/--cdc-min-size)
      → token accounting       (whitespace + BPE-ish counts per doc)
      → vocabulary encode      (optional: top-V vocab built on survivors,
                                ordered token-id sequences attached —
                                --encode-vocab-top; packing then budgets
                                by encoded length)
      → BPE encode             (optional alternative: subword tokenizer
                                self-trained on survivors or loaded from
                                a save_bpe artifact — --encode-bpe-merges
                                / --bpe-dir; packing budgets by piece
                                count)
      → unigram-LM encode      (optional alternative: probabilistic
                                subword tokenizer self-trained on the
                                survivors, hard-EM Viterbi —
                                --encode-unigram-pieces)
      → WordPiece encode       (optional alternative: likelihood-scored
                                merges + greedy longest-match, self-
                                trained or from a save_wordpiece
                                artifact — --encode-wordpiece-merges /
                                --wordpiece-dir)
      → sequence packing       (optional: per-partition FFD into token
                                budgets — --pack-budget)
      → train/test split       (optional: hash-disjoint, growth-stable —
                                --test-fraction)
      → decontamination        (optional, with a split: drop train docs
                                whose distinct-3-gram containment in the
                                held-out set exceeds --max-containment)

Every stage is a DataFrame→DataFrame function from operators/; the only
non-lazy step is the near-dup component stage (iterative label
propagation checkpoints per round — inherent to transitive closure), and
the per-round data is pair-graph-sized, not corpus-sized. Output is
partitioned parquet.

Usage:
    python -m mapreduce_stockheadlines_spark.jobs.pipeline OUT_DIR \
        [--sf-dir DIR] [--lang en] [--min-quality 0.5] [--jaccard 0.8] \
        [--pack-budget 2048] [--test-fraction 0.1]
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bpe as BP
from ..operators import unigram as UG
from ..operators.wordpiece import load_wordpiece as _load_wordpiece
from ..operators import dedup as D
from ..operators import packing as PK
from ..operators import relevance as RV
from ..operators import sampling as SA
from ..operators import textstats as TS
from ..plans.catalog import DEFAULT_SF_DIR, parallel_table
from ..session import checkpoint, get_spark


def curate(
    docs: DataFrame,
    lang: str = "en",
    min_quality: float = 0.5,
    gopher_rules: bool = False,
    c4_rules: bool = False,
    jaccard_threshold: float = 0.8,
    pack_budget: int | None = None,
    keep_top: float | None = None,
    chunk_tokens: int | None = None,
    chunk_overlap: int = 16,
    chunk_paragraphs: bool = False,
    chunk_sentences: bool = False,
    chunk_cdc: bool = False,
    cdc_min_size: int = 64,
    dedup_cdc_chunks: bool = False,
    blocked_domains: DataFrame | None = None,
    strip_boilerplate: bool = False,
    max_dup_window_fraction: float | None = None,
    dup_window_tokens: int = 8,
    remove_dup_spans: bool = False,
    winnow_min_shared: int | None = None,
    winnow_max_df: int = 1000,
    winnow_max_per_doc: int | None = None,
    min_clf_score: float | None = None,
    clf_weights: DataFrame | None = None,
    max_perplexity: float | None = None,
    lm_model: tuple[DataFrame, DataFrame, int] | None = None,
    ml_target_source: str | None = None,
    min_ml_excess: float | None = None,
    max_dup_ngram_fraction: float | None = None,
    rep_ngram_n: int = 3,
    fix_mojibake: bool = False,
    normalize_unicode_form: str | None = None,
    neardup_keep_best: bool = False,
    token_budget: int | None = None,
    max_per_domain: int | None = None,
    dsir_target_source: str | None = None,
    dsir_keep_frac: float = 0.5,
    dsir_buckets: int = 65536,
    encode_vocab_top: int | None = None,
    bpe_merges: int | None = None,
    unigram_pieces: int | None = None,
    unigram_model: dict[str, int] | None = None,
    bpe_model: tuple[list[tuple[str, str]], list[str]] | None = None,
    wordpiece_merges: int | None = None,
    wordpiece_vocab: list[str] | None = None,
) -> DataFrame:
    """The full curation plan over a (doc_id, text, ...) frame; returns the
    surviving docs with quality/token columns attached. Every lineage cut
    goes through ``session.checkpoint``: durable files when the session
    has a checkpoint dir (``spark.sparkContext.setCheckpointDir``),
    executor-local blocks otherwise."""
    # config validation FIRST — the encode stages eagerly execute the
    # whole curation chain (checkpoint barriers, census collects), so a
    # config error surfacing there would come after the cluster already
    # did the full multi-pass run
    n_encode_stages = sum(
        x is not None
        for x in (
            encode_vocab_top,
            bpe_merges if bpe_model is None else bpe_model,
            unigram_pieces if unigram_model is None else unigram_model,
            wordpiece_merges if wordpiece_vocab is None else wordpiece_vocab,
        )
    )
    if n_encode_stages > 1:
        raise ValueError(
            "choose one encode stage: encode_vocab_top (word-level), "
            "bpe_merges/bpe_model (BPE subword), unigram_pieces "
            "(unigram-LM subword) or wordpiece_merges/wordpiece_vocab "
            "(WordPiece subword)"
        )
    if wordpiece_merges is not None and wordpiece_vocab is not None:
        raise ValueError(
            "wordpiece_merges (self-train) and wordpiece_vocab "
            "(pretrained artifact) are mutually exclusive — silently "
            "preferring one would mask a config error"
        )
    if wordpiece_merges is not None and wordpiece_merges < 1:
        raise ValueError(
            f"wordpiece_merges must be >= 1, got {wordpiece_merges}"
        )
    if bpe_merges is not None and bpe_model is not None:
        raise ValueError(
            "bpe_merges (self-train) and bpe_model (pretrained artifact) "
            "are mutually exclusive — silently preferring one would "
            "mask a config error"
        )
    if bpe_merges is not None and bpe_merges < 1:
        # range(0) would silently produce a merge-less (character-level)
        # tokenizer — same silent-misconfiguration class as
        # encode_vocab_top < 1 below
        raise ValueError(f"bpe_merges must be >= 1, got {bpe_merges}")
    if unigram_pieces is not None and unigram_model is not None:
        raise ValueError(
            "unigram_pieces (self-train) and unigram_model (pretrained "
            "artifact) are mutually exclusive — silently preferring one "
            "would mask a config error"
        )
    if unigram_pieces is not None and unigram_pieces < 1:
        raise ValueError(
            f"unigram_pieces must be >= 1, got {unigram_pieces}"
        )
    if encode_vocab_top is not None and encode_vocab_top < 1:
        # vocabulary() treats 0 as "no cap" (falsy) — a user asking for
        # top-0 would silently get the FULL vocab; negatives would map
        # everything to unk. Both are config errors.
        raise ValueError(
            f"encode_vocab_top must be >= 1, got {encode_vocab_top}"
        )
    if min_ml_excess is not None and ml_target_source is None:
        raise ValueError(
            "min_ml_excess needs ml_target_source to define the "
            "in-domain subset"
        )
    if ml_target_source is not None and "source" not in docs.columns:
        raise ValueError(
            "ml_target_source needs a 'source' column to select the "
            "target subset"
        )
    if winnow_min_shared is not None and winnow_min_shared < 1:
        raise ValueError(
            f"winnow_min_shared must be >= 1, got {winnow_min_shared}"
        )
    if dsir_target_source is not None:
        if not 0.0 < dsir_keep_frac <= 1.0:
            raise ValueError(
                f"dsir_keep_frac must be in (0, 1], got {dsir_keep_frac}"
            )
        if "source" not in docs.columns:
            raise ValueError(
                "dsir_target_source needs a 'source' column to select "
                "the target subset"
            )
    if chunk_cdc and (chunk_paragraphs or chunk_sentences):
        raise ValueError(
            "chunk_cdc is mutually exclusive with chunk_paragraphs/"
            "chunk_sentences — pick one boundary"
        )
    if chunk_cdc and chunk_tokens is not None:
        raise ValueError(
            "chunk_cdc boundaries are content-defined (cdc_min_size "
            "chars), not token budgets — drop chunk_tokens"
        )
    if (chunk_paragraphs or chunk_sentences) and chunk_tokens is None:
        # without the guard the flag is a silent no-op (the chunk stage
        # is keyed on chunk_tokens) — the user asked for boundary
        # chunking and would get unchunked docs with no warning
        raise ValueError(
            "chunk_paragraphs/chunk_sentences require chunk_tokens"
        )
    if chunk_paragraphs and chunk_sentences:
        raise ValueError(
            "chunk_paragraphs and chunk_sentences are mutually "
            "exclusive — pick one boundary"
        )

    # -1. (optional) mojibake repair — before even Unicode
    #    normalization (ftfy's ordering: NFKC of garbled text bakes the
    #    corruption in; repair first, then normalize). Pure codegen.
    if fix_mojibake:
        docs = docs.withColumn("text", TS.fix_mojibake("text"))

    # 0. (optional) Unicode normalization — before EVERYTHING: the
    #    ASCII tokenizer, the digests (composed vs decomposed accents
    #    would hash as different docs), the regex gates. NFKC +
    #    strip-accents is the web-corpus default (full-width→ASCII,
    #    'café'→'cafe'). Arrow-batched, narrow.
    if normalize_unicode_form is not None:
        from ..functions.udfs import normalize_unicode

        docs = docs.withColumn(
            "text",
            normalize_unicode(
                "text", normalize_unicode_form, strip_accents=True
            ),
        )

    # 0a. (optional) domain blocklist — first: the cheapest corpus-
    #     shrinking gate, and every later stage gets the smaller corpus
    if blocked_domains is not None:
        docs = TS.filter_blocked_domains(docs, "doc_id", "text", blocked_domains)

    # 0b. (optional) corpus-level boilerplate line removal — BEFORE doc
    #     dedup: shared headers/footers both mask exact dups (different
    #     boilerplate, same content) and inflate near-dup similarity
    #     (same boilerplate, different content)
    if strip_boilerplate:
        cleaned = D.line_dedup(docs, "doc_id", "text")
        docs = docs.drop("text").join(
            cleaned.select("doc_id", "text"), "doc_id"
        )

    # 1. exact dedup: keep min doc_id per content hash
    keep_exact = D.content_hash_dedup(docs, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    docs = docs.join(keep_exact, "doc_id", "left_semi")

    # 2. near-dup: shingle MinHash → LSH candidates → exact Jaccard verify
    #    → connected components → one representative per group. Transitive:
    #    A~B and B~C collapses {A,B,C} to A even though (A,C) was never a
    #    candidate pair — per-pair drops would keep spurious survivors.
    sig = D.minhash_signature(docs, "doc_id", "text", num_hashes=8, shingle_n=3)
    cand = D.lsh_candidate_pairs(sig, "doc_id", num_hashes=8, bands=4)
    shingles = D.doc_shingles(docs, "doc_id", "text", n=3)
    verified = D.jaccard_pairs(shingles, cand).filter(
        F.col("jaccard") > jaccard_threshold
    )
    if neardup_keep_best:
        # best-quality survivor policy: score ONLY the paired docs
        # (pair-graph-scoped — the quality projection runs over the
        # handful of near-dup candidates, not the corpus; the corpus-
        # wide quality column is computed later as always) and let
        # dedup_by_pairs keep each cluster's best row. The clusters are
        # computed ONCE here (checkpointed inside neardup_clusters) and
        # reused both for the paired-id set and inside dedup_by_pairs —
        # re-deriving either from `verified` would execute the whole
        # MinHash→LSH→Jaccard subplan a second time.
        clusters = D.neardup_clusters(verified)
        paired_ids = clusters.select(F.col("id").alias("doc_id"))
        paired_q = TS.quality_score(
            docs.join(paired_ids, "doc_id", "left_semi"), "doc_id", "text"
        ).select("doc_id", F.col("quality").alias("_ndq"))
        scored = docs.join(paired_q, "doc_id", "left")
        docs = D.dedup_by_pairs(
            scored,
            verified,
            "doc_id",
            keep_by="_ndq",
            clusters=clusters,
        ).drop("_ndq")
    else:
        docs = D.dedup_by_pairs(docs, verified, "doc_id")

    # 2b. (optional) cross-doc duplicated-window gate: drops docs whose
    #     prose is mostly shared with other docs even though neither
    #     exact nor near-dup removal caught them (rewrapped/partially
    #     edited copies — the substring-dedup signal)
    if max_dup_window_fraction is not None:
        dupf = D.duplicated_window_fraction(
            docs, "doc_id", "text", window_tokens=dup_window_tokens
        )
        clean = dupf.filter(
            F.col("dup_fraction") <= max_dup_window_fraction
        ).select("doc_id")
        docs = docs.join(clean, "doc_id", "left_semi")

    # 2c. (optional) cross-doc duplicated-span REMOVAL (ExactSubstr cut,
    #     Lee et al. 2022): where the 2b gate drops docs that are MOSTLY
    #     shared prose, this cuts the shared spans out of the survivors
    #     — the right tool for docs that are mostly original but embed a
    #     viral quote/license block/syndicated paragraph. Runs over the
    #     post-gate corpus so the census never counts docs already
    #     doomed, and BEFORE the stats/quality gates so the cleaned text
    #     is what gets scored, PII-scrubbed, and token-counted.
    if remove_dup_spans:
        cut = D.remove_dup_windows(
            docs, "doc_id", "text", window_tokens=dup_window_tokens
        )
        docs = docs.drop("text").join(
            cut.select("doc_id", "text"), "doc_id"
        )

    # 2d. (optional) winnowing near-dup collapse: docs sharing >=
    #     winnow_min_shared selected rolling-hash fingerprints collapse
    #     to one representative (transitive, via the same
    #     connected-components machinery as stage 2). Catches
    #     PARTIAL-overlap copies — a long shared span inside otherwise
    #     original docs — that whole-set MinHash similarity dilutes
    #     below any workable jaccard threshold. Ubiquitous hashes
    #     (boilerplate in > winnow_max_df docs) are dropped before the
    #     self-join (textstats.winnow_neardup_pairs).
    if winnow_min_shared is not None:
        wpairs = TS.winnow_neardup_pairs(
            docs, "doc_id", "text",
            min_shared=winnow_min_shared, max_df=winnow_max_df,
            max_per_doc=winnow_max_per_doc,
        )
        docs = D.dedup_by_pairs(docs, wpairs, "doc_id")

    # 2e. (optional) corpus-wide chunk-level dedup at content-defined
    #     boundaries (dedup.cdc_chunk_dedup — the operation CDC exists
    #     for: an edited doc re-shares every untouched chunk, so only
    #     the first occurrence of each chunk digest survives). After the
    #     doc-level collapses (whole-doc copies are gone, so the chunk
    #     census sees only genuine partial sharing) and before the
    #     stats/quality gates so the deduped text is what gets scored
    #     and token-counted. NOTE: the rebuilt text is the whitespace-
    #     normalized lowercased form (the cdc_chunks contract — content-
    #     defined boundaries exist for dedup keys, and reflow/case noise
    #     would defeat the stability they buy).
    if dedup_cdc_chunks:
        ded = D.cdc_chunk_dedup(
            docs, "doc_id", "text", min_size=cdc_min_size
        )
        docs = docs.drop("text").join(
            ded.select("doc_id", "text"), "doc_id"
        )

    # 3+4. language and quality gates from ONE fused stats projection,
    #    computed on the RAW text, then PII scrub on the survivors.
    #    Order matters for plan health, not just cost: the stats
    #    projection references `text` ~25 times (markers + quality
    #    components), and Spark's filter pushdown inlines whatever
    #    expression `text` is bound to into every one of those
    #    references. Bound to the raw ATTRIBUTE that inlining is free;
    #    bound to the redaction chain (the old order) it multiplied the
    #    4-level regex ~25x per row and generated a >64 KB method that
    #    tripped janino into disabling whole-stage codegen for the
    #    whole stage (observed round 5 — and a nondeterministic
    #    barrier column does NOT stop the pushdown in Spark 4).
    #    Redacting after the gates is also strictly less work: the
    #    regex chain runs only on rows that survived.
    extra_rule_cols = []
    if gopher_rules or c4_rules:
        _rb = TS._rule_base(F.col("text"))
        if gopher_rules:
            extra_rule_cols += TS.gopher_rules_cols("text", _base=_rb)
        if c4_rules:
            extra_rule_cols += TS.c4_rules_cols("text", _base=_rb)
    stats = TS.text_stats(
        docs, "doc_id", "text", extra_cols=extra_rule_cols or None
    )
    keep_cond = (F.col("pred_lang") == lang) & (
        F.col("quality") >= min_quality
    )
    # named-rule gates ride the SAME fused projection (zero extra
    # passes): Gopher appendix-A1.1 rules / deterministic C4 heuristics
    if gopher_rules:
        keep_cond = keep_cond & F.col("gopher_kept")
    if c4_rules:
        keep_cond = keep_cond & F.col("c4_kept")
    keep = stats.filter(keep_cond).select("doc_id", "quality")
    docs = docs.join(keep, "doc_id")
    docs = docs.withColumn("n_pii", TS.pii_count("text")).withColumn(
        "text", TS.pii_redacted("text")
    )

    # 4a. (optional) Gopher repetition gate: drop looping/boilerplate
    #     docs whose duplicate-n-gram share exceeds the ceiling (the
    #     within-doc counterpart of the cross-doc dup-window gate above)
    if max_dup_ngram_fraction is not None:
        rep = TS.repetition_stats(
            docs, "doc_id", "text", ngram_ns=(rep_ngram_n,)
        )
        # anti-join on the FLAGGED set, not semi-join on the passing set:
        # a doc shorter than rep_ngram_n tokens emits no stats row at
        # all, and a semi-join would silently drop it even though its
        # duplicate share is trivially zero — gates only act on positive
        # evidence (same contract as the model gates below)
        looping = rep.filter(
            F.col("dup_fraction") > max_dup_ngram_fraction
        ).select("doc_id")
        docs = docs.join(looping, "doc_id", "left_anti")

    # 4b. (optional) model-based quality gates — after the cheap heuristic
    #     gates (classifier/LM work runs only on heuristic survivors):
    #     a linear bag-of-words classifier score floor (real weight table
    #     via broadcast join, or the hashed stand-in model), and a bigram
    #     LM perplexity ceiling (CCNet-style; pass a pretrained
    #     ``lm_model`` = train_bigram_lm(...) of a CLEAN corpus — the
    #     default self-train flags only the corpus's own outliers)
    if min_clf_score is not None:
        clf = TS.classifier_score(docs, "doc_id", "text", weights=clf_weights)
        # zero-token docs have no score row; flag-and-anti-join keeps
        # them (an undefined score is not evidence of low quality)
        low = clf.filter(F.col("clf_score") < min_clf_score).select("doc_id")
        docs = docs.join(low, "doc_id", "left_anti")
    _shared_grams = None
    _shared_general = None
    if max_perplexity is not None:
        grams = None
        if lm_model is not None:
            lm, ctx, v = lm_model
        else:
            # self-train: materialize ONE gram stream and share it
            # between training and scoring (halves the tokenize+explode
            # passes — same policy as the near-dup checkpoints)
            grams = checkpoint(RV.doc_bigrams(docs, "doc_id", "text"))
            lm, ctx, v = RV.train_bigram_lm(
                docs, "doc_id", "text", grams=grams
            )
            # the Moore-Lewis gate below reuses this SELF-trained pool
            # model + its materialized gram stream (a pretrained
            # lm_model is a different corpus' LM — never M-L's general
            # side)
            _shared_grams, _shared_general = grams, (lm, ctx, v)
        # self-trained → every gram is in the model; skip the backoff
        # join (a second pass over the gram stream it can never use)
        ppl = RV.lm_perplexity(
            docs, lm, ctx, v, "doc_id", "text",
            backoff=lm_model is not None,
            grams=grams,
        )
        # flag-and-anti-join: token-less docs (no bigram rows) and docs
        # the no-backoff path cannot score (null ppl) pass through
        # rather than being silently converted into drops
        junk = ppl.filter(F.col("ppl") > max_perplexity).select("doc_id")
        docs = docs.join(junk, "doc_id", "left_anti")

    # 4c. (optional) Moore-Lewis cross-entropy-difference gate
    #     (relevance.moore_lewis_scores): keep docs whose avg bigram
    #     logp under the in-domain LM beats the general-pool LM by at
    #     least min_ml_excess nats — the classic LM-based domain
    #     selection (the exact-LM sibling of the DSIR gate below; both
    #     can run, they rank differently). Like every model gate it
    #     runs on the heuristic survivors only; score-less docs (no
    #     bigrams) pass — gates act on positive evidence.
    if min_ml_excess is not None:
        ml_grams = _shared_grams
        if ml_grams is None:
            # moore_lewis_scores consumes the stream four times (two
            # trainings, two scorings) — materialize once, the 4b
            # self-train policy
            ml_grams = checkpoint(RV.doc_bigrams(docs, "doc_id", "text"))
        ml = RV.moore_lewis_scores(
            docs, "doc_id", "text",
            F.col("source") == ml_target_source,
            grams=ml_grams, general=_shared_general,
        )
        off_domain = ml.filter(
            F.col("ml_excess_fp") < int(round(min_ml_excess * 10000))
        ).select("doc_id")
        docs = docs.join(off_domain, "doc_id", "left_anti")

    # 5a. (optional) per-domain frequency cap (FineWeb-style): no single
    #     site floods the corpus, best-quality docs survive first. Runs
    #     after the per-doc gates (the cap should ration SURVIVORS, and
    #     `quality` exists by now) and before the relative keep_top cut
    #     (which should see the de-flooded distribution).
    if max_per_domain is not None:
        doms = TS.url_stats(docs, "doc_id", "text").select(
            "doc_id", F.get(F.col("domains"), 0).alias("_dom")
        )
        surv = TS.domain_frequency_cap(
            docs.select("doc_id", "quality").join(doms, "doc_id", "left"),
            "doc_id",
            "_dom",
            cap=max_per_domain,
            order_col="quality",
        ).select("doc_id")
        docs = docs.join(surv, "doc_id", "left_semi")

    # 5b. (optional) relative quality gate on top of the absolute one:
    #     keep the best keep_top fraction (one sketch, no corpus shuffle)
    if keep_top is not None:
        docs = SA.quantile_threshold_filter(docs, "quality", keep_top)

    # 5b2. (optional) DSIR selection (Xie et al. 2023): Gumbel-resample
    #      the survivors toward the hashed-n-gram profile of one
    #      source's docs — the distribution-matching cut beside
    #      keep_top's absolute-quality cut ("keep the web pages that
    #      look like src0"). Eager (census totals + the resample
    #      histogram are driver collects), so materialize survivors
    #      once first — token_budget's barrier rationale. Docs whose
    #      text yields no features (token-less) cannot carry a score
    #      and are not selectable; the target's own surviving docs
    #      compete like any others.
    if dsir_target_source is not None:
        docs = checkpoint(docs)
        _ratios, scored = SA.dsir_fit_scores(
            docs, "doc_id", "text", n_buckets=dsir_buckets,
            target_filter=F.col("source") == dsir_target_source,
        )
        scored = checkpoint(scored)
        n_scored = scored.count()
        if n_scored == 0:
            # no survivor produced a single hashed n-gram: selecting
            # from nothing would silently write an EMPTY curated
            # dataset (every doc fails the semi-join) — that is a
            # corpus/config problem (non-Latin or numeric-only text),
            # not a selection outcome, so fail loudly like the other
            # DSIR misconfigurations
            raise RuntimeError(
                "dsir_target_source: no surviving document yielded DSIR "
                "features — the corpus text produces no [a-z] tokens; "
                "selection would drop everything"
            )
        n_keep = max(int(n_scored * dsir_keep_frac), 1)
        sel = SA.dsir_resample(scored, "doc_id", "dsir_score", n_keep).select(
            "doc_id"
        )
        docs = docs.join(sel, "doc_id", "left_semi")

    # 5c. (optional) split long docs into overlapping fixed-token chunks;
    #     chunks inherit the parent's metadata and a composite id
    #     (parent << 20 | chunk index — doc ids stay well below 2^43)
    if chunk_tokens is not None or chunk_cdc:
        meta = docs.drop("text")
        if chunk_cdc:
            # content-defined boundaries (Rabin rolling hash + FastCDC
            # min-size guard): chunks are substrings of the NORMALIZED
            # text and an edit disturbs only the chunk it lands in —
            # the dedup-stable splitting for chunk-level dedup keys
            chunks = PK.cdc_chunks(
                docs, "doc_id", "text", min_size=cdc_min_size
            ).withColumnRenamed("id", "parent_doc_id")
        elif chunk_paragraphs:
            # natural-boundary mode: chunks never cut mid-paragraph
            # (budget-aligned grouping — may overrun by one paragraph;
            # overlap does not apply, paragraphs are whole or absent)
            chunks = PK.chunk_by_paragraphs(
                docs, "doc_id", "text", chunk_tokens
            ).withColumnRenamed("id", "parent_doc_id")
        elif chunk_sentences:
            # finer natural boundary: never cut mid-sentence (the RAG
            # retrieval-chunk edge; same budget-aligned rule)
            chunks = PK.chunk_by_sentences(
                docs, "doc_id", "text", chunk_tokens
            ).withColumnRenamed("id", "parent_doc_id")
        else:
            chunks = PK.chunk_documents(
                docs, "doc_id", "text", chunk_tokens, chunk_overlap
            ).withColumnRenamed("id", "parent_doc_id")
        docs = chunks.join(
            meta.withColumnRenamed("doc_id", "parent_doc_id"), "parent_doc_id"
        ).select(
            (F.col("parent_doc_id") * (1 << 20) + F.col("chunk_id")).alias(
                "doc_id"
            ),
            "parent_doc_id",
            "chunk_id",
            F.col("chunk_text").alias("text"),
            *[c for c in meta.columns if c != "doc_id"],
        )

    # 5. token accounting
    docs = docs.select(
        "*",
        TS.whitespace_token_count("text").alias("n_ws_tokens"),
        TS.bpe_ish_token_count("text").alias("n_bpe_tokens"),
    )

    # 5c. (optional) token-budget cut: keep the best-quality docs whose
    #     token mass fills the training budget — the budget-denominated
    #     sibling of the keep_top fraction gate (quality correlates
    #     with length, so the two cuts differ materially)
    if token_budget is not None:
        # materialize the survivors ONCE first: the budget gate runs two
        # eager driver collects (score bounds + the token histogram),
        # and without a barrier each — plus the final consumer — would
        # re-execute the whole curation chain (the same hazard the
        # encode stages document below, same checkpoint policy)
        docs = checkpoint(docs)
        docs = SA.token_budget_filter(
            docs, "quality", "n_ws_tokens", token_budget
        )

    # 5d. (optional) encode: build a top-V vocabulary ON THE SURVIVORS
    #     and attach ordered token-id sequences (+ true token/unk
    #     counts) — the model-ready representation; packing below then
    #     budgets by REAL encoded length instead of the whitespace proxy
    if encode_vocab_top is not None:
        # materialize the survivors ONCE before encoding: vocabulary()'s
        # bucketed rank does a driver counts collect, i.e. plan-build
        # EXECUTES the whole curation chain — and without a barrier the
        # vocab build, the enc-join left side, apply_vocabulary's
        # explode and the packer input would each recompute that chain
        # from scratch (~4 full-corpus passes at scale). Same
        # checkpoint policy as the near-dup component rounds.
        docs = checkpoint(docs)
        vocab = RV.vocabulary(docs, "text", top_v=encode_vocab_top)
        enc = RV.apply_vocabulary(docs, "doc_id", "text", vocab).select(
            "doc_id",
            "token_ids",
            F.col("n_tokens").alias("n_vocab_tokens"),
            "n_unk",
        )
        # LEFT join + fills: token-LESS docs (digits/punctuation only)
        # have no encode row; they keep flowing with an EMPTY sequence,
        # not NULL model-ready columns a consumer would trip over
        docs = (
            docs.join(enc, "doc_id", "left")
            .withColumn(
                "token_ids",
                F.coalesce("token_ids", F.array().cast("array<int>")),
            )
            .na.fill({"n_vocab_tokens": 0, "n_unk": 0})
        )

    # 5e. (optional) BPE encode: subword piece sequences instead of the
    #     word-level vocabulary — self-trained on the survivors
    #     (bpe_merges) or a pretrained save_bpe artifact (bpe_model,
    #     the deployment shape). Mutually exclusive with
    #     encode_vocab_top: packing budgets by ONE encoded length.
    if bpe_merges is not None or bpe_model is not None:
        # same barrier rationale as the vocabulary encode: train_bpe's
        # census collect executes the chain — materialize survivors once
        docs = checkpoint(docs)
        if bpe_model is not None:
            merges, alphabet = bpe_model
        else:
            merges, alphabet = BP.train_bpe(docs, "text", bpe_merges)
        enc = BP.apply_bpe(
            docs,
            "doc_id",
            "text",
            merges,
            piece_ids=BP.piece_id_map(merges, alphabet),
        ).select(
            "doc_id",
            "piece_token_ids",
            F.col("n_pieces").alias("n_bpe_pieces"),
        )
        # apply_bpe restores token-less docs with empty sequences, so
        # this is a 1:1 inner join — no doc can drop here
        docs = docs.join(enc, "doc_id")

    # 5f. (optional) unigram-LM encode: the probabilistic subword
    #     tokenizer, self-trained on the survivors (hard-EM Viterbi —
    #     operators/unigram.py). Same barrier rationale as the other
    #     encode stages: the census collect executes the chain.
    if unigram_pieces is not None or unigram_model is not None:
        docs = checkpoint(docs)
        model = (
            unigram_model
            if unigram_model is not None
            else UG.train_unigram(docs, "text", vocab_size=unigram_pieces)
        )
        enc = UG.apply_unigram(
            docs,
            "doc_id",
            "text",
            model,
            piece_ids=UG.unigram_piece_id_map(model),
        ).select(
            "doc_id",
            "piece_token_ids",
            F.col("n_pieces").alias("n_uni_pieces"),
        )
        docs = docs.join(enc, "doc_id")

    # 5g. (optional) WordPiece encode: greedy longest-match subword
    #     pieces — self-trained on the survivors (wordpiece_merges) or
    #     a pretrained save_wordpiece vocabulary (wordpiece_vocab, the
    #     deployment shape). Same barrier rationale as the other encode
    #     stages: the census collect executes the chain.
    if wordpiece_merges is not None or wordpiece_vocab is not None:
        from ..operators import wordpiece as WPO

        docs = checkpoint(docs)
        if wordpiece_vocab is not None:
            wvocab = wordpiece_vocab
        else:
            wvocab, _, _ = WPO.train_wordpiece(
                docs, "text", num_merges=wordpiece_merges
            )
        enc = WPO.apply_wordpiece(
            docs,
            "doc_id",
            "text",
            wvocab,
            piece_ids=WPO.wordpiece_piece_id_map(wvocab),
        ).select(
            "doc_id",
            "piece_token_ids",
            F.col("n_pieces").alias("n_wp_pieces"),
        )
        docs = docs.join(enc, "doc_id")

    # 6. (optional) pack surviving docs into fixed token-budget training
    #    sequences; assignment joined back so rows keep their text
    if pack_budget is not None:
        if encode_vocab_top is not None:
            count_col = "n_vocab_tokens"
        elif bpe_merges is not None or bpe_model is not None:
            count_col = "n_bpe_pieces"
        elif unigram_pieces is not None or unigram_model is not None:
            count_col = "n_uni_pieces"
        elif wordpiece_merges is not None or wordpiece_vocab is not None:
            count_col = "n_wp_pieces"
        else:
            count_col = "n_ws_tokens"
        assignment = PK.pack_sequences(
            docs, "doc_id", count_col, budget=pack_budget
        ).select("id", "pack_id", "truncate")
        docs = docs.join(
            assignment.withColumnRenamed("id", "doc_id"), "doc_id"
        )
    return docs


def _write_partitioned(df: DataFrame, path: str, args) -> None:
    """Source-partitioned parquet; with --files-per-partition the sized
    writer bounds files per directory at write time (sinks module),
    otherwise the plain partitionBy write. When --shuffle-output is also
    set, the sized path re-sorts each task by the SAME md5 order
    deterministic_shuffle produced — its repartition would otherwise
    silently discard the documented reproducible training order."""
    if args.files_per_partition:
        from ..sources.sinks import write_parquet_partitioned_sized

        sort_within = None
        if args.shuffle_output:
            # the re-sort key must MATCH the shuffle key, including the
            # epoch suffix when --epoch-weights replicated rows — a
            # doc_id-only key would give every replica of a doc an
            # identical sort key and write them back-to-back, exactly
            # the clustering the epoch-aware shuffle exists to prevent
            key_c = F.col("doc_id").cast("string")
            if args.epoch_weights and "epoch" in df.columns:
                key_c = F.concat_ws(":", F.col("doc_id"), F.col("epoch"))
            sort_within = [
                F.md5(F.concat(F.lit("shuffle:"), key_c).cast("binary")),
                key_c,
            ]
        write_parquet_partitioned_sized(
            df,
            path,
            partition_by=["source"],
            files_per_partition=args.files_per_partition,
            key="doc_id",
            sort_within=sort_within,
        )
    else:
        df.write.mode("overwrite").partitionBy("source").parquet(path)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("out_dir")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ap.add_argument("--warc-dir", default=None,
                    help="read input docs from WARC/WET segments in this "
                         "directory (Common Crawl layout) instead of the "
                         "sf-dir documents table; HTML is stripped at "
                         "ingest")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--min-quality", type=float, default=0.5)
    ap.add_argument("--gopher-rules", action="store_true",
                    help="gate docs on the named Gopher quality rules "
                         "(Rae et al. 2021 appendix A1.1) — fused into "
                         "the same stats projection as the quality gate")
    ap.add_argument("--c4-rules", action="store_true",
                    help="gate docs on the deterministic document-level "
                         "C4 heuristics (sentences, braces, lorem ipsum)")
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--pack-budget", type=int, default=None,
                    help="pack docs into token-budget training sequences")
    ap.add_argument("--keep-top", type=float, default=None,
                    help="keep only this top fraction by quality score")
    ap.add_argument("--chunk-tokens", type=int, default=None,
                    help="split docs into fixed-token chunks of this size")
    ap.add_argument("--chunk-paragraphs", action="store_true",
                    help="with --chunk-tokens: chunk at paragraph "
                         "boundaries (never mid-paragraph; may overrun "
                         "the budget by one paragraph) instead of "
                         "fixed token windows")
    ap.add_argument("--chunk-sentences", action="store_true",
                    help="with --chunk-tokens: chunk at sentence "
                         "boundaries (lookbehind segmenter with "
                         "abbreviation guards) instead of fixed token "
                         "windows")
    ap.add_argument("--chunk-overlap", type=int, default=16,
                    help="token overlap between adjacent chunks")
    ap.add_argument("--chunk-cdc", action="store_true",
                    help="content-defined chunking (Rabin rolling-hash "
                         "boundaries over normalized text; no token "
                         "budget — boundaries move with content)")
    ap.add_argument("--cdc-min-size", type=int, default=64,
                    help="with --chunk-cdc/--dedup-cdc-chunks: minimum "
                         "chunk size in normalized characters")
    ap.add_argument("--dedup-cdc-chunks", action="store_true",
                    help="corpus-wide chunk-level dedup at content-"
                         "defined boundaries: drop every re-occurrence "
                         "of a chunk digest (first (doc_id, chunk_id) "
                         "survives), rebuild surviving text in order")
    ap.add_argument("--blocked-domains", default=None,
                    help="text file of blocked registered domains (one "
                         "per line); docs referencing any are dropped")
    ap.add_argument("--max-dup-window-fraction", type=float, default=None,
                    help="drop docs whose fraction of cross-doc "
                         "duplicated token windows exceeds this")
    ap.add_argument("--dup-window-tokens", type=int, default=8,
                    help="token-window width for the duplicated-window "
                         "gate")
    ap.add_argument("--remove-dup-spans", action="store_true",
                    help="cut cross-doc duplicated token spans out of "
                         "surviving docs (ExactSubstr removal) instead "
                         "of only gating on the duplicated fraction; "
                         "cuts end at true match boundaries (every-"
                         "offset window enumeration), minimum removed "
                         "span = --dup-window-tokens tokens — shorter "
                         "shared runs survive")
    ap.add_argument("--encode-vocab-top", type=int, default=None,
                    help="build a top-V vocabulary on the survivors and "
                         "attach token-id sequences; packing budgets by "
                         "encoded length")
    ap.add_argument("--token-budget", type=int, default=None,
                    help="keep the best-quality docs whose whitespace-"
                         "token mass fits this budget (never over)")
    ap.add_argument("--max-per-domain", type=int, default=None,
                    help="keep at most N docs per primary registered "
                         "domain, best quality first (mega-site guard)")
    ap.add_argument("--neardup-keep-best", action="store_true",
                    help="near-dup clusters keep their highest-quality "
                         "doc (scored over paired docs only) instead of "
                         "the min id")
    ap.add_argument("--fix-mojibake", action="store_true",
                    help="repair one pass of UTF-8-read-as-cp1252 "
                         "mojibake before any other stage (ftfy-style; "
                         "non-mojibake text passes through unchanged)")
    ap.add_argument("--normalize-unicode", default=None, metavar="FORM",
                    choices=["NFC", "NFKC", "NFD", "NFKD"],
                    help="Unicode-normalize + strip accents before any "
                         "other stage (NFKC recommended for web text)")
    ap.add_argument("--encode-unigram-pieces", type=int, default=None,
                    help="self-train a unigram-LM subword tokenizer "
                         "(hard-EM Viterbi, operators/unigram.py) with N "
                         "multi-char pieces and encode the survivors")
    ap.add_argument("--encode-bpe-merges", type=int, default=None,
                    help="train a BPE tokenizer (this many merges) on "
                         "the survivors and attach subword piece-id "
                         "sequences; packing budgets by piece count. "
                         "Mutually exclusive with --encode-vocab-top")
    ap.add_argument("--bpe-dir", default=None,
                    help="save_bpe artifact dir: encode with this "
                         "pretrained tokenizer instead of self-training")
    ap.add_argument("--unigram-dir", default=None,
                    help="save_unigram artifact dir: encode with this "
                         "pretrained unigram-LM tokenizer instead of "
                         "self-training")
    ap.add_argument("--encode-wordpiece-merges", type=int, default=None,
                    help="self-train a WordPiece tokenizer with this many "
                         "likelihood-scored merges on the survivors and "
                         "encode piece ids (greedy longest match)")
    ap.add_argument("--wordpiece-dir", default=None,
                    help="save_wordpiece artifact dir: encode with this "
                         "pretrained WordPiece vocabulary instead of "
                         "self-training")
    ap.add_argument("--max-dup-ngram-fraction", type=float, default=None,
                    help="drop docs whose within-doc duplicate-n-gram "
                         "share exceeds this (Gopher repetition rule)")
    ap.add_argument("--rep-ngram-n", type=int, default=3,
                    help="n-gram order for the repetition gate")
    ap.add_argument("--min-clf-score", type=float, default=None,
                    help="drop docs whose linear-classifier score is "
                         "below this (hashed model, or --clf-weights)")
    ap.add_argument("--clf-weights", default=None,
                    help="TSV of 'token<TAB>weight' model rows for the "
                         "classifier gate")
    ap.add_argument("--winnow-min-shared", type=int, default=None,
                    help="collapse docs sharing at least this many "
                         "winnowing fingerprints (partial-overlap "
                         "near-dup — MOSS-style rolling-hash minima) "
                         "to one representative")
    ap.add_argument("--winnow-max-df", type=int, default=1000,
                    help="drop winnow hashes present in more than this "
                         "many docs before the pair join (boilerplate "
                         "hot-key guard)")
    ap.add_argument("--winnow-fp-per-doc", type=int, default=None,
                    help="cap the winnow index at this many smallest "
                         "hashes per doc (bounds index size at corpus "
                         "scale; long shared spans still collide)")
    ap.add_argument("--ml-target-source", default=None,
                    help="source value defining the Moore-Lewis "
                         "in-domain subset (with --min-ml-excess)")
    ap.add_argument("--min-ml-excess", type=float, default=None,
                    help="drop docs whose Moore-Lewis cross-entropy "
                         "difference (in-domain minus general avg "
                         "bigram logp, nats) is below this")
    ap.add_argument("--max-perplexity", type=float, default=None,
                    help="drop docs whose bigram-LM perplexity exceeds "
                         "this (self-trained, or --lm-dir for a "
                         "pretrained artifact)")
    ap.add_argument("--lm-dir", default=None,
                    help="save_bigram_lm artifact dir: gate with this "
                         "pretrained model (full backoff) instead of "
                         "self-training")
    ap.add_argument("--target-corpus-gb", type=float, default=None,
                    help="apply conf_for_scale partition sizing for this "
                         "corpus size (with --executors/--cores) before "
                         "running — the 100 TB arithmetic, user-facing")
    ap.add_argument("--executors", type=int, default=1)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--executor-mem-gb", type=int, default=16,
                    help="per-executor memory for the sizing arithmetic "
                         "(wide executors need more than the default 16)")
    ap.add_argument("--target-partition-mb", type=int, default=128,
                    help="target partition size for the sizing arithmetic")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="checkpoint dir for every lineage cut (durable "
                         "reliable checkpoints instead of executor-local "
                         "blocks)")
    ap.add_argument("--strip-boilerplate", action="store_true",
                    help="remove lines repeated across >1 documents "
                         "before dedup (corpus-level boilerplate filter)")
    ap.add_argument("--files-per-partition", type=int, default=None,
                    help="bound parquet files per source= directory in "
                         "the output (pre-shuffled sized write instead "
                         "of one file per task per directory)")
    ap.add_argument("--dedup-urls", action="store_true",
                    help="with --warc-dir: collapse re-fetches of one "
                         "page by canonical URL (tracking params, "
                         "default ports, fragments stripped) before "
                         "content dedup")
    ap.add_argument("--epoch-weights", default=None, metavar="SRC=W,...",
                    help="per-source mixture epochs (e.g. wiki=2.3,cc=0.5): "
                         "floor(w) copies + hash-gated fractional extra per "
                         "doc; train-side only when --test-fraction is set")
    ap.add_argument("--mix-alpha", type=float, default=None,
                    help="temperature-rebalance sources so the output "
                         "mixture follows n^alpha (1=natural, 0=equal; "
                         "the multilingual alpha-sampling rule); a "
                         "down-sampling mix applied with the gates, "
                         "before any epoch upsampling")
    ap.add_argument("--dsir-target-source", default=None, metavar="SRC",
                    help="DSIR-resample survivors toward this source's "
                         "hashed-n-gram profile (importance resampling; "
                         "keeps ~--dsir-keep-frac of the survivors)")
    ap.add_argument("--dsir-keep-frac", type=float, default=0.5,
                    help="fraction of survivors the DSIR resample keeps "
                         "(default 0.5; requires --dsir-target-source)")
    ap.add_argument("--dsir-buckets", type=int, default=65536,
                    help="hashed-n-gram model size for DSIR (default 65536)")
    ap.add_argument("--shuffle-output", action="store_true",
                    help="write output in deterministic hash-shuffled order")
    ap.add_argument("--curriculum", action="store_true",
                    help="attach curriculum_pos: a global training-order "
                         "position (best-quality-first within each source, "
                         "sources round-robin-interleaved) computed as pure "
                         "integer arithmetic — no global sort; read back "
                         "ordered by it for curriculum + source balance")
    ap.add_argument("--test-fraction", type=float, default=None,
                    help="hash-split a held-out set into <out>/test")
    ap.add_argument("--max-containment", type=float, default=None,
                    help="with --test-fraction: drop train docs whose "
                         "distinct-3-gram containment in the held-out set "
                         "exceeds this fraction (decontamination)")
    args = ap.parse_args(argv)

    spark: SparkSession = get_spark("pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    if args.target_corpus_gb is not None:
        from ..session import conf_for_scale

        sized = conf_for_scale(
            int(args.target_corpus_gb * (1 << 30)),
            executors=args.executors,
            cores_per_executor=args.cores,
            executor_mem_gb=args.executor_mem_gb,
            target_partition_bytes=args.target_partition_mb << 20,
        )
        for k, v in sized.items():
            spark.conf.set(k, v)
        print("conf_for_scale:", sized)
    if not args.checkpoint_dir:
        _run(spark, args)
        return
    spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
    try:
        _run(spark, args)
    finally:
        _drop_checkpoint_dir(spark.sparkContext)


def _drop_checkpoint_dir(sc) -> None:
    """Delete this run's checkpoint files and unset the session's dir.
    ``setCheckpointDir`` adds a ``<uuid>`` subdirectory per call, and
    Spark leaves the files there (``cleanCheckpoints`` is off by
    default); a dir left set would make every later lineage cut in the
    process reliable. Hadoop's ``FileSystem`` deletes it, so HDFS and
    S3 dirs work too."""
    path = sc._jvm.org.apache.hadoop.fs.Path(sc.getCheckpointDir())
    path.getFileSystem(sc._jsc.hadoopConfiguration()).delete(path, True)
    unset = sc._jvm.scala.Option.apply(None)
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(unset)


def _run(spark: SparkSession, args: argparse.Namespace) -> None:
    """Read, curate and write the corpus as the parsed CLI asks."""
    if args.warc_dir:
        # Common Crawl entry: WARC/WET segments → (doc_id, url, text)
        # with markup stripped — the curation chain is source-agnostic
        # from here on. source column mirrors the parquet path's.
        from ..operators.textstats import strip_html
        from ..sources.warc import warc_text_docs

        # numeric doc ids: the chunking stage composes
        # parent_id*2^20+chunk_id, which overflows int64 under ANSI for
        # any |id| >= 2^43 — so ids are hashed into [0, 2^42) via pmod,
        # not used at xxhash64's full signed range. Collision math at
        # that width: n^2/2^43 ≈ 1e6 colliding PAIRS at 3B docs ≈ 0.03%
        # of the corpus (a collision conflates two docs in doc_id-keyed
        # joins); a deployment that can't accept that switches to a
        # bucketed rank (rank.bucketed_row_number) for collision-free
        # longs.
        docs = (
            warc_text_docs(spark, args.warc_dir)
            .withColumn("text", strip_html("text"))
            .withColumn("source", F.lit("warc"))
            .withColumn("record_id", F.col("doc_id"))
            .withColumn(
                "doc_id",
                F.pmod(F.xxhash64("record_id"), F.lit(1 << 42)),
            )
        )
        if args.dedup_urls:
            # frontier dedup BEFORE content dedup: re-fetches of one
            # page (tracking-param / port / fragment variants) collapse
            # on the canonical URL — a string groupBy that is far
            # cheaper than shingling the duplicate bodies downstream
            from ..operators.textstats import dedup_urls

            docs = dedup_urls(docs, "url", "doc_id")
    else:
        docs = parallel_table(spark, args.sf_dir, "documents")
    blocked = None
    if args.blocked_domains:
        blocked = (
            spark.read.text(args.blocked_domains)
            .select(F.lower(F.trim("value")).alias("domain"))
            .filter(F.length("domain") > 0)
        )
    out = curate(
        docs,
        lang=args.lang,
        min_quality=args.min_quality,
        gopher_rules=args.gopher_rules,
        c4_rules=args.c4_rules,
        jaccard_threshold=args.jaccard,
        pack_budget=args.pack_budget,
        keep_top=args.keep_top,
        max_per_domain=args.max_per_domain,
        chunk_tokens=args.chunk_tokens,
        chunk_overlap=args.chunk_overlap,
        chunk_paragraphs=args.chunk_paragraphs,
        chunk_sentences=args.chunk_sentences,
        chunk_cdc=args.chunk_cdc,
        cdc_min_size=args.cdc_min_size,
        dedup_cdc_chunks=args.dedup_cdc_chunks,
        blocked_domains=blocked,
        strip_boilerplate=args.strip_boilerplate,
        max_dup_window_fraction=args.max_dup_window_fraction,
        dup_window_tokens=args.dup_window_tokens,
        remove_dup_spans=args.remove_dup_spans,
        winnow_min_shared=args.winnow_min_shared,
        winnow_max_df=args.winnow_max_df,
        winnow_max_per_doc=args.winnow_fp_per_doc,
        ml_target_source=args.ml_target_source,
        min_ml_excess=args.min_ml_excess,
        min_clf_score=args.min_clf_score,
        clf_weights=(
            spark.read.option("sep", "\t")
            .schema("token string, weight double")
            .csv(args.clf_weights)
            if args.clf_weights
            else None
        ),
        max_perplexity=args.max_perplexity,
        lm_model=(
            RV.load_bigram_lm(spark, args.lm_dir) if args.lm_dir else None
        ),
        max_dup_ngram_fraction=args.max_dup_ngram_fraction,
        rep_ngram_n=args.rep_ngram_n,
        fix_mojibake=args.fix_mojibake,
        normalize_unicode_form=args.normalize_unicode,
        neardup_keep_best=args.neardup_keep_best,
        token_budget=args.token_budget,
        dsir_target_source=args.dsir_target_source,
        dsir_keep_frac=args.dsir_keep_frac,
        dsir_buckets=args.dsir_buckets,
        encode_vocab_top=args.encode_vocab_top,
        unigram_pieces=args.encode_unigram_pieces,
        unigram_model=(
            UG.load_unigram(spark, args.unigram_dir)
            if args.unigram_dir else None
        ),
        bpe_merges=args.encode_bpe_merges,
        bpe_model=(
            BP.load_bpe(spark, args.bpe_dir) if args.bpe_dir else None
        ),
        wordpiece_merges=args.encode_wordpiece_merges,
        wordpiece_vocab=(
            _load_wordpiece(spark, args.wordpiece_dir)
            if args.wordpiece_dir else None
        ),
    )
    def _parse_epochs(spec: str) -> dict[str, float]:
        weights = {}
        for part in spec.split(","):
            src, sep, w = part.partition("=")
            if not sep or not src.strip():
                raise SystemExit(
                    f"--epoch-weights entry {part!r} is not source=weight"
                )
            weights[src.strip()] = float(w)
        return weights

    def _upsample_and_shuffle(df):
        # temperature rebalance first (a gate like any other — it only
        # DROPS rows), then mixture epochs LAST: replication must
        # follow every gate, and with a held-out split it applies to
        # the TRAIN side only (an upsampled eval set would double-count
        # its members); the shuffle key includes the epoch so replicas
        # spread through the training order instead of clustering
        # back-to-back
        if args.mix_alpha is not None:
            # materialize the curated frame first: the mix's per-source
            # census collect() would otherwise execute the whole gate
            # DAG once for the census and again for the write
            df = SA.temperature_mix(
                checkpoint(df), "source", "doc_id", args.mix_alpha
            )
        if args.epoch_weights:
            df = SA.epoch_upsample(
                df, "source", "doc_id", _parse_epochs(args.epoch_weights),
                default_weight=1.0,  # CLI reading: name only the boosts
            )
        if args.curriculum:
            # after every gate and the mixture (the position must rank
            # exactly the rows being trained on, epochs included);
            # materialize first — the operator's bounded sources-dim
            # collect would otherwise execute the whole gate DAG once
            # more (the --mix-alpha census pattern)
            df = SA.curriculum_interleave(
                checkpoint(df),
                "quality",
                "source",
                epoch_col="epoch" if args.epoch_weights else None,
            )
        if args.shuffle_output:
            if args.epoch_weights:
                df = SA.deterministic_shuffle(
                    df.withColumn(
                        "_shufkey",
                        F.concat_ws(":", F.col("doc_id"), F.col("epoch")),
                    ),
                    "_shufkey",
                ).drop("_shufkey")
            else:
                df = SA.deterministic_shuffle(df, "doc_id")
        return df

    if not args.test_fraction:
        out = _upsample_and_shuffle(out)
    if args.test_fraction:
        train, test = SA.train_test_split(out, "doc_id", args.test_fraction)
        if args.max_containment is not None:
            # decontaminate train against the held-out set: the test side
            # is small → its distinct gram set broadcasts
            cont = TS.ngram_contamination(train, test, "doc_id", "text")
            dirty = cont.filter(
                F.col("containment") > args.max_containment
            ).select("doc_id")
            train = train.join(dirty, "doc_id", "left_anti")
        train = _upsample_and_shuffle(train)
        if args.shuffle_output:
            # the eval side keeps the documented reproducible order too
            # — it just never upsamples
            test = SA.deterministic_shuffle(test, "doc_id")
        _write_partitioned(train, f"{args.out_dir}/train", args)
        _write_partitioned(test, f"{args.out_dir}/test", args)
        n_tr = spark.read.parquet(f"{args.out_dir}/train").count()
        n_te = spark.read.parquet(f"{args.out_dir}/test").count()
        print(f"kept {n_tr} train + {n_te} test docs -> {args.out_dir}")
    else:
        _write_partitioned(out, args.out_dir, args)
        kept = spark.read.parquet(args.out_dir).count()
        print(f"kept {kept} docs -> {args.out_dir}")


if __name__ == "__main__":
    main()

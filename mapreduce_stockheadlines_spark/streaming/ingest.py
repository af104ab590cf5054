"""Continuous curated ingest: a document stream deduplicated against the
corpus-so-far and quality-gated, micro-batch by micro-batch.

This is the streaming face of the batch curation pipeline
(jobs/pipeline.py): each micro-batch probes a persistent content-digest
index (anti-join on the fixed-width md5 — historical TEXT is never
rescanned), survivors pass the fused language/quality gate, and both the
curated output and the index delta are APPENDED — day-N cost is
proportional to day-N data, not corpus size.

Exactly-once note: ``foreachBatch`` gives at-least-once on retry; the
appends here are made idempotent per micro-batch by writing each batch's
files under a ``batch_id={id}`` subdirectory and overwriting it, the
standard idempotent-foreachBatch recipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    dedup_by_pairs,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signature,
    signature_agreement,
    signature_bands,
)
from ..operators.membership import bloom_build, bloom_gated_anti_join
from ..operators.textstats import (
    classifier_score,
    filter_blocked_domains,
    fix_mojibake as _fix_mojibake_col,
    text_stats,
)

_NEARDUP_HASHES = 8
_NEARDUP_BANDS = 4
_BLOOM_K = 5
_BLOOM_SALT = "ingest-bloom"


def _batch_ids_on_disk(spark, path: str) -> set[int] | None:
    """batch_id partition values present under ``path`` by directory
    listing — pure filesystem metadata, no Spark job, no row scan.
    None when the path doesn't exist yet."""
    from ..sources.versioned import _fs

    fs, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    out: set[int] = set()
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            out.add(int(name.split("=", 1)[1]))
    return out


def _bloom_history(spark, index_dir: str, batch_id: int, m_bits: int, seen):
    """Folded bloom bitmap covering EVERY index batch < batch_id.

    Correctness hinges on the bitmap being a superset of the index's
    keys — a bloom missing any indexed batch would produce false
    negatives and silently re-admit deduped history. Coverage is
    checked batch-directory-for-batch-directory (metadata listing, no
    scan); when the artifact doesn't cover the index (sink upgraded to
    bloom_bits mid-history, or a partial artifact) the bitmap is
    REBUILT from the fixed-width digest index in one pass — self-heal,
    never trust-and-miss. A bitmap built with a different m is useless
    noise, so an m_bits mismatch fails the batch loudly (same contract
    as a corrupted index)."""
    bloom_dir = f"{index_dir}/_bloom"
    covered = _batch_ids_on_disk(spark, bloom_dir)
    needed = _batch_ids_on_disk(spark, index_dir) or set()
    needed = {b for b in needed if b < batch_id}
    if covered is not None and needed <= {b for b in covered if b < batch_id}:
        have = spark.read.parquet(bloom_dir).filter(
            F.col("batch_id") < F.lit(batch_id)
        )
        mm = have.select(
            F.min("m_bits").alias("lo"), F.max("m_bits").alias("hi")
        ).first()
        if mm.lo is not None and (mm.lo != m_bits or mm.hi != m_bits):
            raise ValueError(
                f"bloom artifact at {bloom_dir} was built with "
                f"m_bits={mm.lo}..{mm.hi}, sink configured {m_bits}; "
                "refusing to fold incompatible bitmaps"
            )
        return have.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))
    return bloom_build(
        seen.select("text_hash"), "text_hash", m_bits, _BLOOM_K, _BLOOM_SALT
    )


# winnow_fingerprints' (k, w) — fixed here, but stamped into the index
# anyway so a future configurable contract is already guarded
_WINNOW_K, _WINNOW_W = 5, 4


def _winnow_params_check(
    spark, index_dir: str, k: int, w: int, max_per_doc: int | None
) -> None:
    """Versioned-artifact contract for the winnow index (round-12 —
    VERDICT r11 #5, the bloom m_bits precedent): (k, w, max_per_doc)
    define which hashes the index rows CONTAIN, so a restart under a
    different contract would probe an incompatible index silently — a
    different k/w hashes a disjoint stream (zero recall, no error), a
    different cap silently changes recall against history. The params
    are stamped into ``<index_dir>/_params`` on first use and any later
    mismatch fails the batch loudly. A missing stamp under an existing
    index (pre-upgrade history) is stamped with the CURRENT config —
    drift before the stamp existed is undetectable, and raising would
    brick every pre-upgrade index. An EMPTY or uncommitted stamp dir
    (a crash mid-write leaves only hidden _temporary/_SUCCESS debris,
    or a committed-but-rowless dataset) carries no contract
    information and is re-stamped the same way — self-heal, never
    brick (round-12 review finding: the naive exists-then-read path
    died on schema inference forever after one interrupted write)."""
    from ..sources.versioned import _fs

    pdir = f"{index_dir}/_params"
    cap = -1 if max_per_doc is None else int(max_per_doc)
    fs, jvm = _fs(spark, pdir)

    def _stamp():
        spark.createDataFrame(
            [(int(k), int(w), cap)], "k int, w int, max_per_doc int"
        ).coalesce(1).write.mode("overwrite").parquet(pdir)

    p = jvm.org.apache.hadoop.fs.Path(pdir)
    if not fs.exists(p):
        _stamp()
        return
    has_data = any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(p)
    )
    if not has_data:
        _stamp()
        return
    row = spark.read.parquet(pdir).first()
    if row is None:
        _stamp()
        return
    have = (row["k"], row["w"], row["max_per_doc"])
    if have != (k, w, cap):
        raise ValueError(
            f"winnow index at {index_dir} was built with "
            f"(k, w, max_per_doc)={have}, sink configured "
            f"({k}, {w}, {cap}); the index rows hash a different "
            "stream — refusing to probe an incompatible index "
            "(rebuild the index or restore the original config)"
        )


def _history(spark, index_dir: str, batch_id: int):
    """Read a persistent per-batch-partitioned index EXCLUDING rows the
    current batch id wrote: foreachBatch is at-least-once, and on a
    replay the batch's own previously-written rows would otherwise match
    every row of the batch and wipe it out (output AND index) — the
    replayed overwrite would then persist the loss. Filtering on the
    discovered ``batch_id`` partition column restores true idempotency;
    the filter prunes whole partitions, so no historical data is read
    twice.

    Returns ``None`` when the index holds no batch partitions yet
    (first batch). "No index yet" is detected by a directory listing —
    NOT a bare path-exists stat (the ``_params`` contract stamp
    creates the directory before the first batch writes, and hidden
    ``_``-prefixed artifacts are invisible to the parquet reader, so a
    stat-then-read would die on schema inference), and NOT by catching
    AnalysisException: a corrupted or schema-drifted index ALSO raises
    AnalysisException, and swallowing it would silently re-admit the
    entire deduped history. A directory holding any VISIBLE entry that
    is not a ``batch_id=`` partition is exactly that corruption case
    and fails the batch loudly."""
    from ..sources.versioned import _fs

    fs, jvm = _fs(spark, index_dir)
    p = jvm.org.apache.hadoop.fs.Path(index_dir)
    if not fs.exists(p):
        return None
    batches, foreign = 0, []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("batch_id="):
            batches += 1
        elif not name.startswith(("_", ".")):
            foreign.append(name)
    if foreign:
        raise ValueError(
            f"index at {index_dir} contains non-partition entries "
            f"{foreign[:5]} — corrupted or foreign data; refusing to "
            "treat it as an empty index (that would silently re-admit "
            "deduped history)"
        )
    if batches == 0:
        return None
    return spark.read.parquet(index_dir).filter(
        F.col("batch_id") < F.lit(batch_id)
    )


def curated_ingest_sink(
    out_dir: str,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str | None = None,
    min_quality: float | None = None,
    blocked_domains: list[str] | None = None,
    neardup_threshold: float | None = None,
    neardup_index_dir: str | None = None,
    winnow_min_shared: int | None = None,
    winnow_index_dir: str | None = None,
    winnow_max_df: int = 1000,
    winnow_max_per_doc: int | None = 256,
    min_clf_score: float | None = None,
    clf_weights: list[tuple[str, float]] | None = None,
    min_dsir_score: float | None = None,
    dsir_ratios_dir: str | None = None,
    max_perplexity: float | None = None,
    lm_dir: str | None = None,
    bpe_dir: str | None = None,
    unigram_dir: str | None = None,
    wordpiece_dir: str | None = None,
    drift_census_dir: str | None = None,
    max_js_divergence: float | None = None,
    bloom_bits: int | None = None,
    fix_mojibake: bool = False,
):
    """Build a ``foreachBatch`` function: drop docs referencing blocked
    registered domains (optional — first, the cheapest batch-shrinking
    gate, mirroring the batch pipeline's stage order), dedup each
    micro-batch against the persistent digest index at ``index_dir``,
    optionally near-dedup it against a persistent MinHash BAND index,
    apply the optional language/quality gate (plus the optional model
    gates: classifier floor, DSIR relevance floor against a
    ``save_dsir_ratios`` artifact, LM-perplexity ceiling against a
    ``save_bigram_lm`` artifact), append survivors to
    ``out_dir`` and their digests/bands to the indexes.
    ``blocked_domains`` is a plain list (PSL-registered domains or IPv4
    literals); it plays the broadcast side-table role per micro-batch.

    Incremental near-dup (``neardup_threshold`` + ``neardup_index_dir``
    both set): each batch computes 3-gram-shingle MinHash signatures,
    probes the band index by bucket equi-join for candidates (recall
    bounded by the banding scheme, like any LSH), verifies candidates
    by SIGNATURE AGREEMENT (estimated Jaccard — historical text is
    never re-read; the index holds (bucket, id, signature) rows), and
    drops batch docs whose estimate meets the threshold against any
    indexed doc. Within-batch near-dups collapse to the min-id
    representative through the same banding + agreement verify. Day-N
    cost is proportional to day-N data plus matched candidates — the
    scale contract of the exact-dedup index, extended to near-dups.

    Incremental PARTIAL-overlap near-dup (``winnow_min_shared`` +
    ``winnow_index_dir`` both set — round 11, the streaming sibling of
    curate's ``--winnow-min-shared`` gate): each batch computes winnow
    fingerprints (textstats.winnow_fingerprints — selected rolling-hash
    minima; ``winnow_max_per_doc`` keeps the smallest N per doc so the
    PERSISTENT index stays rows×O(N), the MinHash-style sampling rule),
    collapses within-batch pairs sharing >= ``winnow_min_shared``
    hashes to the min-id representative, then probes the historical
    (id, whash) index by hash equi-join and drops batch docs sharing
    >= the threshold with ANY indexed doc — the long-quote/boilerplate
    copies whole-set MinHash agreement dilutes away. Hashes in more
    than ``winnow_max_df`` docs (per side) are census-dropped before
    any join — the LSH hot-bucket bound, applied to batch AND history
    independently (history's census is over the index, so a
    boilerplate hash that became ubiquitous over time stops pairing
    without rewriting old index rows). Day-N cost: day-N fingerprints
    plus matched candidates, the exact-dedup index contract.

    ``bloom_bits`` (optional): maintain a Bloom bitmap artifact under
    ``{index_dir}/_bloom`` (per-batch partitions, folded by ``bit_or``)
    and route only might-contain rows into the exact digest anti-join —
    definitely-new rows (most of a crawl day) skip the index shuffle
    entirely. Admissions are EXACTLY the plain anti-join's (false
    negatives impossible; pinned), the artifact self-heals from the
    digest index when it doesn't cover history, and an m_bits change
    fails loudly. Size for ~10 bits per expected corpus-lifetime
    distinct doc (~1% FPR at k=5; cap 2^28 bits = 32 MB).

    ``fix_mojibake=True`` repairs cp1252-mojibake text (codegen
    translate/encode expression, operators/textstats.fix_mojibake)
    before ANY digesting, so a mojibake'd re-fetch of an already-
    indexed page collapses via the EXACT digest index rather than
    surviving as a spurious near-variant.
    """

    if sum(d is not None for d in (bpe_dir, unigram_dir, wordpiece_dir)) > 1:
        # all three stages emit piece_token_ids/n_pieces — running two
        # would collide on the join; one tokenizer per sink, chosen loudly
        raise ValueError(
            "bpe_dir, unigram_dir and wordpiece_dir are mutually "
            "exclusive — pick one tokenizer artifact per sink"
        )

    _lm_cache: list = []  # one artifact load per sink lifetime
    _bpe_cache: list = []  # ditto for the BPE tokenizer
    _uni_cache: list = []  # ditto for the unigram-LM tokenizer
    _wp_cache: list = []  # ditto for the WordPiece tokenizer
    _drift_cache: list = []  # ditto for the reference token census
    _dsir_cache: list = []  # ditto for the DSIR ratio table

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if fix_mojibake:
            # decode hygiene FIRST: a cp1252-mojibake re-fetch must
            # repair to its clean twin's exact bytes BEFORE the digest
            # is computed, so the exact-dedup index (not near-dup)
            # collapses it; the drift census below also sees repaired
            # text (mojibake is decode damage, not distribution drift)
            batch_df = batch_df.withColumn(
                text_col, _fix_mojibake_col(text_col)
            )
        if drift_census_dir is not None:
            # distribution-drift circuit breaker: compare THIS batch's
            # token distribution against a persisted reference census
            # (profile.token_census parquet — train-corpus or
            # last-known-good). Metrics land in <out>/_drift/ (the
            # leading underscore hides the dir from parquet discovery,
            # so output readers never see them); with
            # ``max_js_divergence`` set, a breaching batch is
            # QUARANTINED — metrics recorded, nothing appended to the
            # output or the dedup indexes — the upstream-went-bad guard
            # (encoding corruption, wrong-source feed, language flip)
            # that per-doc gates cannot catch.
            from ..operators.profile import (
                census_divergence,
                divergence_summary,
                token_census,
            )

            if not _drift_cache:
                _drift_cache.append(
                    spark.read.parquet(drift_census_dir).withColumnRenamed(
                        "freq", "c_a"
                    )
                )
            live = token_census(batch_df, text_col).withColumnRenamed(
                "freq", "c_b"
            )
            row = divergence_summary(
                census_divergence(_drift_cache[0], live)
            ).collect()[0]
            breached = (
                max_js_divergence is not None
                and row["js_divergence"] > max_js_divergence
            )
            # batch_id rides on the partition directory (like the index
            # writes) — a data column with the same name would collide
            # with the inferred partition column on read
            spark.createDataFrame(
                [(float(row["js_divergence"]), float(row["vocab_jaccard"]),
                  bool(breached))],
                "js_divergence double, vocab_jaccard double,"
                " quarantined boolean",
            ).write.mode("overwrite").parquet(
                f"{out_dir}/_drift/batch_id={batch_id}"
            )
            if breached:
                return
        if blocked_domains:
            bl = spark.createDataFrame(
                [(d,) for d in blocked_domains], ["domain"]
            )
            batch_df = filter_blocked_domains(batch_df, id_col, text_col, bl)
        hashed = batch_df.withColumn(
            "text_hash", F.md5(F.col(text_col).cast("binary"))
        )
        # plain anti-join on the digest: AQE broadcasts while the
        # index is small and shuffles fixed-width keys once it isn't
        # (never force-broadcast a corpus-lifetime index)
        seen = _history(spark, index_dir, batch_id)
        if seen is None:  # first batch: no index yet
            fresh = hashed
        elif bloom_bits is not None:
            fresh = bloom_gated_anti_join(
                hashed,
                "text_hash",
                seen.select("text_hash"),
                _bloom_history(spark, index_dir, batch_id, bloom_bits, seen),
                m_bits=bloom_bits,
                k=_BLOOM_K,
                salt=_BLOOM_SALT,
            )
        else:
            fresh = hashed.join(
                seen.select("text_hash"), "text_hash", "left_anti"
            )
        survivors = exact_dedup(fresh, ["text_hash"], [id_col])

        sig = None
        if neardup_threshold is not None and neardup_index_dir is not None:
            sig = minhash_signature(
                survivors, id_col, text_col,
                num_hashes=_NEARDUP_HASHES, shingle_n=3,
            )
            # within-batch near-dups → min-id representative
            cand = lsh_candidate_pairs(
                sig, id_col, num_hashes=_NEARDUP_HASHES, bands=_NEARDUP_BANDS
            )
            verified = signature_agreement(
                cand.select(
                    F.col("id_a"), F.col("id_b")
                ),
                sig,
                sig,
                num_hashes=_NEARDUP_HASHES,
            ).filter(F.col("est_jaccard") >= neardup_threshold)
            survivors = dedup_by_pairs(survivors, verified, id_col)
            sig = sig.join(
                survivors.select(id_col), id_col, "left_semi"
            )
            bands = signature_bands(
                sig, id_col, num_hashes=_NEARDUP_HASHES, bands=_NEARDUP_BANDS
            )
            idx = _history(spark, neardup_index_dir, batch_id)
            if idx is not None:
                hits = (
                    bands.join(
                        idx.select(
                            "bucket",
                            F.col(id_col).alias("id_b"),
                            *[f"mh{i}" for i in range(_NEARDUP_HASHES)],
                        ),
                        "bucket",
                    )
                    .select(F.col(id_col).alias("id_a"), "id_b")
                    .distinct()
                )
                est = signature_agreement(
                    hits,
                    sig,
                    idx.select(
                        id_col, *[f"mh{i}" for i in range(_NEARDUP_HASHES)]
                    ).distinct(),
                    num_hashes=_NEARDUP_HASHES,
                )
                dupes = (
                    est.filter(F.col("est_jaccard") >= neardup_threshold)
                    .select(F.col("id_a").alias(id_col))
                    .distinct()
                )
                survivors = survivors.join(dupes, id_col, "left_anti")
                sig = sig.join(dupes, id_col, "left_anti")

        wfp = None
        if winnow_min_shared is not None and winnow_index_dir is not None:
            from ..operators.textstats import (
                winnow_fingerprints,
                winnow_pairs_from_fingerprints,
                winnow_rare_hashes,
            )

            # contract check FIRST (cheap metadata read) — before any
            # fingerprint work runs under a config the index can't serve
            _winnow_params_check(
                spark, winnow_index_dir,
                _WINNOW_K, _WINNOW_W, winnow_max_per_doc,
            )
            # one fingerprint pass per batch; localCheckpoint because
            # the index has multiple consumers below (census, both
            # self-join sides, the history probe, the index write) —
            # the winnow_neardup_pairs multi-consumer policy
            wfp = winnow_fingerprints(
                survivors, id_col, text_col, max_per_doc=winnow_max_per_doc
            ).localCheckpoint()
            rare = winnow_rare_hashes(wfp, winnow_max_df)
            wpairs = winnow_pairs_from_fingerprints(
                wfp, winnow_min_shared, rare
            )
            survivors = dedup_by_pairs(survivors, wpairs, id_col)
            wfp = wfp.join(
                survivors.select(F.col(id_col).alias("id")),
                "id",
                "left_semi",
            )
            widx = _history(spark, winnow_index_dir, batch_id)
            if widx is not None:
                # BOTH sides census before the probe: the batch side
                # joins its own `rare` (a batch-ubiquitous footer must
                # not pair the whole batch against history even when
                # history holds few enough copies to pass ITS census),
                # and the history side censuses over the index so a
                # hash ubiquitous ACROSS TIME stops pairing without
                # rewriting old index rows
                hrare = winnow_rare_hashes(widx, winnow_max_df)
                # threshold per (batch doc, HISTORY doc) pair — the
                # contract is ">= min_shared hashes with ANY indexed
                # doc", not summed across all of history
                wdupes = (
                    wfp.join(rare, "whash")
                    .join(
                        widx.join(hrare, "whash").select(
                            F.col("id").alias("_hid"), "whash"
                        ),
                        "whash",
                    )
                    .groupBy("id", "_hid")
                    .agg(F.count(F.lit(1)).alias("n_shared"))
                    .filter(F.col("n_shared") >= winnow_min_shared)
                    .select(F.col("id").alias(id_col))
                    .distinct()
                )
                survivors = survivors.join(wdupes, id_col, "left_anti")
                wfp = wfp.join(
                    wdupes.select(F.col(id_col).alias("id")),
                    "id",
                    "left_anti",
                )

        if lang is not None or min_quality is not None:
            stats = text_stats(survivors, id_col, text_col)
            cond = F.lit(True)
            if lang is not None:
                cond = cond & (F.col("pred_lang") == lang)
            if min_quality is not None:
                cond = cond & (F.col("quality") >= min_quality)
            survivors = survivors.join(
                stats.filter(cond).select(id_col), id_col, "left_semi"
            )
        if min_clf_score is not None:
            # linear-classifier gate, mirroring the batch pipeline's
            # model-gate stage: weight table (tiny — broadcast inside
            # classifier_score) or the hashed stand-in model
            wtab = (
                batch_df.sparkSession.createDataFrame(
                    list(clf_weights), ["token", "weight"]
                )
                if clf_weights
                else None
            )
            clf = classifier_score(survivors, id_col, text_col, weights=wtab)
            survivors = survivors.join(
                clf.filter(F.col("clf_score") >= min_clf_score).select(id_col),
                id_col,
                "left_semi",
            )
        if min_dsir_score is not None:
            # DSIR relevance gate against a PRETRAINED ratio artifact
            # (save_dsir_ratios — fit target-vs-raw ratios offline,
            # gate the stream against them). Per-batch self-fitting
            # would measure each batch against ITSELF and produce
            # incomparable scores, so like the LM gate this is
            # artifact-only; the bucketing (n_buckets, salt) travels
            # inside the artifact so the stream can't silently score
            # with a mismatched hash space.
            if dsir_ratios_dir is None:
                raise ValueError(
                    "min_dsir_score needs dsir_ratios_dir (a "
                    "save_dsir_ratios artifact); per-batch self-"
                    "fitting is not a meaningful streaming gate"
                )
            from ..operators.sampling import dsir_scores, load_dsir_ratios

            if not _dsir_cache:
                _dsir_cache.append(load_dsir_ratios(spark, dsir_ratios_dir))
            ratios, nb, dsalt = _dsir_cache[0]
            ds = dsir_scores(
                survivors, ratios, id_col, text_col,
                n_buckets=nb, salt=dsalt,
            )
            # flag-and-anti-join: featureless docs carry no score and
            # pass through (no positive evidence of irrelevance)
            off_target = ds.filter(
                F.col("dsir_score") < min_dsir_score
            ).select(id_col)
            survivors = survivors.join(off_target, id_col, "left_anti")
        if max_perplexity is not None:
            # perplexity gate against a PRETRAINED model (lm_dir — the
            # CCNet deployment shape: train offline on a clean reference
            # corpus via relevance.save_bigram_lm, gate the stream
            # online with full backoff for never-seen grams). Training
            # per micro-batch would give every batch its own model and
            # incomparable scores, so a model artifact is required.
            if lm_dir is None:
                raise ValueError(
                    "max_perplexity needs lm_dir (a save_bigram_lm "
                    "artifact); per-batch self-training is not a "
                    "meaningful streaming gate"
                )
            from ..operators.relevance import (
                lm_perplexity,
                load_bigram_lm,
            )

            # load the artifact once per sink, not once per micro-batch
            # (the closure cell caches the lazy plans + the vocab scalar)
            if not _lm_cache:
                _lm_cache.append(load_bigram_lm(spark, lm_dir))
            lm, ctx, v = _lm_cache[0]
            ppl = lm_perplexity(
                survivors, lm, ctx, v, id_col, text_col
            )
            junk = ppl.filter(F.col("ppl") > max_perplexity).select(id_col)
            survivors = survivors.join(junk, id_col, "left_anti")
        if bpe_dir is not None:
            # encode survivors with a PRETRAINED BPE tokenizer (save_bpe
            # artifact — training per micro-batch would give every batch
            # its own incompatible piece ids, so like the LM gate this
            # is artifact-only). Same per-sink model cache; encode cost
            # stays word-TYPE-scoped inside apply_bpe.
            from ..operators.bpe import apply_bpe, load_bpe, piece_id_map

            if not _bpe_cache:
                merges, alphabet = load_bpe(spark, bpe_dir)
                _bpe_cache.append((merges, piece_id_map(merges, alphabet)))
            merges, ids = _bpe_cache[0]
            enc = apply_bpe(
                survivors, id_col, text_col, merges, piece_ids=ids
            ).select(id_col, "piece_token_ids", "n_pieces")
            survivors = survivors.join(enc, id_col)
        if unigram_dir is not None:
            # unigram-LM sibling of the BPE stage: same artifact-only
            # contract (per-batch self-training would give every batch
            # incompatible piece ids), same per-sink model cache, same
            # word-TYPE-scoped encode cost inside apply_unigram
            from ..operators.unigram import (
                apply_unigram,
                load_unigram,
                unigram_piece_id_map,
            )

            if not _uni_cache:
                mdl = load_unigram(spark, unigram_dir)
                _uni_cache.append((mdl, unigram_piece_id_map(mdl)))
            mdl, uids = _uni_cache[0]
            enc = apply_unigram(
                survivors, id_col, text_col, mdl, piece_ids=uids
            ).select(id_col, "piece_token_ids", "n_pieces")
            survivors = survivors.join(enc, id_col)
        if wordpiece_dir is not None:
            # WordPiece sibling: same artifact-only contract (per-batch
            # self-training would give every batch incompatible piece
            # ids), same per-sink model cache, same word-TYPE-scoped
            # encode cost inside apply_wordpiece
            from ..operators.wordpiece import (
                apply_wordpiece,
                load_wordpiece,
                wordpiece_piece_id_map,
            )

            if not _wp_cache:
                wv = load_wordpiece(spark, wordpiece_dir)
                _wp_cache.append((wv, wordpiece_piece_id_map(wv)))
            wv, wids = _wp_cache[0]
            enc = apply_wordpiece(
                survivors, id_col, text_col, wv, piece_ids=wids
            ).select(id_col, "piece_token_ids", "n_pieces")
            survivors = survivors.join(enc, id_col)
        # per-batch subdir + overwrite = idempotent under micro-batch retry
        survivors.drop("text_hash").write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        survivors.select("text_hash").write.mode("overwrite").parquet(
            f"{index_dir}/batch_id={batch_id}"
        )
        if bloom_bits is not None:
            # this batch's index delta as a bitmap — the underscore dir
            # is invisible to parquet discovery of index_dir, and the
            # per-batch overwrite keeps replays idempotent like the
            # index writes above
            bloom_build(
                survivors.select("text_hash"), "text_hash",
                bloom_bits, _BLOOM_K, _BLOOM_SALT,
            ).withColumn("m_bits", F.lit(bloom_bits)).write.mode(
                "overwrite"
            ).parquet(f"{index_dir}/_bloom/batch_id={batch_id}")
        if sig is not None:
            # band index rows for FINAL survivors only (post-gates):
            # (bucket, id, signature) — probed by bucket, verified by
            # signature, text never stored
            final_sig = sig.join(
                survivors.select(id_col), id_col, "left_semi"
            )
            signature_bands(
                final_sig, id_col,
                num_hashes=_NEARDUP_HASHES, bands=_NEARDUP_BANDS,
            ).join(final_sig, id_col).write.mode("overwrite").parquet(
                f"{neardup_index_dir}/batch_id={batch_id}"
            )
        if wfp is not None:
            # winnow index rows for FINAL survivors only (post-gates):
            # (id, whash) — probed by hash equi-join, text never stored
            wfp.join(
                survivors.select(F.col(id_col).alias("id")),
                "id",
                "left_semi",
            ).write.mode("overwrite").parquet(
                f"{winnow_index_dir}/batch_id={batch_id}"
            )

    return write_batch


def run_curated_ingest(
    stream_df: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    **gate_kwargs,
):
    """Start the curated-ingest stream (availableNow trigger: drain what
    is currently available, then stop — the batch-refresh deployment
    mode; drop the trigger for continuous ingest)."""
    q = (
        stream_df.writeStream.foreachBatch(
            curated_ingest_sink(out_dir, index_dir, **gate_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def embedding_ingest_sink(
    out_dir: str,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
):
    """foreachBatch function: incremental EMBEDDING near-dup against a
    persistent QUANTIZED LSH bucket index — the vector-side sibling of
    the MinHash band index above.

    Per micro-batch: hyperplane-LSH bucket each vector, probe the index
    by bucket equi-join (candidates only — never all-pairs against
    history), verify by exact cosine against the DEQUANTIZED stored
    codes, drop batch vectors meeting the threshold; within-batch dups
    collapse to the min-id representative through the same bucket
    pairing. Survivors append int8 codes + scale to the index — the
    quantizer's 4x cut applied where it matters most, the table every
    future batch probes. Day-N cost ∝ day-N data + matched candidates.

    Verification runs on dequantized history (int8 grid error perturbs
    cosine by ≲1e-2 for unit vectors), so ``threshold`` is a decision on
    the quantized representation — the documented contract of any
    quantized ANN index; batch-internal pairs use full-precision
    vectors. Recall is bounded by the single LSH table (raise via
    ``n_planes`` ↓ or multiple tables), like every LSH path here.
    """
    from ..functions.vectors import as_double, cosine
    from ..operators.embeddings import quantize_embeddings
    from ..operators.similarity import _hyperplanes, lsh_bucket

    planes = _hyperplanes(dim, n_planes)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(
            F.col(id_col).cast("long").alias(id_col),
            as_double(vec_col).alias(vec_col),
        ).withColumn("bucket", lsh_bucket(F.col(vec_col), planes))

        # 1. probe history: bucket equi-join, exact cosine on dequantized
        #    (the current batch's own replayed rows excluded — _history)
        index = _history(spark, index_dir, batch_id)
        if index is not None:
            cand = batch.join(
                index.select(
                    "bucket",
                    F.col("qvec").alias("_iq"),
                    F.col("scale").alias("_is"),
                ),
                "bucket",
            )
            hist_vec = F.transform(
                "_iq", lambda q: q.cast("double") * F.col("_is")
            )
            dup_ids = (
                cand.withColumn("_sim", cosine(F.col(vec_col), hist_vec))
                .filter(F.round("_sim", 4) >= threshold)
                .select(id_col)
                .distinct()
            )
            batch = batch.join(dup_ids, id_col, "left_anti")

        # 2. within-batch dups: same-bucket pairs, min-id survives
        a = batch.select(
            "bucket", F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va")
        )
        b = batch.select(
            "bucket", F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb")
        )
        losers = (
            a.join(b, "bucket")
            .filter(F.col("_ida") < F.col("_idb"))
            .withColumn("_sim", cosine(F.col("_va"), F.col("_vb")))
            .filter(F.round("_sim", 4) >= threshold)
            .select(F.col("_idb").alias(id_col))
            .distinct()
        )
        batch = batch.join(losers, id_col, "left_anti")

        # 3. idempotent appends: survivors + their quantized index rows
        batch.select(id_col, vec_col).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )
        quantize_embeddings(batch, id_col, vec_col).select(
            "bucket", id_col, "qvec", "scale"
        ).write.mode("overwrite").parquet(f"{index_dir}/batch_id={batch_id}")

    return write_batch


def media_ingest_sink(
    out_dir: str,
    index_dir: str,
    tier: str = "image",
    max_hamming: int = 6,
):
    """foreachBatch function: incremental MEDIA near-dup against a
    persistent perceptual-hash band index — the image/audio sibling of
    the text (MinHash) and embedding (quantized LSH) ingest indexes.

    Per micro-batch: perceptual-hash each blob (``tier``:
    ``multimodal.image_phash`` for image mimes, ``audio_phash`` for
    audio; codec-less mimes get the digest fallback = exact-only
    matching), probe the index by pigeonhole-band equi-join
    (``dedup.simhash_bands`` — candidates only, never all-pairs against
    history), verify by exact popcount(xor) ≤ ``max_hamming``, drop
    matches; within-batch near-dups collapse to the min-id
    representative through ``dedup.simhash_neardup_pairs``. Survivors
    append their band rows (band, bits, id, phash — 8-byte fingerprints,
    never media bytes) to the index: day-N cost ∝ day-N data plus
    matched candidates, and the index stores ~(max_hamming+1) tiny rows
    per asset regardless of blob size.

    The batch's fingerprints are computed ONCE (persisted for the
    micro-batch, unpersisted after the writes): the history probe, the
    within-batch pairing (``dedup.simhash_neardup_pairs`` over the SAME
    fp table — never a second decode pass) and the index append all
    read them. Input must use the ``multimodal.MEDIA_SCHEMA`` column
    contract (media_id, content, mime) — the phash operators' own
    contract.
    """
    from ..operators.dedup import simhash_bands
    from ..operators.multimodal import audio_phash, image_phash

    hash_fn = {"image": image_phash, "audio": audio_phash}.get(tier)
    if hash_fn is None:
        raise ValueError(f"media_ingest_sink: unknown tier {tier!r}")
    id_col = "media_id"  # the MEDIA_SCHEMA / phash-operator contract

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import simhash_neardup_pairs

        spark = batch_df.sparkSession
        # ONE decode+hash pass per batch, persisted across the probe,
        # the within-batch pairing and the two writes below
        fp = (
            hash_fn(batch_df)
            .select(F.col(id_col), F.col("phash").alias("simhash"))
            .persist()
        )
        try:
            bands = simhash_bands(fp, id_col, max_hamming)
            survivors_ids = fp.select(id_col)
            # 1. probe history by band key, popcount verify
            index = _history(spark, index_dir, batch_id)
            if index is not None:
                dup_ids = (
                    bands.join(
                        index.select(
                            "band", "bits", F.col("phash").alias("_ih")
                        ),
                        ["band", "bits"],
                    )
                    .filter(
                        F.bit_count(
                            F.col("simhash").bitwiseXOR(F.col("_ih"))
                        )
                        <= max_hamming
                    )
                    .select(F.col("id").alias(id_col))
                    .distinct()
                )
                survivors_ids = survivors_ids.join(
                    dup_ids, id_col, "left_anti"
                )
            # 2. within-batch near-dups over the SAME fingerprints —
            #    min-id survives (higher id of every verified pair drops)
            batch_losers = (
                simhash_neardup_pairs(
                    fp.join(survivors_ids, id_col, "left_semi"),
                    id_col,
                    max_hamming=max_hamming,
                )
                .select(F.col("id_b").alias(id_col))
                .distinct()
            )
            survivors_ids = survivors_ids.join(
                batch_losers, id_col, "left_anti"
            )
            survivors = batch_df.join(survivors_ids, id_col, "left_semi")
            # 3. idempotent appends: surviving media + band index rows
            survivors.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={batch_id}"
            )
            (
                simhash_bands(
                    fp.join(survivors_ids, id_col, "left_semi"),
                    id_col,
                    max_hamming,
                )
                .select(
                    "band", "bits", F.col("id"),
                    F.col("simhash").alias("phash"),
                )
                .write.mode("overwrite")
                .parquet(f"{index_dir}/batch_id={batch_id}")
            )
        finally:
            fp.unpersist()

    return write_batch


def run_media_ingest(
    stream_df: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    **sink_kwargs,
):
    """Start the media-ingest stream (availableNow trigger — same
    drain-and-stop deployment shape as ``run_curated_ingest``)."""
    q = (
        stream_df.writeStream.foreachBatch(
            media_ingest_sink(out_dir, index_dir, **sink_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _artifact_fold_sink(artifact_dir: str, state_cols: list[str],
                        build_inc, fold):
    """Shared skeleton for versioned-artifact foreachBatch sinks: read
    the committed artifact (FileNotFoundError = first batch, ONLY that
    — a corrupted pointer or unreadable snapshot raises through and
    fails the batch loudly; silently treating it as "no artifact yet"
    would reset the fold and double-count history on the next publish,
    the round-5 verdict's AnalysisException-catch lesson), skip
    replayed batches via the stored ``last_batch_id`` (foreachBatch is
    at-least-once; ``write_table_version`` publishes atomically — data
    first, pointer flip last — so a crash MID-fold leaves the previous
    version referenced, exactly the state the replay expects),
    ``fold(existing_or_None, build_inc(batch))``, stamp, publish.

    ``reclaim_stale_after_s=0``: each sink is its table's ONLY writer,
    so an existing claim at our version can only be the orphan of our
    own crashed previous attempt; the last_batch_id check already
    guards true replays, so reclaiming cannot clobber a live fold."""
    from ..sources.versioned import read_table, write_table_version

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            existing = read_table(spark, artifact_dir)
        except FileNotFoundError:
            existing = None
        if existing is not None:
            done = existing.agg(F.max("last_batch_id")).collect()[0][0]
            if done is not None and done >= batch_id:
                return  # replayed batch: already folded, artifact intact
            existing = existing.select(*state_cols)
        merged = fold(existing, build_inc(batch_df)).withColumn(
            "last_batch_id", F.lit(batch_id)
        )
        write_table_version(merged, artifact_dir, reclaim_stale_after_s=0.0)

    return write_batch


def sketch_ingest_sink(
    group_cols: list[str],
    value_col: str,
    artifact_dir: str,
    lgk: int = 12,
):
    """foreachBatch function: maintain a mergeable distinct-count
    artifact (operators/sketches) over a stream — each micro-batch's
    per-group HLL sketches fold into a VERSIONED artifact table, so
    any point in the stream's history answers distinct-count questions
    from KBs of sketch bytes instead of a rescan, and the artifact's
    version history is itself time-travelable. Replay/crash contract:
    ``_artifact_fold_sink``. Per-batch cost: one map-side sketch agg
    of the batch + a read of the (groups)-sized artifact — history
    volume never re-read."""
    from ..operators.sketches import distinct_sketches, upsert_sketches

    return _artifact_fold_sink(
        artifact_dir,
        [*group_cols, "sketch", "n_rows"],
        lambda b: distinct_sketches(b, value_col, group_cols, lgk),
        lambda ex, inc: upsert_sketches(ex, inc, group_cols),
    )


def kmv_ingest_sink(
    group_cols: list[str],
    value_col: str,
    artifact_dir: str,
    k: int | None = None,
    salt: str = "kmv",
):
    """foreachBatch function: maintain a KMV theta-sketch artifact
    (operators/sketches.kmv_build) over a stream — each micro-batch's
    per-group k-smallest hash sets fold via ``kmv_merge``, which is
    EXACTLY build-of-union (pinned), so any artifact version answers
    distinct-count questions AND set-algebra questions
    (``kmv_set_estimates`` vs any other KMV artifact built with the
    same (k, salt): users-in-both-periods, docs-in-N-not-N-1) from
    ≤ k rows per group. The set-expression capability is what the HLL
    sketch_ingest_sink cannot provide. Replay/crash contract:
    ``_artifact_fold_sink``. Per-batch cost: one distinct-hash pass of
    the batch + a read of the ≤ k·groups-row artifact. ``k`` defaults
    to sketches.DEFAULT_KMV_K (not a local literal — streaming and
    batch sketches must keep the same k or their merges/set algebra
    silently mix thetas)."""
    from ..operators.sketches import DEFAULT_KMV_K, kmv_build, kmv_merge

    if k is None:
        k = DEFAULT_KMV_K
    return _artifact_fold_sink(
        artifact_dir,
        [*group_cols, "hv"],
        lambda b: kmv_build(b, value_col, group_cols, k, salt),
        lambda ex, inc: inc if ex is None else kmv_merge(
            ex, inc, group_cols, k
        ),
    )


def kmeans_ingest_sink(
    centroids,
    artifact_dir: str,
    vec_col: str = "embedding",
    fp_dp: int = 6,
):
    """foreachBatch function: maintain the ANN serving index's moment
    artifact over an embedding stream — each micro-batch assigns its
    vectors to the FROZEN serving centroids (broadcast, one Arrow pass,
    ≤ k×dim rows out; operators/similarity.kmeans_moment_partials) and
    the fixed-point (cell, dim) sums + counts fold by EXACT BIGINT
    addition into a versioned artifact, so merge == build-of-union
    row-for-row (the census-sink algebra) and
    ``similarity.kmeans_refit`` can roll the index to its next Lloyd
    update at any point from k×dim numbers — the stream itself is never
    re-read. Replay/crash contract: ``_artifact_fold_sink``. This is
    index MAINTENANCE for the ivf_topk(centroids=...) serving path:
    assign against frozen centroids per batch, refit on your schedule,
    redeploy — and START A FRESH artifact_dir for the rolled index
    (this artifact's history was assigned under THESE centroids; one
    artifact generation per index generation — kmeans_refit's
    operational contract, and it shape-validates foreign artifacts)."""
    import numpy as np

    from ..operators.similarity import kmeans_moment_partials

    cmat = np.asarray(centroids, dtype="float64")

    def fold(ex: DataFrame | None, inc: DataFrame) -> DataFrame:
        if ex is None:
            return inc
        return (
            ex.unionByName(inc)
            .groupBy("cell_id", "dim")
            .agg(F.sum("s_fp").alias("s_fp"), F.sum("n").alias("n"))
        )

    return _artifact_fold_sink(
        artifact_dir,
        ["cell_id", "dim", "s_fp", "n"],
        lambda b: kmeans_moment_partials(b, cmat, vec_col, fp_dp),
        fold,
    )


def pq_ingest_sink(
    codebooks,
    artifact_dir: str,
    vec_col: str = "embedding",
    fp_dp: int = 6,
):
    """foreachBatch function: maintain the PQ index's moment artifact
    over an embedding stream — ``kmeans_ingest_sink`` generalized to
    product-quantization subspaces. Each micro-batch assigns its
    subvectors to the FROZEN codebooks (broadcast, one Arrow pass,
    ≤ m×ksub×dsub rows out; operators/pq.pq_moment_partials) and the
    fixed-point (sub, cell, dim) sums + counts fold by EXACT BIGINT
    addition into a versioned artifact (merge == build-of-union
    row-for-row), so ``pq.pq_refit`` can roll the codebooks to their
    next Lloyd update at any point from m×ksub×dsub numbers — the
    stream itself is never re-read. Replay/crash contract:
    ``_artifact_fold_sink``; one artifact GENERATION per codebook
    generation (pq_refit shape-validates foreign artifacts)."""
    import numpy as np

    from ..operators.pq import pq_moment_partials

    cb = np.asarray(codebooks, dtype="float64")

    def fold(ex: DataFrame | None, inc: DataFrame) -> DataFrame:
        if ex is None:
            return inc
        return (
            ex.unionByName(inc)
            .groupBy("sub", "cell", "dim")
            .agg(F.sum("s_fp").alias("s_fp"), F.sum("n").alias("n"))
        )

    return _artifact_fold_sink(
        artifact_dir,
        ["sub", "cell", "dim", "s_fp", "n"],
        lambda b: pq_moment_partials(b, cb, vec_col, fp_dp),
        fold,
    )


def census_ingest_sink(
    build_fn,
    key_cols: list[str],
    artifact_dir: str,
):
    """foreachBatch function: maintain any ADDITIVE census artifact
    over a stream — the CMS counter table and the quantile-sketch
    bucket table both fold by plain count addition, so one sink serves
    the whole non-HLL sketch family (operators/sketches): per batch,
    ``build_fn(batch_df)`` produces key_cols + ``cnt`` and the fold is
    union + sum per key into a VERSIONED artifact. Because addition is
    exactly build-of-union for these structures (pinned in
    tests/test_sketches.py), the incrementally maintained artifact
    answers IDENTICALLY to a from-scratch batch build. Replay/crash
    contract: ``_artifact_fold_sink``. Per-batch cost: one census of
    the batch + a read of the cell-bounded artifact — history never
    re-read."""

    def fold(ex: DataFrame | None, inc: DataFrame) -> DataFrame:
        if ex is None:
            return inc
        return (
            ex.unionByName(inc)
            .groupBy(*key_cols)
            .agg(F.sum("cnt").alias("cnt"))
        )

    return _artifact_fold_sink(
        artifact_dir, [*key_cols, "cnt"], build_fn, fold
    )

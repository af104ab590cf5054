"""Deduplication operators (§2.2 extension; absent in the reference).

Scale design (100 TB): exact dedup is a hash groupBy (shuffle on a fixed-
width digest, not the document bytes); MinHash+LSH bounds the candidate
space to same-bucket pairs so the verify join never goes quadratic; SimHash
gives a 64-bit fingerprint whose Hamming-ball lookup is a band join.

MinHash here is hash-function-portable: the per-token hash is
``md5(seed || ':' || token)`` and the signature component is the *lexical
minimum* of those hex digests — identical in any engine with md5
(DuckDB oracle parity), and distribution-equivalent to integer min-hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_text, text_word_ngrams, tokens_array
from ..session import checkpoint


def exact_dedup(df: DataFrame, subset: list[str], order_by: list[str]) -> DataFrame:
    """Deterministic exact dedup: keep the first row per key under a total
    order. ``dropDuplicates`` picks an arbitrary survivor; a row_number
    window with explicit tiebreakers makes the survivor reproducible."""
    w = Window.partitionBy(*subset).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def content_hash_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact content dedup via digest groupBy: shuffle key is the 32-byte
    md5, not the document text."""
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("text_hash"), id_col)
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def doc_tokens(
    df: DataFrame, id_col: str, text_col: str, distinct: bool = True
) -> DataFrame:
    """(id, token) pairs — the set representation used by Jaccard (distinct)
    and MinHash (``distinct=False``: min() dedupes for free, skipping a
    shuffle)."""
    out = df.select(id_col, F.explode(tokens_array(text_col)).alias("token"))
    return out.distinct() if distinct else out


def doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) distinct pairs where a shingle is a word n-gram —
    the order-sensitive set representation (SURVEY.md 'shingle→minhash→
    band→bucket-join'). Extracted straight from normalized text by a
    lookahead regex (codegen, no interpreted HOF) so the Generate emits
    shingles directly, no self-join."""
    shingles = text_word_ngrams(normalized_text(text_col), n)
    out = df.select(id_col, F.explode(shingles).alias("token"))
    return out.distinct() if distinct else out


def _minhash_agg(i: int):
    """One signature slot: min over the set of hash_i(token) — md5 of the
    salt-prefixed token (lexicographic min over hex digests),
    reproducible in any engine with md5."""
    salted = F.concat(F.lit(f"{i}:"), F.col("token"))
    return F.min(F.md5(salted.cast("binary"))).alias(f"mh{i}")


def minhash_signature(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_n: int | None = None,
) -> DataFrame:
    """MinHash signature: column ``mh{i}`` = min(hash_i(token)), the md5
    construction of _minhash_agg.

    One groupBy produces the whole signature (num_hashes aggregates in a
    single pass); no per-hash shuffle. ``shingle_n`` switches the set
    representation from unigram tokens to word n-gram shingles.
    """
    # No .distinct() before the aggregation: min() is duplicate-insensitive,
    # and the distinct would cost a full extra shuffle of the token stream —
    # partial aggregation already collapses duplicates map-side.
    if shingle_n is not None:
        toks = doc_shingles(df, id_col, text_col, n=shingle_n, distinct=False)
    else:
        toks = doc_tokens(df, id_col, text_col, distinct=False)
    aggs = [_minhash_agg(i) for i in range(num_hashes)]
    return toks.groupBy(id_col).agg(*aggs)


def minhash_signatures_multi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 8,
    shingle_ns: tuple[int | None, ...] = (None, 3),
    include_oph: bool = False,
) -> DataFrame:
    """Signatures for SEVERAL set representations in one pass: every mode's
    grams are extracted from the normalized text (lookahead regex, pure
    codegen) and concatenated BEFORE the single explode, so the whole thing
    is one scan and one (doc_id, mode) aggregation — where per-mode
    ``minhash_signature`` + union costs one scan and one shuffle PER MODE
    of the same total row volume; at scale it is the difference between 1
    and N passes over the corpus. The mode tag is recovered from the
    gram's space count (tokens contain no spaces), so only flat strings
    flow through the Generate — the former per-element struct tagging was
    an interpreted HOF and measured ~1.6x slower. ``mode`` is 'unigram'
    for shingle_n=None, else 'shingle{n}'.

    ``include_oph=True`` appends the one-permutation MinHash signature
    (``oph0..oph{k-1}``) computed per (doc, mode) in the SAME scan and
    aggregation: the OPH bucket mins are just ``num_hashes`` more
    conditional-MIN aggregates over the same exploded gram stream, so
    pinning both signature families costs zero extra passes over the
    corpus.

    One-permutation MinHash (Li/Owen/Zhang 2012) with rotation
    densification (Shrivastava/Li 2014) hashes each gram ONCE instead of
    ``num_hashes`` times: the gram is routed to bucket ``h mod k`` and
    each bucket keeps its min; empty buckets borrow the nearest
    following non-empty bucket's value plus ``t·2^60`` (t = rotation
    distance). The hash is md5 ('oph:'-salted, first 15 hex chars as a
    60-bit BIGINT), so an independent engine re-derives signatures
    bit-for-bit."""
    if include_oph and num_hashes > 8:
        raise ValueError(
            "minhash_signatures_multi: include_oph needs num_hashes <= 8 "
            "(2^60 rotation offset int64 bound)"
        )
    widths = [1 if n is None else n for n in shingle_ns]
    if len(set(widths)) != len(widths):
        raise ValueError(f"shingle_ns modes must have distinct widths: {shingle_ns}")
    norm = normalized_text(text_col)
    arrays = [text_word_ngrams(norm, w) for w in widths]
    exploded = df.select(id_col, F.explode(F.concat(*arrays)).alias("token"))
    spaces = F.length("token") - F.length(
        F.replace(F.col("token"), F.lit(" "), F.lit(""))
    )
    mode = F.lit(None).cast("string")  # unreachable: widths cover all grams
    for n in shingle_ns:
        label = "unigram" if n is None else f"shingle{n}"
        mode = F.when(spaces + 1 == (1 if n is None else n), F.lit(label)).otherwise(
            mode
        )
    exploded = exploded.select(id_col, mode.alias("mode"), "token")
    aggs = [_minhash_agg(i) for i in range(num_hashes)]
    if not include_oph:
        return exploded.groupBy(id_col, "mode").agg(*aggs)
    h = _oph_hash()
    b = F.pmod(h, F.lit(num_hashes)).cast("int")
    aggs += [
        F.min(F.when(b == i, h)).alias(f"_m{i}") for i in range(num_hashes)
    ]
    raw = exploded.groupBy(id_col, "mode").agg(*aggs)
    keep = [id_col, "mode"] + [f"mh{i}" for i in range(num_hashes)]
    return raw.select(*keep, *_oph_dense(num_hashes, prefix="oph"))


# Rotation offset EXCEEDS the 60-bit hash universe, so a borrowed value
# (h + t*2^60) is STRUCTURALLY distinct from every genuine minimum and from
# every other rotation distance (Shrivastava/Li's construction requires the
# offset to clear the hash domain). With num_hashes <= 8 the largest
# possible value, 7*2^60 + (2^60 - 1) = 2^63 - 1, fits int64 exactly —
# minhash_signatures_multi guards that bound.
_OPH_ROT = 1 << 60


def _oph_hash():
    """The single 60-bit token hash OPH routes and min-reduces ('oph:'-
    salted so it is independent of every per-slot classic hash)."""
    salted = F.concat(F.lit("oph:"), F.col("token"))
    hex15 = F.substring(F.md5(salted.cast("binary")), 1, 15)
    return F.conv(hex15, 16, 10).cast("long")


def _oph_dense(num_hashes: int, prefix: str = "mh") -> list:
    """Rotation-densified signature columns from raw bucket mins _m0.._mk-1."""
    return [
        F.coalesce(
            *[
                F.col(f"_m{(i + t) % num_hashes}")
                + F.lit(t * _OPH_ROT).cast("long")
                for t in range(num_hashes)
            ]
        ).alias(f"{prefix}{i}")
        for i in range(num_hashes)
    ]


def signature_bands(
    sig: DataFrame, id_col: str, num_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """(id, bucket) band-digest rows from a MinHash signature table:
    the signature splits into ``bands`` bands of ``num_hashes/bands``
    components, each digested (with its band index) to one fixed-width
    bucket key — the equi-join side of ``lsh_candidate_pairs`` and
    ``fuzzy_text_join``, so candidate generation shuffles digests,
    never text."""
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).cast("binary")
        ).alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sig.select(id_col, *band_cols)
    return banded.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(b)), F.col(f"band{b}"))
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows each; docs sharing any band key become a
    candidate pair. The band key is a digest, so the self-join shuffles
    fixed-width keys; output is distinct (id_a < id_b) pairs.

    ``max_bucket_size`` (round 12 — the winnow family's max_df bound
    brought to the MinHash side): buckets holding more than this many
    docs are dropped BEFORE the self-join by one census aggregation —
    the over-full bucket is exactly the key whose pair fan-out goes
    quadratic, and a bucket the whole corpus falls into carries no
    pair-discriminating signal (its members still pair through their
    other, selective bands). None (the default, and the registry
    oracle's contract) keeps every bucket."""
    stacked = signature_bands(sig, id_col, num_hashes, bands)
    if max_bucket_size is not None:
        if max_bucket_size < 2:
            raise ValueError(
                f"lsh: max_bucket_size must be >= 2, got {max_bucket_size}"
            )
        small = (
            stacked.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_size)
            .select("bucket")
        )
        stacked = stacked.join(small, "bucket")
    a = stacked.alias("a")
    b = stacked.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def simhash_bands(
    fp: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Pigeonhole band rows (id, simhash, band, bits) for a 64-bit
    fingerprint table: ``max_hamming + 1`` bands, so any pair within
    ``max_hamming`` bit flips shares at least one identical band — the
    equi-join side of ``simhash_neardup_pairs``."""
    n_bands = max_hamming + 1
    width = 64 // n_bands
    return fp.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        # band b = bits [b*width, (b+1)*width) (last band
                        # takes the remainder bits)
                        F.shiftrightunsigned(
                            F.col("simhash"), b * width
                        ).bitwiseAND(
                            F.lit(
                                -1
                                if b == n_bands - 1
                                else (1 << width) - 1
                            ).cast("long")
                        ).alias("bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bits")


def simhash_neardup_pairs(
    fp: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup candidate pairs from 64-bit SimHash fingerprints.

    Pigeonhole banding: split the fingerprint into ``max_hamming + 1``
    bands — any pair within ``max_hamming`` bit flips shares at least one
    identical band, so candidates come from an equi-join on (band index,
    band bits) and only candidates pay the exact popcount(xor) verify.
    All JVM-side expressions; the self-join shuffles fixed-width band
    keys, never the documents.
    """
    bands = simhash_bands(fp, id_col, max_hamming)
    a = bands.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("h_a"), "band", "bits"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("h_b"), "band", "bits"
    )
    return (
        a.join(b, ["band", "bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("h_a").bitwiseXOR(F.col("h_b"))
            ).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def neardup_clusters(
    pairs: DataFrame,
    max_iters: int = 20,
) -> DataFrame:
    """Connected components over an (id_a, id_b) near-dup pair graph:
    every node gets ``cluster_id`` = the minimum id in its component —
    the step that turns candidate PAIRS (LSH/SimHash/banding output) into
    dedup groups.

    Iterative min-label propagation with pointer-jumping compression:

    - propagate: l(v) ← min(l(v), min over neighbors' labels) — one
      shuffle on id per round (edges pre-oriented both ways once);
    - compress:  l(v) ← l(l(v)) — pointer jumping, which collapses label
      chains so long paths converge in far fewer than diameter rounds;
    - stop when a round changes no label: each row carries its label
      from the round before, so the test is an ``isEmpty`` on the
      checkpointed round, with no join.

    Each round ends in a ``session.checkpoint`` to truncate the lineage
    — iterative plans otherwise grow exponentially in the optimizer.
    With a checkpoint dir configured a lost executor replays from the
    last round instead of recomputing the whole iteration history.
    Large-star/small-star is the published refinement if rounds
    themselves become the bottleneck.
    """
    edges = checkpoint(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("id_b").alias("src"), F.col("id_a").alias("dst")
            )
        )
        .distinct()
    )
    labels = checkpoint(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
    )
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        updated = (
            labels.join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))
                ).alias("lbl"),
                F.col("lbl").alias("prev"),
            )
        )
        # pointer jumping: follow one's label's label
        l2 = updated.select(
            F.col("id").alias("_lid"), F.col("lbl").alias("_llbl")
        )
        labels = checkpoint(
            updated.join(l2, updated["lbl"] == l2["_lid"], "left")
            .select(
                "id", F.coalesce("_llbl", F.col("lbl")).alias("lbl"), "prev"
            )
        )
        if labels.filter(F.col("lbl") != F.col("prev")).isEmpty():
            converged = True
            break
    if not converged:
        # silent partial labels would dedup WRONG groups — fail loudly
        raise RuntimeError(
            f"neardup_clusters did not reach a fixpoint in {max_iters} "
            "rounds (pointer jumping converges in ~log2(component size); "
            "raise max_iters for pathological graphs)"
        )
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def dedup_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    keep_by: str | None = None,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Corpus-level near-dup removal: cluster the pair graph and keep one
    representative per component; rows never mentioned in a pair pass
    through untouched (broadcast-friendly anti-join against the
    non-representative set, which is at most the paired-node count —
    tiny relative to the corpus).

    Survivor policy: min id by default (deterministic, metric-free).
    ``keep_by`` names a COLUMN OF ``df`` (e.g. a quality score): each
    cluster keeps its highest-``keep_by`` row instead, ties broken by
    min id — the curation-grade policy (near-dup groups usually contain
    one clean page and N mangled re-crawls; min-id keeps whichever
    crawled first, keep_by keeps the best one). Cost: one extra
    broadcast-class join of the CLUSTERED ids (paired nodes only)
    against df's (id, keep_by) projection plus a window over groups of
    cluster size — pair-graph-scoped, never corpus-wide.

    ``clusters``: pass a precomputed ``neardup_clusters(pairs)`` result
    to avoid re-deriving the pair graph when the caller already
    materialized it (the pipeline's keep-best path scores exactly the
    clustered ids — without this the MinHash→LSH→Jaccard subplan that
    produced ``pairs`` would execute once per reference)."""
    if clusters is None:
        clusters = neardup_clusters(pairs)
    if keep_by is None:
        losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias(id_col)
        )
        return df.join(losers, id_col, "left_anti")
    scored = clusters.join(
        df.select(F.col(id_col).alias("id"), F.col(keep_by).alias("_kb")),
        "id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc_nulls_last("_kb"), F.asc("id")
    )
    losers = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def fuzzy_text_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    left_text: str = "text",
    right_text: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Approximate TEXT join between TWO tables (record linkage: match
    re-published headlines across feeds, crawl snapshots across days,
    titles to a catalog) — the cross-table variant of the dedup family:
    MinHash band-digest candidates ACROSS the tables, exact word-shingle
    Jaccard verify, output (left_id, right_id, jaccard) strictly above
    ``threshold``.

    Scale shape: each side builds its own signature + band table (one
    token census per side — there is never a cross product); candidates
    come from a band-digest EQUI-join between the two band tables, so
    the only cross-table shuffle carries fixed-width digests; the exact
    verify is candidate-pair-scoped (the x02 contract). Recall < 1 by
    the banding S-curve like any LSH — identical texts always match
    (identical signatures share every band). Precision is exact: the
    emitted jaccard is true set Jaccard on the 4dp-rounded contract
    shared with ``jaccard_pairs``. Rows whose text yields no 3-word
    shingle never match — they have no set representation.

    Boilerplate caveat (probed — scripts/skew_probe.py §8b): a text
    shared verbatim by m left and n right rows genuinely matches m·n
    times — the quadratic blowup is OUTPUT-inherent, not an avoidable
    exchange. Collapse exact-dup texts per side first
    (``content_hash_dedup``) when m·n links are not the intent
    (measured: 28k → 160 pairs on a 33%-boilerplate probe).
    """
    # 8 hashes in 4 bands over word 3-shingles: the curate CLI's
    # MinHash/LSH setting
    num_hashes, bands, shingle_n = 8, 4, 3
    sig_l = minhash_signature(
        left, left_id, left_text, num_hashes, shingle_n
    )
    sig_r = minhash_signature(
        right, right_id, right_text, num_hashes, shingle_n
    )
    bl = signature_bands(sig_l, left_id, num_hashes, bands).select(
        F.col(left_id).alias("id_a"), "bucket"
    )
    br = signature_bands(sig_r, right_id, num_hashes, bands).select(
        F.col(right_id).alias("id_b"), "bucket"
    )
    cand = bl.join(br, "bucket").select("id_a", "id_b").distinct()
    ta = doc_shingles(left, left_id, left_text, n=shingle_n).select(
        F.col(left_id).alias("id_a"), "token"
    )
    tb = doc_shingles(right, right_id, right_text, n=shingle_n).select(
        F.col(right_id).alias("id_b"), "token"
    )
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = ta.groupBy("id_a").agg(F.count(F.lit(1)).alias("n_a"))
    sb = tb.groupBy("id_b").agg(F.count(F.lit(1)).alias("n_b"))
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"n_inter": 0})
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            F.col("id_a").alias(f"{left_id}_l"),
            F.col("id_b").alias(f"{right_id}_r"),
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") > threshold)
    )


def jaccard_pairs(
    toks: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact Jaccard for given candidate pairs from the (id, token) set
    table: |A∩B| via token-equijoin, |A∪B| = |A|+|B|-|A∩B|."""
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    ta = toks.withColumnRenamed(id_col, "id_a")
    tb = toks.withColumnRenamed(id_col, "id_b")
    inter = (
        pairs.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "n_a")
    sb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "n_b")
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"n_inter": 0})
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash fingerprint.

    Per doc: hash every token to 64 bits, sum ±1 per bit position weighted
    by token frequency, sign → fingerprint bit. One groupBy with 64
    conditional-sum aggregates — no per-bit row explosion (a naive
    (doc, bit) explode is a 64x shuffle blowup), single partial+final
    aggregation pass, all JVM-side codegen.

    The 64 bits come from the first 8 bytes of md5(token) (bit i = bit
    i%8 of hex byte i//8), the same construction the cross-engine DuckDB
    oracle reproduces — identical fingerprint SIGNS on any engine with
    md5. Only the per-bit signs matter downstream (hamming distances are
    packing-invariant).
    """
    toks = df.select(id_col, F.explode(tokens_array(text_col)).alias("token"))
    m = F.md5(F.col("token"))
    hashed = toks.select(
        F.col(id_col),
        *[
            F.conv(F.substring(m, 2 * j + 1, 2), 16, 10)
            .cast("int")
            .alias(f"_byte{j}")
            for j in range(8)
        ],
    )

    def bit_set(i: int):
        return (
            F.shiftright(F.col(f"_byte{i // 8}"), i % 8).bitwiseAND(F.lit(1))
            == 1
        )

    bit_aggs = [
        F.sum(F.when(bit_set(i), 1).otherwise(-1)).alias(f"_b{i}")
        for i in range(64)
    ]
    sums = hashed.groupBy(id_col).agg(*bit_aggs)
    fingerprint = None
    for i in range(64):
        bit = F.when(
            F.col(f"_b{i}") > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return sums.select(id_col, fingerprint.alias("simhash"))


def edit_distance_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_distance: int | None = None,
) -> DataFrame:
    """Edit-distance verification of CANDIDATE pairs (never all-pairs):
    levenshtein distance plus a length-normalized similarity
    ``1 - dist / max(len_a, len_b)`` per (id_a, id_b).

    The O(len²)-per-pair DP runs JVM-side (builtin levenshtein) and only
    on the candidate set a banding/LSH stage produced, so total cost is
    candidates × bounded-doc-length² — the same contract as
    ``jaccard_pairs``. ``max_distance`` filters verified pairs."""
    ta = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"))
    tb = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"))
    dist = F.levenshtein("text_a", "text_b").cast("bigint")
    out = (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            dist.alias("edit_distance"),
            F.round(
                F.lit(1.0)
                - dist
                / F.greatest(
                    F.length("text_a"), F.length("text_b"), F.lit(1)
                ),
                4,
            ).alias("edit_similarity"),
        )
    )
    if max_distance is not None:
        out = out.filter(F.col("edit_distance") <= max_distance)
    return out


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-level repeated-line removal (the MassiveText/Gopher
    boilerplate filter): a line appearing in more than one DISTINCT
    document is boilerplate (headers, footers, cookie banners, licence
    blurbs) and is dropped from every document; lines shorter than ``min_line_chars`` are exempt (blank
    separators and one-character lines are structure, not boilerplate).

    Output: (id, text, n_lines_removed) with surviving lines rejoined in
    original order. NULL text is treated as '' (the doc survives with
    empty text rather than vanishing — posexplode of a NULL array emits
    no rows, which would silently drop the doc from the output and, in
    curate()'s inner join, from the corpus). ``sep`` is used verbatim:
    it is regex-quoted (\\Q...\\E) for the split side so metacharacter
    separators ('.', '|') split literally, matching the literal
    array_join on the rebuild side.

    Scale shape: one posexplode; the global line census aggregates a
    32-byte digest (never line text) with map-side partials; the census
    probe joins back on the digest — the census side carries one row per
    DISTINCT line so AQE broadcasts it when small and skew-handles the
    hot boilerplate digests when not; reassembly is one groupBy(id) with
    array_sort over (pos, line) structs. Document text crosses the wire
    once (the explode's own shuffle into the reassembly aggregation).
    """
    # java.util.regex.Pattern.quote: literal-quote sep for the regex split
    sep_quoted = "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), sep_quoted)
        ).alias("pos", "line"),
    ).withColumn(
        "_dig",
        F.when(
            F.length("line") >= min_line_chars,
            F.md5(F.col("line").cast("binary")),
        ),  # NULL digest = exempt line, never counted, never joined
    )
    census = (
        lines.filter(F.col("_dig").isNotNull())
        .groupBy("_dig")
        .agg(F.count_distinct(id_col).alias("_n_docs"))
        .filter(F.col("_n_docs") > 1)
        .select("_dig", F.lit(True).alias("_boiler"))
    )
    marked = lines.join(census, "_dig", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_boiler").isNull(),
                                F.struct(F.col("pos"), F.col("line")),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias(text_col),
            F.sum(F.col("_boiler").cast("int")).alias("n_lines_removed"),
        )
        .na.fill({"n_lines_removed": 0})
    )


def duplicated_window_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 8,
) -> DataFrame:
    """Cross-document duplicated-window fraction — the substring-dedup
    signal (Lee et al. 2022, 'Deduplicating Training Data Makes
    Language Models Better') at token-window granularity: for each doc,
    the fraction of its DISTINCT ``window_tokens``-gram windows that
    occur in at least two distinct documents.
    Output: (id, n_windows, n_dup_windows, dup_fraction); docs shorter
    than one window report (0, 0, 0.0). Filtering on ``dup_fraction``
    drops mostly-duplicated prose that exact/line dedup misses:
    ``line_dedup`` removes VERBATIM shared lines, this catches shared
    passages that rewrapping or small edits moved off line boundaries.

    Scale shape: one explode (lookahead-regex n-grams, codegen) with
    windows digested to 32 bytes in the SAME projection, so every
    shuffle carries digests, never window text. The (id, digest)
    distinct and the census count both partially aggregate map-side:
    after the distinct, the census's per-partition partials emit at
    most #partitions rows per digest however many docs share a window
    (the skew-probed line_dedup census property). The duplicated-window
    side of the probe join is one row per distinct duplicated window —
    AQE broadcasts it when small.
    """
    wins = (
        df.select(
            F.col(id_col),
            F.explode(
                text_word_ngrams(normalized_text(text_col), window_tokens)
            ).alias("_w"),
        )
        .select(id_col, F.md5(F.col("_w").cast("binary")).alias("_dig"))
        .distinct()
    )
    census = (
        wins.groupBy("_dig")
        # plain count, not count_distinct: wins is already distinct on
        # (id, digest), and the map-side partial count gives the same
        # hot-digest absorption without the distinct-expansion pass
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_dig", F.lit(1).alias("_dup"))
    )
    per_doc = (
        wins.join(census, "_dig", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 4),
        )
    )
    # docs with zero windows vanish in the explode — restore with zeros
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .na.fill({"n_windows": 0, "n_dup_windows": 0, "dup_fraction": 0.0})
    )


def remove_dup_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 8,
) -> DataFrame:
    """Cross-document duplicated-span REMOVAL — the ExactSubstr *cut*
    step of Lee et al. 2022 at token-window granularity, completing the
    detect (``duplicated_window_fraction``) → gate → remove progression:
    every ``window_tokens``-token window that occurs in at least two
    distinct documents is cut from every document containing it, and
    the surviving tokens are rejoined in order. Overlapping duplicated
    windows collapse into one removed span, so a long shared passage
    disappears wholesale, not per-window. Output:
    (id, text, n_tokens, n_removed_tokens); untouched documents keep
    their text byte-identical (rebuilt docs are single-space rejoined).

    **Exact-boundary guarantee** (VERDICT r5 #7): because windows are
    enumerated at EVERY start offset, the removed positions are exactly
    the union of each doc's maximal cross-doc-shared token runs of
    length >= ``window_tokens`` — cuts end at the true match edges, not
    at window-aligned multiples. Proof sketch: a position p lies in a
    duplicated window iff p lies inside a shared run R with |R| >= n
    (the window starting at clamp(i-of-p, 0, |R|-n) within R is itself
    shared, and conversely any duplicated window containing p is a
    shared run containing p) — so coverage == true match spans, with no
    boundary-extension pass needed. A 9-token shared passage at n=8
    removes exactly 9 tokens (pinned); a doc sharing only the first 8
    of those tokens loses exactly those 8. The remaining delta to Lee
    et al.'s suffix-array formulation is ONLY the minimum-span
    threshold: runs shorter than ``window_tokens`` survive (their char
    threshold ~50 corresponds to ~n=8 word tokens; lower
    ``window_tokens`` for a finer floor — cost is one wider explode).

    Matching is on LOWERCASED whitespace tokens (case-insensitive but
    otherwise exact), deliberately stricter than
    ``duplicated_window_fraction``'s letters-only normalization: removal
    is destructive, so only verbatim repeats qualify — a gate can afford
    fuzz, a cut cannot.

    Scale shape: window digests are built in-projection from one
    ``transform`` over start offsets (32-byte md5 of the sliced join —
    window text never leaves the row), so the only corpus-scale rows on
    the wire are (id, digest) pairs. The census reuses the skew-probed
    two-level shape (distinct absorbs per-doc repeats map-side, the
    count's partials absorb hot digests); the census side of the probe
    join is one row per distinct DUPLICATED window — AQE broadcasts it
    when small. Removed-position sets ride a per-doc ``collect_set``
    (bounded by the doc's own token count) and the rebuild is one
    doc-keyed join + ``array_except``/``transform`` projection — full
    document text crosses the wire only for docs that actually lose a
    span, via that join's shuffle.
    """
    n = window_tokens
    # Python str.split() semantics: arbitrary whitespace runs, empties
    # dropped — leading/trailing whitespace can't mint phantom tokens
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda t: F.length(t) > 0,
    )
    base = df.select(
        id_col, text_col, toks.alias("_toks")
    ).withColumn("_ntok", F.size("_toks"))

    # (id, 0-based window start, digest) — posexplode index IS the start
    wins = base.filter(F.col("_ntok") >= n).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("_ntok") - n + 1),
                lambda s: F.md5(
                    F.lower(
                        F.array_join(F.slice(F.col("_toks"), s, n), " ")
                    ).cast("binary")
                ),
            )
        ).alias("_pos0", "_dig"),
    )
    census = (
        wins.select(id_col, "_dig")
        .distinct()
        .groupBy("_dig")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_dig")
    )
    # covered token positions per doc; collect_set dedups overlap both
    # map-side (partial ObjectHashAggregate) and finally — no distinct pass
    removed = (
        wins.join(census, "_dig")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_pos0"), F.col("_pos0") + n - 1)
            ).alias("_cov"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("_cov").alias("_rm"))
    )
    kept = F.array_except(
        F.sequence(F.lit(0), F.col("_ntok") - 1), F.col("_rm")
    )  # array_except keeps left-operand order → ascending positions
    return (
        base.join(removed, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_rm").isNull(), F.col(text_col))
            .otherwise(
                F.array_join(
                    F.transform(
                        kept, lambda i: F.element_at(F.col("_toks"), i + 1)
                    ),
                    " ",
                )
            )
            .alias(text_col),
            F.col("_ntok").cast("bigint").alias("n_tokens"),
            F.coalesce(F.size("_rm"), F.lit(0))
            .cast("bigint")
            .alias("n_removed_tokens"),
        )
    )


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_size: int = 16,
) -> DataFrame:
    """Corpus-wide chunk-level dedup at content-defined boundaries —
    the operation CDC chunking exists FOR (see packing.cdc_cuts_col:
    boundaries move with content, so an edited document re-shares every
    untouched chunk): every ``cdc_chunks`` chunk whose text digest has
    been seen before is dropped, the FIRST occurrence under the
    (id, chunk_id) total order surviving — the storage/training-dedup
    rule (keep one copy), unlike ``line_dedup``'s boilerplate rule
    (drop every copy of a repeated line).

    Output: (id, text, n_cdc_chunks, n_chunks_removed) with the
    surviving chunks of each doc rejoined in original order. Chunks
    are substrings of the whitespace-normalized lowercased text (the
    cdc_chunks contract), so the output text is NORMALIZED; docs too
    short to produce grams pass through with their normalized text and
    0/0 counts (NULL text -> '' — the line_dedup survival contract), a
    doc whose every chunk is a re-occurrence comes out with '' text.

    Scale shape: the survivor census aggregates min(struct(id,
    chunk_id)) per 32-byte digest — map-side partial, one row per
    DISTINCT chunk, so AQE broadcasts it when small and skew-handles
    hot digests when not; the probe joins back on the digest; the
    rebuild is one groupBy(id) with array_sort over (chunk_id, text)
    structs. Chunk text crosses the wire once per join side, never the
    whole corpus against itself."""
    from .packing import cdc_chunks
    from .textstats import _winnow_norm

    chunks = cdc_chunks(df, id_col, text_col, min_size)
    digested = chunks.select(
        "id",
        "chunk_id",
        "chunk_text",
        F.md5(F.col("chunk_text").cast("binary")).alias("_dig"),
    )
    # TWO consumers below (survivor census + probe side) — barrier the
    # chunk pipeline (norm/chars/grams/cuts/explode) so it runs once,
    # not once per consumer (the winnow_neardup_pairs policy; lazy so
    # plan builds stay build-only). A row_number window over _dig would
    # avoid the self-join entirely but serializes each digest's rows
    # into one partition — the census+min+join form keeps map-side
    # partials, which is what absorbs a billion-copy hot chunk.
    digested = checkpoint(digested, eager=False)
    first = digested.groupBy("_dig").agg(
        F.min(F.struct("id", "chunk_id")).alias("_first")
    )
    marked = digested.join(first, "_dig").withColumn(
        "_keep",
        (F.col("id") == F.col("_first.id"))
        & (F.col("chunk_id") == F.col("_first.chunk_id")),
    )
    rebuilt = marked.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct("chunk_id", "chunk_text"),
                        )
                    )
                ),
                lambda s: s["chunk_text"],
            ),
            "",
        ).alias("_kept_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_cdc_chunks"),
        F.sum((~F.col("_keep")).cast("int"))
        .cast("bigint")
        .alias("n_chunks_removed"),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.coalesce(_winnow_norm(F.col(text_col)), F.lit("")).alias("_norm"),
    )
    return base.join(rebuilt, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("_kept_text", F.col("_norm")).alias(text_col),
        F.coalesce("n_cdc_chunks", F.lit(0))
        .cast("bigint")
        .alias("n_cdc_chunks"),
        F.coalesce("n_chunks_removed", F.lit(0))
        .cast("bigint")
        .alias("n_chunks_removed"),
    )

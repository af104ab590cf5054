"""Property-based tests (SURVEY.md §5.2 #4): randomized small tables →
engine invariants that must hold for ANY input, not just fixtures.

Hypothesis settings are tuned for Spark job latency: few examples, no
deadline — each example is a distributed job, not a pure function call.
"""

from __future__ import annotations

import media_fixtures as MF
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.functions.text import (
    remove_stopwords,
    stopwords_df,
)
from mapreduce_stockheadlines_spark.operators.dedup import (
    content_hash_dedup,
    exact_dedup,
)
from mapreduce_stockheadlines_spark.operators.rank import ranked

SLOW = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,  # CI determinism: same examples every run
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.text(alphabet="abcde", min_size=1, max_size=3)
rows = st.lists(st.tuples(keys, st.integers(0, 100)), min_size=1, max_size=40)


@given(data=rows)
@SLOW
def test_group_counts_sum_to_rowcount(spark, data):
    df = spark.createDataFrame(data, "k string, v int")
    counted = df.groupBy("k").count()
    assert sum(r["count"] for r in counted.collect()) == len(data)


@given(data=rows)
@SLOW
def test_semi_and_anti_partition_the_input(spark, data):
    df = spark.createDataFrame(data, "k string, v int")
    side = spark.createDataFrame([("a",), ("c",)], "k string")
    semi = df.join(side, "k", "left_semi")
    anti = df.join(side, "k", "left_anti")
    assert semi.count() + anti.count() == df.count()
    # the two sides are disjoint by key
    assert semi.select("k").intersect(anti.select("k")).count() == 0


@given(data=st.lists(st.tuples(keys, st.integers(1, 50)), min_size=1, max_size=30))
@SLOW
def test_rank_is_permutation(spark, data):
    counts = {}
    for k, v in data:
        counts[k] = counts.get(k, 0) + v
    df = spark.createDataFrame(list(counts.items()), "k string, cnt long")
    out = ranked(df, "k").collect()
    assert sorted(r.rank for r in out) == list(range(1, len(counts) + 1))
    # descending by count along rank order, key ASC on ties
    by_rank = sorted(out, key=lambda r: r.rank)
    for a, b in zip(by_rank, by_rank[1:]):
        assert (a.cnt, b.k) >= (b.cnt, a.k)


@given(data=rows)
@SLOW
def test_running_sum_telescopes(spark, data):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(data)], "k string, v int, i int"
    )
    w = (
        Window.partitionBy("k")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("run", F.sum("v").over(w))
    # final running value per key == total per key
    finals = {
        r.k: r.run
        for r in out.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("k").orderBy(F.desc("i"))
            ),
        )
        .filter("rn = 1")
        .collect()
    }
    totals = {r.k: r.s for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert finals == totals


@given(data=st.lists(st.tuples(st.integers(0, 5), keys), min_size=1, max_size=30))
@SLOW
def test_exact_dedup_keeps_one_per_key_and_subset_of_input(spark, data):
    df = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(data)], "k int, t string, i int"
    )
    out = exact_dedup(df, ["k"], ["t", "i"]).collect()
    assert len(out) == len({k for k, _ in data})
    in_rows = {(r[0], r[1]) for r in ((k, t) for k, t in data)}
    assert all((r.k, r.t) in in_rows for r in out)


@given(data=st.lists(st.text(alphabet="xy ", max_size=6), min_size=1, max_size=20))
@SLOW
def test_content_hash_dedup_copies_sum_to_rowcount(spark, data):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(data)], "doc_id int, text string"
    )
    out = content_hash_dedup(df, "text", "doc_id").collect()
    assert sum(r.n_copies for r in out) == len(data)
    assert len(out) == len(set(data))


@given(toks=st.lists(st.sampled_from(["the", "and", "zebra", "quark", "a"]), min_size=1, max_size=25))
@SLOW
def test_stopword_removal_only_removes_stopwords(spark, toks):
    df = spark.createDataFrame([(t,) for t in toks], "token string")
    kept = [r.token for r in remove_stopwords(df, stopwords_df(spark)).collect()]
    assert sorted(kept) == sorted(t for t in toks if t in ("zebra", "quark"))


@given(
    left=st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 50)),
        min_size=1,
        max_size=15,
    ),
    right=st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 50), st.integers(0, 9)),
        min_size=0,
        max_size=15,
    ),
)
@SLOW
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """asof_join vs pandas.merge_asof (independent reference): backward,
    inclusive, per-key. Right side deduped per (key, ts) first (operator
    contract)."""
    import pandas as pd

    from mapreduce_stockheadlines_spark.operators.temporal import asof_join

    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    lrows = [
        (i, k, t0 + timedelta(minutes=m)) for i, (k, m) in enumerate(left)
    ]
    seen = set()
    rrows = []
    for k, m, v in right:
        if (k, m) not in seen:  # unique per (key, ts)
            seen.add((k, m))
            rrows.append((k, t0 + timedelta(minutes=m), float(v)))
    ldf = spark.createDataFrame(lrows, "lid long, key string, ts timestamp")
    rdf = spark.createDataFrame(rrows, "key string, ts timestamp, val double")
    got = {
        r.lid: r.v
        for r in asof_join(
            ldf, rdf, key="key", right_cols={"val": "v"}
        ).collect()
    }

    lp = pd.DataFrame(lrows, columns=["lid", "key", "ts"]).sort_values("ts", kind="stable")
    rp = pd.DataFrame(rrows, columns=["key", "ts", "val"]).sort_values("ts", kind="stable")
    if len(rp):
        exp_df = pd.merge_asof(
            lp, rp, on="ts", by="key", direction="backward", allow_exact_matches=True
        )
        exp = {
            int(r.lid): (None if pd.isna(r.val) else float(r.val))
            for r in exp_df.itertuples()
        }
    else:
        exp = {int(r.lid): None for r in lp.itertuples()}
    assert got == exp


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
@SLOW
def test_neardup_clusters_equal_union_find(spark, edges):
    """For ANY pair graph, min-label propagation + pointer jumping must
    produce exactly the union-find components (label = min id)."""
    from mapreduce_stockheadlines_spark.operators.dedup import neardup_clusters

    norm = [(min(a, b), max(a, b)) for a, b in edges]
    pairs = spark.createDataFrame(norm, "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in neardup_clusters(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in norm:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


# Free-ish text with embedded digits/symbols so PII regexes get exercised
pii_text = st.lists(
    st.sampled_from(
        ["word", "a@b.co", "10.1.2.3", "555-123-4567", "219-09-9999",
         "x", "42", "...", "a@@b", "1.2.3"]
    ),
    min_size=0,
    max_size=12,
).map(" ".join)


@given(data=st.lists(st.tuples(st.integers(0, 30), pii_text),
                     min_size=1, max_size=15, unique_by=lambda t: t[0]))
@SLOW
def test_pii_redaction_idempotent_and_complete(spark, data):
    """Redacting twice equals redacting once, and a redacted text
    re-scanned for PII reports zero matches (placeholders contain no
    digits or @-addresses)."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        pii_count,
        pii_redacted,
    )

    df = spark.createDataFrame(data, "doc_id long, text string")
    out = df.select(
        "doc_id",
        pii_redacted("text").alias("once"),
        pii_redacted(pii_redacted("text")).alias("twice"),
    ).withColumn("residual", pii_count(F.col("once")))
    for r in out.collect():
        assert r.once == r.twice
        assert r.residual == 0


@given(data=st.lists(
    st.tuples(st.integers(0, 30),
              st.lists(st.sampled_from("ab"), min_size=0, max_size=10)
              .map(" ".join)),
    min_size=1, max_size=10, unique_by=lambda t: t[0]))
@SLOW
def test_repetition_stats_invariants(spark, data):
    """For any doc: fractions in [0,1]; n_unique ≤ n_grams; dup_fraction
    is 0 iff every gram is unique; top_fraction ≥ 1/n_unique."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        repetition_stats,
    )

    df = spark.createDataFrame(data, "doc_id long, text string")
    for r in repetition_stats(df, "doc_id", "text").collect():
        assert 1 <= r.n_unique <= r.n_grams
        assert 0.0 <= r.top_fraction <= 1.0
        assert 0.0 <= r.dup_fraction <= 1.0
        if r.n_unique == r.n_grams:
            assert r.dup_fraction == 0.0
        else:
            assert r.dup_fraction > 0.0
        assert r.top_fraction >= round(1.0 / r.n_unique, 4) - 1e-9


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), max_size=30),
        min_size=1,
        max_size=6,
    ),
    chunk=st.integers(2, 8),
    overlap=st.integers(0, 3),
)
@SLOW
def test_chunking_reconstructs_tokens(spark, docs, chunk, overlap):
    """For ANY document: dropping each non-first chunk's overlap prefix
    and concatenating reconstructs the original token sequence exactly,
    and every chunk except the last is full-size."""
    from mapreduce_stockheadlines_spark.operators.packing import chunk_documents

    overlap = min(overlap, chunk - 1)
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    out = chunk_documents(df, "doc_id", "text", chunk, overlap).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    for i, toks in enumerate(docs):
        if not toks:
            assert i not in by_doc  # empty doc: no chunks
            continue
        rows = sorted(by_doc[i], key=lambda r: r.chunk_id)
        assert [r.chunk_id for r in rows] == list(range(len(rows)))
        pieces = [r.chunk_text.split(" ") for r in rows]
        rebuilt = pieces[0] + [t for p in pieces[1:] for t in p[overlap:]]
        assert rebuilt == toks
        for p in pieces[:-1]:
            assert len(p) == chunk  # only the last chunk may be short
        assert all(r.n_chunk_tokens == len(p) for r, p in zip(rows, pieces))


# _assign_bins is a pure function (no Spark job per example), so it gets
# full-strength hypothesis coverage unlike the SLOW-tuned tests above.
@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), max_size=60),
    budget=st.integers(min_value=1, max_value=30),
    max_open_bins=st.integers(min_value=1, max_value=8),
)
def test_assign_bins_invariants(sizes, budget, max_open_bins):
    """For ANY item mix: every item is assigned exactly once; bin loads
    never exceed the budget except single-item truncate packs; truncate
    is flagged iff the item alone exceeds the budget; bin indices are
    dense from 0."""
    from mapreduce_stockheadlines_spark.operators.packing import _assign_bins

    ordered = sorted(sizes, reverse=True)  # FFD precondition
    assign, truncate = _assign_bins(ordered, budget, max_open_bins)
    assert len(assign) == len(ordered) and len(truncate) == len(ordered)
    loads: dict[int, int] = {}
    members: dict[int, int] = {}
    for n, b, t in zip(ordered, assign, truncate):
        assert t == (n > budget)
        loads[b] = loads.get(b, 0) + n
        members[b] = members.get(b, 0) + 1
    for b, load in loads.items():
        assert load <= budget or members[b] == 1  # oversized packs are alone
    if assign:
        used = sorted(set(assign))
        assert used == list(range(len(used)))  # dense ids from 0


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-100.0,
                max_value=100.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    )
)
@SLOW
def test_int8_quantization_error_bound_property(spark, vecs):
    """For ANY vector set: codes in [-127, 127] and per-element
    reconstruction error <= scale/2 (the symmetric-quantizer contract)."""
    from mapreduce_stockheadlines_spark.operators import embeddings as EB

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = EB.quantize_embeddings(df, "vec_id", "embedding").collect()
    for r in got:
        orig = vecs[r.vec_id]
        assert all(-127 <= c <= 127 for c in r.qvec)
        assert all(
            abs(x - c * r.scale) <= r.scale / 2 + 1e-9
            for x, c in zip(orig, r.qvec)
        )


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=20),
        min_size=1,
        max_size=6,
    )
)
@SLOW
def test_classifier_hashed_score_recomputed_in_python(spark, texts):
    """For ANY corpus the hashed-mode classifier score equals a direct
    Python recomputation of the md5-weight model (same tokenization,
    same rounding contract)."""
    import hashlib
    import math
    import re

    from mapreduce_stockheadlines_spark.operators.textstats import (
        classifier_score,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in classifier_score(df, "doc_id", "text").collect()}

    def weight(tok):
        h = hashlib.md5(f"clf:{tok}".encode()).hexdigest()
        return int(h[:8], 16) / 16**8 * 2 - 1

    for i, t in rows:
        toks = re.sub(r"[^a-z ]", " ", t.lower()).split()
        if not toks:
            assert i not in got  # no tokens -> no score row
            continue
        logit = round(sum(weight(x) for x in toks) / len(toks), 4)
        assert got[i].n_tokens == len(toks)
        assert got[i].logit == logit
        assert got[i].clf_score == round(1 / (1 + math.exp(-logit)), 4)


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=16),
        min_size=1,
        max_size=5,
    )
)
@SLOW
def test_lm_perplexity_recomputed_in_python(spark, texts):
    """For ANY corpus the self-trained bigram perplexity equals a direct
    Python recomputation: add-k counts, 4dp logps, exact fixed-point
    mean, exp — the whole contract."""
    import math
    import re
    from collections import Counter

    from mapreduce_stockheadlines_spark.operators import relevance as RV

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lm, ctx, v = RV.train_bigram_lm(df, "doc_id", "text")
    got = {
        r.doc_id: r
        for r in RV.lm_perplexity(df, lm, ctx, v, "doc_id", "text").collect()
    }

    def toks(t):
        return ["<s>"] + re.sub(r"[^a-z ]", " ", t.lower()).split()

    grams = Counter()
    for _, t in rows:
        tt = toks(t)
        grams.update(zip(tt, tt[1:]))
    c1 = Counter()
    for (w1, _), n in grams.items():
        c1[w1] += n
    vv = len({w2 for _, w2 in grams})
    assert v == vv

    for i, t in rows:
        tt = toks(t)
        pairs = list(zip(tt, tt[1:]))
        if not pairs:
            assert i not in got
            continue
        logps = [
            round(math.log((grams[p] + 0.5) / (c1[p[0]] + 0.5 * vv)), 4)
            for p in pairs
        ]
        s4 = sum(round(lp * 10000) for lp in logps)
        n = len(pairs)
        avg4 = (2 * abs(s4) + n) // (2 * n) * (1 if s4 > 0 else -1 if s4 < 0 else 0)
        avg = avg4 / 10000.0
        assert got[i].n_bigrams == n
        assert got[i].avg_logp == avg
        assert got[i].ppl == round(math.exp(-avg), 4)


# --- remove_dup_windows vs a brute-force reference ---------------------------

_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"])
_doc_texts = st.lists(
    st.lists(_words, min_size=0, max_size=12).map(" ".join),
    min_size=2, max_size=8,
)


def _brute_remove(texts, n, min_docs):
    """Reference implementation: per-doc window sets, census over docs,
    covered-position union, rebuild."""
    toks = [t.split() if t.split() else [] for t in texts]
    from collections import defaultdict

    census = defaultdict(set)
    for d, tk in enumerate(toks):
        for s in range(len(tk) - n + 1):
            census[" ".join(w.lower() for w in tk[s:s + n])].add(d)
    dup = {g for g, docs in census.items() if len(docs) >= min_docs}
    out = []
    for d, tk in enumerate(toks):
        cov = set()
        for s in range(len(tk) - n + 1):
            if " ".join(w.lower() for w in tk[s:s + n]) in dup:
                cov.update(range(s, s + n))
        kept = [w for i, w in enumerate(tk) if i not in cov]
        out.append((
            texts[d] if not cov else " ".join(kept), len(tk), len(cov)
        ))
    return out


@given(texts=_doc_texts)
@SLOW
def test_remove_dup_windows_matches_brute_force(spark, texts):
    from mapreduce_stockheadlines_spark.operators.dedup import (
        remove_dup_windows,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed_tokens)
        for r in remove_dup_windows(
            df, "doc_id", "text", window_tokens=3
        ).collect()
    }
    want = dict(enumerate(_brute_remove(texts, 3, 2)))
    assert got == want


src_rows = st.lists(
    st.tuples(st.integers(0, 500), st.sampled_from(["a", "b", "c"])),
    min_size=1, max_size=40, unique_by=lambda r: r[0],
)


@given(data=src_rows, alpha=st.sampled_from([0.0, 0.3, 0.7, 1.0]))
@SLOW
def test_temperature_mix_subset_and_biggest_source_never_boosted(
    spark, data, alpha
):
    """For ANY corpus and alpha in [0,1]: the mix is a subset of the
    input, alpha=1 is the identity, and the SMALLEST source always
    keeps everything — rate ∝ n^(alpha-1) is maximized by the smallest
    n when alpha < 1, and that maximum normalizes to a rate of 1 (the
    'boost by keeping, never by adding' down-sampling contract)."""
    from collections import Counter

    from mapreduce_stockheadlines_spark.operators.sampling import (
        temperature_mix,
    )

    df = spark.createDataFrame(data, "doc_id long, source string")
    out = temperature_mix(df, "source", "doc_id", alpha=alpha)
    got = {(r.doc_id, r.source) for r in out.collect()}
    assert got <= set(data)
    if alpha == 1.0:
        assert got == set(data)
    counts = Counter(s for _, s in data)
    smallest = min(counts, key=lambda s: (counts[s], s))
    assert {r for r in data if r[1] == smallest} <= got


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-4, 4, allow_nan=False, width=32), min_size=4, max_size=4
        ),
        min_size=3, max_size=24,
    ),
    k=st.sampled_from([1, 2, 4]),
)
@SLOW
def test_pca_components_orthonormal_and_projection_centered(spark, vecs, k):
    """For ANY vector corpus: fitted components are row-orthonormal and
    the projection of the corpus has (near-)zero mean per component —
    the definition of centered PCA, independent of the spectrum."""
    import numpy as np

    from mapreduce_stockheadlines_spark.operators.embeddings import (
        pca_fit,
        pca_project,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    mean, comps = pca_fit(df, "embedding", k=k)
    assert np.allclose(comps @ comps.T, np.eye(k), atol=1e-6)
    proj = np.asarray(
        [r.pca for r in pca_project(df, "embedding", mean, comps).collect()]
    )
    assert np.allclose(proj.mean(axis=0), 0.0, atol=1e-6)


@given(
    h=st.integers(3, 24),
    w=st.integers(3, 24),
    quality=st.sampled_from([70, 85, 95]),
    sub=st.sampled_from(["444", "420"]),
    ri=st.sampled_from([0, 2]),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=12, deadline=None, derandomize=True)
def test_jpeg_roundtrip_bounded_error_any_shape(h, w, quality, sub, ri, seed):
    """Property: the baseline JPEG codec round-trips ANY image shape
    (including non-multiple-of-8/16 edges) at bounded error — smooth
    content within quantization error, arbitrary content without ever
    erroring or changing shape. No Spark needed: pure codec."""
    import numpy as np

    import mapreduce_stockheadlines_spark.operators.multimodal as M

    rng = np.random.RandomState(seed)
    smooth = np.clip(
        np.round(
            128
            + 80
            * np.sin(np.arange(h)[:, None] / 5.0)
            * np.cos(np.arange(w)[None, :] / 7.0)
        ),
        0,
        255,
    ).astype(np.uint8)
    smooth = np.repeat(smooth[..., None], 3, axis=2)
    noisy = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    for px, bound in ((smooth, 35), (noisy, 255)):
        out = M._decode_jpeg(
            MF.encode_jpeg(px, quality=quality, subsample=sub,
                           restart_interval=ri)
        )
        assert out.shape == px.shape
        err = np.abs(out.astype(int) - px.astype(int)).max()
        assert err <= bound, (h, w, quality, sub, ri, err)


@given(
    h=st.integers(3, 24),
    w=st.integers(3, 24),
    quality=st.sampled_from([60, 85, 95]),
    sub=st.sampled_from(["444", "420"]),
    ri=st.sampled_from([0, 2]),
    gray=st.booleans(),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=12, deadline=None, derandomize=True)
def test_jpeg_progressive_decodes_to_exact_baseline_pixels(
    h, w, quality, sub, ri, gray, seed
):
    """Property: the progressive (SOF2) encoding of ANY image decodes
    to EXACTLY the pixels the baseline encoding of the same image
    produces at the same quality/subsampling. Both encoders quantize
    identically, so this pins the whole multi-scan entropy layer —
    spectral selection, two-level successive approximation, EOB runs,
    ZRL-with-correction-bits, restart markers — against the
    independently-round-trip-tested baseline path. Pure codec, no
    Spark."""
    import numpy as np

    import mapreduce_stockheadlines_spark.operators.multimodal as M

    rng = np.random.RandomState(seed)
    noisy = rng.randint(0, 256, (h, w) if gray else (h, w, 3)).astype(
        np.uint8
    )
    flat = np.full_like(noisy, 130)  # long EOB runs across blocks
    for px in (noisy, flat):
        if gray:
            base = MF.encode_jpeg(px, quality=quality, gray=True)
            prog = MF.encode_jpeg_progressive(
                px, quality=quality, gray=True, restart_interval=ri
            )
        else:
            base = MF.encode_jpeg(px, quality=quality, subsample=sub)
            prog = MF.encode_jpeg_progressive(
                px, quality=quality, subsample=sub, restart_interval=ri
            )
        assert np.array_equal(
            M._decode_jpeg(prog), M._decode_jpeg(base)
        ), (h, w, quality, sub, ri, gray)


@given(
    docs=st.lists(
        st.lists(st.text(alphabet="abcd", min_size=1, max_size=4),
                 min_size=1, max_size=12),
        min_size=1,
        max_size=6,
    )
)
@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_oph_signature_matches_python_reference(spark, docs):
    """Property: the distributed one-permutation MinHash equals a pure-
    python re-derivation (md5 bucket mins + rotation densification) on
    arbitrary token multisets — including docs that leave most buckets
    empty, the densification-heavy regime."""
    import hashlib

    from mapreduce_stockheadlines_spark.operators.dedup import (
        _OPH_ROT,
        minhash_signatures_multi,
    )

    K = 8
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures_multi(
        df, "doc_id", "text", num_hashes=K, shingle_ns=(None,),
        include_oph=True,
    )
    got = {
        r.doc_id: tuple(r)[1:]
        for r in sig.select("doc_id", *[f"oph{i}" for i in range(K)]).collect()
    }

    def ref(words):
        mins = [None] * K
        for tok in words:
            hv = int(hashlib.md5(f"oph:{tok}".encode()).hexdigest()[:15], 16)
            b = hv % K
            if mins[b] is None or hv < mins[b]:
                mins[b] = hv
        out = []
        for i in range(K):
            for t in range(K):
                src = mins[(i + t) % K]
                if src is not None:
                    out.append(src + t * _OPH_ROT)
                    break
        return tuple(out)

    for i, words in enumerate(docs):
        assert got[i] == ref(words), (i, words)


@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    filt=st.integers(0, 4),
    ctype=st.sampled_from([0, 2, 4, 6]),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=20, deadline=None, derandomize=True)
def test_png_roundtrip_all_filters_and_color_types(h, w, filt, ctype, seed):
    """Property (VERDICT r7 #6, the JPEG/OPH pattern): the PNG codec
    round-trips ANY shape x all five filters x gray/RGB/gray-alpha/RGBA
    losslessly — the decoder replicates gray to 3 channels and drops
    alpha, so the expectation is the RGB-ified color plane. Pure codec,
    no Spark."""
    import numpy as np

    import mapreduce_stockheadlines_spark.operators.multimodal as M

    rng = np.random.RandomState(seed)
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    px = rng.randint(0, 256, (h, w, channels)).astype(np.uint8)
    out = M._decode_png(MF.encode_png(px, filter_type=filt, color_type=ctype))
    if ctype in (0, 4):
        want = np.repeat(px[..., :1], 3, axis=2)
    else:
        want = px[..., :3]
    assert out.shape == (h, w, 3)
    assert (out == want).all(), (h, w, filt, ctype)


@given(
    h=st.integers(1, 21),
    w=st.integers(1, 21),
    filt=st.integers(0, 4),
    depth=st.sampled_from([1, 2, 4, 8, 16]),
    ctype=st.sampled_from([0, 2, 3, 4, 6]),
    interlace=st.booleans(),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=30, deadline=None, derandomize=True)
def test_png_full_matrix_roundtrip(h, w, filt, depth, ctype, interlace,
                                   seed):
    """Property (round 8): the PNG tier reads EVERY legal static PNG —
    all five color types (palette via PLTE), every legal bit depth
    (16-bit narrows to the high byte, sub-byte gray scales by exact bit
    replication), Adam7 interlacing, all five filters, any shape
    including the degenerate 1-pixel edge where most Adam7 passes are
    empty. Illegal depth/color combinations are redrawn to the nearest
    legal one so every example exercises a real file. Pure codec, no
    Spark."""
    import numpy as np

    import mapreduce_stockheadlines_spark.operators.multimodal as M

    legal = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
             4: (8, 16), 6: (8, 16)}
    if depth not in legal[ctype]:
        depth = 8
    rng = np.random.RandomState(seed)
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    if ctype == 3:
        n = 1 << depth
        pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.randint(0, n, (h, w)).astype(np.uint8)
        out = M._decode_png(
            MF.encode_png(idx, filter_type=filt, color_type=3,
                          depth=depth, palette=pal, interlace=interlace)
        )
        want = pal[idx]
    elif depth == 16:
        px = rng.randint(0, 65536, (h, w, channels)).astype(np.uint16)
        out = M._decode_png(
            MF.encode_png(px[..., 0] if channels == 1 else px,
                          filter_type=filt, color_type=ctype, depth=16,
                          interlace=interlace)
        )
        hi = (px >> 8).astype(np.uint8)
        want = (
            np.repeat(hi[..., :1], 3, axis=2)
            if ctype in (0, 4) else hi[..., :3]
        )
    elif depth < 8:  # sub-byte gray
        mx = (1 << depth) - 1
        g = rng.randint(0, mx + 1, (h, w)).astype(np.uint8)
        out = M._decode_png(
            MF.encode_png(g, filter_type=filt, color_type=0,
                          depth=depth, interlace=interlace)
        )
        want = np.repeat(
            (g * (255 // mx))[..., None], 3, axis=2
        )
    else:
        px = rng.randint(0, 256, (h, w, channels)).astype(np.uint8)
        out = M._decode_png(
            MF.encode_png(px[..., 0] if channels == 1 else px,
                          filter_type=filt, color_type=ctype,
                          interlace=interlace)
        )
        want = (
            np.repeat(px[..., :1], 3, axis=2)
            if ctype in (0, 4) else px[..., :3]
        )
    assert out.shape == (h, w, 3)
    assert (out == want).all(), (h, w, filt, depth, ctype, interlace)


@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    n_colors=st.sampled_from([1, 2, 5, 16, 97, 256]),
    interlace=st.booleans(),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=16, deadline=None, derandomize=True)
def test_gif_roundtrip_any_shape_palette_interlace(
    h, w, n_colors, interlace, seed
):
    """Property: the GIF codec round-trips ANY shape x palette size x
    interlacing LOSSLESSLY (GIF is an indexed format — unlike JPEG there
    is no error bound, equality is exact). Exercises variable-width LZW
    growth, the dict-full clear on larger rasters, single-pixel images
    and the 4-pass interlace reorder. Pure codec, no Spark."""
    import numpy as np

    import mapreduce_stockheadlines_spark.operators.multimodal as M

    rng = np.random.RandomState(seed)
    pal = rng.randint(0, 256, (n_colors, 3)).astype(np.uint8)
    px = pal[rng.randint(0, n_colors, (h, w))]
    out = M._decode_gif(MF.encode_gif(px, interlace=interlace))
    assert out.shape == (h, w, 3)
    assert (out == px).all(), (h, w, n_colors, interlace)


@given(
    texts=st.lists(
        st.text(alphabet="abcdef .\nÉ中", min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    )
)
@SLOW
def test_winnow_gram_staged_equals_reference_any_text(spark, texts):
    """Round-12 staged-chars fast path, property form: the norm ->
    chars -> grams staging reproduces the one-expression reference
    gram array for ANY text — whitespace runs, sub-k lengths, empties,
    non-ASCII — not just the corpus fixtures."""
    from mapreduce_stockheadlines_spark.operators import textstats as TS

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    rows = (
        df.withColumn("_wn", TS._winnow_norm(F.col("text")))
        .withColumn("_wc", TS.winnow_char_col("_wn"))
        .select(
            TS.winnow_gram_from_chars("_wc").alias("fast"),
            TS.winnow_gram_col(F.col("text")).alias("ref"),
        )
        .collect()
    )
    for r in rows:
        assert r.fast == r.ref


@given(
    texts=st.lists(
        st.text(alphabet="abcd ef.", min_size=0, max_size=80),
        min_size=1,
        max_size=6,
    )
)
@SLOW
def test_cdc_chunk_dedup_invariants(spark, texts):
    """cdc_chunk_dedup invariants for ANY corpus: every input id comes
    back exactly once; removals never exceed chunk counts; a doc
    losing nothing reproduces its normalized text; and appending exact
    COPIES at higher ids (a) never changes any original's output (the
    min-(id, chunk_id) survivor rule is order-stable) and (b) strips a
    chunk-producing copy to empty text with every chunk removed."""
    import re

    from mapreduce_stockheadlines_spark.operators.dedup import (
        cdc_chunk_dedup,
    )

    base = list(enumerate(texts))
    df = spark.createDataFrame(base, "doc_id long, text string")
    solo = {
        r.doc_id: (r.text, r.n_cdc_chunks, r.n_chunks_removed)
        for r in cdc_chunk_dedup(df, "doc_id", "text", min_size=4).collect()
    }
    assert set(solo) == {i for i, _ in base}
    for i, t in base:
        out, n, rm = solo[i]
        assert 0 <= rm <= n
        norm = re.sub(r"\s+", " ", (t or "").lower()).strip()
        if rm == 0:
            assert out == norm
        assert len(out) <= len(norm)

    both = df.unionByName(
        df.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    dup = {
        r.doc_id: (r.text, r.n_cdc_chunks, r.n_chunks_removed)
        for r in cdc_chunk_dedup(
            both, "doc_id", "text", min_size=4
        ).collect()
    }
    for i, _ in base:
        assert dup[i] == solo[i]  # originals unchanged by later copies
        out, n, rm = dup[i + 1000]
        if n > 0:
            assert (out, rm) == ("", n)

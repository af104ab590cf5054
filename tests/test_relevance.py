"""TF-IDF / BM25 relevance operators: hand-checked values on tiny input
plus full cross-engine pinning vs DuckDB over the real documents table."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.operators import relevance as R


def tiny_docs(spark):
    return spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry dates"),
        ],
        ["doc_id", "text"],
    )


def test_tfidf_hand_values(spark):
    out = R.tfidf_top_terms(tiny_docs(spark), "doc_id", "text", k=2)
    rows = {(r.doc_id, r.rank): r for r in out.collect()}
    # N=3. doc 0: apple tf=2 df=1 → 2*(ln(4/2)+1); banana tf=1 df=2 → ln(4/3)+1
    r00 = rows[(0, 1)]
    assert r00.term == "apple" and r00.tf == 2 and r00.df == 1
    assert r00.score == round(2 * (math.log(4 / 2) + 1), 4)
    assert rows[(0, 2)].term == "banana"
    # doc 2: cherry tf=3 dominates dates tf=1
    assert rows[(2, 1)].term == "cherry" and rows[(2, 2)].term == "dates"


def test_tfidf_tie_broken_by_term_asc(spark):
    df = spark.createDataFrame([(0, "zebra apple")], ["doc_id", "text"])
    rows = R.tfidf_top_terms(df, "doc_id", "text", k=2).orderBy("rank").collect()
    assert [r.term for r in rows] == ["apple", "zebra"]  # equal scores


def test_bm25_hand_values(spark):
    out = R.bm25_scores(
        tiny_docs(spark), "doc_id", "text", ["cherry", "banana"]
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {0, 1, 2}  # doc 0 matches banana only
    assert rows[0].n_matched_terms == 1
    assert rows[1].n_matched_terms == 2
    # doc 2 has tf=3 of the rarer-weighted cherry and is longest
    n, k1, b = 3, 1.2, 0.75
    dls = {0: 3.0, 1: 2.0, 2: 4.0}
    avgdl = sum(dls.values()) / 3

    def idf(df_):
        return math.log(1 + (n - df_ + 0.5) / (df_ + 0.5))

    def contrib(tf, df_, dl):
        return idf(df_) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    want2 = round(contrib(3, 2, dls[2]), 4)  # cherry df=2, tf=3 in doc 2
    assert rows[2].bm25 == pytest.approx(want2, abs=1e-4)
    want1 = round(contrib(1, 2, dls[1]) + contrib(1, 2, dls[1]), 4)
    assert rows[1].bm25 == pytest.approx(want1, abs=1e-4)


TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split_regex(
             regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+')) AS token
    FROM documents
  ) WHERE length(token) > 0),
tf AS (SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY doc_id, token),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         round(tf.tf * (ln((n.n_docs + 1) / CAST(df.df + 1 AS DOUBLE)) + 1), 4)
           AS score
  FROM tf JOIN df USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term ASC) AS rank
      FROM scored)
SELECT doc_id, rank, term, tf, df, score FROM r WHERE rank <= 5
ORDER BY doc_id, rank
"""


def test_tfidf_matches_duckdb_on_documents(spark, sf_dir):
    got = [
        (r.doc_id, r.rank, r.term, r.tf, r.df, r.score)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .transform(lambda d: R.tfidf_top_terms(d, "doc_id", "text", k=5))
        .orderBy("doc_id", "rank")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(t) for t in con.sql(TFIDF_ORACLE).fetchall()]
    assert got == want


def test_ngram_contamination_values(spark):
    from mapreduce_stockheadlines_spark.operators import textstats as TS

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over dogs"),  # shares a 3-gram run
            (1, "completely unrelated words here now"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox sleeps")], ["q_id", "text"]
    )
    out = {
        r.doc_id: r
        for r in TS.ngram_contamination(
            docs, bench, "doc_id", "text"
        ).collect()
    }
    # doc 0 grams: 5 distinct; bench grams: {the quick brown, quick brown fox,
    # brown fox sleeps} → hits = {the quick brown, quick brown fox} = 2
    assert out[0].n_distinct_grams == 5
    assert out[0].n_contaminated == 2
    assert out[0].containment == 0.4
    assert out[1].n_contaminated == 0 and out[1].containment == 0.0


def test_ngram_contamination_duplicate_grams_counted_once(spark):
    from mapreduce_stockheadlines_spark.operators import textstats as TS

    docs = spark.createDataFrame([(0, "a b c a b c a b c")], ["doc_id", "text"])
    bench = spark.createDataFrame([(1, "a b c")], ["q_id", "text"])
    r = TS.ngram_contamination(docs, bench, "doc_id", "text").first()
    # distinct 3-grams of doc 0: {a b c, b c a, c a b} — "a b c" repeats
    assert r.n_distinct_grams == 3
    assert r.n_contaminated == 1
    assert r.containment == 0.3333


VOCAB_ORACLE = """
WITH toks AS (
  SELECT token FROM (
    SELECT unnest(string_split_regex(
             regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), '\\s+')) AS token
    FROM documents
  ) WHERE length(token) > 0),
f AS (SELECT token AS term, CAST(count(*) AS BIGINT) AS freq
      FROM toks GROUP BY token),
r AS (SELECT term, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, term ASC) AS BIGINT)
               AS term_id
      FROM f)
SELECT term, freq, term_id FROM r WHERE term_id <= 50 ORDER BY term_id
"""


def test_vocabulary_matches_duckdb(spark, sf_dir):
    from mapreduce_stockheadlines_spark.operators.relevance import vocabulary

    got = [
        (r.term, r.freq, r.term_id)
        for r in vocabulary(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "text", top_v=50
        )
        .orderBy("term_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(t) for t in con.sql(VOCAB_ORACLE).fetchall()]
    assert got == want


def test_vocabulary_no_single_partition_window(spark, sf_dir):
    """VERDICT r4 #3: term-id assignment must use the bucketed-rank
    shape — no SinglePartition exchange anywhere in the vocab plan."""
    import io
    from contextlib import redirect_stdout

    from mapreduce_stockheadlines_spark.operators.relevance import vocabulary

    df = vocabulary(spark.read.parquet(f"{sf_dir}/documents.parquet"), "text")
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(_fb" in plan


def test_oov_stats_hand_values(spark):
    from mapreduce_stockheadlines_spark.operators.relevance import (
        oov_stats,
        vocabulary,
    )

    docs = spark.createDataFrame(
        [(0, "apple banana apple"), (1, "apple zebra")], ["doc_id", "text"]
    )
    vocab = vocabulary(docs, "text", top_v=2)  # apple(3), banana(1)
    terms = {r.term for r in vocab.collect()}
    assert terms == {"apple", "banana"}
    rows = {r.doc_id: r for r in oov_stats(docs, "doc_id", "text", vocab).collect()}
    assert rows[0].n_tokens == 3 and rows[0].n_oov == 0 and rows[0].oov_rate == 0.0
    assert rows[1].n_tokens == 2 and rows[1].n_oov == 1 and rows[1].oov_rate == 0.5


# --- bigram LM perplexity ----------------------------------------------------

def test_bigram_lm_hand_values(spark):
    """Hand-checked add-k bigram model on a two-doc corpus."""
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b a")], ["doc_id", "text"]
    )
    lm, ctx, v = R.train_bigram_lm(docs, "doc_id", "text")
    # bigrams: doc0: <s> a, a b; doc1: <s> a, a b, b a
    # c12: '<s> a'=2, 'a b'=2, 'b a'=1; c1: <s>=2, a=2, b=1; V={a,b}=2
    assert v == 2
    lm_rows = {r.bigram: r.logp for r in lm.collect()}
    k = 0.5
    assert lm_rows["<s> a"] == round(math.log((2 + k) / (2 + k * 2)), 4)
    assert lm_rows["b a"] == round(math.log((1 + k) / (1 + k * 2)), 4)

    ppl = {
        r.doc_id: r
        for r in R.lm_perplexity(docs, lm, ctx, v, "doc_id", "text").collect()
    }
    # doc 0: mean of logp('<s> a'), logp('a b')
    want_mean = round(
        (lm_rows["<s> a"] + lm_rows["a b"]) / 2, 4
    )
    assert ppl[0].n_bigrams == 2
    assert ppl[0].avg_logp == want_mean
    assert ppl[0].ppl == round(math.exp(-want_mean), 4)


def test_lm_perplexity_unseen_bigram_backoff(spark):
    """Held-out doc: unseen bigram under a seen context uses the smoothed
    floor k/(c1+kV); an unseen context falls to the uniform 1/V floor."""
    train = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    lm, ctx, v = R.train_bigram_lm(train, "doc_id", "text")
    held = spark.createDataFrame([(9, "a a zz")], ["doc_id", "text"])
    out = R.lm_perplexity(held, lm, ctx, v, "doc_id", "text").collect()[0]
    assert v == 2
    k, vv = 0.5, 2  # V = {a, b}
    # grams: '<s> a' (seen), 'a a' (unseen, ctx a has c1=1), 'a zz'
    # (unseen, ctx a), ...wait 'a zz': ctx 'a' seen; 'zz' never predicted
    logp_sa = round(math.log((1 + k) / (1 + k * vv)), 4)
    floor_a = round(math.log(k / (1 + k * vv)), 4)
    want_mean = round((logp_sa + floor_a + floor_a) / 3, 4)
    assert out.n_bigrams == 3
    assert out.avg_logp == want_mean
    assert out.ppl == round(math.exp(-want_mean), 4)


LM_PPL_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_prepend('<s>', list_filter(
           string_split_regex(
             regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +'),
           t -> t <> '')) AS ts
  FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)),
                               i -> ts[i] || ' ' || ts[i + 1])) AS bigram
  FROM toks),
bg AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c12
       FROM grams GROUP BY bigram),
bgx AS (SELECT bigram, c12, split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2
        FROM bg),
ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bgx GROUP BY w1),
v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM bgx),
lm AS (SELECT bigram,
              round(ln((c12 + 0.5) / (c1 + 0.5 * v)), 4) AS logp
       FROM bgx JOIN ctx USING (w1) CROSS JOIN v),
agg AS (SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CAST(round(logp * 10000) AS BIGINT)) AS BIGINT) AS s4
        FROM grams JOIN lm USING (bigram)
        GROUP BY doc_id),
-- exact fixed-point mean (1e-4 units): order-free integer sum + HALF_UP
-- integer division, mirroring the Spark side
fx AS (SELECT doc_id, n_bigrams,
              ((2 * abs(s4) + n_bigrams) // (2 * n_bigrams))
                * sign(s4) / 10000.0 AS avg_logp
       FROM agg)
SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 4) AS ppl
FROM fx ORDER BY doc_id
"""


def test_lm_perplexity_matches_duckdb_on_documents(spark, sf_dir):
    """Full cross-engine pin of train + self-score over the real
    documents table: DuckDB re-derives the entire model."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm, ctx, v = R.train_bigram_lm(docs, "doc_id", "text")
    got = [
        (r.doc_id, r.n_bigrams, r.avg_logp, r.ppl)
        for r in R.lm_perplexity(docs, lm, ctx, v, "doc_id", "text")
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(t) for t in con.sql(LM_PPL_ORACLE).fetchall()]
    assert got == want


def test_lm_perplexity_no_backoff_matches_on_self_trained(spark, sf_dir):
    """backoff=False (the self-trained fast path — no context join, no
    vocab broadcast) returns identical scores when every gram is in the
    model, and null ppl (loud failure) on an unseen gram."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    lm, ctx, v = R.train_bigram_lm(docs, "doc_id", "text")
    with_b = R.lm_perplexity(docs, lm, ctx, v, "doc_id", "text")
    no_b = R.lm_perplexity(
        docs, lm, ctx, v, "doc_id", "text", backoff=False
    )
    assert sorted(map(tuple, with_b.collect())) == sorted(
        map(tuple, no_b.collect())
    )

    # PARTIALLY unseen doc: 'the' is in-vocab, 'zzzqqq' is not — the
    # whole doc must null out, never average only the seen grams
    held = spark.createDataFrame(
        [(999, "zzz qqq"), (998, "the zzzqqq")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in R.lm_perplexity(
            held, lm, ctx, v, "doc_id", "text", backoff=False
        ).collect()
    }
    assert rows[999].ppl is None  # fully unseen fails loudly
    assert rows[998].ppl is None  # partially unseen also fails loudly


# --- vocabulary application (text → token-id sequences) ----------------------

def test_apply_vocabulary_round_trip(spark):
    """Encoding under vocabulary() round-trips: decoding the id
    sequences through the inverted vocab reproduces the token stream in
    order; OOV tokens map to the reserved unk id and are counted."""
    train = spark.createDataFrame(
        [(0, "apple banana apple cherry"), (1, "banana banana dates")],
        ["doc_id", "text"],
    )
    vocab = R.vocabulary(train, "text")
    id2term = {r.term_id: r.term for r in vocab.collect()}
    assert 0 not in id2term  # vocabulary ids start at 1: unk=0 is free

    docs = spark.createDataFrame(
        [(7, "apple dates zebra apple")], ["doc_id", "text"]
    )
    enc = R.apply_vocabulary(docs, "doc_id", "text", vocab).collect()[0]
    assert enc.n_tokens == 4 and enc.n_unk == 1  # 'zebra' is OOV
    decoded = [id2term.get(i, "<unk>") for i in enc.token_ids]
    assert decoded == ["apple", "dates", "<unk>", "apple"]


APPLY_VOCAB_ORACLE = """
WITH toks AS (
  SELECT doc_id, token, pos FROM (
    SELECT doc_id,
           unnest(l) AS token,
           generate_subscripts(l, 1) AS pos
    FROM (SELECT doc_id, list_filter(string_split_regex(
                 regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +'),
                 t -> t <> '') AS l
          FROM documents))),
enc AS (SELECT t.doc_id,
               list(coalesce(v.term_id, 0) ORDER BY t.pos) AS token_ids,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.term_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unk
        FROM toks t LEFT JOIN vocab v USING (token)
        GROUP BY t.doc_id)
SELECT doc_id, array_to_string(token_ids, ' ') AS ids_str, n_tokens, n_unk
FROM enc ORDER BY doc_id
"""


def test_apply_vocabulary_matches_duckdb(spark, sf_dir):
    """Full cross-engine pin over the real documents table: DuckDB
    re-derives the encoded sequences from the SAME exported vocab."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = R.vocabulary(docs, "text")
    got = [
        (r.doc_id, " ".join(map(str, r.token_ids)), r.n_tokens, r.n_unk)
        for r in R.apply_vocabulary(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    vpdf = vocab.select(
        F.col("term").alias("token"), "term_id"
    ).toPandas()
    con.register("vocab", vpdf)
    want = [tuple(t) for t in con.sql(APPLY_VOCAB_ORACLE).fetchall()]
    assert got == want


def test_precomputed_tf_census_equivalence(spark):
    """The ``tf=`` shared-census mode of every lexical operator returns
    the same rows as the self-exploding mode — the x26 panel's one-pass
    composition is a pure plan change, not a semantics change."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        classifier_score,
    )

    docs = tiny_docs(spark)
    tf = R.term_frequencies(docs, "doc_id", "text")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(R.tfidf_top_terms(docs, "doc_id", "text", k=2, tf=tf)) == rows(
        R.tfidf_top_terms(docs, "doc_id", "text", k=2)
    )
    q = ["banana", "cherry"]
    assert rows(R.bm25_scores(docs, "doc_id", "text", q, tf=tf)) == rows(
        R.bm25_scores(docs, "doc_id", "text", q)
    )
    assert rows(R.vocabulary(docs, "text", tf=tf)) == rows(
        R.vocabulary(docs, "text")
    )
    vocab = R.vocabulary(docs, "text", top_v=2)
    assert rows(R.oov_stats(docs, "doc_id", "text", vocab, tf=tf)) == rows(
        R.oov_stats(docs, "doc_id", "text", vocab)
    )
    assert rows(classifier_score(docs, "doc_id", "text", tf=tf)) == rows(
        classifier_score(docs, "doc_id", "text")
    )


def test_scalar_attach_avoids_nested_loop_join(spark):
    """tfidf/bm25's one-row scalar attaches (N, avgdl) must compile to
    BroadcastHashJoin via the non-foldable _zero_key — a literal-key
    equi-join constant-folds back to the BroadcastNestedLoopJoin the
    plan guard forbids (regression pin for the x26 promotion)."""
    from mapreduce_stockheadlines_spark.plans.guard import formatted_plan

    docs = tiny_docs(spark)
    for df in (
        R.tfidf_top_terms(docs, "doc_id", "text", k=1),
        R.bm25_scores(docs, "doc_id", "text", ["banana"]),
    ):
        plan = formatted_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


# --- Kneser-Ney bigram LM ----------------------------------------------------


def test_kn_bigram_lm_hand_values(spark):
    """Hand-checked interpolated KN model on the add-k tests' corpus:
    bigrams '<s> a':2, 'a b':2, 'b a':1 → ctx (<s>:2/1, a:2/1, b:1/1),
    cont (a:2, b:1), T=3, V=2, Pcont(a)=2.5/4, Pcont(b)=1.5/4."""
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b a")], ["doc_id", "text"]
    )
    lm, ctx, cont, t, v = R.train_bigram_lm_kn(docs, "doc_id", "text")
    assert (t, v) == (3, 2)
    assert {r.w2: r.n1b for r in cont.collect()} == {"a": 2, "b": 1}
    assert {r.w1: (r.c1, r.n1f) for r in ctx.collect()} == {
        "<s>": (2, 1), "a": (2, 1), "b": (1, 1),
    }
    got = {r.bigram: r.logp for r in lm.collect()}
    pc_a, pc_b = 2.5 / 4, 1.5 / 4
    want = {
        "<s> a": round(math.log((2 - 0.75) / 2 + 0.75 * 1 / 2 * pc_a), 4),
        "a b": round(math.log((2 - 0.75) / 2 + 0.75 * 1 / 2 * pc_b), 4),
        "b a": round(math.log((1 - 0.75) / 1 + 0.75 * 1 / 1 * pc_a), 4),
    }
    assert got == want


def test_kn_distribution_sums_to_one_per_context(spark):
    """The defining KN invariant: for every seen context, the seen-arm
    probabilities plus the interpolation mass over the FULL vocabulary
    sum to exactly 1 (the discount is redistributed, never lost)."""
    docs = spark.createDataFrame(
        [(0, "a b c a b"), (1, "b c a a"), (2, "c c b a")],
        ["doc_id", "text"],
    )
    lm, ctx, cont, t, v = R.train_bigram_lm_kn(docs, "doc_id", "text")
    D, k = 0.75, 0.5
    bg = {
        (r.bigram.split(" ")[0], r.bigram.split(" ")[1]): None
        for r in lm.collect()
    }
    cx = {r.w1: (r.c1, r.n1f) for r in ctx.collect()}
    cn = {r.w2: r.n1b for r in cont.collect()}
    vocab = list(cn)

    def pcont(w2):
        return (cn.get(w2, 0) + k) / (t + k * v)

    # exact census re-derivation of c12 from the raw corpus
    import collections

    c12 = collections.Counter()
    for _, text in [(0, "a b c a b"), (1, "b c a a"), (2, "c c b a")]:
        toks = ["<s>"] + text.split()
        for i in range(len(toks) - 1):
            c12[(toks[i], toks[i + 1])] += 1
    for w1, (c1, n1f) in cx.items():
        lam = D * n1f / c1
        total = sum(
            max(c12.get((w1, w2), 0) - D, 0) / c1 + lam * pcont(w2)
            for w2 in vocab
        )
        assert abs(total - 1.0) < 1e-12, (w1, total)
    assert bg  # the model is non-empty


def test_kn_continuation_beats_raw_frequency(spark):
    """The 'san francisco' property: a word that is FREQUENT but follows
    one context gets less continuation mass than a rarer word seen
    after many contexts — the distinction add-k smoothing cannot make."""
    docs = spark.createDataFrame(
        [
            (0, "san francisco san francisco san francisco san francisco"),
            (1, "the dog ran"),
            (2, "a cat ran"),
            (3, "my fish ran"),
        ],
        ["doc_id", "text"],
    )
    _, _, cont, t, v = R.train_bigram_lm_kn(docs, "doc_id", "text")
    cn = {r.w2: r.n1b for r in cont.collect()}
    # francisco occurs 4x but only ever after 'san'; ran occurs 3x after
    # three distinct contexts
    assert cn["francisco"] == 1
    assert cn["ran"] == 3
    assert cn["ran"] > cn["francisco"]


def test_kn_perplexity_backoff_three_tiers(spark):
    """Held-out scoring hits all three unseen tiers with hand values:
    unseen bigram under a seen context (interpolation mass alone),
    unseen context (all mass to Pcont), unseen w2 (the add-k floor)."""
    train = spark.createDataFrame([(0, "a b"), (1, "a b a")], ["doc_id", "text"])
    lm, ctx, cont, t, v = R.train_bigram_lm_kn(train, "doc_id", "text")
    pc_a, pc_zz = 2.5 / 4, 0.5 / 4  # Pcont(a), Pcont(unseen)
    held = spark.createDataFrame([(9, "a a zz"), (10, "zz a")], ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in R.lm_perplexity_kn(
            held, lm, ctx, cont, t, v, "doc_id", "text"
        ).collect()
    }
    lam_a = 0.75 * 1 / 2
    logp_sa = round(math.log((2 - 0.75) / 2 + lam_a * pc_a), 4)  # seen
    logp_aa = round(math.log(lam_a * pc_a), 4)  # unseen gram, seen ctx
    logp_azz = round(math.log(lam_a * pc_zz), 4)  # unseen w2
    logp_zza = round(math.log(1.0 * pc_a), 4)  # unseen ctx
    want9 = _half_up_mean4([logp_sa, logp_aa, logp_azz])
    assert out[9].n_bigrams == 3
    assert out[9].avg_logp == want9
    assert out[9].ppl == round(math.exp(-want9), 4)
    # doc 10: '<s> zz' = unseen w2 under seen ctx <s>; 'zz a' = unseen ctx
    lam_s = 0.75 * 1 / 2
    logp_szz = round(math.log(lam_s * pc_zz), 4)
    want10 = _half_up_mean4([logp_szz, logp_zza])
    assert out[10].avg_logp == want10


def _half_up_mean4(logps):
    """The operators' exact fixed-point mean: integer 1e-4 units,
    HALF-UP division on the absolute value, sign restored, back to
    float — mirrors _doc_ppl_from_scored."""
    s4 = sum(int(round(lp * 10000)) for lp in logps)
    n = len(logps)
    q = (2 * abs(s4) + n) // (2 * n)
    return (q if s4 >= 0 else -q) / 10000.0


def test_kn_matches_duckdb_on_documents_held_out(spark, sf_dir):
    """Full cross-engine pin of the BACKOFF path (the arm x28's
    self-scored registry query never exercises): train on even docs,
    score odd docs; DuckDB re-derives census, continuation counts,
    the three-tier fallback and the fixed-point doc mean."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    held = docs.filter(F.col("doc_id") % 2 == 1)
    lm, ctx, cont, t, v = R.train_bigram_lm_kn(train, "doc_id", "text")
    got = [
        (r.doc_id, r.n_bigrams, r.avg_logp, r.ppl)
        for r in R.lm_perplexity_kn(
            held, lm, ctx, cont, t, v, "doc_id", "text"
        )
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [tuple(r) for r in con.sql(KN_HELD_OUT_ORACLE).fetchall()]
    assert got == want


KN_HELD_OUT_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_prepend('<s>', list_filter(
           string_split_regex(
             regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +'),
           t -> t <> '')) AS ts
  FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts)),
                               i -> ts[i] || ' ' || ts[i + 1])) AS bigram
  FROM toks),
bgx AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS c12,
         split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2
  FROM grams WHERE doc_id % 2 = 0 GROUP BY bigram),
ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
               CAST(count(DISTINCT w2) AS BIGINT) AS n1f
        FROM bgx GROUP BY w1),
cont AS (SELECT w2, CAST(count(DISTINCT w1) AS BIGINT) AS n1b
         FROM bgx GROUP BY w2),
tv AS (SELECT CAST(count(*) AS BIGINT) AS t,
              CAST(count(DISTINCT w2) AS BIGINT) AS v FROM bgx),
lm AS (
  SELECT bigram,
         round(ln((c12 - 0.75) / c1
                  + 0.75 * n1f / c1
                  * ((n1b + 0.5) / (CAST(t AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))),
               4) AS logp
  FROM bgx JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tv),
sc AS (
  SELECT g.doc_id, g.bigram,
         coalesce(
           lm.logp,
           round(ln(
             (CASE WHEN ctx.c1 IS NOT NULL
                   THEN 0.75 * ctx.n1f / ctx.c1 ELSE 1.0 END)
             * ((coalesce(cont.n1b, 0) + 0.5)
                / (CAST(tv.t AS DOUBLE) + 0.5 * CAST(tv.v AS DOUBLE)))), 4)
         ) AS logp_eff
  FROM grams g
  LEFT JOIN lm USING (bigram)
  LEFT JOIN ctx ON ctx.w1 = split_part(g.bigram, ' ', 1)
  LEFT JOIN cont ON cont.w2 = split_part(g.bigram, ' ', 2)
  CROSS JOIN tv
  WHERE g.doc_id % 2 = 1),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(CAST(round(logp_eff * 10000) AS BIGINT)) AS BIGINT) AS s4
  FROM sc GROUP BY doc_id),
fx AS (
  SELECT doc_id, n_bigrams,
         ((2 * abs(s4) + n_bigrams) // (2 * n_bigrams))
           * sign(s4) / 10000.0 AS avg_logp
  FROM agg)
SELECT doc_id, n_bigrams, avg_logp, round(exp(-avg_logp), 4) AS ppl
FROM fx ORDER BY doc_id
"""


def test_x28_kn_columns_nondegenerate_and_distinct_from_addk(spark, sf_dir):
    """Promotion guard for the round-9 KN columns: kn_ppl varies across
    docs, and KN is genuinely a different smoothing — per-doc scores
    differ from the add-k model's on real text (if they coincided the
    column would pin nothing new)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x28_lm_perplexity,
    )

    x28 = x28_lm_perplexity(spark, sf_dir).cache()
    try:
        assert_column_nondegenerate(x28, "kn_ppl", f"at {sf_dir}")
        assert_column_nondegenerate(x28, "kn_avg_logp", f"at {sf_dir}")
        n_diff = x28.filter(F.col("kn_ppl") != F.col("ppl")).count()
        assert n_diff > 0
    finally:
        x28.unpersist()


def test_ppl_buckets_hand_values_and_null_handling(spark):
    """CCNet tercile labels: exact integer bucket boundaries with a
    total not divisible by n, NULL ppl kept with NULL rank/bucket."""
    scored = spark.createDataFrame(
        [(1, 10.0), (2, 5.0), (3, 20.0), (4, 15.0), (5, None),
         (6, 5.0), (7, 30.0)],
        "doc_id long, ppl double",
    )
    out = {
        r.doc_id: (r.ppl_rank, r.ppl_bucket)
        for r in R.ppl_buckets(scored, "doc_id", "ppl").collect()
    }
    # rank order: (5.0, 2), (5.0, 6), (10.0, 1), (15.0, 4), (20.0, 3),
    # (30.0, 7); total=6 → buckets of exactly 2
    assert out == {
        2: (1, 1), 6: (2, 1), 1: (3, 2), 4: (4, 2), 3: (5, 3),
        7: (6, 3), 5: (None, None),
    }
    # uneven total: 7 rankable rows over 3 buckets → floor split 3/2/2
    scored2 = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 8)], "doc_id long, ppl double"
    )
    out2 = {
        r.doc_id: r.ppl_bucket
        for r in R.ppl_buckets(scored2, "doc_id", "ppl").collect()
    }
    assert out2 == {1: 1, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3, 7: 3}

    import pytest

    with pytest.raises(ValueError, match="n_buckets"):
        R.ppl_buckets(scored, "doc_id", "ppl", n_buckets=0)


def test_ppl_buckets_no_single_partition_and_x28_nondegenerate(spark, sf_dir):
    """The rank must use the bucketed construction — the only
    SinglePartition in the plan is the 1-row count aggregate (the
    accepted post-aggregation scalar class), never the rank WINDOW,
    which must run under the _pb hash partitioning. Plus the promoted
    x28 columns vary."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x28_lm_perplexity,
    )
    from mapreduce_stockheadlines_spark.plans.guard import (
        check_plan,
        formatted_plan,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm, ctx, v = R.train_bigram_lm(docs, "doc_id", "text")
    ppl = R.lm_perplexity(docs, lm, ctx, v, "doc_id", "text", backoff=False)
    b = R.ppl_buckets(ppl, "doc_id", "ppl")
    assert check_plan(b) == []
    plan = formatted_plan(b)
    assert "hashpartitioning(_pb" in plan  # the rank window's exchange
    # exactly ONE SinglePartition — the count aggregate's 1-row final
    # exchange (the accepted scalar class); a second one would mean the
    # rank window funnels the corpus through one task
    assert plan.count("SinglePartition") == 1, plan.count("SinglePartition")

    x28 = x28_lm_perplexity(spark, sf_dir).cache()
    try:
        assert_column_nondegenerate(x28, "ppl_bucket", f"at {sf_dir}")
        assert_column_nondegenerate(x28, "ppl_rank", f"at {sf_dir}")
        # all three terciles populated, sizes within 1 of each other
        sizes = {
            r.ppl_bucket: r.n
            for r in x28.groupBy("ppl_bucket").count()
            .withColumnRenamed("count", "n").collect()
        }
        assert set(sizes) == {1, 2, 3}
        assert max(sizes.values()) - min(sizes.values()) <= 1
    finally:
        x28.unpersist()


def test_moore_lewis_scores_direction_and_backoff(spark):
    """Moore & Lewis cross-entropy difference: pool docs that read like
    the in-domain subset score HIGHER (less negative excess) than docs
    full of in-domain-OOV words; in-domain docs themselves sit at the
    top; the excess fixed point equals the integer difference of the
    two avg-logp fixed points (the exactness contract)."""
    from mapreduce_stockheadlines_spark.operators import relevance as RV

    rows = [
        # in-domain: finance-ish
        (1, "the market rallied and the shares closed higher", "tgt"),
        (2, "the shares rallied while the market closed mixed", "tgt"),
        # pool doc resembling the domain
        (3, "the market closed higher and the shares rallied", "pool"),
        # pool doc far from the domain (all OOV under the target LM)
        (4, "purple elephants juggle quantum bananas under neon rain",
         "pool"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: r
        for r in RV.moore_lewis_scores(
            df, "doc_id", "text", F.col("source") == "tgt"
        ).collect()
    }
    assert len(out) == 4
    # similar pool doc beats the OOV pool doc
    assert out[3].ml_excess_fp > out[4].ml_excess_fp
    # in-domain docs score at least as well as the OOV doc
    assert min(out[1].ml_excess_fp, out[2].ml_excess_fp) > out[4].ml_excess_fp
    # exact fixed-point contract
    for r in out.values():
        want = round(
            round(r.ml_in_avg_logp * 10000) - round(r.ml_gen_avg_logp * 10000)
        )
        assert r.ml_excess_fp == want


def test_x28_moore_lewis_column_nondegenerate(spark, sf_dir):
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x28 = ALL_QUERIES["x28_lm_perplexity"].builder(spark, sf_dir)
    assert_column_nondegenerate(x28, "ml_excess_fp", f"at {sf_dir}")

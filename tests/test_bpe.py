"""BPE tokenizer: trainer pinned against a naive reference
implementation, encode/train consistency, corpus application, and the
census against DuckDB."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_stockheadlines_spark.operators import bpe as B

EOW = "</w>"


# --- naive reference (independent code path: full recount per merge) -------


def ref_train(word_freqs: dict[str, int], num_merges: int):
    """Sennrich BPE with a full pair recount every merge — O(V) per
    merge, deliberately different bookkeeping from the incremental
    trainer it checks."""
    seqs = {w: tuple(list(w) + [EOW]) for w in word_freqs}
    merges = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, seq in seqs.items():
            for p in zip(seq, seq[1:]):
                counts[p] = counts.get(p, 0) + word_freqs[w]
        live = [(c, p) for p, c in counts.items() if c > 0]
        if not live:
            break
        best = min(live, key=lambda cp: (-cp[0], cp[1]))[1]
        merges.append(best)
        seqs = {w: tuple(B._merge_seq(list(s), *best)) for w, s in seqs.items()}
    return merges, seqs


def ref_encode(word: str, merges) -> list[str]:
    """Replay merges in rank order — the definitional segmentation."""
    seq = list(word) + [EOW]
    for a, b in merges:
        seq = B._merge_seq(seq, a, b)
    return seq


# --- trainer ---------------------------------------------------------------


CORPUS = [
    (1, "low lower lowest low low"),
    (2, "new newer newest new"),
    (3, "wide wider widest new low"),
    (4, ""),
    (5, None),
]


def _census_dict(spark, df, text_col="text"):
    return {
        r["word"]: r["freq"]
        for r in B.word_census(df, text_col).collect()
    }


def test_train_matches_naive_reference(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    merges, alphabet = B.train_bpe(df, "text", 10)
    ref_merges, _ = ref_train(_census_dict(spark, df), 10)
    assert merges == ref_merges
    assert len(merges) == 10
    assert alphabet == sorted(set("".join(w for w in _census_dict(spark, df))) | {EOW})


def test_train_stops_when_pairs_exhausted(spark):
    df = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    merges, _ = B.train_bpe(df, "text", 100)
    # "ab</w>" fully merges in 2 steps; nothing co-occurs after that
    assert len(merges) == 2
    assert B._encode_word("ab", {p: i for i, p in enumerate(merges)}) == [
        "ab" + EOW
    ]


def test_encode_reproduces_training_segmentation(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    merges, _ = B.train_bpe(df, "text", 15)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in _census_dict(spark, df):
        assert B._encode_word(w, ranks) == ref_encode(w, merges), w


def test_encode_round_trips_any_word(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    merges, _ = B.train_bpe(df, "text", 8)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ["low", "lowest", "unseenword", "z"]:
        assert "".join(B._encode_word(w, ranks)) == w + EOW


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=12),
)
def test_train_property_incremental_equals_naive(words, n_merges):
    """The incremental trainer's inverted-index bookkeeping equals the
    full-recount reference on arbitrary corpora — driver-side only
    (ref_train vs the same loop train_bpe runs after its collect)."""
    freqs: dict[str, int] = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    ref_merges, ref_seqs = ref_train(freqs, n_merges)
    merges, alphabet = B._train_merges(sorted(freqs.items()), n_merges)
    assert merges == ref_merges
    assert alphabet == sorted(set("".join(freqs)) | {EOW})
    # and encode-by-rank reproduces the training segmentation
    ranks = {p: i for i, p in enumerate(merges)}
    for w in freqs:
        assert tuple(B._encode_word(w, ranks)) == ref_seqs[w], (w, merges)


def test_word_census_matches_duckdb(spark, sf_dir):
    got = {
        (r["word"], r["freq"])
        for r in B.word_census(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "text", 50
        ).collect()
    }
    con = duckdb.connect()
    want = {
        (w, f)
        for w, f in con.execute(
            f"""
            WITH toks AS (
              SELECT unnest(string_split_regex(trim(regexp_replace(
                lower(text), '[^a-zA-Z ]', ' ', 'g')), ' +')) AS word
              FROM read_parquet('{sf_dir}/documents.parquet')
            )
            SELECT word, count(*) AS freq FROM toks WHERE word <> ''
            GROUP BY word ORDER BY freq DESC, word ASC LIMIT 50
            """
        ).fetchall()
    }
    assert got == want


# --- vocabulary + encoding over the corpus ---------------------------------


def test_bpe_vocabulary_layout(spark):
    rows = B.piece_id_map([("a", "b"), ("ab", EOW)], ["a", "b", EOW])
    # alphabet first (sorted order as given), merges appended in order
    assert rows == {"a": 1, "b": 2, EOW: 3, "ab": 4, "ab" + EOW: 5}


def test_bpe_vocabulary_dedups_repeated_pieces(spark):
    rows = B.piece_id_map([("a", "b")], ["a", "b", "ab"])
    assert rows == {"a": 1, "b": 2, "ab": 3}  # merge result keeps first id


def test_apply_bpe_matches_per_doc_reference(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    merges, alphabet = B.train_bpe(df, "text", 12)
    got = {
        r["doc_id"]: (r["pieces"], r["n_words"], r["n_pieces"])
        for r in B.apply_bpe(df, "doc_id", "text", merges).collect()
    }
    for doc_id, text in CORPUS:
        words = [w for w in (text or "").lower().split() if w]
        want = [p for w in words for p in ref_encode(w, merges)]
        pieces, n_words, n_pieces = got[doc_id]
        assert pieces == want, doc_id
        assert n_words == len(words)
        assert n_pieces == len(want)
    # token-less docs survive with empty sequences
    assert got[4] == ([], 0, 0)
    assert got[5] == ([], 0, 0)


def test_apply_bpe_emits_ids_under_vocabulary(spark):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    merges, alphabet = B.train_bpe(df, "text", 12)
    ids = B.piece_id_map(merges, alphabet)
    out = {
        r["doc_id"]: r
        for r in B.apply_bpe(
            df, "doc_id", "text", merges, piece_ids=ids
        ).collect()
    }
    r1 = out[1]
    assert r1["piece_token_ids"] == [ids[p] for p in r1["pieces"]]
    assert out[4]["piece_token_ids"] == []
    # unknown piece -> 0: encode a word with a symbol outside the vocab
    enc = B.encode_word_types(
        spark.createDataFrame([("qxz",)], ["word"]), merges, piece_ids=ids
    ).collect()[0]
    assert 0 in enc["ids"] and "".join(enc["pieces"]) == "qxz" + EOW


def test_save_load_round_trip(spark, tmp_path):
    df = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    merges, alphabet = B.train_bpe(df, "text", 7)
    B.save_bpe(spark, merges, alphabet, str(tmp_path / "bpe"))
    m2, a2 = B.load_bpe(spark, str(tmp_path / "bpe"))
    assert m2 == merges and a2 == alphabet


def test_encode_word_types_matches_duckdb_replace_chain(spark, sf_dir):
    """The Arrow-batched encoder's piece SEQUENCES (not just counts)
    equal DuckDB's unrolled replace-chain replay of the same well-formed
    merge list over the corpus's real word types — the formulation the
    x28 registry columns hash against, pinned here at full strength."""
    import duckdb

    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.functions.text import tokens_array
    from mapreduce_stockheadlines_spark.operators.bpe import encode_word_types
    from mapreduce_stockheadlines_spark.plans.extensions import (
        _X28_BPE_MERGES,
        _x28_bpe_enc_sql,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents")
    types = docs.select(
        F.explode(tokens_array("text")).alias("word")
    ).distinct()
    got = sorted(
        (r.word, tuple(r.pieces))
        for r in encode_word_types(types, _X28_BPE_MERGES).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = [
        (r[0], tuple(r[1]))
        for r in con.execute(
            f"""
            SELECT word, string_split(trim({_x28_bpe_enc_sql()}), ' ')
            FROM (
              SELECT DISTINCT unnest(list_filter(
                string_split_regex(
                  regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +'),
                t -> t <> '')) AS word
              FROM documents)
            ORDER BY word
            """
        ).fetchall()
    ]
    assert got == want and len(got) > 20


def test_encode_replace_chain_handles_overlapping_occurrences(spark):
    """The latent-divergence class a single char-level replace() gets
    wrong: consecutive occurrences of a merge pair share a boundary
    space ('d i n i n g'), so one replace merges only alternate
    occurrences while the token-level encoder merges all. The doubled
    replace in _x28_bpe_enc_sql must agree with encode_word_types on
    exactly these words."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.bpe import encode_word_types
    from mapreduce_stockheadlines_spark.plans.extensions import (
        _X28_BPE_MERGES,
        _x28_bpe_enc_sql,
    )

    words = ["dining", "training", "declining", "banana", "ananas",
             "inin", "ininin", "thth", "ththth", "and", "the", "sand"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = sorted(
        (r.word, tuple(r.pieces))
        for r in encode_word_types(df, _X28_BPE_MERGES).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE w (word VARCHAR)")
    con.executemany("INSERT INTO w VALUES (?)", [(w,) for w in words])
    want = sorted(
        (r[0], tuple(r[1]))
        for r in con.execute(
            f"SELECT word, string_split(trim({_x28_bpe_enc_sql()}), ' ') FROM w"
        ).fetchall()
    )
    assert got == want
    by_word = dict(got)
    assert by_word["dining"] == ("d", "in", "in", "g", "</w>")
    assert by_word["banana"] == ("b", "an", "an", "a", "</w>")


def test_x28_training_oracle_survives_early_stop():
    """Code-review finding (round 7): if the pair census runs dry before
    num_merges rounds, the oracle's per-round CROSS JOIN must become a
    no-op (sentinel pair), NOT annihilate the seg/encode chains to
    empty — pinned by running the actual oracle CTE generator over a
    degenerate corpus (every doc one single-char word: exactly one
    learnable merge) and comparing merges fingerprint + per-doc trained
    piece counts against the Python trainer."""
    import hashlib

    import duckdb

    from mapreduce_stockheadlines_spark.plans.extensions import (
        _x28_bpe_train_ctes,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        "(1, 'a a a'), (2, 'a'), (3, 'a a')) t(doc_id, text)"
    )
    sql = f"""
    WITH words AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(
        regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' +'),
        t -> t <> '')) AS word
      FROM docs){_x28_bpe_train_ctes(num_merges=8)}
    SELECT w.doc_id, bpct.n_bpe_pieces_trained, (SELECT fp FROM bfp)
    FROM (SELECT DISTINCT doc_id FROM words) w
    JOIN bpct USING (doc_id) ORDER BY w.doc_id
    """
    got = con.execute(sql).fetchall()

    # python trainer on the same census: one merge ('a', '</w>'), then dry
    merges, _alpha = B._train_merges([("a", 6)], 8)
    assert merges == [("a", "</w>")]
    fp = hashlib.md5(
        "|".join(a + " " + b for a, b in merges).encode()
    ).hexdigest()[:8]
    # each word 'a' encodes to ONE piece ('a</w>') under the learned merge
    assert got == [(1, 3, fp), (2, 1, fp), (3, 2, fp)]


# --- unigram-LM trainer (operators/unigram.py) -------------------------------


def test_unigram_trainer_learns_frequent_substrings():
    from mapreduce_stockheadlines_spark.operators.unigram import (
        _train_unigram_census,
        _viterbi,
    )

    census = [("data", 10), ("database", 5), ("dart", 3), ("the", 9)]
    m = _train_unigram_census(
        census, vocab_size=6, n_rounds=2, max_piece_len=4, seed_size=64
    )
    # the dominant whole words become pieces; every census word
    # segments and the pieces re-join to the word (coverage)
    assert "data" in m and "the" in m
    for w, _ in census:
        seg = _viterbi(w, m, 4)
        assert seg is not None and "".join(seg) == w
    # fixed-point logps are negative BIGINT-scale ints
    assert all(isinstance(v, int) and v < 0 for v in m.values())


def test_unigram_single_word_corpus_is_one_piece():
    from mapreduce_stockheadlines_spark.operators.unigram import (
        _train_unigram_census,
        _viterbi,
    )

    m = _train_unigram_census(
        [("spark", 7)], vocab_size=4, n_rounds=2, max_piece_len=5,
        seed_size=64,
    )
    seg = _viterbi("spark", m, 5)
    assert seg == ["spark"]


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcd", min_size=1, max_size=9),
            st.integers(min_value=1, max_value=20),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_unigram_viterbi_matches_bruteforce(census):
    """The DP (score, min-joined-string) tie-break must equal a full
    enumeration's (score DESC, seg ASC) argmax — the exact contract the
    DuckDB oracle's recursive-CTE path enumeration checks at registry
    scale."""
    from mapreduce_stockheadlines_spark.operators.unigram import (
        _train_unigram_census,
        _viterbi,
    )

    census = list({w: f for w, f in census}.items())
    m = _train_unigram_census(
        census, vocab_size=5, n_rounds=2, max_piece_len=4, seed_size=32
    )

    def brute(w):
        best = None

        def rec(i, segs, sc):
            nonlocal best
            if i == len(w):
                cand = (sc, " ".join(segs))
                if (
                    best is None
                    or cand[0] > best[0]
                    or (cand[0] == best[0] and cand[1] < best[1])
                ):
                    best = cand
                return
            for ln in range(1, min(4, len(w) - i) + 1):
                p = w[i : i + ln]
                if p in m:
                    rec(i + ln, segs + [p], sc + m[p])

        rec(0, [], 0)
        return best[1].split(" ") if best else None

    for w, _ in census:
        assert _viterbi(w, m, 4) == brute(w)


def test_unigram_encode_word_types_arrow_path(spark):
    from mapreduce_stockheadlines_spark.operators.unigram import (
        _train_unigram_census,
        unigram_encode_word_types,
    )

    census = [("data", 10), ("dart", 3)]
    m = _train_unigram_census(
        census, vocab_size=4, n_rounds=2, max_piece_len=4, seed_size=32
    )
    words = spark.createDataFrame(
        [("data",), ("dart",), ("zzz",)], ["word"]
    )
    out = {
        r["word"]: list(r["pieces"])
        for r in unigram_encode_word_types(words, m).collect()
    }
    assert "".join(out["data"]) == "data"
    assert "".join(out["dart"]) == "dart"
    # chars outside the model: plain char-list fallback
    assert out["zzz"] == ["z", "z", "z"]


def test_x28_unigram_columns_nondegenerate(spark, sf_dir):
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x28 = ALL_QUERIES["x28_lm_perplexity"].builder(spark, sf_dir)
    assert_column_nondegenerate(x28, "n_uni_pieces", f"at {sf_dir}")


def test_x28_fertility_columns_match_census_recompute(spark, sf_dir):
    """The round-10 fertility constants (bpe/uni/wp_fert_fp) are corpus
    CONSTANTS like the model fingerprints — the pin is the value, not
    per-row variation: each must equal an independent recomputation
    from the word census + the co-trained models at the x28 budget,
    sit at >= 1e6 (>= 1 piece per word by construction), and be
    identical on every row."""
    from mapreduce_stockheadlines_spark.operators import bpe as B
    from mapreduce_stockheadlines_spark.operators import unigram as UG
    from mapreduce_stockheadlines_spark.operators import wordpiece as WP
    from mapreduce_stockheadlines_spark.plans.catalog import table
    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x28 = ALL_QUERIES["x28_lm_perplexity"].builder(spark, sf_dir)
    rows = x28.select(
        "bpe_fert_fp", "uni_fert_fp", "wp_fert_fp"
    ).distinct().collect()
    assert len(rows) == 1  # constant across rows
    got = rows[0].asDict()

    docs = table(spark, sf_dir, "documents")
    census = [
        (r["word"], int(r["freq"]))
        for r in B.word_census(docs, "text", 4096).collect()
    ]
    merges, _ = B.train_bpe(docs, "text", 8, census=census)
    ranks = {p: i for i, p in enumerate(merges)}
    wp_vocab, _m, _a = WP.train_wordpiece(docs, "text", 8, census=census)
    wset = set(wp_vocab)
    uni = UG.train_unigram(
        docs, "text", vocab_size=12, seed_size=64, census=census,
    )
    mpl = max((len(pc) for pc in uni), default=1)
    tot = sum(f for _, f in census)
    s = {"bpe_fert_fp": 0, "uni_fert_fp": 0, "wp_fert_fp": 0}
    for w, f in census:
        s["bpe_fert_fp"] += f * len(B._encode_word(w, ranks))
        s["wp_fert_fp"] += f * len(WP._encode_word_wp(w, wset))
        seg = UG._viterbi(w, uni, mpl)
        s["uni_fert_fp"] += f * (len(seg) if seg else len(w))
    for k in s:
        want = s[k] * 1_000_000 // tot
        assert got[k] == want, (k, got[k], want)
        assert got[k] >= 1_000_000


def test_unigram_soft_em_counts_match_enumeration():
    """The soft E-step's forward-backward expected counts must equal a
    brute-force enumeration over ALL segmentations (probability-weighted
    piece counts), and soft training must converge to a usable model."""
    import itertools
    import math

    from mapreduce_stockheadlines_spark.operators.unigram import (
        LOGP_FP,
        _soft_expected_counts,
        _train_unigram_census,
        _viterbi,
    )

    model = {
        "d": -2_000_000, "a": -1_500_000, "t": -2_200_000,
        "da": -1_200_000, "at": -1_300_000, "ta": -1_800_000,
        "dat": -1_000_000, "data": -800_000,
    }

    def enumerate_counts(w, f, L=4):
        segs = []

        def rec(i, seg):
            if i == len(w):
                segs.append(list(seg))
                return
            for ln in range(1, min(L, len(w) - i) + 1):
                p = w[i : i + ln]
                if p in model:
                    rec(i + ln, seg + [p])

        rec(0, [])
        probs = [
            math.prod(math.exp(model[p] / LOGP_FP) for p in s)
            for s in segs
        ]
        z = sum(probs)
        out = {}
        for s, pr in zip(segs, probs):
            for p in s:
                out[p] = out.get(p, 0.0) + (pr / z) * f
        return out

    got = _soft_expected_counts("data", 7, model, 4)
    want = enumerate_counts("data", 7)
    assert set(got) == set(want)
    for p in want:
        assert math.isclose(got[p], want[p], rel_tol=1e-12), p

    # totals conservation: expected pieces per word >= 1 and the whole
    # mass is freq-scaled (sum over pieces of E[count] equals the
    # expected segmentation length x freq, between 1x and len(w)x)
    total = sum(got.values())
    assert 7.0 <= total <= 7.0 * 4

    # end-to-end: soft training yields a coverage-complete model
    census = [("data", 10), ("database", 5), ("the", 9)]
    m = _train_unigram_census(
        census, vocab_size=6, n_rounds=2, max_piece_len=4,
        seed_size=64, em="soft",
    )
    for w, _ in census:
        seg = _viterbi(w, m, 4)
        assert seg is not None and "".join(seg) == w


def test_unigram_soft_em_quantized_matches_enumeration_training():
    """Round-9 registry contract: soft-EM with count_dp quantizes each
    round's aggregated expected counts to integer fixed point, and the
    trained model must equal a pure-python re-derivation that gets the
    SAME expected counts by enumerating all segmentations (the x28
    oracle's algorithm) — cross-algorithm, like the DuckDB pin."""
    import itertools  # noqa: F401 — parity with the sibling test
    import math

    from mapreduce_stockheadlines_spark.operators.unigram import (
        LOGP_FP,
        _round_half_away,
        _train_unigram_census,
        unigram_model_fp8,
    )

    census = [("data", 10), ("database", 5), ("the", 9), ("a", 3)]
    vocab_size, n_rounds, L, seed_size, dp = 6, 2, 4, 64, 4

    got = _train_unigram_census(
        census, vocab_size, n_rounds, L, seed_size, em="soft",
        count_dp=dp,
    )

    # independent re-derivation: same seed, then per round enumerate
    # ALL segmentations per word, fold freq*P(seg)/Z per piece, then
    # quantize/floor/M-step exactly per the documented contract
    scores: dict[str, int] = {}
    for w, f in census:
        for i in range(len(w)):
            for ln in range(1, min(L, len(w) - i) + 1):
                p = w[i : i + ln]
                scores[p] = scores.get(p, 0) + f
    singles = sorted(p for p in scores if len(p) == 1)
    multis = sorted(
        (p for p in scores if len(p) > 1), key=lambda p: (-scores[p], p)
    )[:seed_size]
    vocab = set(singles) | set(multis)
    total = sum(scores[p] for p in vocab)
    model = {
        p: _round_half_away(LOGP_FP * math.log(scores[p] / total))
        for p in vocab
    }
    counts: dict[str, int] = {}
    for _ in range(n_rounds):
        raw: dict[str, float] = {}
        for w, f in census:
            segs: list[list[str]] = []

            def rec(i, seg, w=w, segs=segs):
                if i == len(w):
                    segs.append(list(seg))
                    return
                for ln in range(1, min(L, len(w) - i) + 1):
                    p = w[i : i + ln]
                    if p in model:
                        rec(i + ln, seg + [p])

            rec(0, [])
            probs = [
                math.exp(sum(model[p] for p in s) / LOGP_FP) for s in segs
            ]
            z = sum(probs)
            for s, pr in zip(segs, probs):
                for p in s:
                    raw[p] = raw.get(p, 0.0) + (pr / z) * f
        counts = {
            p: _round_half_away(c * 10**dp)
            for p, c in raw.items()
            if _round_half_away(c * 10**dp) > 0
        }
        for c in singles:
            counts[c] = counts.get(c, 0) + 10**dp
        tot = sum(counts.values())
        model = {
            p: _round_half_away(LOGP_FP * math.log(c / tot))
            for p, c in counts.items()
        }
    keep = sorted(
        (p for p in model if len(p) > 1), key=lambda p: (-counts[p], p)
    )[:vocab_size]
    want = {
        p: lp for p, lp in model.items() if len(p) == 1 or p in set(keep)
    }
    assert got == want
    assert unigram_model_fp8(got) == unigram_model_fp8(want)


def test_unigram_soft_em_survives_long_words():
    """Log-space lattice regression: a census word far past the linear-
    space underflow point (~350 pieces) keeps its full frequency mass."""
    from mapreduce_stockheadlines_spark.operators.unigram import (
        _soft_expected_counts,
    )

    out = _soft_expected_counts("a" * 500, 3, {"a": -2_000_000}, 4)
    assert abs(out["a"] - 1500.0) < 1e-6  # 500 pieces x freq 3

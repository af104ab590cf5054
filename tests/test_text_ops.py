"""Unit tests for text operators O5-O9 (SURVEY.md §5.2.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.functions.text import (
    clean_text,
    explode_tokens,
    load_stopwords_file,
    normalized_text,
    remove_stopwords,
    stopwords_df,
    tokens_array,
)


def test_clean_text_lower_then_strip(spark):
    """O6 order pinned by WordCount.java:53: lower first, then [^a-zA-Z ]."""
    df = spark.createDataFrame([("U.S. Co.'s Q3 EPS est $1.5M",)], ["t"])
    out = df.select(clean_text("t").alias("c")).first().c
    # 'U.S. Co.'s Q3 EPS est $1.5M' → each non-[a-zA-Z ] char becomes one space
    assert out == "u s  co  s q  eps est     m"


def test_tokens_array_drops_empties(spark):
    df = spark.createDataFrame([("  A  b!! c  ",), ("",), ("123 !!",)], ["t"])
    rows = df.select(tokens_array("t").alias("a")).collect()
    assert rows[0].a == ["a", "b", "c"]
    assert rows[1].a == []
    assert rows[2].a == []


# Adversarial inputs for the equivalence pin below: NULL, empty and
# whitespace-only text, digits and punctuation, case mappings that leave
# ASCII or change length (dotted capital I, Kelvin sign, sharp s, the fi
# ligature), combining marks, surrogate-pair emoji and full-width letters.
_ADVERSARIAL_TEXT = (
    None,
    "",
    "   ",
    "\t\n \r\n\t",
    "2024-01-02 10:30 +5.5% $AAPL, (Q3)!!",
    "İstanbul İİ",
    "\u212a\u212aK kelvin",
    "Straße STRASSE ß",
    "\ufb01nance \ufb01",
    "cafe\u0301 e\u0300 a\u0308b",
    "stocks \U0001f4c8\U0001f680 up\U0001f600",
    "\uff21\uff22\uff23 abc \uff41",
    "Mixed CASE and\u00a0nbsp\u2003em-space",
)


def test_text_kernels_match_reference_forms_on_adversarial_unicode(spark):
    """``clean_text`` runs the lowercased-domain class ``[^a-z ]`` and
    ``tokens_array`` drops empties with ``array_remove``; both must equal
    the reference forms (``[^a-zA-Z ]`` after ``lower``, WordCount.java:53,
    and the ``filter(length > 0)`` higher-order function) element for
    element, and ``normalized_text`` must equal the reference cleaning
    collapsed and trimmed."""
    df = spark.createDataFrame(
        list(enumerate(_ADVERSARIAL_TEXT)), "id int, t string"
    )
    ref_clean = F.regexp_replace(F.lower("t"), "[^a-zA-Z ]", " ")
    ref_tokens = F.filter(F.split(ref_clean, r"\s+"), lambda x: F.length(x) > 0)
    ref_norm = F.trim(F.regexp_replace(ref_clean, " +", " "))
    rows = df.select(
        "id",
        clean_text("t").alias("c"), ref_clean.alias("rc"),
        tokens_array("t").alias("a"), ref_tokens.alias("ra"),
        normalized_text("t").alias("n"), ref_norm.alias("rn"),
    ).orderBy("id").collect()
    assert len(rows) == len(_ADVERSARIAL_TEXT)
    for r in rows:
        assert r.c == r.rc, (r.id, r.c, r.rc)
        assert r.a == r.ra, (r.id, r.a, r.ra)
        assert r.n == r.rn, (r.id, r.n, r.rn)
    got = {r.id: r.a for r in rows}
    assert got[0] is None and rows[0].c is None and rows[0].n is None
    assert got[1] == got[2] == got[3] == []
    assert got[6] == ["kkk", "kelvin"]  # the Kelvin sign lowercases to ASCII k
    assert got[10] == ["stocks", "up"]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_side_tables_plan_in_the_jvm(spark, sf_dir):
    """The built-in side tables never start a Python worker: the
    stop-word table, ``ranked``'s bucket-offset table and x24's
    blocklist and robots tables plan as ``LocalTableScan``, not as a
    Python RDD (``Scan ExistingRDD``)."""
    from mapreduce_stockheadlines_spark.operators.rank import ranked
    from mapreduce_stockheadlines_spark.plans.extensions import (
        x24_url_curation,
    )

    stop = stopwords_df(spark)
    assert "LocalTableScan" in _plan(stop)
    assert "ExistingRDD" not in _plan(stop)
    counted = spark.range(50).select(
        F.concat(F.lit("k"), (F.col("id") % 7).cast("string")).alias("k"),
        (F.col("id") % 5 + 1).alias("cnt"),
    )
    r = ranked(counted, "k")
    plan = _plan(r)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert sorted(x.rank for x in r.collect()) == list(range(1, 51))
    x24 = _plan(x24_url_curation(spark, sf_dir))
    assert "LocalTableScan" in x24
    assert "ExistingRDD" not in x24


def test_explode_tokens_one_row_per_token(spark):
    df = spark.createDataFrame([("one two two",)], ["t"])
    toks = [r.token for r in explode_tokens(df, "t").collect()]
    assert sorted(toks) == ["one", "two", "two"]


def test_stopword_file_crlf_no_trailing_newline(spark, tmp_path):
    """A2 fixture quirks: CRLF endings, no trailing newline, mixed case and
    padding neutralized by trim+lower (WordCount.java:34 behavior)."""
    p = tmp_path / "stop.txt"
    p.write_bytes(b"The\r\n  and  \r\nof")
    stop = load_stopwords_file(spark, str(p))
    assert sorted(r.word for r in stop.collect()) == ["and", "of", "the"]


def test_remove_stopwords_anti_join(spark):
    toks = spark.createDataFrame(
        [("the",), ("market",), ("and",), ("rally",)], ["token"]
    )
    kept = remove_stopwords(toks, stopwords_df(spark))
    assert sorted(r.token for r in kept.collect()) == ["market", "rally"]


def test_anti_plus_semi_partition_input(spark):
    """Property: anti-join + semi-join partition the token stream."""
    toks = spark.createDataFrame(
        [(w,) for w in ["the", "a", "x", "y", "the", "z"]], ["token"]
    )
    stop = stopwords_df(spark)
    anti = remove_stopwords(toks, stop).count()
    semi = toks.join(
        F.broadcast(stop.withColumnRenamed("word", "token")), "token", "left_semi"
    ).count()
    assert anti + semi == toks.count()


def test_strip_html(spark):
    from mapreduce_stockheadlines_spark.operators.textstats import strip_html

    df = spark.createDataFrame(
        [
            (0, "<html><body><p>Hello <b>world</b></p></body></html>"),
            (1, "<script>var x = 1;</script>keep <style>p{}</style>this"),
            (2, "A &amp; B &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end"),
            (3, "<!-- comment -->text<br/>lines\n\n  spaced"),
            (4, "no markup at all"),
        ],
        ["id", "html"],
    )
    got = {r.id: r.t for r in df.select("id", strip_html("html").alias("t")).collect()}
    assert got[0] == "Hello world"
    assert got[1] == "keep this"
    assert got[2] == 'A & B <tag> "q" \'s\' end'
    assert got[3] == "text lines spaced"
    assert got[4] == "no markup at all"


def test_fix_mojibake(spark):
    """ftfy-style repair round-trip: corrupt real text through a genuine
    utf-8→cp1252 misdecode and assert the codegen repair restores it;
    every rejection arm (clean, genuine latin-1, mixed repertoire,
    lone continuation byte, NULL) must pass through untouched."""
    from mapreduce_stockheadlines_spark.operators.textstats import fix_mojibake

    orig = "café — naïve ‘q’… 😀 über"  # 2-, 3- and 4-byte UTF-8 arms
    broken = orig.encode("utf-8").decode("cp1252")
    d1 = "café".encode("utf-8").decode("cp1252")
    d2 = d1.encode("utf-8").decode("cp1252")
    cases = [
        (0, broken, orig),  # cp1252 specials (€ ™ ˜ Ÿ …) + latin-1 pairs
        (1, "plain ascii text", "plain ascii text"),
        # genuine latin-1 prose: é/è bytes are invalid UTF-8 → rejected
        (2, "café crème", "café crème"),
        # out-of-repertoire char alongside mojibake → whole string kept
        (3, broken + " ✓", broken + " ✓"),
        (4, None, None),
        (5, d2, d1),  # double corruption: exactly one layer per call
        (6, "A\x92B", "A\x92B"),  # lone continuation byte → invalid → kept
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], "id int, text string")
    got = {r.id: r.t for r in df.select("id", fix_mojibake("text").alias("t")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)
    # composing two passes undoes double corruption (ftfy's loop)
    twice = df.filter("id = 5").select(
        fix_mojibake(fix_mojibake("text")).alias("t")
    ).collect()[0].t
    assert twice == "café"


def test_url_stats_and_domain_blocklist(spark):
    """URL extraction / host+registered-domain normalization / blocklist
    filtering on planted URLs, DuckDB-pinned for the counts and domains
    (same oracle style as the PII query: the operator expressions are
    generic; the fixture makes them non-trivial)."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.textstats import (
        filter_blocked_domains,
        url_stats,
    )

    df = spark.createDataFrame(
        [
            (0, "see https://a.news.example.com/x?q=1 and http://user@spam.biz:8080/p"),
            (1, "no links at all"),
            (2, "dup https://Example.COM/a https://sub.example.com/b end"),
            (3, "edge https://spam.biz trailing"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in url_stats(df, "doc_id", "text").collect()}
    assert (got[0].n_urls, got[0].domains) == (2, ["example.com", "spam.biz"])
    assert (got[1].n_urls, got[1].domains, got[1].url_char_ratio) == (0, [], 0.0)
    assert (got[2].n_urls, got[2].domains) == (2, ["example.com"])  # case+subdomain fold
    assert got[3].domains == ["spam.biz"]

    # cross-check n_urls/url_char_ratio against DuckDB's regexp machinery
    con = duckdb.connect()
    rows = [(r.doc_id, r.text) for r in df.collect()]
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            r"""SELECT doc_id,
                   CAST(len(regexp_extract_all(text, 'https?://[^\s/?#]+[^\s]*')) AS INTEGER),
                   round(CAST(coalesce(len(list_aggregate(list_transform(
                          regexp_extract_all(text, 'https?://[^\s/?#]+[^\s]*'),
                          x -> repeat('.', length(x))), 'string_agg', '')), 0) AS DOUBLE)
                         / greatest(length(text), 1), 4)
            FROM d"""
        ).fetchall()
    }
    for did, r in got.items():
        assert (r.n_urls, r.url_char_ratio) == want[did], did

    block = spark.createDataFrame([("spam.biz",)], ["domain"])
    kept = sorted(
        r.doc_id
        for r in filter_blocked_domains(df, "doc_id", "text", block).collect()
    )
    assert kept == [1, 2]  # 0 and 3 reference spam.biz


def test_registered_domain_psl_and_host_edges(spark):
    """PSL snapshot lookup ('news.bbc.co.uk' → 'bbc.co.uk') plus the host
    pathologies from ADVICE r4: dotless hosts and IPv4 literals pass
    through unchanged (IP blocklist entries can match), trailing FQDN
    dot stripped, bare public suffix unchanged."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        filter_blocked_domains,
        registered_domain,
    )

    cases = [
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("bbc.co.uk", "bbc.co.uk"),
        ("co.uk", "co.uk"),  # bare public suffix: no registrable part
        ("a.b.news.example.com", "example.com"),  # default 2-label rule
        ("shop.example.com.au", "example.com.au"),
        ("localhost", "localhost"),
        ("intranet-box", "intranet-box"),
        ("192.168.0.1", "192.168.0.1"),
        ("example.com.", "example.com"),  # trailing FQDN dot
        ("deep.sub.example.co.jp", "example.co.jp"),
    ]
    df = spark.createDataFrame([(h,) for h, _ in cases], ["host"])
    got = [
        r.d
        for r in df.select(registered_domain(F.col("host")).alias("d")).collect()
    ]
    assert got == [want for _, want in cases]

    # an IP blocklist entry now matches (pre-PSL it truncated to '0.1')
    docs = spark.createDataFrame(
        [
            (0, "fetch http://192.168.0.1/data now"),
            (1, "read https://news.bbc.co.uk/story"),
            (2, "clean https://fine.example.org/page"),
        ],
        ["doc_id", "text"],
    )
    block = spark.createDataFrame([("192.168.0.1",), ("bbc.co.uk",)], ["domain"])
    kept = sorted(
        r.doc_id
        for r in filter_blocked_domains(docs, "doc_id", "text", block).collect()
    )
    assert kept == [2]


def test_classifier_score_weights_table_mode(spark):
    """Real-model path: (token, weight) table via broadcast join; OOV
    tokens contribute 0 and are excluded from n_hit. Checked against a
    hand-computed logit/sigmoid."""
    import math

    from mapreduce_stockheadlines_spark.operators.textstats import (
        classifier_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "good good bad unknown"),
            (2, "zzz qqq"),  # fully OOV -> logit 0, score 0.5
        ],
        ["doc_id", "text"],
    )
    weights = spark.createDataFrame(
        [("good", 2.0), ("bad", -1.0)], ["token", "weight"]
    )
    rows = {
        r.doc_id: r
        for r in classifier_score(docs, "doc_id", "text", weights=weights)
        .collect()
    }
    r1 = rows[1]
    assert (r1.n_tokens, r1.n_hit) == (4, 3)
    expect_logit = round((2.0 + 2.0 - 1.0 + 0.0) / 4, 4)
    assert r1.logit == expect_logit
    assert r1.clf_score == round(1 / (1 + math.exp(-expect_logit)), 4)
    r2 = rows[2]
    assert (r2.n_tokens, r2.n_hit, r2.logit, r2.clf_score) == (2, 0, 0.0, 0.5)


def test_classifier_score_weights_join_broadcasts(spark):
    """The model table must ship as a broadcast — the token stream is the
    corpus and must never shuffle for the lookup."""
    import io
    from contextlib import redirect_stdout

    from mapreduce_stockheadlines_spark.operators.textstats import (
        classifier_score,
    )

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    weights = spark.createDataFrame([("a", 1.0)], ["token", "weight"])
    df = classifier_score(docs, "doc_id", "text", weights=weights)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_canonical_url_duckdb_pin(spark):
    """Frontier canonicalization: tracking params gone, params sorted,
    default ports and fragments stripped, scheme/host lowercased,
    non-URLs and NULLs untouched — full result pinned against a DuckDB
    regexp reimplementation on well-formed inputs."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.textstats import (
        canonical_url,
    )

    rows = [
        (0, "HTTP://User:pw@Example.COM:80/Path/Page?b=2&utm_source=x&a=1#frag"),
        (1, "http://example.com/Path/Page?a=1&b=2"),
        (2, "https://site.org:443/"),
        (3, "https://site.org"),
        (4, "https://site.org:8443/x?fbclid=abc&keep=1"),
        (5, "http://example.com/?utm_campaign=z"),
        (6, "https://a.b/p?z=9&y=8&z=1"),
        # tracking params in caps and a bare valueless fbclid must
        # still strip (ADVICE r5: case-sensitive '='-required regex)
        (7, "https://site.org/x?UTM_SOURCE=news&keep=1"),
        (8, "https://site.org/x?fbclid&keep=1"),
    ]
    df = spark.createDataFrame(rows, "i int, u string")
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url("u").alias("c")).collect()
    }
    # rows 0 and 1 now collide — the point of canonicalization
    assert got[0] == got[1] == "http://example.com/Path/Page?a=1&b=2"
    assert got[2] == got[3] == "https://site.org"
    assert got[4] == "https://site.org:8443/x?keep=1"
    assert got[5] == "http://example.com"
    assert got[7] == got[8] == "https://site.org/x?keep=1"
    con = duckdb.connect()
    con.execute("CREATE TABLE u (i INT, u VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?, ?)", rows)
    want = dict(
        con.sql(
            r"""
            WITH p AS (
              SELECT i,
                lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
                  AS proto,
                regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://(.*)$', 1)
                  AS rest
              FROM u),
            q AS (
              SELECT i, proto,
                lower(regexp_replace(
                  regexp_extract(rest, '^([^/?#]*)', 1), '^[^@]*@', ''))
                  AS auth,
                regexp_extract(rest, '^[^/?#]*([^?#]*)', 1) AS path,
                regexp_extract(rest, '\?([^#]*)', 1) AS query
              FROM p),
            r AS (
              SELECT i, proto,
                CASE WHEN proto = 'http' AND auth LIKE '%:80'
                     THEN auth[1:-4]
                     WHEN proto = 'https' AND auth LIKE '%:443'
                     THEN auth[1:-5]
                     ELSE auth END AS host,
                CASE WHEN path = '/' THEN '' ELSE path END AS path,
                array_to_string(list_sort(list_filter(
                  string_split(query, '&'),
                  x -> len(x) > 0 AND NOT regexp_matches(x,
                    '(?i)^(utm_[a-z]+|fbclid|gclid|msclkid|igshid|mc_cid|mc_eid|ref_src)(=|$)')
                )), '&') AS qs
              FROM q)
            SELECT i, proto || '://' || host || path ||
                   CASE WHEN len(qs) > 0 THEN '?' || qs ELSE '' END
            FROM r
            """
        ).fetchall()
    )
    assert got == want

    # passthrough cases (outside the oracle: DuckDB regex would differ)
    pt = spark.createDataFrame(
        [(0, "not a url"), (1, None), (2, "ftp://x/y")], "i int, u string"
    )
    assert {
        r.i: r.c for r in pt.select("i", canonical_url("u").alias("c")).collect()
    } == {0: "not a url", 1: None, 2: "ftp://x/y"}


def test_dedup_urls_collapses_tracking_variants(spark):
    """Frontier dedup keeps one row per canonical URL (min id), and
    NULL-url rows always survive."""
    from mapreduce_stockheadlines_spark.operators.textstats import dedup_urls

    rows = [
        (1, "http://example.com/a?utm_source=x"),
        (2, "http://example.com/a"),
        (3, "HTTP://EXAMPLE.com:80/a#frag"),
        (4, "http://example.com/b"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    got = sorted(r.id for r in dedup_urls(df, "url", "id").collect())
    assert got == [1, 4, 5]


def test_canonical_url_is_idempotent(spark):
    """A canonicalizer must be a projection: canonical(canonical(u)) ==
    canonical(u), else frontier dedup results depend on how many times
    a URL passed through ingestion."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        canonical_url,
    )

    urls = [
        "HTTP://User:pw@Example.COM:80/Path/Page?b=2&utm_source=x&a=1#frag",
        "https://site.org:443/",
        "https://site.org:8443/x?fbclid=abc&keep=1&z=0",
        "http://example.com/?utm_campaign=z",
        "https://a.b/p?z=9&y=8&z=1",
        "not a url",
        None,
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i int, u string"
    )
    once = df.select("i", canonical_url("u").alias("c1"))
    twice = once.select("i", "c1", canonical_url("c1").alias("c2"))
    assert twice.filter(
        ~(F.col("c1").eqNullSafe(F.col("c2")))
    ).count() == 0


def _ref_train_classifier(rows, n_iters=20, lr=2.0, l2=0.0, min_df=2, qdp=12):
    """Pure-Python/numpy reference of train_classifier's quantized
    recurrence (same tokenizer, same feature/vocab construction, same
    association and per-round rounding)."""
    import re
    from collections import Counter

    feats, labels, docfreq = {}, {}, Counter()
    for i, y, text in rows:
        toks = re.sub("[^a-zA-Z ]", " ", (text or "").lower()).split()
        if not toks:
            continue
        c = Counter(toks)
        feats[i] = {t: n / len(toks) for t, n in c.items()}
        labels[i] = float(y)
        for t in c:
            docfreq[t] += 1
    vocab = {t for t, n in docfreq.items() if n >= min_df}
    n_docs = len(feats)
    w = {t: 0.0 for t in vocab}
    import math

    for _ in range(n_iters):
        grad = {t: 0.0 for t in vocab}
        for i, fx in feats.items():
            z = sum(x * w[t] for t, x in fx.items() if t in vocab)
            r = 1.0 / (1.0 + math.exp(-z)) - labels[i]
            for t, x in fx.items():
                if t in vocab:
                    grad[t] += x * r
        for t in vocab:
            g = grad[t] / n_docs
            w[t] = round(w[t] - lr * (g + l2 * w[t]), qdp)
    return w


def test_train_classifier_matches_reference_and_learns(spark):
    """train_classifier: bit-equal to the quantized numpy/python
    reference recurrence, partitioning-invariant, and the learned table
    fed to classifier_score separates planted spam from quality docs."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        classifier_score,
        train_classifier,
    )

    rows = []
    for i in range(40):
        if i % 2 == 0:
            rows.append((i, 1, f"quality prose insight careful v{i % 5} text"))
        else:
            rows.append((i, 0, f"spam casino pills click v{i % 5} text"))
    rows.append((99, 1, ""))  # empty doc: no tokens, drops out harmlessly

    df1 = spark.createDataFrame(rows, "doc_id long, label int, text string")
    got = {
        r.token: r.weight
        for r in train_classifier(
            df1.coalesce(1), "doc_id", "text", "label", n_iters=15
        ).collect()
    }
    want = _ref_train_classifier(rows, n_iters=15)
    assert got == want  # bitwise, not approx: the quantized recurrence

    got16 = {
        r.token: r.weight
        for r in train_classifier(
            df1.repartition(16), "doc_id", "text", "label", n_iters=15
        ).collect()
    }
    assert got16 == got  # partitioning-invariant

    # signs: discriminative tokens split, shared tokens stay near zero
    assert got["spam"] < 0 < got["quality"]
    assert abs(got["text"]) < 0.05

    # end-to-end: the learned table drives the existing scorer
    wtab = spark.createDataFrame(
        [(t, w) for t, w in got.items()], ["token", "weight"]
    )
    held = spark.createDataFrame(
        [(1, "careful insight prose here"), (2, "casino pills spam now")],
        "doc_id long, text string",
    )
    scores = {
        r.doc_id: r.clf_score
        for r in classifier_score(held, "doc_id", "text", weights=wtab).collect()
    }
    assert scores[1] > 0.6 > 0.4 > scores[2]


def test_train_classifier_cli_roundtrip(spark, tmp_path):
    """The training job writes the exact TSV artifact the curate CLI's
    --clf-weights reader consumes; the round-tripped table gates like
    the in-memory one."""
    from mapreduce_stockheadlines_spark.jobs.train_classifier import main
    from mapreduce_stockheadlines_spark.operators.textstats import (
        classifier_score,
    )

    rows = [
        (i, i % 2, "quality insight text" if i % 2 else "spam casino text")
        for i in range(20)
    ]
    labeled = str(tmp_path / "labeled")
    out = str(tmp_path / "weights")
    spark.createDataFrame(
        rows, "doc_id long, label int, text string"
    ).write.parquet(labeled)
    main([labeled, out, "--iters", "10"])

    # read back exactly the way jobs/pipeline.py --clf-weights does
    wtab = (
        spark.read.option("sep", "\t")
        .schema("token string, weight double")
        .csv(out)
    )
    got = {r.token: r.weight for r in wtab.collect()}
    assert got["quality"] > 0 > got["spam"]
    held = spark.createDataFrame(
        [(1, "quality insight"), (2, "spam casino")], "doc_id long, text string"
    )
    s = {
        r.doc_id: r.clf_score
        for r in classifier_score(held, "doc_id", "text", weights=wtab).collect()
    }
    assert s[1] > s[2]


def test_domain_frequency_cap(spark):
    """Best-first retention (order_col DESC, id tiebreak), NULL-domain
    passthrough, cap=1 degenerate, and the WindowGroupLimit rewrite that
    makes the cap skew-safe (map-side partial group-limit before the
    exchange)."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        domain_frequency_cap,
    )

    rows = [
        # (id, domain, score): a.com holds 4 docs, b.com 1, two NULLs
        (1, "a.com", 10),
        (2, "a.com", 30),
        (3, "a.com", 20),
        (4, "a.com", 30),  # score tie with 2 -> id tiebreak keeps 2 first
        (5, "b.com", 1),
        (6, None, 99),
        (7, None, 0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, dom string, score long")

    out = domain_frequency_cap(df, "doc_id", "dom", cap=2, order_col="score")
    kept = sorted(r.doc_id for r in out.collect())
    # a.com keeps 30(id2), 30(id4); b.com keeps 5; NULLs always survive
    assert kept == [2, 4, 5, 6, 7]

    # no order_col: id ASC retention
    out2 = domain_frequency_cap(df, "doc_id", "dom", cap=1)
    assert sorted(r.doc_id for r in out2.collect()) == [1, 5, 6, 7]

    # DuckDB pin of the full survivor set
    import duckdb

    got = duckdb.sql(
        """
        SELECT doc_id FROM (
          SELECT doc_id, dom,
                 row_number() OVER (PARTITION BY dom
                                    ORDER BY score DESC, doc_id) AS rn
          FROM (VALUES (1,'a.com',10),(2,'a.com',30),(3,'a.com',20),
                       (4,'a.com',30),(5,'b.com',1),(6,NULL,99),(7,NULL,0))
               v(doc_id, dom, score))
        WHERE dom IS NULL OR rn <= 2 ORDER BY doc_id
        """
    ).fetchall()
    assert [r[0] for r in got] == sorted(r.doc_id for r in out.collect())

    # scale pin: the rank filter must compile to WindowGroupLimit
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan

    import pytest

    with pytest.raises(ValueError):
        domain_frequency_cap(df, "doc_id", "dom", cap=0)


def test_domain_frequency_cap_flag_mode_matches_filter_mode(spark):
    """flag_col= (round 13, the in-place membership form x24 uses) must
    flag exactly the filter form's survivors — same rank contract,
    NULL-domain rows always True — and keep every input row once."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        domain_frequency_cap,
    )

    rows = [
        (1, "a.com", 10),
        (2, "a.com", 30),
        (3, "a.com", 20),
        (4, "a.com", 30),
        (5, "b.com", 1),
        (6, None, 99),
        (7, None, 0),
    ]
    # skewed input: hot.com owns 30 of 100 rows (the hot-key shape the
    # salted window exists for), plus NULL-domain rows among the rest
    skewed = (
        [(100 + i, "hot.com", i % 7) for i in range(30)]
        + [(200 + i, f"d{i % 20}.com", i) for i in range(60)]
        + [(300 + i, None, i) for i in range(10)]
    )
    for data, cap in ((rows, 2), (skewed, 5)):
        df = spark.createDataFrame(data, "doc_id long, dom string, score long")
        survivors = sorted(
            r.doc_id
            for r in domain_frequency_cap(
                df, "doc_id", "dom", cap=cap, order_col="score"
            ).collect()
        )
        flagged = domain_frequency_cap(
            df, "doc_id", "dom", cap=cap, order_col="score", flag_col="ok"
        ).collect()
        assert sorted(r.doc_id for r in flagged) == sorted(r[0] for r in data)
        assert sorted(r.doc_id for r in flagged if r.ok) == survivors
    # the cap bit: hot.com keeps exactly cap rows, NULL domains all stay
    assert sum(1 for d in survivors if 100 <= d < 130) == 5
    assert all(d in survivors for d in range(300, 310))


def test_references_blocked_domain_matches_join_form(spark):
    """The expression probe (round 13, x24's one-extraction shape) must
    flag exactly the docs filter_blocked_domains drops: NULL/empty
    domain sets are never blocked, membership is exact (no substring
    false positives), and an oversized blocklist fails loudly."""
    import pytest

    from mapreduce_stockheadlines_spark.operators.textstats import (
        filter_blocked_domains,
        references_blocked_domain,
        url_stats,
    )

    df = spark.createDataFrame(
        [
            (0, "see https://a.news.example.com/x and http://spam.biz/p"),
            (1, "no links at all"),
            (2, "fine https://ok.org/a"),
            (3, None),
            (4, "sub http://notspam.biz/x"),  # exact match only
        ],
        "doc_id long, text string",
    )
    block = spark.createDataFrame([("spam.biz",)], ["domain"])
    stats = url_stats(df, "doc_id", "text")
    flagged = stats.withColumn(
        "blocked", references_blocked_domain(block, "domains")
    )
    got = {r.doc_id: r.blocked for r in flagged.collect()}
    survivors = {
        r.doc_id
        for r in filter_blocked_domains(
            df, "doc_id", "text", block
        ).collect()
    }
    assert got == {i: (i not in survivors) for i in range(5)}
    assert got == {0: True, 1: False, 2: False, 3: False, 4: False}

    with pytest.raises(ValueError, match="max_blocklist_rows"):
        references_blocked_domain(block, "domains", max_blocklist_rows=0)


def test_url_stats_keep_cols_passthrough(spark):
    """keep_cols= rides input columns through the one extraction
    projection unchanged (the pq_encode passthrough pattern)."""
    from mapreduce_stockheadlines_spark.operators.textstats import url_stats

    df = spark.createDataFrame(
        [(0, "x https://a.example.com/p", 7), (1, "plain", 9)],
        "doc_id long, text string, n_chars long",
    )
    out = {
        r.doc_id: r
        for r in url_stats(
            df, "doc_id", "text", keep_cols=("n_chars",)
        ).collect()
    }
    assert (out[0].n_chars, out[1].n_chars) == (7, 9)
    assert out[0].domains == ["example.com"]


def _url_stats_keep(spark, keep_cols):
    from mapreduce_stockheadlines_spark.operators.textstats import url_stats

    df = spark.createDataFrame(
        [(0, "x https://a.example.com/p", 7)],
        "doc_id long, text string, n_chars long",
    )
    return url_stats(df, "doc_id", "text", keep_cols=keep_cols)


def test_url_stats_keep_cols_rejects_id_col(spark):
    import pytest

    with pytest.raises(ValueError, match="collides"):
        _url_stats_keep(spark, ("doc_id",))


def test_url_stats_keep_cols_rejects_output_column(spark):
    import pytest

    with pytest.raises(ValueError, match="collides"):
        _url_stats_keep(spark, ("domains",))


def test_url_stats_keep_cols_rejects_missing_column(spark):
    import pytest

    with pytest.raises(ValueError, match="not in the input"):
        _url_stats_keep(spark, ("nope",))


def test_gopher_rules_hand_values(spark):
    """gopher_rules_cols against hand-computed values for every rule
    dimension (Rae et al. 2021 appendix A1.1 thresholds)."""
    from mapreduce_stockheadlines_spark.operators.textstats import (
        gopher_rules_cols,
    )

    long_good = (
        "the quick brown fox jumps over a lazy dog and then it would "
        "have to run far away with great speed because that is what "
        "foxes do when they feel like running through fields of grass "
        "and the wind blows softly over the hills while birds sing "
        "their morning songs to greet the new day with joy and hope ok"
    )  # 60 words, all alpha, >= 2 required stop words, no symbols
    cases = [
        (0, long_good),
        (1, "short doc"),  # fails min_words
        (2, "- b one\n- b two\nplain"),  # 2/3 bullet lines
        (3, "ends here...\nand more…\nplain"),  # 2/3 ellipsis lines
        (4, "# # # # # five symbols here now"),  # 5 syms / 11 words
        (5, "1 2 3 4 %% !!"),  # alpha fraction 0
    ]
    df = spark.createDataFrame(cases, "doc_id int, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select("doc_id", *gopher_rules_cols("text")).collect()
    }
    g = out[0]
    assert g["gopher_n_words"] == 60 and g["gopher_kept"] is True
    assert 3.0 <= g["mean_word_len"] <= 10.0
    assert g["req_stop_hits"] >= 2 and g["alpha_word_frac"] == 1.0
    assert out[1]["gopher_kept"] is False  # word count
    assert out[2]["bullet_line_frac"] == round(2 / 3, 4)
    assert out[3]["ellipsis_line_frac"] == round(2 / 3, 4)
    assert out[4]["symbol_word_ratio"] == round(5 / 9, 4)
    assert out[5]["alpha_word_frac"] == 0.0


def test_c4_rules_hand_values(spark):
    from mapreduce_stockheadlines_spark.operators.textstats import (
        c4_rules_cols,
    )

    cases = [
        (0, 'One thing here. Two things now! Three things? "Done."'),
        (1, "var x = { a: 1 };"),  # brace
        (2, "Lorem Ipsum dolor sit amet and more words here today."),
        (3, "no terminal punctuation at all in this one"),
        (4, "Line one.\nline two\nLine three!"),  # 2/3 terminal lines
    ]
    df = spark.createDataFrame(cases, "doc_id int, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select("doc_id", *c4_rules_cols("text")).collect()
    }
    assert out[0]["c4_kept"] is True and out[0]["c4_n_sentences"] == 4
    assert out[0]["c4_term_line_frac"] == 1.0
    assert out[1]["c4_has_brace"] is True and out[1]["c4_kept"] is False
    assert out[2]["c4_has_lorem"] is True and out[2]["c4_kept"] is False
    assert out[3]["c4_n_sentences"] == 0 and out[3]["c4_kept"] is False
    assert out[4]["c4_term_line_frac"] == round(2 / 3, 4)


def test_gopher_c4_zero_shuffle_plan(spark):
    """The fused rule projection (both rule sets over one shared word
    array and line count, as the curate CLI and x08 build it) must stay
    exchange-free (pure codegen over one scan — the text_stats
    contract)."""
    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.operators.textstats import (
        _rule_base,
        c4_rules_cols,
        gopher_rules_cols,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id int, text string")
    base = _rule_base(F.col("text"))
    plan = (
        df.select(
            "doc_id",
            *gopher_rules_cols("text", _base=base),
            *c4_rules_cols("text", _base=base),
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_x08_gopher_c4_columns_nondegenerate(spark, sf_dir):
    """Round-8 promotion guard: every new x08 rule column must take >= 2
    values at the checked SF (conftest.assert_column_nondegenerate)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x08 = ALL_QUERIES["x08_text_stats"].builder(spark, sf_dir).cache()
    try:
        for col in (
            "gopher_kept",
            "c4_kept",
            "c4_has_brace",
            "c4_has_lorem",
            "req_stop_hits",
            "symbol_word_ratio",
            "bullet_line_frac",
            "ellipsis_line_frac",
            "alpha_word_frac",
            "c4_term_line_frac",
            "c4_n_sentences",
        ):
            assert_column_nondegenerate(x08, col, f"at {sf_dir}")
    finally:
        x08.unpersist()


def test_winnow_fingerprints_guarantee_and_edges(spark):
    """Winnowing (Schleimer et al. 2003): (a) two docs sharing a long
    normalized substring share selected hashes (the w+k-1 guarantee)
    while unrelated docs don't pair at min_shared; (b) the fingerprint
    is reflow/case-invariant; (c) short/NULL docs carry 0/NULL; (d) a
    hash present in more than max_df docs is dropped before the
    self-join (the hot-boilerplate quadratic guard)."""
    from conftest import winnow_summary

    from mapreduce_stockheadlines_spark.operators import textstats as TS

    rows = [
        (1, "The quick brown fox jumps over the lazy dog near the "
            "river bank today"),
        (2, "Totally different text about stock markets and trading "
            "volumes rising fast"),
        (3, "Intro words first.   the QUICK   brown fox jumps over "
            "the lazy dog near\nthe river   then more unique trailing "
            "content here"),
        (4, "tiny"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.id: (r.n_winnow, r.winnow_fp8)
        for r in winnow_summary(df, "doc_id", "text").collect()
    }
    assert out[4] == (0, None) and out[5] == (0, None)
    assert out[1][0] > 0 and out[1][1] is not None
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in TS.winnow_neardup_pairs(
            df, "doc_id", "text", min_shared=3
        ).collect()
    }
    assert (1, 3) in pairs and pairs[(1, 3)] >= 3
    assert (1, 2) not in pairs and (2, 3) not in pairs
    # reflow/case invariance
    df2 = spark.createDataFrame(
        [(10, "THE quick\t\tbrown   fox jumps over the lazy dog near "
              "the river bank today")],
        "doc_id long, text string",
    )
    got = winnow_summary(df2, "doc_id", "text").collect()[0]
    assert got.winnow_fp8 == out[1][1]
    # max_df drops ubiquitous hashes before the join
    many = spark.createDataFrame(
        [(i, "shared boiler plate line") for i in range(12)],
        "doc_id long, text string",
    )
    assert (
        TS.winnow_neardup_pairs(
            many, "doc_id", "text", min_shared=1, max_df=5
        ).count()
        == 0
    )


def test_x08_winnow_columns_nondegenerate(spark, sf_dir):
    """Round-10 promotion guard: the registry-pinned winnow columns
    vary across docs at the test SF, and the x08 wiring equals the
    staged column builders composed on their own row-for-row."""
    from conftest import assert_column_nondegenerate, winnow_summary

    from mapreduce_stockheadlines_spark.plans.catalog import table
    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x08 = ALL_QUERIES["x08_text_stats"].builder(spark, sf_dir)
    assert_column_nondegenerate(x08, "n_winnow", f"at {sf_dir}")
    assert_column_nondegenerate(x08, "winnow_fp8", f"at {sf_dir}")
    docs = table(spark, sf_dir, "documents")
    op = winnow_summary(docs, "doc_id", "text")
    joined = x08.select("doc_id", "n_winnow", "winnow_fp8").join(
        op.select(
            F.col("id").alias("doc_id"),
            F.col("n_winnow").alias("n_op"),
            F.col("winnow_fp8").alias("fp_op"),
        ),
        "doc_id",
    )
    assert joined.filter(
        (F.col("n_winnow") != F.col("n_op"))
        | ~(
            F.col("winnow_fp8").eqNullSafe(F.col("fp_op"))
        )
    ).count() == 0


def test_char_entropy_hand_values_and_edges(spark):
    """Character entropy: zero for a single-symbol doc, exact ln(4)
    fixed point for a uniform 4-symbol doc, case-folded, NULL for
    empty/NULL docs; the x08 registry column is nondegenerate."""
    import math

    from mapreduce_stockheadlines_spark.operators import textstats as TS

    rows = [(1, "aaaa"), (2, "abcd"), (3, ""), (4, None), (5, "AaBb")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.char_entropy_fp6
        for r in df.select(
            "doc_id", TS.char_entropy_from_chars(TS.char_array_col("text"))
        ).collect()
    }
    assert out[1] == 0
    assert out[3] is None and out[4] is None
    assert out[2] == -4 * round(0.25 * math.log(0.25) * 1e6)
    assert out[5] == -2 * round(0.5 * math.log(0.5) * 1e6)  # case-folds


def test_x08_char_entropy_nondegenerate(spark, sf_dir):
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x08 = ALL_QUERIES["x08_text_stats"].builder(spark, sf_dir)
    assert_column_nondegenerate(x08, "char_entropy_fp6", f"at {sf_dir}")


def test_winnow_max_per_doc_cap_semantics(spark):
    """The smallest-hash per-doc cap: exactly the k SMALLEST selected
    hashes survive, capped pairs are a subset of uncapped pairs, long
    shared spans still collide under the cap, and max_per_doc < 1
    raises."""
    import pytest

    from mapreduce_stockheadlines_spark.operators import textstats as TS

    shared = (
        "the quick brown fox jumps over the lazy dog near the wide "
        "river bank today while the sun is high"
    )
    rows = [
        (1, shared + " plus original closing words about the markets"),
        (2, "another opening story here before quoting " + shared),
        (3, "totally unrelated text about gardens and the flowers"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = sorted(
        r.whash
        for r in TS.winnow_fingerprints(df, "doc_id", "text").filter(
            "id = 1"
        ).collect()
    )
    capped = sorted(
        r.whash
        for r in TS.winnow_fingerprints(
            df, "doc_id", "text", max_per_doc=7
        ).filter("id = 1").collect()
    )
    assert capped == full[:7]
    pairs_full = {
        (r.id_a, r.id_b)
        for r in TS.winnow_neardup_pairs(
            df, "doc_id", "text", min_shared=2
        ).collect()
    }
    pairs_cap = {
        (r.id_a, r.id_b)
        for r in TS.winnow_neardup_pairs(
            df, "doc_id", "text", min_shared=2, max_per_doc=16
        ).collect()
    }
    assert pairs_cap <= pairs_full
    assert (1, 2) in pairs_cap  # the long shared span still collides
    with pytest.raises(ValueError, match="max_per_doc"):
        TS.winnow_fingerprints(
            df, "doc_id", "text", max_per_doc=0
        ).collect()


def test_winnow_gram_staged_chars_equivalence(spark, sf_dir):
    """Round-12 staged-chars fast path (29x measured on the x08 winnow
    stage): the norm -> winnow_char_col -> winnow_gram_from_chars
    staging must reproduce winnow_gram_col's hash arrays BIT FOR BIT —
    on real corpus docs and on every edge (NULL, empty, shorter-than-k,
    exactly-k, unicode). The one-expression form stays the semantic
    reference; every hot path runs the staged form, and this pin is
    what lets the two coexist."""
    from mapreduce_stockheadlines_spark.operators import textstats as TS
    from mapreduce_stockheadlines_spark.plans.catalog import table

    corpus = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    edges = spark.createDataFrame(
        [
            (1001, None),
            (1002, ""),
            (1003, "   "),
            (1004, "abc"),
            (1005, "abcd"),
            (1006, "abcde"),
            (1007, "café 中文 😀 MIXED  Case\t\nreflow"),
        ],
        "doc_id long, text string",
    )
    df = corpus.unionByName(edges)
    both = (
        df.withColumn("_wn", TS._winnow_norm(F.col("text")))
        .withColumn("_wc", TS.winnow_char_col("_wn"))
        .select(
            "doc_id",
            TS.winnow_gram_from_chars("_wc").alias("fast"),
            TS.winnow_gram_col(F.col("text")).alias("ref"),
        )
        .collect()
    )
    assert both
    for r in both:
        assert r.fast == r.ref, r.doc_id


def test_winnow_and_cdc_unicode_contract(spark):
    """The winnow/CDC rolling-hash contract holds on FULL Unicode text,
    not just the ASCII shipped corpus: Spark's ascii()/substr()/length()
    are codepoint-based (probed: 'é' 233, '中' 20013, '😀' 128512 — one
    position each, matching DuckDB and python ord()), so fingerprints
    and boundaries on accented/CJK/emoji text match an independent
    python reference exactly."""
    import hashlib
    import re

    from conftest import cdc_summary, winnow_summary

    texts = [
        (1, "café über naïve — die straße führt zum fluß und zurück"),
        (2, "市场 在 周二 大幅 上涨 分析师 关注 季度 数据 的 增长 趋势 延续"),
        (3, "mixed ascii with 😀 emoji and 中文 spans plus ordinary words"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")

    def norm(t):
        return re.sub(r"\s+", " ", t.lower()).strip()

    def grams(t, k=5):
        n = norm(t)
        return [
            sum(ord(n[i + j]) * 131 ** (k - 1 - j) for j in range(k))
            % 1_000_003
            for i in range(len(n) - k + 1)
        ]

    def ref_winnow(t, w=4):
        g = grams(t)
        sel = sorted(
            {min(g[i:i + w]) for i in range(max(len(g) - w + 1, 1))}
        )
        csv = ",".join(str(x) for x in sel)
        return (
            len(sel),
            hashlib.md5(csv.encode()).hexdigest()[:8],
        )

    def ref_cdc(t, divisor=64, rem=0, min_size=16):
        cuts, last = [], 0
        for pos, h in enumerate(grams(t), start=1):
            if h % divisor == rem and pos - last >= min_size:
                cuts.append(pos)
                last = pos
        csv = "".join(f",{c}" for c in cuts)
        return (len(cuts) + 1, hashlib.md5(csv.encode()).hexdigest()[:8])

    got_w = {
        r.id: (r.n_winnow, r.winnow_fp8)
        for r in winnow_summary(df, "doc_id", "text").collect()
    }
    assert got_w == {d: ref_winnow(t) for d, t in texts}
    got_c = {
        r.id: (r.n_cdc_chunks, r.cdc_fp8)
        for r in cdc_summary(df, "doc_id", "text").collect()
    }
    assert got_c == {d: ref_cdc(t) for d, t in texts}

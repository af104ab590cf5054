"""robots.txt crawl-politeness operators (operators/robots.py)."""

from __future__ import annotations

import duckdb

from mapreduce_stockheadlines_spark.operators.robots import (
    _classify_pattern,
    _parse_robots_text,
    filter_robots_disallowed,
    parse_robots,
)


def test_parse_robots_grammar_arms():
    txt = """
# top comment
User-agent: engine-bot
Disallow: /private/
Allow: /private/ok
Crawl-delay: 5

User-agent: a
User-agent: b
Disallow: /shared$
Allow:

User-agent: *
Disallow: /tmp*junk
Disallow: *.pdf
Disallow: *.cgi$
Disallow:
"""
    rules = _parse_robots_text(txt)
    assert ("engine-bot", False, "prefix", "/private/") in rules
    assert ("engine-bot", True, "prefix", "/private/ok") in rules
    # consecutive User-agent lines share the group's rules
    assert ("a", False, "prefix", "/shared") in rules
    assert ("b", False, "prefix", "/shared") in rules
    # interior '*' truncates to the literal prefix (Disallow over-block)
    assert ("*", False, "prefix", "/tmp") in rules
    # '*LIT' / '*LIT$' compile to exact contains / suffix matchers
    # (ADVICE r8: the old truncation collapsed '*.pdf' to '/')
    assert ("*", False, "contains", ".pdf") in rules
    assert ("*", False, "suffix", ".cgi") in rules
    # every group member gets the zero-length allow-all existence marker
    for agent in ("engine-bot", "a", "b", "*"):
        assert (agent, True, "prefix", "") in rules
    assert _parse_robots_text("") == []
    # rules before any User-agent are void (no group, no marker)
    assert _parse_robots_text("Disallow: /x") == []


def test_classify_pattern_shapes():
    assert _classify_pattern("/a/b") == ("prefix", "/a/b")
    assert _classify_pattern("/a$") == ("prefix", "/a")
    assert _classify_pattern("/a*b") == ("prefix", "/a")
    assert _classify_pattern("*.pdf") == ("contains", ".pdf")
    assert _classify_pattern("*.pdf$") == ("suffix", ".pdf")
    # bare '*' / '*$' match everything (contains/suffix of '')
    assert _classify_pattern("*") == ("contains", "")
    assert _classify_pattern("*$") == ("suffix", "")
    # '*a*b' keeps only the conservative leading arm → prefix '/'
    assert _classify_pattern("*a*b") == ("prefix", "/")


def test_parse_robots_conservative_arms():
    # an exact group whose rules all parse to nothing must still emit
    # its existence marker (the 'our bot is exempt' file — review
    # finding: without it the '*' group inverted the policy)
    txt = "User-agent: engine-bot\nDisallow:\n\nUser-agent: *\nDisallow: /\n"
    rules = _parse_robots_text(txt)
    assert ("engine-bot", True, "prefix", "") in rules
    assert ("*", False, "prefix", "/") in rules
    # an Allow the matcher can't express exactly is dropped, not
    # truncated — a truncated Allow widens, over-crawling disallowed
    # URLs. The exact '*LIT'/'*LIT$' shapes ARE kept.
    txt2 = (
        "User-agent: *\nDisallow: /private\nAllow: /private*/pub$\n"
        "Allow: *.html$\nAllow: /x$\n"
    )
    rules2 = _parse_robots_text(txt2)
    assert ("*", False, "prefix", "/private") in rules2
    assert ("*", True, "suffix", ".html") in rules2
    assert not any(
        allow and lit.startswith("/")
        for _, allow, _, lit in rules2
        if lit  # markers aside, no truncated/anchored Allow survives
    )


def test_filter_robots_disallowed_semantics(spark):
    robots = spark.createDataFrame(
        [
            ("a.com", "User-agent: *\nDisallow: /private/\nAllow: /private/ok"),
            ("b.com", "User-agent: engine-bot\nDisallow: /\n"
                      "User-agent: *\nDisallow: /none"),
            ("c.com", "User-agent: otherbot\nDisallow: /"),
            # the exemption file: exact group allows all, '*' blocks all
            ("e.com", "User-agent: engine-bot\nDisallow:\n\n"
                      "User-agent: *\nDisallow: /"),
            # wildcard kinds: contains ('.pdf'), suffix ('.cgi$')
            ("f.com", "User-agent: *\nDisallow: *.pdf\nDisallow: *.cgi$"),
        ],
        ["domain", "robots_txt"],
    )
    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [
            (1, "a.com", "https://a.com/private/x"),       # disallowed
            (2, "a.com", "https://a.com/private/ok/page"), # allow wins (longer)
            (3, "a.com", "https://a.com/public"),          # no match -> allow
            (4, "b.com", "https://b.com/anything"),        # exact group: all blocked
            (5, "c.com", "https://c.com/x"),   # only otherbot blocked -> allow
            (6, "d.com", "https://d.com/x"),   # no robots at all -> allow
            (7, "e.com", "https://e.com/x"),   # exemption group -> allow
            (8, "f.com", "https://f.com/docs/a.pdf"),      # contains -> blocked
            (9, "f.com", "https://f.com/a.pdf/view"),      # contains -> blocked
            (10, "f.com", "https://f.com/run.cgi"),        # suffix -> blocked
            (11, "f.com", "https://f.com/run.cgi/extra"),  # suffix misses -> allow
            (12, "f.com", "https://f.com/plain"),          # no match -> allow
        ],
        ["doc_id", "domain", "url"],
    )
    kept = sorted(
        r.doc_id
        for r in filter_robots_disallowed(urls, rules).collect()
    )
    assert kept == [2, 3, 5, 6, 7, 11, 12]

    # DuckDB pin of the matching stage (kind-dispatched match, longest
    # literal, allow wins ties, same path normalization, same scalar
    # precedence key)
    rpdf = rules.toPandas()
    updf = urls.toPandas()
    con = duckdb.connect()
    con.register("rules", rpdf)
    con.register("urls", updf)
    got = con.sql(
        """
        WITH r AS (
          SELECT *, CASE WHEN agent = 'engine-bot' THEN 1 ELSE 0 END AS ex
          FROM rules WHERE agent IN ('engine-bot', '*')),
        hx AS (SELECT domain, max(ex) AS hex FROM r GROUP BY domain),
        rr AS (SELECT r.* FROM r JOIN hx USING (domain)
               WHERE r.ex = 1 OR hx.hex = 0),
        u AS (SELECT *, CASE
                 WHEN starts_with(rest, '/') THEN rest
                 WHEN length(rest) > 0 THEN '/' || rest
                 ELSE '/' END AS p
              FROM (SELECT *, regexp_replace(regexp_replace(url,
                      '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''),
                      '^[^/?#]*', '') AS rest
                    FROM urls)),
        j AS (SELECT u.doc_id, rr.allow, length(rr.lit) AS l
              FROM u LEFT JOIN rr
                ON u.domain = rr.domain
               AND ((rr.kind = 'prefix' AND starts_with(u.p, rr.lit))
                    OR (rr.kind = 'suffix' AND ends_with(u.p, rr.lit))
                    OR (rr.kind = 'contains' AND contains(u.p, rr.lit)))),
        v AS (SELECT doc_id, max_by(allow, coalesce(l, -1) * 2
                     + coalesce(CAST(allow AS INT), 1)) AS a
              FROM j GROUP BY doc_id)
        SELECT doc_id FROM v WHERE coalesce(a, TRUE) ORDER BY doc_id
        """
    ).fetchall()
    assert [r[0] for r in got] == kept


def test_x24_robots_allowed_nondegenerate(spark, sf_dir):
    """Promotion guard for the round-9 robots_allowed column: both
    verdicts must occur at the tested SF, and the blocked set must be
    non-trivial (arms 0/1 block several path shapes by design)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x24_url_curation,
    )

    x24 = x24_url_curation(spark, sf_dir)
    assert_column_nondegenerate(x24, "robots_allowed", f"at {sf_dir}")


def test_filter_robots_query_urls_and_multiplicity(spark):
    """Review regressions: a query string with no slash after the
    authority normalizes to '/?...' (one verdict for both spellings),
    and the filter preserves duplicate frontier rows (no silent
    groupBy dedup)."""
    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /?s=")],
        ["domain", "robots_txt"],
    )
    rules = parse_robots(robots)
    urls = spark.createDataFrame(
        [
            (1, "a.com", "https://a.com?s=secret"),   # slashless query
            (2, "a.com", "https://a.com/?s=secret"),  # slashed twin
            (3, "a.com", "https://a.com/fine"),
            (3, "a.com", "https://a.com/fine"),       # duplicate row
        ],
        ["doc_id", "domain", "url"],
    )
    out = filter_robots_disallowed(urls, rules).collect()
    ids = sorted(r.doc_id for r in out)
    assert ids == [3, 3]  # both query spellings blocked, dup preserved

"""robots.txt crawl-politeness operators (§2.2 extension — the frontier
companion of the URL-curation family: canonical_url dedups the frontier,
domain_frequency_cap bounds it, this module filters it by the publisher's
stated crawl policy before any fetch).

Reference scope: the original REP (and its RFC 9309 codification) as
implemented by major crawlers — User-agent groups (consecutive
``User-agent:`` lines share one group), ``Allow``/``Disallow`` path
prefixes, case-insensitive field names, ``#`` comments, most-specific
agent group selection (an exact agent match beats the ``*`` group —
substring agent matching is a documented simplification),
longest-rule-wins matching with Allow winning length ties, and
empty-pattern Disallow meaning "allow all".

Wildcard handling: each rule compiles to a (kind, literal) MATCHER —
the common ``*LIT`` / ``*LIT$`` shapes (e.g. ``Disallow: *.pdf``) are
expressed EXACTLY (a leading ``*`` absorbs any prefix, so the pattern
means "path contains LIT", or "path ends with LIT" when ``$``-anchored
— ADVICE r8: the old prefix truncation collapsed ``*.pdf`` to ``/``
and blocked whole sites). Patterns with an interior ``*`` keep the
literal prefix up to it — a conservative over-block, which is
crawl-safe for Disallow; an Allow that cannot be expressed exactly is
dropped instead (truncating it would WIDEN, over-crawling what the
publisher disallowed). Rule specificity is the literal's length (REP
counts the raw pattern's — a documented simplification).

Scale shape: parsing is an Arrow-batched pandas UDF over the
(domain, robots_txt) table — one row per PUBLISHER, bounded by distinct
domains, never by the frontier — exploded into a (domain, agent, allow,
kind, lit) rules table. Matching is one equi-join frontier⋈rules on the
registered domain plus a per-URL argmax (longest literal, allow wins
ties) — rules-per-domain is small and bounded by the robots file, so a
hot domain fans out by its rule count, not the corpus. The match stage
is DuckDB-pinned (and registry-pinned via x24's ``robots_allowed``
column); the parser is pinned on hand fixtures covering every grammar
arm.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RULE_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("agent", T.StringType()),
            T.StructField("allow", T.BooleanType()),
            T.StructField("kind", T.StringType()),
            T.StructField("lit", T.StringType()),
        ]
    )
)


def _classify_pattern(value: str) -> tuple[str, str]:
    """Rule pattern → (kind, literal) matcher. ``*LIT``/``*LIT$`` are
    exact (contains/suffix); anything else keeps the literal prefix up
    to the first ``*`` (dropping a trailing ``$`` anchor) — the
    conservative over-block documented in the module docstring."""
    if value.startswith("*") and "*" not in value[1:]:
        lit = value[1:]
        if lit.endswith("$"):
            return "suffix", lit[:-1]
        return "contains", lit
    prefix = value.split("*", 1)[0]
    if prefix.endswith("$"):
        prefix = prefix[:-1]
    return "prefix", prefix or "/"


def _parse_robots_text(text: str) -> list[tuple[str, bool, str, str]]:
    """One robots.txt → [(agent, allow, kind, lit)] rules. Pure python —
    runs inside the Arrow batch parser below and is the pytest pin
    target."""
    if not text:
        return []
    rules: list[tuple[str, bool, str, str]] = []
    agents: list[str] = []
    groups: list[list[str]] = []  # every group's agents, rules or not
    in_group_rules = False  # True once the current group saw a rule
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_group_rules or not agents:
                agents = []  # a new group starts
                groups.append(agents)
                in_group_rules = False
            agents.append(value.lower())
        elif field in ("allow", "disallow"):
            if not agents:
                continue  # rules before any User-agent line are void
            in_group_rules = True
            allow = field == "allow"
            if value == "":
                continue  # empty Disallow = allow all; empty Allow void
            exact_shape = value.startswith("*") and "*" not in value[1:]
            if allow and not exact_shape and (
                "*" in value or value.endswith("$")
            ):
                # a truncated Allow WIDENS (over-crawls what the
                # publisher disallowed — a politeness violation, unlike
                # the safe over-block of a truncated Disallow), so an
                # Allow the matcher can't express EXACTLY is dropped
                continue
            kind, lit = _classify_pattern(value)
            for a in agents:
                rules.append((a, allow, kind, lit))
        # other fields (Sitemap, Crawl-delay, ...) are ignored
    # zero-length allow-all marker per group member: it never beats a
    # real rule (precedence 2·0+1) but records GROUP EXISTENCE, so an
    # exact-agent group whose rules all parse to nothing (the common
    # 'User-agent: mybot / Disallow:' exemption) still suppresses the
    # '*' group instead of silently inverting the publisher's policy
    for g in groups:
        for a in g:
            rules.append((a, True, "prefix", ""))
    return rules


def parse_robots(
    df: DataFrame, domain_col: str = "domain", text_col: str = "robots_txt"
) -> DataFrame:
    """(domain, robots_txt) → exploded (domain, agent, allow, kind, lit)
    rules table. Arrow-batched parse, one python call per PUBLISHER
    row (publisher-bounded, never frontier-bounded)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(RULE_SCHEMA)
    def parse(s: pd.Series) -> pd.Series:
        return s.map(lambda t: _parse_robots_text(t or ""))

    return (
        df.select(
            F.col(domain_col).alias("domain"),
            F.explode(parse(F.col(text_col))).alias("_r"),
        )
        .select(
            "domain",
            F.col("_r.agent").alias("agent"),
            F.col("_r.allow").alias("allow"),
            F.col("_r.kind").alias("kind"),
            F.col("_r.lit").alias("lit"),
        )
    )


def _url_path(url_col: Column) -> Column:
    """Path component of a URL (incl. query/fragment for matching —
    robots patterns may constrain query strings); '/' when absent. A
    query or fragment that follows the authority with NO slash
    ('https://a.com?s=x') normalizes to '/?s=x', matching its
    slash-normalized twin, so both spellings get one verdict."""
    no_scheme = F.regexp_replace(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    # the authority ends at the first '/', '?' or '#'
    rest = F.regexp_replace(no_scheme, r"^[^/?#]*", "")
    return (
        F.when(rest.startswith("/"), rest)
        .when(F.length(rest) > 0, F.concat(F.lit("/"), rest))
        .otherwise(F.lit("/"))
    )


def filter_robots_disallowed(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
) -> DataFrame:
    """Drop frontier URLs the publisher's robots.txt disallows for this
    crawler's agent ``engine-bot``: select the most specific agent group
    per domain (exact agent match beats ``*``; domains with neither — or
    with no robots at all — allow everything), then longest-matching
    rule wins with Allow winning length ties (the Google/RFC 9309
    tiebreak; rule length = the compiled matcher's literal). A rule
    matches per its kind: ``prefix`` → path starts with lit, ``suffix``
    → ends with (a ``*LIT$`` pattern), ``contains`` → contains
    (``*LIT``).

    One frontier⋈rules equi-join on the domain + a per-URL max_by —
    rules-per-domain is file-bounded, so the fan-out per URL is the
    rule count, never corpus-sized."""
    agent = "engine-bot"  # lowercase, as parse_robots stores agents
    r = rules.filter(
        (F.col("agent") == agent) | (F.col("agent") == "*")
    ).withColumn("_exact", (F.col("agent") == agent).cast("int"))
    # most specific group: if the domain has any exact-agent rules, the
    # '*' group is ignored (REP: one group applies, not the union)
    has_exact = r.groupBy("domain").agg(
        F.max("_exact").alias("_has_exact")
    )
    r = r.join(has_exact, "domain").filter(
        (F.col("_exact") == 1) | (F.col("_has_exact") == 0)
    )
    u = urls.withColumn("_path", _url_path(F.col(url_col)))
    # rules side renamed so the frontier's own domain column (often the
    # same name) can't collide in the join resolution
    r = r.select(
        F.col("domain").alias("_rdom"),
        F.col("allow").alias("_rallow"),
        F.col("kind").alias("_rkind"),
        F.col("lit").alias("_rlit"),
    )
    # the verdict is a pure function of (domain, path): compute it over
    # the DISTINCT pairs and join it back, so the filter preserves row
    # multiplicity (a full-column groupBy would silently dedup the
    # frontier) and the rule join shuffles only distinct pairs
    pairs = u.select(F.col(domain_col).alias("_vdom"), "_path").distinct()
    # the kind-dispatched match rides the JOIN condition (not a
    # post-join WHERE, which would delete pairs whose domain has rules
    # but none matching — those must fall through to the allow default
    # as a null row)
    matches = (
        ((F.col("_rkind") == "prefix")
         & F.col("_path").startswith(F.col("_rlit")))
        | ((F.col("_rkind") == "suffix")
           & F.col("_path").endswith(F.col("_rlit")))
        | ((F.col("_rkind") == "contains")
           & F.col("_path").contains(F.col("_rlit")))
    )
    joined = pairs.join(
        r, (F.col("_vdom") == F.col("_rdom")) & matches, "left"
    )
    # longest matching literal wins, Allow wins length ties — the scalar
    # precedence key 2·lit_len + allow (allow in {0,1}) encodes both,
    # and stays scalar so the DuckDB pin uses the identical max_by
    verdict = joined.groupBy("_vdom", "_path").agg(
        F.max_by(
            "_rallow",
            F.coalesce(F.length("_rlit"), F.lit(-1)) * 2
            + F.coalesce(F.col("_rallow").cast("int"), F.lit(1)),
        ).alias("_allow")
    )
    kept = u.join(
        verdict,
        (F.col(domain_col) == F.col("_vdom"))
        & (u["_path"] == verdict["_path"]),
        "left",
    ).filter(F.coalesce(F.col("_allow"), F.lit(True)))
    return kept.select(*[u[c] for c in urls.columns])
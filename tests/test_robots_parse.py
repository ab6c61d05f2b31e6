"""robots.txt parsing -> broadcast rule cache -> wave gate (T5 +
north_star 'robots.txt allow/deny cache broadcast to executors')."""

from __future__ import annotations

from pyspark.sql import functions as F

from sharepointcrawler_spark.operators.robots import (
    RobotsGate,
    apply_robots_gate,
    parse_robots_txt,
    robots_rules_df,
)

ROBOTS_A = """
# comments are stripped
User-agent: megacrawler
Disallow: /private/
Allow: /private/press/
Crawl-delay: 2.5

User-agent: *
Disallow: /tmp/
"""

ROBOTS_B = """
User-agent: *
Disallow:
Crawl-delay: 7
"""


def test_parse_group_selection_and_rules():
    # specific agent group wins over *
    rows = parse_robots_txt("a.com", ROBOTS_A, agent="MegaCrawler/2.0")
    assert ("a.com", "deny", "/private/", 2.5) in rows
    assert ("a.com", "allow", "/private/press/", 2.5) in rows
    assert all("/tmp/" not in r[2] for r in rows)
    # unknown agent falls back to *
    rows_star = parse_robots_txt("a.com", ROBOTS_A, agent="otherbot")
    assert rows_star == [("a.com", "deny", "/tmp/", None)]
    # empty Disallow = allow everything; crawl-delay still surfaces
    rows_b = parse_robots_txt("b.com", ROBOTS_B)
    assert rows_b == [("b.com", "allow", "", 7.0)]
    # no matching group at all -> no rules (gate allows by default)
    assert parse_robots_txt("c.com", "User-agent: onlybot\nDisallow: /x\n", "elsebot") == []


def test_rules_df_feeds_gate_end_to_end(spark):
    texts = spark.createDataFrame(
        [("a.com", ROBOTS_A), ("b.com", ROBOTS_B)], "host string, robots_txt string"
    )
    rules = robots_rules_df(texts, agent="megacrawler")
    gate = RobotsGate(spark, rules)
    wave = spark.createDataFrame(
        [
            ("https://a.com/private/secret",),   # denied
            ("https://a.com/private/press/x",),  # allow overrides (longest prefix)
            ("https://a.com/public",),           # no rule -> allow
            ("https://b.com/anything",),         # empty disallow -> allow
            ("https://nohost.com/x",),           # unknown host -> allow
        ],
        ["url_canon"],
    )
    allowed, denied = apply_robots_gate(wave, gate)
    assert {r.url_canon for r in denied.collect()} == {"https://a.com/private/secret"}
    assert allowed.count() == 4
    # crawl-delay reaches the politeness scheduler
    delays = {r.host: r.crawl_delay_s for r in gate.delays_df().collect()}
    assert delays == {"a.com": 2.5, "b.com": 7.0}


def test_sitemap_directives(spark):
    """Sitemap: lines are GLOBAL (sitemaps.org robots extension) —
    collected regardless of user-agent group, first-colon split so the
    URL's own :// survives, comments stripped, empty values dropped;
    the Spark path yields (host, sitemap_url) rows."""
    from sharepointcrawler_spark.operators.robots import (
        parse_sitemap_directives,
        robots_sitemaps_df,
    )

    txt = (
        "User-agent: *\nDisallow: /private\n"
        "Sitemap: https://a.example.com/sitemap.xml\n"
        "User-agent: bot\n"
        "Sitemap:https://a.example.com/s2.xml   # comment\n"
        "sitemap: https://a.example.com/s3.xml\n"
        "Sitemap:\n"
    )
    assert parse_sitemap_directives("a.example.com", txt) == [
        ("a.example.com", "https://a.example.com/sitemap.xml"),
        ("a.example.com", "https://a.example.com/s2.xml"),
        ("a.example.com", "https://a.example.com/s3.xml"),
    ]
    df = spark.createDataFrame(
        [("a.example.com", txt), ("b.example.com", "User-agent: *\nAllow: /")],
        "host string, robots_txt string",
    )
    rows = robots_sitemaps_df(df).collect()
    assert len(rows) == 3 and {r.host for r in rows} == {"a.example.com"}


def test_wildcard_rules_pure():
    """RFC 9309 §2.2.3 wildcards: * matches any octet run, trailing $
    anchors; plain prefixes keep the startswith fast path (compiled
    matcher is None)."""
    from sharepointcrawler_spark.operators.robots import (
        compile_robots_pattern,
        robots_path_matches,
    )

    assert compile_robots_pattern("/private") is None
    assert compile_robots_pattern("/a/*.pdf$") is not None
    cases = [
        ("/docs/x.pdf", "/*.pdf$", True),
        ("/docs/x.pdf?y", "/*.pdf$", False),   # $ anchors the end
        ("/docs/x.pdf", "/*.pdf", True),
        ("/a/b/c", "/a/*/c", True),
        ("/a//c", "/a/*/c", True),             # * may match empty
        ("/a/c", "/a/*/c", False),             # the slashes around * are literal
        ("/a/b/d", "/a/*/c", False),
        ("/exact", "/exact$", True),
        ("/exactly", "/exact$", False),
        ("/exactly", "/exact", True),          # plain prefix
        ("/x%2Fy", "/x%2F", True),
    ]
    for path, pat, want in cases:
        assert robots_path_matches(path, pat) is want, (path, pat)


def test_wildcard_rules_through_gate(spark):
    """Wildcard Disallow/Allow rules flow parse -> rule rows -> gate:
    most-specific (longest pattern) wins, allow beats deny on ties."""
    from sharepointcrawler_spark.operators.robots import (
        RobotsGate,
        apply_robots_gate,
        robots_rules_df,
    )

    texts = spark.createDataFrame(
        [(
            "w.com",
            "User-agent: *\n"
            "Disallow: /*.pdf$\n"
            "Allow: /public/*.pdf$\n"
            "Disallow: /tmp/*\n",
        )],
        "host string, robots_txt string",
    )
    gate = RobotsGate(spark, robots_rules_df(texts))
    wave = spark.createDataFrame(
        [
            ("https://w.com/a.pdf",),          # denied: /*.pdf$
            ("https://w.com/public/a.pdf",),   # allowed: longer Allow wins
            ("https://w.com/a.pdfx",),         # allowed: $ anchored
            ("https://w.com/tmp/scratch",),    # denied: /tmp/*
            ("https://w.com/ok.html",),        # allowed: no rule
        ],
        ["url_canon"],
    )
    allowed, denied = apply_robots_gate(wave, gate)
    assert {r.url_canon for r in denied.collect()} == {
        "https://w.com/a.pdf",
        "https://w.com/tmp/scratch",
    }
    assert allowed.count() == 3


def test_gate_without_deny_rules_is_a_plain_filter(spark):
    """No deny rule (no robots table, or crawl-delay-only rules): every
    URL is allowed, none denied, and the verdict is a JVM expression —
    the plan holds no ``robots_allowed`` Python UDF."""
    wave = spark.createDataFrame(
        [("https://a.com/x",), ("https://b.com/private/y",)], ["url_canon"]
    )
    delay_only = spark.createDataFrame(
        [("a.com", "allow", "", 3.0)],
        "host string, rule_type string, path_prefix string, crawl_delay_s double",
    )
    for gate in (RobotsGate(spark, None), RobotsGate(spark, delay_only)):
        allowed, denied = apply_robots_gate(wave, gate)
        assert allowed.count() == 2 and denied.count() == 0
        plan = allowed._jdf.queryExecution().analyzed().toString()
        assert "robots_allowed" not in plan


def test_gate_with_rules_denies_as_before(spark):
    """With a deny rule the UDF gate decides per URL, as it always has:
    longest pattern wins, unknown hosts pass, a null URL is denied."""
    rules = spark.createDataFrame(
        [("a.com", "deny", "/private/", None), ("a.com", "allow", "/private/ok", None)],
        "host string, rule_type string, path_prefix string, crawl_delay_s double",
    )
    wave = spark.createDataFrame(
        [
            ("https://a.com/private/x",),
            ("https://a.com/private/ok/y",),
            ("https://a.com/public",),
            ("https://b.com/private/x",),
            (None,),
        ],
        "url_canon string",
    )
    allowed, denied = apply_robots_gate(wave, RobotsGate(spark, rules))
    assert {r.url_canon for r in denied.collect()} == {"https://a.com/private/x", None}
    assert {r.url_canon for r in allowed.collect()} == {
        "https://a.com/private/ok/y",
        "https://a.com/public",
        "https://b.com/private/x",
    }


def test_delays_df_built_once_and_schedules_like_a_hand_built_table(spark):
    """``delays_df()`` is None without crawl-delays; with them it is the
    same frame on every call and spaces fetch slots exactly like a
    hand-built (host, crawl_delay_s) table."""
    from sharepointcrawler_spark.operators.politeness import assign_fetch_slots

    assert RobotsGate(spark, None).delays_df() is None
    rules = spark.createDataFrame(
        [("a.com", "deny", "/tmp/", 2.5), ("b.com", "allow", "", 7.0)],
        "host string, rule_type string, path_prefix string, crawl_delay_s double",
    )
    gate = RobotsGate(spark, rules)
    assert gate.delays_df() is gate.delays_df()
    wave = spark.createDataFrame(
        [(h, i, f"{i:02d}") for h in ("a.com", "b.com", "c.com") for i in range(3)],
        "host string, priority int, path_key string",
    )
    hand = spark.createDataFrame(
        [("a.com", 2.5), ("b.com", 7.0)], "host string, crawl_delay_s double"
    )

    def slots(delays):
        return sorted(
            (r.host, r.path_key, r.fetch_slot)
            for r in assign_fetch_slots(wave, delays, 1.0).collect()
        )

    assert slots(gate.delays_df()) == slots(hand)
    assert slots(gate.delays_df())[:3] == [
        ("a.com", "00", 0.0), ("a.com", "01", 2.5), ("a.com", "02", 5.0),
    ]

"""robots.txt allow/deny cache, broadcast to executors (SURVEY.md §2.3
T5; north_rule).

Reference analog: the in-memory allowed-titles HashSet probed per file
(SharePointClient.cs:48,83 set; :272-275 probe) plus the auth header —
a tiny, broadcastable gate consulted on every candidate. Here the gate
is a robots rule table:

    robots_cache(host, rule_type: allow|deny, path_prefix, crawl_delay_s)

The table is small (one row per rule per host), so it is collected once
on the driver, broadcast, and probed inside a vectorized pandas UDF with
longest-prefix-match semantics (the standard robots.txt resolution:
most specific rule wins; tie → allow; no rule → allow). Denied URLs are
marked state='denied' in the frontier: they enter the seen-set (never
re-considered) but are never fetched.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ROBOTS_SCHEMA = "host string, rule_type string, path_prefix string, crawl_delay_s double"


def compile_robots_pattern(pattern: str):
    """RFC 9309 §2.2.3 path matching: ``*`` matches any octet sequence
    and a trailing ``$`` anchors the end. Returns None for plain
    prefixes (the dominant case — matched with startswith, no regex
    cost) or a compiled regex for wildcard rules."""
    if "*" not in pattern and not pattern.endswith("$"):
        return None
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "".join(".*" if c == "*" else re.escape(c) for c in body)
    return re.compile("^" + rx + ("$" if anchored else ""))


def robots_path_matches(path: str, pattern: str, compiled=None) -> bool:
    """One rule match (pure helper, unit-testable without Spark)."""
    c = compiled if compiled is not None else compile_robots_pattern(pattern)
    if c is None:
        return path.startswith(pattern)
    return c.match(path) is not None


class RobotsGate:
    """Driver-side holder: build once per crawl, probe per wave."""

    def __init__(self, spark: SparkSession, robots_df: DataFrame | None):
        rules: dict[str, list[tuple[str, bool, object]]] = {}
        delays: dict[str, float] = {}
        if robots_df is not None:
            for r in robots_df.collect():
                h = r["host"].lower()
                pat = r["path_prefix"] or ""
                rules.setdefault(h, []).append(
                    # compiled wildcard matcher rides in the broadcast
                    # (re.Pattern pickles); None = plain-prefix fast path
                    (pat, r["rule_type"] == "allow", compile_robots_pattern(pat))
                )
                if r["crawl_delay_s"] is not None:
                    delays[h] = float(r["crawl_delay_s"])
        # RFC 9309 §2.2.2: most specific (longest pattern in octets)
        # wins; allow beats deny on ties
        for h in rules:
            rules[h].sort(key=lambda t: (-len(t[0]), not t[1]))
        # without a deny rule every URL is allowed: no broadcast, no UDF
        denies = any(not allow for rs in rules.values() for _, allow, _ in rs)
        self._b_rules = spark.sparkContext.broadcast(rules) if denies else None
        # built once, from pandas (Arrow: no Python worker when scanned);
        # None when no host sets a crawl-delay
        self._delays_df = (
            spark.createDataFrame(
                pd.DataFrame(
                    {"host": list(delays), "crawl_delay_s": list(delays.values())}
                ),
                "host string, crawl_delay_s double",
            )
            if delays
            else None
        )

    def allowed_col(self, url_col: str | Column = "url_canon") -> Column:
        """Boolean robots verdict per URL. A null URL is denied. With no
        deny rule the verdict is a plain ``isNotNull`` (folded to true on
        non-nullable columns), so the plan holds no Python UDF."""
        c = F.col(url_col) if isinstance(url_col, str) else url_col
        b_rules = self._b_rules
        if b_rules is None:
            return c.isNotNull()

        @F.pandas_udf(T.BooleanType())
        def robots_allowed(urls: pd.Series) -> pd.Series:  # pragma: no cover
            rules = b_rules.value

            def check(u: str | None) -> bool:
                if u is None:
                    return False
                try:
                    parts = urlsplit(u)
                except ValueError:
                    return True
                host_rules = rules.get((parts.hostname or "").lower())
                if not host_rules:
                    return True
                path = parts.path or "/"
                for prefix, allow, compiled in host_rules:
                    if (
                        path.startswith(prefix)
                        if compiled is None
                        else compiled.match(path) is not None
                    ):
                        return allow
                return True

            return urls.map(check)

        return robots_allowed(c)

    def delays_df(self) -> DataFrame | None:
        """(host, crawl_delay_s) for the politeness scheduler — the same
        frame on every call, or None when no host sets a crawl-delay
        (``assign_fetch_slots`` then applies its default delay)."""
        return self._delays_df


def apply_robots_gate(wave: DataFrame, gate: RobotsGate) -> tuple[DataFrame, DataFrame]:
    """Split a wave into (allowed, denied) by the broadcast rule set."""
    tagged = wave.withColumn("_allowed", gate.allowed_col("url_canon"))
    allowed = tagged.filter(F.col("_allowed")).drop("_allowed")
    denied = tagged.filter(~F.col("_allowed")).drop("_allowed")
    return allowed, denied


# ------------------------------------------------------ robots.txt parse

def parse_robots_txt(
    host: str, text: str, agent: str = "*"
) -> list[tuple[str, str, str, float | None]]:
    """Parse one robots.txt body into ROBOTS_SCHEMA rows for ``agent``.

    RFC 9309 group selection: consecutive ``User-agent`` lines open a
    group; the group whose agent token is the longest case-insensitive
    substring match of ``agent`` wins, with ``*`` as fallback.
    ``Allow``/``Disallow`` carry path patterns VERBATIM (an empty
    Disallow means allow-everything and emits no rule); ``Crawl-delay``
    rides on every emitted row for the host (the RobotsGate keeps one
    delay per host). ``$``/``*`` wildcards pass through to the gate,
    which matches them per §2.2.3 (``compile_robots_pattern``); plain
    prefixes — the dominant real-world shape — keep the startswith fast
    path.
    """
    agent_l = agent.lower()
    groups: list[tuple[list[str], list[tuple[str, str]], float | None]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, str]] = []
    cur_delay: float | None = None
    in_group_header = False

    def flush():
        nonlocal cur_agents, cur_rules, cur_delay
        if cur_agents:
            groups.append((cur_agents, cur_rules, cur_delay))
        cur_agents, cur_rules, cur_delay = [], [], None

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_group_header:
                flush()
                in_group_header = True
            cur_agents.append(val.lower())
            continue
        in_group_header = False
        if key in ("allow", "disallow"):
            if val == "" and key == "disallow":
                continue  # empty Disallow = allow all
            if val:
                cur_rules.append(("allow" if key == "allow" else "deny", val))
        elif key == "crawl-delay":
            try:
                cur_delay = float(val)
            except ValueError:
                pass
    flush()

    best: tuple[int, list[tuple[str, str]], float | None] | None = None
    for agents, rules, delay in groups:
        for a in agents:
            if a == "*":
                score = 0
            elif a in agent_l:
                score = len(a)
            else:
                continue
            if best is None or score > best[0]:
                best = (score, rules, delay)
    if best is None:
        return []
    _, rules, delay = best
    rows = [(host, rt, prefix, delay) for rt, prefix in rules]
    if not rows and delay is not None:
        rows = [(host, "allow", "", delay)]
    return rows


def parse_sitemap_directives(host: str, text: str) -> list[tuple[str, str]]:
    """``Sitemap:`` lines (the sitemaps.org robots extension): GLOBAL
    directives, valid anywhere in the file and independent of
    user-agent groups — collected separately from the rule parse.
    Returns (host, sitemap_url) rows; values keep their case (URLs are
    case-sensitive past the host)."""
    out: list[tuple[str, str]] = []
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        key, _, val = line.partition(":")  # first colon only: the URL's
        if key.strip().lower() == "sitemap":  # own "://" stays in val
            url = val.strip()
            if url:
                out.append((host, url))
    return out


def robots_sitemaps_df(texts: DataFrame) -> DataFrame:
    """(host, robots_txt) -> (host, sitemap_url) rows for every
    ``Sitemap:`` directive — the discovery feed
    ``operators/sitemap.py`` consumes after the crawl loop fetches the
    advertised files."""
    import pandas as pd  # noqa: F811 (module-level import exists)

    def parse(batches):
        for pdf in batches:
            rows = []
            for h, t in zip(pdf["host"], pdf["robots_txt"]):
                rows.extend(parse_sitemap_directives(h, t))
            yield pd.DataFrame(rows, columns=["host", "sitemap_url"])

    return texts.select("host", "robots_txt").mapInPandas(
        parse, "host string, sitemap_url string"
    )


def robots_rules_df(spark_or_df, texts: DataFrame | None = None, agent: str = "*") -> DataFrame:
    """(host, robots_txt) table -> ROBOTS_SCHEMA rule rows, parsed on the
    executors (mapInPandas over Arrow batches): at web scale robots
    bodies are a big fetched table; the RULES distilled from it are the
    tiny broadcastable cache the RobotsGate wants."""
    import pandas as pd  # noqa: F811 (module-level import exists)

    df = texts if texts is not None else spark_or_df

    def parse(batches):
        for pdf in batches:
            rows = []
            for h, t in zip(pdf["host"], pdf["robots_txt"]):
                rows.extend(parse_robots_txt(h, t, agent))
            yield pd.DataFrame(
                rows, columns=["host", "rule_type", "path_prefix", "crawl_delay_s"]
            )

    return df.select("host", "robots_txt").mapInPandas(parse, ROBOTS_SCHEMA)

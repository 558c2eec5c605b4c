"""robots.txt parsing + URL gating (round-13).

The crawl front-end's FIRST gate in every real pipeline (CCNet /
RefinedWeb fetch politeness): a crawler must not ingest paths the host
disallows.  Reference analog: none (the memory service never crawls) —
this is the LLM-data-pipeline family, beside the UT1 domain blocklist
(functions/urls.filter_blocked_urls) which blocks whole DOMAINS; robots
rules block PATHS per host.

Implemented semantics — the RFC 9309 core, documented precisely so the
oracle can mirror the evaluation:

- **Group selection**: groups are ``User-agent:`` runs; a group applies
  to our agent when its token is ``*`` or a case-insensitive substring
  of the agent product token.  The MOST SPECIFIC group wins (longest
  matching agent token; ``*`` counts as length 0); multiple
  ``User-agent`` lines before rules share one group.
- **Rules**: ``Allow:`` / ``Disallow:`` path patterns supporting ``*``
  (any chars) and a trailing ``$`` (end anchor).  An EMPTY pattern is a
  no-op (``Disallow:`` alone = allow everything — the classic idiom).
- **Decision per URL path**: among matching rules, the LONGEST pattern
  wins (character length, the Google/RFC specificity rule); a tie
  between Allow and Disallow resolves to ALLOW.  No matching rule =
  allowed.  An absent/unparseable robots.txt = allowed (crawl-neutral).

Split of labor for 100 TB: robots.txt files are tiny and one-per-host —
``parse_robots`` runs host-side in the same Arrow kernel that fetched
the bytes, producing a RULES TABLE ``{host, pattern, allow, prio}``
(a few rows per host).  ``robots_blocked`` then evaluates URLs against
that table JVM-side: one host equi-join + one rlike per candidate rule
+ one argmax groupBy — scan-parallel, no UDF in the per-URL path."""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _best_group(content: str, agent: str):
    """The (rules, crawl_delay) of the group that applies to ``agent``
    (module-docstring group-selection semantics)."""
    groups: list[tuple[list[str], list[tuple[str, bool]], float | None]] \
        = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[str, bool]] = []
    cur_delay: float | None = None
    agents_open = False  # collecting consecutive User-agent lines
    for raw in (content or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not agents_open:
                if cur_agents:
                    groups.append((cur_agents, cur_rules, cur_delay))
                cur_agents, cur_rules, cur_delay = [], [], None
                agents_open = True
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            agents_open = False
            if cur_agents and val:
                cur_rules.append((val, key == "allow"))
        elif key == "crawl-delay":
            # the widely-honored de-facto extension (not in RFC 9309):
            # seconds between fetches, per group; malformed -> ignored
            agents_open = False
            if cur_agents:
                try:
                    d = float(val)
                    if d >= 0:
                        cur_delay = d
                except ValueError:
                    pass
        else:
            agents_open = False
    if cur_agents:
        groups.append((cur_agents, cur_rules, cur_delay))

    al = agent.lower()
    best_len: int | None = None
    for agents, _, _ in groups:
        for a in agents:
            if a == "*":
                spec = 0
            elif a and a in al:
                spec = len(a)
            else:
                continue
            if best_len is None or spec > best_len:
                best_len = spec
    if best_len is None:
        return [], None
    # RFC 9309 §2.2.1 (sweep-17 fix): ALL groups matching at the winning
    # specificity MERGE into one — a second "User-agent: *" group later in
    # the file adds its rules rather than being silently dropped.  The
    # de-facto Crawl-delay extension has no merge rule in any spec; we take
    # the MAX among the merged groups' declarations (the most conservative
    # politeness — a crawler honoring the larger delay honors both).
    best_rules, best_delay = [], None
    for agents, rules, delay in groups:
        spec = max((0 if a == "*" else len(a))
                   for a in agents if a == "*" or (a and a in al))\
            if any(a == "*" or (a and a in al) for a in agents) else None
        if spec != best_len:
            continue
        best_rules.extend(rules)
        if delay is not None:
            best_delay = delay if best_delay is None else max(best_delay,
                                                              delay)
    return best_rules, best_delay


def parse_robots(content: str, agent: str = "*") -> list[tuple[str, bool]]:
    """``[(pattern, allow)]`` for the group that applies to ``agent``
    (module-docstring semantics).  Comments (#) and unknown directives
    are ignored; an unparseable/empty file yields no rules (allowed)."""
    return _best_group(content, agent)[0]


def parse_crawl_delay(content: str, agent: str = "*") -> float | None:
    """The applying group's ``Crawl-delay`` seconds (r14), or None when
    the group declares none / the file is empty — same group selection
    as :func:`parse_robots`."""
    return _best_group(content, agent)[1]


def _pattern_regex(pattern: str) -> str:
    """The rlike regex of a robots path pattern: anchored prefix match,
    ``*`` -> ``.*``, trailing ``$`` -> end anchor, everything else
    literal."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    body = ".*".join(re.escape(part) for part in pattern.split("*"))
    return "^" + body + ("$" if anchored else "")


def robots_rules_table(robots: DataFrame, agent: str = "*",
                       host_col: str = "host",
                       content_col: str = "content") -> DataFrame:
    """Parse per-host robots.txt bodies into the rules table
    ``{host, pattern, allow, prio, rx}`` (prio = pattern length, the
    specificity key; rx = the anchored rlike regex).  One Arrow kernel —
    robots files are KB-sized, one per host."""
    import pandas as pd

    def kern(batches):
        for pdf in batches:
            rows = []
            for host, content in zip(pdf[host_col], pdf[content_col]):
                for pattern, allow in parse_robots(
                        str(content) if content is not None else "",
                        agent):
                    rows.append((host, pattern, allow, len(pattern),
                                 _pattern_regex(pattern)))
            yield pd.DataFrame(rows, columns=[
                "host", "pattern", "allow", "prio", "rx"])

    return robots.select(host_col, content_col).mapInPandas(
        kern, "host string, pattern string, allow boolean, prio int, "
              "rx string")


def url_path(url: Column) -> Column:
    """Path + query of ``url`` (the robots match subject): everything
    from the first ``/``, ``?`` or ``#`` after the authority (RFC 3986
    ends the authority at any of the three, matching url_host); a
    pathless URL with a query, ``https://h.example?q=1``, is the
    subject ``/?q=1`` — not ``/`` — so query-targeting rules can match.
    No path at all -> ``/``."""
    rest = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    return (F.when(rest == "", F.lit("/"))
            .when(F.substring(rest, 1, 1).isin("?", "#"),
                  F.concat(F.lit("/"), rest))
            .otherwise(rest))


def robots_blocked(df: DataFrame, rules: DataFrame,
                   url_col: str = "url",
                   keep_blocked: bool = False,
                   broadcast_rules: bool = True) -> DataFrame:
    """Filter ``df`` by the parsed ``rules`` table
    (:func:`robots_rules_table` output): drop every row whose URL path
    matches a winning Disallow rule for its host.

    Shape for 100 TB: DISTINCT url -> host equi-join against the rules
    table (broadcast by default — the kernel output carries no stats, so
    Catalyst would SortMergeJoin a table that is a few rows per crawled
    host; pass ``broadcast_rules=False`` for a rules table too large to
    broadcast) -> rlike per candidate rule (rules per host are few) ->
    ONE struct-argmax groupBy per url (longest pattern wins, Allow wins
    ties via the struct's allow-desc leg) -> semi/anti join back on the
    URL VALUE (the filter_blocked_urls determinism discipline — no
    synthetic row ids).  NULL urls and hosts with no rules are kept."""
    hits = _disallowed_urls(df, rules, url_col, broadcast_rules)
    how = "left_semi" if keep_blocked else "left_anti"
    return df.join(hits, df[url_col] == hits["_u"], how)


def _disallowed_urls(df: DataFrame, rules: DataFrame, url_col: str,
                     broadcast_rules: bool) -> DataFrame:
    """The winning-Disallow URL set ``{_u}`` over ``df``'s distinct URLs
    — the shared evaluation :func:`robots_blocked` filters against and
    :func:`robots_verdicts` flags with."""
    from .urls import url_host

    urls = (df.select(F.col(url_col).alias("_u")).distinct()
            .select("_u", url_host(F.col("_u")).alias("host"),
                    url_path(F.col("_u")).alias("_p")))
    rside = F.broadcast(rules) if broadcast_rules else rules
    return (urls.join(rside, "host")
            .filter(F.expr("_p rlike rx"))
            .groupBy("_u")
            .agg(F.max(F.struct(
                F.col("prio"),
                F.col("allow").cast("int").alias("a"))).alias("_b"))
            .filter(F.col("_b.a") == 0)            # winner disallows
            .select("_u"))


def robots_verdicts(df: DataFrame, rules: DataFrame,
                    url_col: str = "url",
                    flag_col: str = "robots_blocked",
                    broadcast_rules: bool = True) -> DataFrame:
    """``df`` + a boolean ``flag_col`` (true = a winning Disallow rule
    matches the URL) — ONE rules evaluation instead of the two a
    kept-leg + blocked-leg pair of :func:`robots_blocked` calls pays
    (r13 opt, guide §2.4: the distinct+join+rlike+argmax subtree ran
    twice for one verdict set).  Row-identical to the two-leg union:
    the hit set is distinct on the URL value so the left join cannot
    multiply rows, and NULL urls never match (kept, flag false)."""
    hits = _disallowed_urls(df, rules, url_col, broadcast_rules)
    return (df.join(hits.withColumn("_blk", F.lit(True)),
                    df[url_col] == hits["_u"], "left")
            .withColumn(flag_col, F.coalesce(F.col("_blk"), F.lit(False)))
            .drop("_u", "_blk"))


#: Sitemap: directive extraction — group-INDEPENDENT per the
#: sitemaps-protocol extension to robots.txt (any agent may use every
#: Sitemap line, regardless of User-agent groups); comments strip first
_SITEMAP_RX = r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)"


def robots_sitemaps(content: Column) -> Column:
    """``array<string>`` of ``Sitemap:`` directive URLs in a robots.txt
    body (r14) — the discovery bridge from the politeness file to
    functions/urls.sitemap_locs: robots.txt advertises the sitemaps,
    the sitemaps advertise the frontier.  Case-insensitive key, comment
    stripping, whitespace-delimited URL.  Pure Column expression
    (regexp_replace + regexp_extract_all), scan-side, zero UDF; NULL
    body -> empty array."""
    clean = F.regexp_replace(F.coalesce(content, F.lit("")),
                             "(?m)#.*$", "")
    return F.regexp_extract_all(clean, F.lit(_SITEMAP_RX), 1)


def robots_delays_table(robots: DataFrame, agent: str = "*",
                        host_col: str = "host",
                        content_col: str = "content") -> DataFrame:
    """Per-host ``{host, crawl_delay}`` from fetched robots.txt bodies
    (r14) — hosts whose applying group declares no delay are ABSENT.
    One Arrow kernel like :func:`robots_rules_table` (KB bodies, one
    per host); feeds plans/crawl.politeness_waves' per-host caps."""
    import pandas as pd

    def kern(batches):
        for pdf in batches:
            rows = []
            for host, content in zip(pdf[host_col], pdf[content_col]):
                d = parse_crawl_delay(
                    str(content) if content is not None else "", agent)
                if d is not None:
                    rows.append((host, d))
            yield pd.DataFrame(rows, columns=["host", "crawl_delay"])

    return robots.select(host_col, content_col).mapInPandas(
        kern, "host string, crawl_delay double")

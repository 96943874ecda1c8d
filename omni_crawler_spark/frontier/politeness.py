"""Per-host politeness-aware priority scheduler.

Replaces the reference's global asyncio.Semaphore(3) + priority sort
(src/orchestrator/omni_orchestrator.py:119-139;
src/discovery/url_discovery_engine.py:102-103) with the north rule's
host-hash-partitioned queue:

- **host policy**: ``host_policy`` turns the raw hosts dim into the
  one dim both steps below read; each robots.txt is parsed there,
  once per crawl.
- **robots**: URLs whose path matches a host disallow prefix are
  dropped before scheduling (reference has only the config flag,
  config/master_config.yaml:10 — this is new code).
- **priority queue**: within a host, strict order
  (priority desc, discovery_ts, url) — the reference's stable
  priority sort made total and deterministic (SURVEY §4.2).
- **skew lanes**: a host's queue is split into ``max_parallel`` lanes
  by url-hash (explicit salting of skewed hosts per the north rule);
  each lane spaces fetches ``crawl_delay_ms`` apart, so aggregate
  host rate = max_parallel / crawl_delay — the semantics of "N
  polite connections". Hot hosts therefore parallelize across
  executors without violating their delay budget, and the Zipf head
  no longer straggles one task.
- **budget**: fetches whose computed start offset exceeds the cycle
  budget stay in the frontier for the next cycle (deferred), exactly
  like the reference's next polling cycle.

All per-host sequencing happens inside one window partition =
(host, lane) — executor-local by construction, nothing shared.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# the engine's robots User-agent token (what a real crawl would send
# and match against User-agent groups)
ROBOTS_UA = "omni-crawler-spark"

_RULES_TYPE = "array<struct<path:string,allow:boolean,pattern:string>>"


def rule_pattern(path: str) -> str | None:
    """RFC 9309 §2.2.3 special characters in a rule path: ``*``
    matches any sequence of characters and a TRAILING ``$`` anchors
    the end of the URL path (a ``$`` anywhere else is literal, per
    the common-crawler convention). Returns the anchored Java-regex
    translation for a rule that uses them, or None for a pure-literal
    rule — the verdict matches literals with the cheaper
    ``startswith`` and only compiles a regex for the rare wildcard
    rules, keeping the frontier path's hot case codegen-friendly."""
    import re as _re

    anchor = path.endswith("$")
    body = path[:-1] if anchor else path
    if "*" not in body and not anchor:
        return None
    pat = "".join(".*" if c == "*" else _re.escape(c) for c in body)
    return "^" + pat + ("$" if anchor else "")


def parse_robots_groups(
    text: str,
) -> list[tuple[list[str], list[tuple[str, bool]], float | None]]:
    """robots.txt → [(agents, [(path, allow), ...], crawl_delay_sec),
    ...] with urllib.robotparser's grouping rules: consecutive
    User-agent lines head a group; a User-agent line after rules
    starts a new group; blank lines end a group; ``#`` starts a
    comment, and a comment-only line is skipped (it does not end the
    group). An empty Disallow value is the explicit allow-all rule
    (path '', allow). ``Crawl-delay`` (the de-facto extension the
    reference's config flag stood in for) is captured per group."""
    groups: list[tuple[list[str], list[tuple[str, bool]], float | None]] = []
    agents: list[str] = []
    rules: list[tuple[str, bool]] = []
    delay: float | None = None

    def _flush():
        nonlocal agents, rules, delay
        if agents and (rules or delay is not None):
            groups.append((agents, rules, delay))
        agents, rules, delay = [], [], None

    for raw in (text or "").splitlines():
        if not raw.strip():
            _flush()
            continue
        line = raw.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        key, val = line.split(":", 1)
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if rules or delay is not None:
                _flush()
            agents.append(val.lower())
        elif key in ("allow", "disallow") and agents:
            # empty value: no-op Allow / explicit allow-all Disallow
            rules.append((val, key == "allow" or val == ""))
        elif key == "crawl-delay" and agents:
            try:
                d = float(val)
            except ValueError:
                pass
            else:
                # hostile/typo'd robots.txt is normal web input:
                # reject nan/inf/negative outright;
                # _delay_ms clamps the rest to one day so
                # one bad host can never overflow the scheduler's
                # int32 delay column
                if d == d and 0 <= d < float("inf"):
                    delay = d
    _flush()
    return groups


def parse_robots_sitemaps(text: str) -> list[str]:
    """``Sitemap:`` directives in a robots.txt — per RFC 9309 §2.3 /
    sitemaps.org these are GROUP-INDEPENDENT (valid anywhere in the
    file, apply to all agents), which is how real crawlers find most
    sitemaps. The reference parses sitemap XML once handed a URL
    (src/discovery/url_discovery_engine.py:58-89) but never reads the
    robots pointer; this closes that discovery gap. Order-preserving,
    deduplicated."""
    import re as _re

    seen: set[str] = set()
    out: list[str] = []
    for m in _re.finditer(r"(?im)^\s*Sitemap:\s*(\S+)", text or ""):
        u = m.group(1)
        if u not in seen:
            seen.add(u)
            out.append(u)
    return out


def _group_for_agent(text: str, agent: str):
    """The group governing ``agent``: the group whose User-agent
    token is the LONGEST substring of the agent's product token wins;
    ``*`` is the fallback (specificity 0). Matches
    urllib.robotparser's applies_to check with RFC 9309's
    most-specific-group selection."""
    product = agent.split("/")[0].lower()
    best = None
    best_len = -1
    for group in parse_robots_groups(text):
        for a in group[0]:
            if a == "*":
                if best_len < 0:
                    best, best_len = group, 0
            elif a in product and len(a) > best_len:
                best, best_len = group, len(a)
    return best


def robots_rules_for_agent(
    text: str, agent: str = ROBOTS_UA
) -> list[tuple[str, bool]]:
    """The Allow/Disallow rule list governing ``agent``."""
    g = _group_for_agent(text, agent)
    return list(g[1]) if g else []


def robots_crawl_delay_ms(
    text: str, agent: str = ROBOTS_UA
) -> int | None:
    """The governing group's Crawl-delay in milliseconds, or None
    when the file sets none — feeds the scheduler's per-host
    crawl_delay_ms budget (urllib.robotparser.crawl_delay analog)."""
    return _delay_ms(_group_for_agent(text, agent))


def _delay_ms(group) -> int | None:
    """A group's Crawl-delay in milliseconds, clamped to one day."""
    if group is None or group[2] is None:
        return None
    return min(int(group[2] * 1000), 86_400_000)


def host_policy(hosts: DataFrame) -> DataFrame:
    """The crawl's host-policy dim, one row per host of the raw
    ``hosts`` dim, with the columns ``robots_filter`` and ``schedule``
    read:

    - ``robots_rules`` (array<struct<path,allow,pattern>>) for our
      agent, parsed from a raw ``robots_txt`` column, or else every
      ``robots_disallow`` prefix as a literal Disallow rule;
    - ``crawl_delay_ms``: an explicit column wins, else the file's
      Crawl-delay (NULL when neither is set);
    - ``max_parallel``: the column, else NULL;
    - ``sitemaps``: the file's ``Sitemap:`` URLs (NULL without
      ``robots_txt``).

    A ``robots_txt`` file is parsed once, in one Arrow pass over the
    dim; without it no Python runs. NULL fields are the scheduler's
    defaults, as for hosts absent from the dim."""
    cols = hosts.columns
    if "robots_txt" in cols:

        @F.pandas_udf(
            f"struct<robots_rules:{_RULES_TYPE},crawl_delay_ms:int,"
            "sitemaps:array<string>>"
        )
        def parse(texts: pd.Series) -> pd.DataFrame:
            rows = []
            for t in texts:
                if t is None:
                    rows.append((None, None, None))
                    continue
                g = _group_for_agent(t, ROBOTS_UA)
                rules = [
                    {"path": p, "allow": al, "pattern": rule_pattern(p)}
                    for p, al in (g[1] if g else [])
                ]
                rows.append((rules, _delay_ms(g), parse_robots_sitemaps(t)))
            out = pd.DataFrame(
                rows, columns=["robots_rules", "crawl_delay_ms", "sitemaps"]
            )
            out["crawl_delay_ms"] = out["crawl_delay_ms"].astype("Int32")
            return out

        # one UDF column, expanded by a second projection, so the
        # file is parsed once per host, not once per field
        hosts = hosts.withColumn("_policy", parse(F.col("robots_txt")))
        rules = F.col("_policy.robots_rules")
        delay = F.col("_policy.crawl_delay_ms")
        sitemaps = F.col("_policy.sitemaps")
    else:
        rules = F.transform(
            F.col("robots_disallow"),
            lambda p: F.struct(
                p.alias("path"),
                F.lit(False).alias("allow"),
                F.lit(None).cast("string").alias("pattern"),
            ),
        )
        delay = F.lit(None).cast("int")
        sitemaps = F.lit(None).cast("array<string>")
    if "crawl_delay_ms" in cols:
        delay = F.col("crawl_delay_ms")
    max_parallel = (
        F.col("max_parallel") if "max_parallel" in cols
        else F.lit(None).cast("int")
    )
    return hosts.select(
        "host",
        rules.alias("robots_rules"),
        delay.alias("crawl_delay_ms"),
        max_parallel.alias("max_parallel"),
        sitemaps.alias("sitemaps"),
    )


def robots_verdict(path: "F.Column", rules: "F.Column") -> "F.Column":
    """True iff ``path`` is allowed under ``rules``
    (array<struct<path,allow,pattern>>): RFC 9309 precedence — the
    LONGEST matching rule path wins (most octets of the rule); on a
    length tie Allow wins; no matching rule (or no rules) → allowed.
    Rule paths carrying the RFC special characters ``*``/trailing
    ``$`` match through their regex translation (``rule_pattern``);
    plain rules — the overwhelming majority of real robots files —
    stay on the cheap ``startswith`` prefix match. Pure column
    expression over the broadcast host dim's rules array — zero
    Python on the frontier path (regexp_like is a JVM expression;
    only the rare wildcard rules pay a per-row pattern evaluation)."""
    matching = F.filter(
        rules,
        lambda r: F.when(
            r["pattern"].isNull(), F.startswith(path, r["path"])
        ).otherwise(F.regexp_like(path, r["pattern"])),
    )
    best = F.aggregate(
        matching,
        F.struct(
            F.lit(-1).cast("int").alias("ln"), F.lit(True).alias("allow")
        ),
        lambda acc, r: F.when(
            (F.length(r["path"]) > acc["ln"])
            | ((F.length(r["path"]) == acc["ln"]) & r["allow"]),
            F.struct(
                F.length(r["path"]).cast("int").alias("ln"),
                r["allow"].alias("allow"),
            ),
        ).otherwise(acc),
    )
    return best["allow"]


def robots_filter(frontier: DataFrame, hosts: DataFrame) -> DataFrame:
    """Drop URLs disallowed for our agent by their host's robots
    rules (User-agent group selection + longest-match Allow/Disallow
    precedence). ``hosts`` is the ``host_policy`` dim, small →
    broadcast join, no shuffle on the frontier side; hosts absent
    from the dim are allowed."""
    path = F.regexp_replace(
        F.col("url_canonical"), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*", ""
    )
    joined = frontier.join(
        F.broadcast(hosts.select("host", "robots_rules")), "host", "left"
    )
    allowed = robots_verdict(path, F.col("robots_rules"))
    # NULL rules (unknown host / unreadable robots) → allowed: the
    # aggregate over a NULL array yields a NULL verdict, coalesced
    # to True here
    return joined.filter(F.coalesce(allowed, F.lit(True))).drop(
        "robots_rules"
    )


def schedule(
    frontier: DataFrame,
    hosts: DataFrame,
    cycle_budget_ms: int = 60_000,
) -> DataFrame:
    """Assign each frontier row a lane, in-lane sequence and start
    offset; rows beyond the cycle budget are marked deferred.

    Output adds: lane:int, crawl_seq:long (1-based within host+lane),
    start_ms:long, scheduled:boolean(start_ms < budget).

    ``hosts`` is the ``host_policy`` dim; a host absent from it, or
    with a NULL field, gets the defaults (500 ms, one lane).
    """
    f = frontier.join(
        F.broadcast(hosts.select("host", "crawl_delay_ms", "max_parallel")),
        "host",
        "left",
    ).withColumns(
        {
            "crawl_delay_ms": F.coalesce(F.col("crawl_delay_ms"), F.lit(500)),
            "max_parallel": F.coalesce(F.col("max_parallel"), F.lit(1)),
            "lane": F.pmod(F.xxhash64("url_canonical"), F.col("max_parallel")).cast(
                "int"
            ),
        }
    )

    # in-lane sequencing is a plain window function — one shuffle on
    # (host, lane), codegen'd sort + running count. (Round 1 used an
    # applyInPandas group-map here; profiled at 100k URLs the Arrow
    # round-trip made it the most expensive plan step at ~4 s — the
    # window form computes identical crawl_seq/start_ms for ~1/4 the
    # cost, and per-lane state stays executor-local the same way.)
    w = Window.partitionBy("host", "lane").orderBy(
        F.desc("priority"), "discovery_ts", "url_canonical"
    )
    return f.withColumns(
        {
            "crawl_seq": F.row_number().over(w).cast("long"),
        }
    ).withColumns(
        {
            "start_ms": (
                (F.col("crawl_seq") - 1)
                * F.greatest(F.lit(1), F.col("crawl_delay_ms"))
            ).cast("long"),
        }
    ).withColumn("scheduled", F.col("start_ms") < F.lit(cycle_budget_ms))

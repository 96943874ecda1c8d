"""Politeness scheduler semantics (north rule: per-host crawl-delay
budgets, max_parallel lanes, robots, cycle-budget deferral)."""

from __future__ import annotations

import inspect
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from omni_crawler_spark.frontier import politeness as P
from omni_crawler_spark.frontier.crawl import CrawlEngine
from omni_crawler_spark.frontier.synthetic import generate_hosts, generate_seeds


@pytest.fixture(scope="module")
def hosts(spark):
    return P.host_policy(spark.createDataFrame(
        [
            ("slow.example.com", 1000, 1, ["/private"]),
            ("fast.example.com", 100, 4, []),
            ("zero.example.com", 0, 2, ["/a", "/b"]),
        ],
        "host string, crawl_delay_ms int, max_parallel int, "
        "robots_disallow array<string>",
    ))


def _frontier(spark, rows):
    base = datetime(2025, 1, 1)
    return spark.createDataFrame(
        [
            (
                f"https://{h}{p}",
                h,
                prio,
                base + timedelta(seconds=i),
                hash(f"{h}{p}") & 0x7FFFFFFF,
            )
            for i, (h, p, prio) in enumerate(rows)
        ],
        "url_canonical string, host string, priority int, "
        "discovery_ts timestamp, url_hash long",
    )


def test_robots_drops_disallowed(spark, hosts):
    f = _frontier(
        spark,
        [
            ("slow.example.com", "/private/x", 10),
            ("slow.example.com", "/public/x", 10),
            ("zero.example.com", "/a/page", 5),
            ("zero.example.com", "/c/page", 5),
            ("unknown.example.com", "/anything", 5),  # no config → allowed
        ],
    )
    kept = {r.url_canonical for r in P.robots_filter(f, hosts).collect()}
    assert kept == {
        "https://slow.example.com/public/x",
        "https://zero.example.com/c/page",
        "https://unknown.example.com/anything",
    }


def test_lane_spacing_respects_crawl_delay(spark, hosts):
    f = _frontier(
        spark,
        [("slow.example.com", f"/p/{i}", 10) for i in range(6)],
    )
    sched = P.schedule(f, hosts, cycle_budget_ms=10**9).collect()
    # max_parallel=1 → a single lane; starts spaced exactly 1000ms
    assert {r.lane for r in sched} == {0}
    starts = sorted(r.start_ms for r in sched)
    assert starts == [0, 1000, 2000, 3000, 4000, 5000]


def test_lanes_split_and_each_spaces(spark, hosts):
    f = _frontier(
        spark,
        [("fast.example.com", f"/p/{i}", 10) for i in range(40)],
    )
    sched = P.schedule(f, hosts, cycle_budget_ms=10**9).collect()
    lanes = {r.lane for r in sched}
    assert lanes <= {0, 1, 2, 3} and len(lanes) >= 2
    by_lane: dict[int, list[int]] = {}
    for r in sched:
        by_lane.setdefault(r.lane, []).append(r.start_ms)
    for lane_starts in by_lane.values():
        lane_starts.sort()
        assert lane_starts == [i * 100 for i in range(len(lane_starts))]


def test_priority_order_within_lane(spark, hosts):
    rows = [("slow.example.com", f"/lo/{i}", 5) for i in range(3)] + [
        ("slow.example.com", f"/hi/{i}", 10) for i in range(3)
    ]
    f = _frontier(spark, rows)
    sched = sorted(
        P.schedule(f, hosts, cycle_budget_ms=10**9).collect(),
        key=lambda r: r.crawl_seq,
    )
    prios = [r.priority for r in sched]
    assert prios == sorted(prios, reverse=True)  # all 10s before all 5s


def test_cycle_budget_defers(spark, hosts):
    f = _frontier(
        spark,
        [("slow.example.com", f"/p/{i}", 10) for i in range(10)],
    )
    sched = P.schedule(f, hosts, cycle_budget_ms=3000)
    done = sched.filter(F.col("scheduled")).count()
    deferred = sched.filter(~F.col("scheduled")).count()
    assert done == 3  # starts 0,1000,2000 < 3000
    assert deferred == 7


def test_zero_delay_host_all_immediate(spark, hosts):
    f = _frontier(
        spark, [("zero.example.com", f"/c/{i}", 5) for i in range(8)]
    )
    sched = P.schedule(f, hosts, cycle_budget_ms=10**9).collect()
    # delay 0 → max(delay,1)=1ms spacing, everything scheduled instantly
    assert max(r.start_ms for r in sched) <= 8


def test_robots_rules_for_agent_line_forms():
    """Lower-case directives, an empty ``Disallow:`` (allow-all) and
    trailing spaces, in file order; a Crawl-delay line adds no rule,
    and a ``#`` comment line is skipped without ending the group."""
    txt = (
        "User-agent: *\n"
        "Disallow: /private\n"
        "disallow: /tmp/cache\n"
        "Allow: /public\n"
        "Disallow:\n"
        "# Disallow: /commented\n"
        "Crawl-delay: 5\n"
        "Disallow: /search \n"
    )
    assert P.robots_rules_for_agent(txt, "x") == [
        ("/private", False),
        ("/tmp/cache", False),
        ("/public", True),
        ("", True),
        ("/search", False),
    ]


def test_robots_filter_from_raw_txt(spark):
    hosts_txt = spark.createDataFrame(
        [("slow.example.com", "User-agent: *\nDisallow: /private\n")],
        "host string, robots_txt string",
    )
    f = _frontier(
        spark,
        [
            ("slow.example.com", "/private/x", 10),
            ("slow.example.com", "/ok/x", 10),
        ],
    )
    kept = {
        r.url_canonical
        for r in P.robots_filter(f, P.host_policy(hosts_txt)).collect()
    }
    assert kept == {"https://slow.example.com/ok/x"}


# -- full REP: User-agent groups + Allow precedence -------------------------


def test_robots_group_selection_pure():
    txt = (
        "User-agent: omni-crawler-spark\n"
        "Allow: /private/ok\n"
        "Disallow: /private\n"
        "Disallow: /tmp\n"
        "\n"
        "User-agent: omni\n"
        "Disallow: /only-omni\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /\n"
    )
    # longest agent-token group wins for our UA (with a /version tail)
    assert P.robots_rules_for_agent(txt, "omni-crawler-spark/1.0") == [
        ("/private/ok", True),
        ("/private", False),
        ("/tmp", False),
    ]
    # a shorter token still beats '*'
    assert P.robots_rules_for_agent(txt, "omni/2") == [("/only-omni", False)]
    # unknown agents fall back to '*'
    assert P.robots_rules_for_agent(txt, "googlebot") == [("/", False)]
    # empty Disallow is the explicit allow-all rule
    assert P.robots_rules_for_agent(
        "User-agent: *\nDisallow:\n", "x"
    ) == [("", True)]


def test_robots_longest_match_allow_precedence(spark):
    """RFC 9309 precedence: longest matching rule wins; Allow wins a
    length tie; default allow."""
    hosts_txt = spark.createDataFrame(
        [(
            "h.example.com",
            "User-agent: *\n"
            "Allow: /private/ok\n"
            "Disallow: /private\n"
            "Allow: /dup\n"
            "Disallow: /dup\n",
        )],
        "host string, robots_txt string",
    )
    f = _frontier(
        spark,
        [
            ("h.example.com", "/private/ok/page", 1),  # Allow longer → kept
            ("h.example.com", "/private/no", 1),       # Disallow → dropped
            ("h.example.com", "/dup/x", 1),            # tie → Allow wins
            ("h.example.com", "/elsewhere", 1),        # no rule → kept
        ],
    )
    kept = {
        r.url_canonical.split(".com")[1]
        for r in P.robots_filter(f, P.host_policy(hosts_txt)).collect()
    }
    assert kept == {"/private/ok/page", "/dup/x", "/elsewhere"}


def test_robots_verdicts_match_urllib_robotparser(spark):
    """Cross-check the engine's verdicts against Python's stdlib
    robots parser on fixture files written in the standard
    Allow-before-Disallow, specific-group-before-star order (where
    first-match file order and RFC longest-match agree)."""
    import urllib.robotparser as urp

    fixtures = [
        "User-agent: *\nDisallow: /private\nDisallow: /tmp/cache\n",
        "User-agent: omni-crawler-spark\nAllow: /private/ok\n"
        "Disallow: /private\n\nUser-agent: *\nDisallow: /\n",
        "User-agent: *\nAllow: /a/b\nDisallow: /a\nDisallow: /c\n",
        "User-agent: other-bot\nDisallow: /\n\nUser-agent: *\nDisallow:\n",
        "User-agent: *\nDisallow: /private\n# note\nDisallow: /tmp/cache\n",
    ]
    paths = [
        "/", "/private", "/private/ok", "/private/ok/deep", "/privateer",
        "/tmp/cache/x", "/tmp", "/a", "/a/b/c", "/c/d", "/open/page",
    ]
    agent = P.ROBOTS_UA
    for txt in fixtures:
        rp = urp.RobotFileParser()
        rp.parse(txt.splitlines())
        want = {
            p for p in paths
            if rp.can_fetch(agent, f"https://h.example.com{p}")
        }
        hosts_txt = spark.createDataFrame(
            [("h.example.com", txt)], "host string, robots_txt string"
        )
        f = _frontier(spark, [("h.example.com", p, 1) for p in paths])
        got = {
            r.url_canonical.split(".com", 1)[1]
            for r in P.robots_filter(f, P.host_policy(hosts_txt)).collect()
        }
        assert got == want, txt


def test_crawl_delay_parsing_pure():
    txt = (
        "User-agent: omni-crawler-spark\n"
        "Crawl-delay: 2.5\n"
        "Disallow: /x\n"
        "\n"
        "User-agent: *\n"
        "Crawl-delay: 10\n"
        "Disallow: /\n"
    )
    assert P.robots_crawl_delay_ms(txt, "omni-crawler-spark/1.0") == 2500
    assert P.robots_crawl_delay_ms(txt, "googlebot") == 10000
    assert P.robots_crawl_delay_ms("User-agent: *\nDisallow: /x\n") is None
    # a delay-only group (no rules) still governs
    assert P.robots_crawl_delay_ms("User-agent: *\nCrawl-delay: 1\n") == 1000
    # and the rules parse is unaffected by the delay line
    assert P.robots_rules_for_agent(txt, "omni-crawler-spark") == [
        ("/x", False)
    ]


def test_schedule_uses_robots_crawl_delay(spark):
    """A hosts dim with only raw robots_txt: the scheduler spaces
    lanes by the file's Crawl-delay (2 s here), default 500 ms when
    the directive is absent."""
    hosts_txt = spark.createDataFrame(
        [
            ("slowed.example.com", "User-agent: *\nCrawl-delay: 2\nDisallow: /p\n"),
            ("plain.example.com", "User-agent: *\nDisallow: /p\n"),
        ],
        "host string, robots_txt string",
    )
    f = _frontier(
        spark,
        [("slowed.example.com", f"/a{i}", 1) for i in range(3)]
        + [("plain.example.com", f"/b{i}", 1) for i in range(3)],
    )
    out = P.schedule(
        f, P.host_policy(hosts_txt), cycle_budget_ms=10**9
    ).collect()
    slowed = sorted(
        r.start_ms for r in out if r.host == "slowed.example.com"
    )
    plain = sorted(r.start_ms for r in out if r.host == "plain.example.com")
    assert slowed == [0, 2000, 4000]
    assert plain == [0, 500, 1000]


def test_crawl_delay_hostile_values_clamped():
    """Hostile/typo'd robots.txt is normal web input: huge delays
    clamp to one day (never overflowing the scheduler's int32 ms
    column), nan/inf/negative are ignored entirely."""
    mk = lambda v: f"User-agent: *\nCrawl-delay: {v}\nDisallow: /x\n"
    assert P.robots_crawl_delay_ms(mk("3000000000")) == 86_400_000
    assert P.robots_crawl_delay_ms(mk("inf")) is None
    assert P.robots_crawl_delay_ms(mk("nan")) is None
    assert P.robots_crawl_delay_ms(mk("-5")) is None
    assert P.robots_crawl_delay_ms(mk("bogus")) is None
    assert P.robots_crawl_delay_ms(mk("2.5")) == 2500


# -- RFC 9309 wildcard / end-anchor rules -----------------------------------


def test_rule_pattern_translation():
    assert P.rule_pattern("/private") is None  # literal → startswith
    assert P.rule_pattern("") is None
    assert P.rule_pattern("/*.pdf$") == r"^/.*\.pdf$"
    assert P.rule_pattern("/private*") == "^/private.*"
    assert P.rule_pattern("/a$") == "^/a$"
    # '$' not at the end is literal (escaped), not an anchor
    assert P.rule_pattern("/p$x*") == r"^/p\$x.*"


def test_robots_wildcard_and_anchor_rules(spark):
    txt = (
        "User-agent: *\n"
        "Disallow: /*.pdf$\n"
        "Disallow: /private*\n"
        "Allow: /private-ok\n"
        "Disallow: /exact$\n"
        "Allow: /tie\n"
        "Disallow: /tie$\n"
    )
    hosts_txt = spark.createDataFrame(
        [("w.example.com", txt)], "host string, robots_txt string"
    )
    cases = [
        ("/docs/file.pdf", False),      # *.pdf$ blocks
        ("/docs/file.pdfx", True),      # $ anchors: .pdfx not blocked
        ("/private/area", False),       # /private* blocks
        ("/privateer", False),          # * matches empty continuation
        ("/private-ok/page", True),     # Allow (10 octets) beats
                                        # Disallow /private* (9 octets)
        ("/exact", False),              # anchored exact match
        ("/exact/sub", True),           # anchor: subpath not blocked
        ("/tie", False),                # Disallow /tie$ (5 octets, '$'
                                        # counted) beats Allow /tie (4)
        ("/tie/x", True),               # only Allow /tie matches
        ("/other", True),
    ]
    f = _frontier(
        spark, [("w.example.com", p, 10) for p, _ in cases]
    )
    kept = {
        r.url_canonical
        for r in P.robots_filter(f, P.host_policy(hosts_txt)).collect()
    }
    for p, allowed in cases:
        url = f"https://w.example.com{p}"
        assert (url in kept) == allowed, (p, allowed)


def test_cycle_plan_runs_no_python_over_committed_hosts(spark, tmp_path):
    """Bootstrap parses a raw robots_txt dim once, into the committed
    ``hosts`` table; the cycle's robots filter and scheduler then read
    its columns, so their executed plan has no Python node."""
    raw = generate_hosts(spark).withColumn(
        "robots_txt",
        F.lit("User-agent: *\nCrawl-delay: 1\nDisallow: /private*\n"),
    )
    eng = CrawlEngine(str(tmp_path / "wh"))
    eng.bootstrap(generate_seeds(spark, 40), raw)
    hosts = eng.hosts.read(spark)
    out = P.schedule(
        P.robots_filter(eng.candidates(spark), hosts), hosts, 60_000
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert out.count() > 0
    assert inspect.getsource(P).count("pandas_udf") == 1

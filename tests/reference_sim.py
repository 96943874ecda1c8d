"""Pure-Python reference-semantics simulator.

Re-implements the crawl cycle's semantics record-at-a-time, the way
the reference engine works (SURVEY §3.1) — canonicalization, dedup,
seen-filter, robots, per-host lane scheduling, synthetic fetch,
extraction and validation — with zero Spark. The engine's distributed
output must match this simulator byte-for-byte (crawl ordering and
final seen set), which is the north rule's parity requirement under
the same seed list + politeness budget.

Kept in tests/ on purpose: it is the *oracle*, not the engine.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from omni_crawler_spark.frontier.synthetic import (
    synth_page_html,
    synth_sitemap_xml,
)
from omni_crawler_spark.frontier.xxh64 import xxh64_str

# --- canonicalization (mirror of functions/urls.py rules) -----------------


def canonicalize(url: str) -> str:
    url = url.strip()
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://(.*)$", url)
    scheme, rest = m.group(1).lower(), m.group(2)
    authority = re.match(r"^([^/?#]*)", rest).group(1)
    tail = rest[len(authority):]
    authority = re.sub(r"^[^@]*@", "", authority)
    port = ""
    pm = re.search(r":(\d+)$", authority)
    host = authority
    if pm:
        host = authority[: pm.start()]
        p = pm.group(1)
        if not ((scheme == "http" and p == "80") or (scheme == "https" and p == "443")):
            port = ":" + p
    host = re.sub(r"^www\.", "", host.lower())
    path = re.match(r"^([^?#]*)", tail).group(1) or "/"
    if path != "/":
        path = re.sub(r"/$", "", path)
    qm = re.search(r"\?([^#]*)", tail)
    query = ""
    if qm and qm.group(1) != "":
        query = "?" + "&".join(sorted(qm.group(1).split("&")))
    return f"{scheme}://{host}{port}{path}{query}"


def host_of(canonical: str) -> str:
    return re.match(r"^[a-z][a-z0-9+.-]*://([^/:?#]*)", canonical).group(1)


def path_of(canonical: str) -> str:
    return re.sub(r"^[a-z][a-z0-9+.-]*://[^/]*", "", canonical).split("?")[0]


# --- extraction/validation (mirror of frontier/fetch.py columns) ----------

_ERR_PATTERNS = [
    "page not found", "404 error", "access denied", "forbidden",
    "server error", "service unavailable",
]


def words_of(text: str) -> list[str]:
    return [w for w in re.split(r"[^a-z0-9']+", text.lower()) if w]


def clean_html(html: str) -> str:
    html = re.sub(r"(?is)<head[^>]*>.*?</head>", " ", html)
    html = re.sub(r"(?is)<(script|style|noscript|template)[^>]*>.*?</\1>", " ", html)
    html = re.sub(r"(?s)<!--.*?-->", " ", html)
    html = re.sub(r"(?s)<[^>]+>", " ", html)
    for ent, ch in [
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
    ]:
        html = html.replace(ent, ch)
    return re.sub(r"\s+", " ", html).strip()


# main-content extraction twin (content_cleaner.py:100-244 semantics;
# record-at-a-time, independent of the engine's implementation)

_AD_WORDS = (
    "advertisement|ad-container|banner-ad|popup|newsletter|subscribe"
    "|social-share|comments|share|related|recommended|popular|trending"
)
_SIM_SELECTORS = {"npr.org": ["storytext", "storycontent"],
                  **{f"host{i}.example.com": ["storytext"] for i in range(5)}}


def _el_text(inner: str) -> str:
    return re.sub(r"\s+", " ", re.sub(r"(?s)<[^>]+>", " ", inner)).strip()


def extract_main(html: str, domain: str) -> str | None:
    s = re.sub(
        r"(?is)<(script|style|noscript|template|nav|header|footer|aside"
        r"|form|iframe|svg|button)[^>]*>.*?</\1>", " ", html)
    s = re.sub(
        rf'(?is)<(\w+)[^>]*\b(?:class|id)="[^"]*(?:{_AD_WORDS})[^"]*"'
        r"[^>]*>.*?</\1>", " ", s)
    s = re.sub(r"(?i)<(?:meta|link|img|source|audio|video)\b[^>]*>", " ", s)
    dom = re.sub(r"^www\.", "", domain.lower())
    for cls in _SIM_SELECTORS.get(dom, []):
        parts = []
        for m in re.finditer(
            rf'(?is)<(\w+)[^>]*class="[^"]*{cls}[^"]*"[^>]*>(.*?)</\1>', s
        ):
            t = _el_text(m.group(2))
            if t and len(t) > 50:
                parts.append(t)
        if parts and len(" ".join(parts)) > 200:
            return " ".join(parts)
    for container in ("article", "main"):
        parts = []
        for m in re.finditer(rf"(?is)<{container}[^>]*>(.*?)</{container}>", s):
            for pm in re.finditer(r"(?is)<p[^>]*>(.*?)</p>", m.group(1)):
                t = _el_text(pm.group(1))
                if t and len(t) > 20:
                    parts.append(t)
        if parts and len(" ".join(parts)) > 200:
            return " ".join(parts)
    parts = []
    for pm in re.finditer(r"(?is)<p[^>]*>(.*?)</p>", s):
        t = _el_text(pm.group(1))
        if t and 50 < len(t) < 1000:
            parts.append(t)
    return " ".join(parts) if parts else None


def clean_text(text: str) -> str:
    for ent, ch in [
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
    ]:
        text = text.replace(ent, ch)
    for pat in [
        r"ADVERTISEMENT", r"Sign up for.*?newsletter", r"Follow us on",
        r"Download Embed", r"Listen · \d+:\d+", r"Transcript",
    ]:
        text = re.sub(pat, "", text, flags=re.IGNORECASE | re.DOTALL)
    return re.sub(r"\s+", " ", text).strip()


def clean_content(html: str, domain: str) -> str:
    """Full clean: main-content cascade, basic-clean fallback."""
    body = re.sub(r"(?is)<head[^>]*>.*?</head>", " ", html)
    main = extract_main(body, domain)
    if main is not None and len(main.strip()) >= 100:
        return clean_text(main)
    return clean_html(body)


def extract_title(html: str, domain: str) -> str:
    m = re.search(r"(?is)<title[^>]*>(.*?)</title>", html)
    t = re.sub(r"\s+", " ", m.group(1)).strip()[:500] if m else ""
    return t if t else f"Article from {domain}"


def validate(html: str, host: str) -> tuple[bool, str, str]:
    content = clean_content(html, host)
    title = extract_title(html, host)
    lc = content.lower()
    if len(content) < 200 or len(words_of(content)) < 50:
        return False, title, content
    if any(p in lc for p in _ERR_PATTERNS):
        return False, title, content
    sents = [s for s in re.split(r"(?<=[.!?])\s+", content) if s.strip()]
    n_sent = len(sents)
    if n_sent < 2:
        return False, title, content
    avg = len(words_of(content)) / n_sent
    if not (3 < avg < 50):
        return False, title, content
    if len(title) < 10:
        return False, title, content
    return True, title, content


# --- the cycle simulator --------------------------------------------------


@dataclass
class SimResult:
    order: list[tuple]  # (cycle, start_ms, host, lane, seq, url)
    seen: set[str] = field(default_factory=set)
    stored: list[str] = field(default_factory=list)


def simulate(
    seeds: list[dict],
    hosts: dict[str, dict],
    cycle_budget_ms: int,
    n_cycles: int,
) -> SimResult:
    from datetime import datetime as _dt

    res = SimResult(order=[])
    # frontier entries: dicts with url, priority, discovery_ts, source
    frontier = [dict(s) for s in seeds]
    # robots Sitemap: directives seed the frontier at bootstrap
    # (mirror of CrawlEngine.bootstrap)
    for host in sorted(hosts):
        txt = hosts[host].get("robots_txt")
        if txt:
            for sm in re.findall(r"(?im)^\s*Sitemap:\s*(\S+)", txt):
                frontier.append(
                    {
                        "url": sm,
                        "priority": 10,
                        "source": "sitemap-robots",
                        "discovery_ts": _dt(2025, 1, 1),
                    }
                )
    for s in frontier:
        s["canonical"] = canonicalize(s["url"])
        s["hash"] = xxh64_str(s["canonical"])
    seen_hashes: set[int] = set()

    for cycle in range(1, n_cycles + 1):
        # dedup keep max_by (priority, -ts, url)
        best: dict[int, dict] = {}
        for s in frontier:
            key = s["hash"]
            rank = (s["priority"], -s["discovery_ts"].timestamp(), s["canonical"])
            if key not in best or rank > best[key]["_rank"]:
                s2 = dict(s)
                s2["_rank"] = rank
                best[key] = s2
        cand = [s for s in best.values() if s["hash"] not in seen_hashes]
        # robots
        allowed = []
        for s in cand:
            h = host_of(s["canonical"])
            cfg = hosts.get(h, {"crawl_delay_ms": 500, "max_parallel": 1,
                              "robots_disallow": []})
            if any(path_of(s["canonical"]).startswith(p)
                   for p in cfg["robots_disallow"]):
                continue
            s["host"] = h
            s["lane"] = xxh64_str(s["canonical"]) % cfg["max_parallel"]
            s["delay"] = cfg["crawl_delay_ms"]
            allowed.append(s)
        # schedule per (host, lane)
        lanes: dict[tuple, list] = {}
        for s in allowed:
            lanes.setdefault((s["host"], s["lane"]), []).append(s)
        scheduled, deferred = [], []
        for (h, lane), rows in lanes.items():
            rows.sort(
                key=lambda r: (-r["priority"], r["discovery_ts"], r["canonical"])
            )
            for idx, r in enumerate(rows):
                r["crawl_seq"] = idx + 1
                r["start_ms"] = idx * max(r["delay"], 1)
                (scheduled if r["start_ms"] < cycle_budget_ms else deferred).append(r)
        # fetch + validate + link discovery
        from datetime import datetime, timedelta

        link_ts = datetime(2025, 6, 1) + timedelta(days=cycle)
        discovered = []
        for r in scheduled:
            seen_hashes.add(r["hash"])
            res.seen.add(r["canonical"])
            if path_of(r["canonical"]) == "/sitemap.xml":
                # sitemap fetch: <loc> entries flow through the same
                # discovery path as page links; no article stored
                xml = synth_sitemap_xml(r["host"], r["hash"])
                for loc in re.findall(r"(?i)<loc>([^<]*)</loc>", xml):
                    canonical = canonicalize(loc)
                    discovered.append(
                        {
                            "url": loc,
                            "canonical": canonical,
                            "hash": xxh64_str(canonical),
                            "priority": 3,
                            "source": "link",
                            "discovery_ts": link_ts,
                        }
                    )
                continue
            status, html = synth_page_html(r["hash"], r["crawl_seq"])
            if status != 200:
                continue
            for p in re.findall(r'(?i)<a href="(/[^"]*)"', html):
                url = f"https://{r['host']}{p}"
                canonical = canonicalize(url)
                discovered.append(
                    {
                        "url": url,
                        "canonical": canonical,
                        "hash": xxh64_str(canonical),
                        "priority": 3,
                        "source": "link",
                        "discovery_ts": link_ts,
                    }
                )
            ok, title, content = validate(html, r["host"])
            if ok:
                res.order.append(
                    (cycle, r["start_ms"], r["host"], r["lane"],
                     r["crawl_seq"], r["canonical"])
                )
                res.stored.append(r["canonical"])
        frontier = deferred + discovered
    res.order.sort(key=lambda t: (t[0], t[1], t[2], t[3], t[4]))
    return res

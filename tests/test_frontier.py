"""Frontier core tests: hash parity, bloom correctness, politeness
scheduling, and the north-rule parity check — the distributed engine's
crawl ordering and final seen set must be byte-identical to the
pure-Python reference simulator on the same seed list + budget."""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from omni_crawler_spark.frontier import bloom as B
from omni_crawler_spark.frontier.crawl import CrawlEngine
from omni_crawler_spark.frontier.synthetic import generate_hosts, generate_seeds
from tests.xxh64 import xxh64_str
from omni_crawler_spark.functions import urls as U
from omni_crawler_spark.lakehouse import SnapshotTable
from omni_crawler_spark.search_index import SearchIndex

from tests import reference_sim as SIM

N_SEEDS = 1200
BUDGET_MS = 20_000
N_CYCLES = 3


def test_xxh64_matches_spark(spark):
    vals = ["", "a", "hello", "https://h.example.com/x?a=1", "τ unicode ✓", "y" * 50]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", F.xxhash64("s").alias("h")
    )
    for r in df.collect():
        assert r.h == xxh64_str(r.s)


def test_canonicalize_matches_python_sim(spark):
    seeds = generate_seeds(spark, 500)
    rows = (
        seeds.select(
            "url", U.canonicalize_url(F.col("url")).alias("canon")
        )
        .collect()
    )
    for r in rows:
        assert r.canon == SIM.canonicalize(r.url), r.url


def test_bloom_no_false_negatives(spark):
    seen = spark.range(0, 5000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    blm = B.merge_bloom(
        None, seen, num_buckets=16, capacity_per_bucket=5000 // 16
    )
    # every seen key must report maybe_seen=True (no false negatives)
    probed = B.probe_bloom(seen, blm, num_buckets=16)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    # unseen keys: false-positive rate must be near fpp (1%)
    unseen = spark.range(100000, 105000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp = B.probe_bloom(unseen, blm, num_buckets=16).filter(
        F.col("maybe_seen")
    ).count()
    assert fp / 5000 < 0.05


def test_seen_filter_exact_semantics(spark, tmp_path):
    """bloom + exact anti-join ≡ plain left_anti — the bloom is an
    optimization, never a semantics change. The probe runs in the JVM
    and runs once: the executed plan has no Python node and scans the
    bloom table once."""
    cand = spark.range(0, 3000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    seen = spark.range(1500, 4000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    table = SnapshotTable(str(tmp_path / "bloom"), "bloom")
    table.overwrite(
        B.merge_bloom(None, seen, num_buckets=8, capacity_per_bucket=2500 // 8)
    )
    out = B.seen_filter(cand, seen, table.read(spark), num_buckets=8)
    with_bloom = sorted(r.url_hash for r in out.collect())
    exact = sorted(
        r.url_hash for r in cand.join(seen, "url_hash", "left_anti").collect()
    )
    assert with_bloom == exact
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan, plan
    assert plan.split("== Initial Plan ==")[0].count("FileScan parquet") == 1, plan


@pytest.mark.parametrize("num_buckets", [B.DEFAULT_BUCKETS, 4096])
def test_bloom_fpr_at_capacity(spark, num_buckets):
    """One bucket of the default capacity filled to capacity answers
    unseen keys of the same bucket at the designed FPR. All keys share
    the bucket bits (low bits 0 → bucket 0), so probe positions that
    reuse them would concentrate on a fraction of the bits."""
    cap = inspect.signature(B.merge_bloom).parameters["capacity_per_bucket"].default

    def keys(lo, n):
        return spark.range(lo, lo + n).select(
            F.xxhash64("id").bitwiseAND(F.lit(-num_buckets)).alias("url_hash")
        )

    blm = B.merge_bloom(None, keys(0, cap), num_buckets=num_buckets)
    n = 200_000
    fp = (
        B.probe_bloom(keys(10**9, n), blm, num_buckets=num_buckets)
        .filter("maybe_seen")
        .count()
    )
    assert fp / n <= 1.2 * B.DEFAULT_FPP


def test_bloom_refuses_buckets_sharing_position_bits(spark):
    """Positions read key bits 12 and up, so a bucket count whose
    power-of-two factor exceeds 4096 would fix some of them."""
    keys = spark.range(10).select(F.col("id").alias("url_hash"))
    with pytest.raises(ValueError, match="num_buckets=8192"):
        B.merge_bloom(None, keys, num_buckets=8192)
    B.merge_bloom(None, keys, num_buckets=3 * 4096)  # factor 4096 is fine


def test_old_format_bloom_fails_loudly(spark, tmp_path):
    """A bloom still holding ``binary`` bitmaps is refused with the fix
    named. Read as empty, it would clear every seen URL for refetch."""
    table = SnapshotTable(str(tmp_path / "bloom"), "bloom")
    table.overwrite(spark.createDataFrame(
        [(0, 1, 64, 1, bytearray(8))],
        "bucket int, n_keys long, m_bits long, k_hashes int, bitmap binary",
    ))
    old = table.read(spark)
    keys = spark.range(10).select(F.col("id").alias("url_hash"))
    with pytest.raises(ValueError, match=r"merge_bloom\(None, <full seen>\)"):
        B.seen_filter(keys, keys, old)
    with pytest.raises(ValueError, match=r"merge_bloom\(None, <full seen>\)"):
        B.merge_bloom(old, keys)


def test_clean_content_parity_and_boilerplate_removed():
    """Engine clean (fetch.py cascade) ≡ simulator clean per page, and
    nav/ad/footer boilerplate never reaches the stored content."""
    from omni_crawler_spark.frontier import fetch as FX
    from omni_crawler_spark.frontier.synthetic import synth_page_html

    n_main_path = 0
    for h in range(400):
        url_hash = xxh64_str(f"probe-{h}")
        host = f"host{h % 9}.example.com"
        status, html = synth_page_html(url_hash, 1)
        if status != 200:
            continue
        rec = FX.process_page(
            f"https://{host}/x-{h}", host, url_hash, 1
        )
        sim_content = SIM.clean_content(html, host)
        assert rec["content"] == sim_content, (h, host)
        for junk in ("ADVERTISEMENT", "Trending Now", "Follow us",
                     "Example Media", "newsletter"):
            assert junk not in rec["content"], (h, junk)
        if FX.extract_main_content_py(html, host) is not None:
            n_main_path += 1
    # the cascade must actually fire on the article pages, including
    # the domain-selector variant on host0-4
    assert n_main_path > 200


def test_engine_fallback_chain():
    """multi_engine_crawler.py:29-53 semantics: engine-1 failures are
    recovered by the next engine; the fetched page (and so the drain's
    validated counts) are identical whichever engine wins."""
    from omni_crawler_spark.frontier import fetch as FX

    engines_seen = set()
    for h in range(2000):
        url_hash = xxh64_str(f"eng-{h}")
        eng, attempts = FX.engine_for(url_hash)
        assert eng in FX.ENGINE_CHAIN
        assert attempts == FX.ENGINE_CHAIN.index(eng) + 1
        engines_seen.add(eng)
        # deterministic: same answer every call
        assert FX.engine_for(url_hash) == (eng, attempts)
    # all three engines exercised: ~15% fall past requests, ~4.5% to selenium
    assert engines_seen == set(FX.ENGINE_CHAIN)
    # recovery leaves the article record intact: content equals the
    # single-engine simulator output regardless of which engine won
    for h in range(50):
        url_hash = xxh64_str(f"eng-{h}")
        host = "host7.example.com"
        rec = FX.process_page(f"https://{host}/e-{h}", host, url_hash, 1)
        _, html = FX.synth_page_html(url_hash, 1)
        assert rec["content"] == SIM.clean_content(html, host)
        assert rec["crawler_engine"] == FX.engine_for(url_hash)[0]


@pytest.fixture(scope="module")
def crawl_outputs(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    eng = CrawlEngine(wh, cycle_budget_ms=BUDGET_MS)
    eng.bootstrap(generate_seeds(spark, N_SEEDS), generate_hosts(spark))
    for c in range(1, N_CYCLES + 1):
        eng.run_cycle(spark, c)
    return spark, eng


@pytest.fixture(scope="module")
def sim_outputs(spark):
    seeds = [
        {
            "url": r.url,
            "priority": r.priority,
            "discovery_ts": r.discovery_ts,
            "source": r.source,
        }
        for r in generate_seeds(spark, N_SEEDS).collect()
    ]
    hosts = {
        r.host: {
            "crawl_delay_ms": r.crawl_delay_ms,
            "max_parallel": r.max_parallel,
            "robots_disallow": list(r.robots_disallow),
        }
        for r in generate_hosts(spark).collect()
    }
    return SIM.simulate(seeds, hosts, BUDGET_MS, N_CYCLES)


def test_crawl_order_byte_identical_to_reference(crawl_outputs, sim_outputs):
    spark, eng = crawl_outputs
    engine_order = [
        (r.cycle_id, r.start_ms, r.host, r.lane, r.crawl_seq, r.url_canonical)
        for r in eng.fetched.read(spark)
        .filter(F.col("valid"))
        .orderBy("cycle_id", "start_ms", "host", "lane", "crawl_seq")
        .collect()
    ]
    assert engine_order == sim_outputs.order


def test_seen_set_identical_to_reference(crawl_outputs, sim_outputs):
    spark, eng = crawl_outputs
    engine_seen = {
        r.url_canonical for r in eng.seen.read(spark).collect()
    }
    assert engine_seen == sim_outputs.seen


def test_lineage_partition_counts(crawl_outputs):
    spark, eng = crawl_outputs
    lin = eng.lineage.read(spark).filter(F.col("phase") == "fetch+validate")
    agg = lin.agg(
        F.sum("n_in").alias("n_in"), F.sum("n_out").alias("n_out")
    ).collect()[0]
    stored = eng.fetched.read(spark).filter(F.col("valid")).count()
    assert agg.n_out == stored
    assert agg.n_in >= agg.n_out


def test_engine_telemetry_persisted(crawl_outputs):
    """The multi-engine fallback telemetry (crawler_engine,
    n_engine_attempts) must survive into the fetched table — it was
    computed in process_page but dropped by the append select list."""
    spark, eng = crawl_outputs
    fetched = eng.fetched.read(spark)
    assert {"crawler_engine", "n_engine_attempts"} <= set(fetched.columns)
    engines = {
        r.crawler_engine
        for r in fetched.select("crawler_engine").distinct().collect()
    }
    assert engines and engines <= {"requests", "enhanced", "selenium"}


def _order_and_seen(spark, eng):
    order = [
        (r.cycle_id, r.start_ms, r.host, r.lane, r.crawl_seq, r.url_canonical)
        for r in eng.fetched.read(spark)
        .filter(F.col("valid"))
        .orderBy("cycle_id", "start_ms", "host", "lane", "crawl_seq")
        .collect()
    ]
    seen = {r.url_canonical for r in eng.seen.read(spark).collect()}
    return order, seen


def test_frontier_incremental_commits_equivalent(spark, tmp_path):
    """The append-log frontier (compaction every 8th cycle) must
    yield the same crawl order and seen set as the round-2
    overwrite-every-cycle behavior (compact_every=1): liveness is
    fully resolved on read (dedup + seen anti-join + robots filter),
    so skipping the rewrite cannot change what gets scheduled."""
    outs = []
    for k in (1, 8):
        eng = CrawlEngine(
            str(tmp_path / f"wh{k}"),
            cycle_budget_ms=4000,
            frontier_compact_every=k,
        )
        eng.bootstrap(generate_seeds(spark, 500), generate_hosts(spark))
        for c in (1, 2, 3):
            eng.run_cycle(spark, c)
        outs.append(_order_and_seen(spark, eng))
    assert outs[0] == outs[1]


def test_frontier_commit_bytes_scale_with_delta(spark, tmp_path):
    """Per-cycle frontier write cost must scale with the cycle's
    discovery delta, not the frontier size: with a big deferred
    backlog (small budget, many seeds) an append cycle writes a small
    fraction of the live frontier's bytes. The lineage table records
    the same evidence per cycle (phase frontier-commit:*)."""
    eng = CrawlEngine(
        str(tmp_path / "wh"),
        cycle_budget_ms=1500,
        frontier_compact_every=1000,  # never compact during the test
    )
    eng.bootstrap(generate_seeds(spark, 3000), generate_hosts(spark))
    s1 = eng.run_cycle(spark, 1)
    s2 = eng.run_cycle(spark, 2)
    assert s1["frontier_commit_op"] == "append"
    assert s2["frontier_commit_op"] == "append"
    # total bytes of the live frontier log vs the last delta
    total = sum(
        eng.frontier.delta_bytes(v)
        for v in range(1, eng.frontier.current_version() + 1)
    )
    assert s2["frontier_commit_bytes"] < 0.5 * total
    # lineage carries the per-cycle write-amplification rows
    lin = {
        (r.cycle_id, r.phase): r.n_out
        for r in eng.lineage.read(spark)
        .filter(F.col("phase").startswith("frontier-commit"))
        .collect()
    }
    assert lin[(1, "frontier-commit:append")] == s1["frontier_commit_bytes"]
    assert lin[(2, "frontier-commit:append")] == s2["frontier_commit_bytes"]


def test_incremental_index_matches_batch_and_searches(spark, tmp_path):
    """run_cycle(maintain_index=True) appends each cycle's postings
    (O(delta) index maintenance); the deletion-vector live view in
    CrawlEngine.search must equal a batch index built over each
    article's newest fetch — exercised through a blanket re-crawl
    (reset_seen) so stale cycle-1 postings exist and must lose."""
    from omni_crawler_spark import search as SE

    eng = CrawlEngine(
        str(tmp_path / "wh"), cycle_budget_ms=3000, maintain_index=True,
        frontier_compact_every=2,  # cycle 2 exercises EVERY compaction
        # path: frontier overwrite, seen rewrite, index vector-fold
    )
    eng.bootstrap(generate_seeds(spark, 300), generate_hosts(spark))
    eng.run_cycle(spark, 1)
    eng.reset_seen(spark, "recrawl")  # cycle 2 refetches (new content)
    eng.run_cycle(spark, 2)

    arts = eng.fetched.read(spark).filter(F.col("valid"))
    newest_fetch = arts.groupBy("url_hash").agg(
        F.max("cycle_id").alias("cycle_id")
    )
    latest_arts = arts.join(newest_fetch, ["url_hash", "cycle_id"])
    batch = SE.build_inverted_index(
        latest_arts,
        fields={"title": 30, "content": 20, "caption": 15},
        id_col="url_hash",
    )
    live = eng.index.live(spark)
    cols = ["url_hash", "fld", "boost10", "tok"]
    assert {tuple(r) for r in live.select(*cols).collect()} == {
        tuple(r) for r in batch.select(*cols).collect()
    }
    # cycle 2 hit the compaction cadence: vectors folded physically,
    # so the RAW table equals the live view too
    assert eng.index.table.read(spark).select(*cols).count() == live.count()
    # the index actually serves queries (exact + fuzzy probe)
    hits = eng.search(spark, "market").collect()
    assert hits and all(r.score > 0 for r in hits)
    assert eng.search(spark, "marekt").count() > 0  # fuzzy via vocab
    # the engine's index is a SearchIndex: its params marker refuses
    # a reopen under other field boosts
    with pytest.raises(ValueError, match="search index"):
        SearchIndex(
            str(tmp_path / "wh" / "index"),
            fields={"title": 10, "content": 10},
            id_col="url_hash",
        )


def test_resume_after_partial_derived_commit_crash(spark, tmp_path):
    """Crash INSIDE the concurrent derived-commit fan-out: some
    commits land, one fails, the cycle raises. Re-running the same
    cycle must complete exactly the missing commits (idempotent
    op_ids) and end byte-identical to a never-crashed engine."""
    seeds, hosts = generate_seeds(spark, 400), generate_hosts(spark)

    eng = CrawlEngine(str(tmp_path / "wh"), cycle_budget_ms=BUDGET_MS)
    eng.bootstrap(seeds, hosts)
    real_append = eng.lineage.append
    calls = {"n": 0}

    def exploding_append(df, op_id=None):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash: lineage commit")
        return real_append(df, op_id=op_id)

    eng.lineage.append = exploding_append  # type: ignore[method-assign]
    with pytest.raises(RuntimeError, match="injected crash"):
        eng.run_cycle(spark, 1)
    # partial state: fetched/plan landed, lineage did not
    assert eng.fetched.current_version() > 0
    assert eng.lineage.is_empty()
    eng.lineage.append = real_append  # type: ignore[method-assign]
    eng.run_cycle(spark, 1)  # replay completes the cycle

    ref = CrawlEngine(str(tmp_path / "ref"), cycle_budget_ms=BUDGET_MS)
    ref.bootstrap(seeds, hosts)
    ref.run_cycle(spark, 1)
    assert _order_and_seen(spark, eng) == _order_and_seen(spark, ref)
    assert eng.fetched.read(spark).count() == ref.fetched.read(spark).count()
    lin = lambda e: sorted(  # noqa: E731
        (r.phase, r.n_in, r.n_out)
        for r in e.lineage.read(spark).collect()
    )
    assert lin(eng) == lin(ref)


def test_resume_idempotent_cycle(spark, tmp_path):
    """Re-running a committed cycle must be a no-op (crash-replay
    safety): same snapshot versions, same row counts."""
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(wh, cycle_budget_ms=BUDGET_MS)
    eng.bootstrap(generate_seeds(spark, 400), generate_hosts(spark))
    eng.run_cycle(spark, 1)
    v_fetched = eng.fetched.current_version()
    n_fetched = eng.fetched.read(spark).count()
    n_seen = eng.seen.read(spark).count()
    # simulate crash-after-commit + replay of the same cycle
    eng2 = CrawlEngine(wh, cycle_budget_ms=BUDGET_MS)
    eng2.run_cycle(spark, 1)
    assert eng2.fetched.current_version() == v_fetched
    assert eng2.fetched.read(spark).count() == n_fetched
    assert eng2.seen.read(spark).count() == n_seen


def test_cycle_counts_match_committed_snapshots(spark, tmp_path):
    """run_cycle's pooled counts: ``n_scheduled`` is the cycle's
    scheduled ``plan`` rows, ``n_stored`` its valid ``fetched`` rows,
    on append and compaction cycles alike; replaying a committed
    cycle, the last or an older one, returns that cycle's two counts."""
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(wh, cycle_budget_ms=3000, frontier_compact_every=2)
    eng.bootstrap(generate_seeds(spark, 500), generate_hosts(spark))
    counts = {}
    for c in (1, 2, 3):
        stats = eng.run_cycle(spark, c)
        counts[c] = (stats["n_scheduled"], stats["n_stored"])
        plan = eng.plan.read(
            spark, version=eng.plan.version_of(f"cycle-{c:05d}-plan")
        )
        fetched = eng.fetched.read(spark).filter(F.col("cycle_id") == c)
        assert counts[c] == (
            plan.filter(F.col("scheduled")).count(),
            fetched.filter(F.col("valid")).count(),
        )
        assert 0 < counts[c][1] <= counts[c][0]
    for c in (3, 1):
        replay = CrawlEngine(
            wh, cycle_budget_ms=3000, frontier_compact_every=2
        )
        stats = replay.run_cycle(spark, c)
        assert (stats["n_scheduled"], stats["n_stored"]) == counts[c]


def test_resume_continues_from_snapshot(spark, tmp_path):
    """Cycles 1..2 run in one engine, cycle 3 in a fresh engine over
    the same warehouse → identical final state to an uninterrupted
    3-cycle run."""
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")
    seeds, hosts = generate_seeds(spark, 400), generate_hosts(spark)
    ea = CrawlEngine(wh_a, cycle_budget_ms=5_000)
    ea.bootstrap(seeds, hosts)
    for c in (1, 2, 3):
        ea.run_cycle(spark, c)
    eb = CrawlEngine(wh_b, cycle_budget_ms=5_000)
    eb.bootstrap(seeds, hosts)
    for c in (1, 2):
        eb.run_cycle(spark, c)
    eb2 = CrawlEngine(wh_b, cycle_budget_ms=5_000)  # "restart"
    eb2.run_cycle(spark, 3)
    a = sorted(r.url_canonical for r in ea.fetched.read(spark).collect())
    b = sorted(r.url_canonical for r in eb2.fetched.read(spark).collect())
    assert a == b
    sa = {r.url_canonical for r in ea.seen.read(spark).collect()}
    sb = {r.url_canonical for r in eb2.seen.read(spark).collect()}
    assert sa == sb


def test_incremental_bloom_covers_all_seen(spark, tmp_path):
    """Folding each cycle's seen keys into the bloom through chained
    ``merge_bloom`` calls must report maybe_seen for EVERY seen key (no
    false negatives across merges) — the correctness contract of the
    incremental maintenance. The keys are a real crawl's: the seen
    commits of three engine cycles."""
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(wh, cycle_budget_ms=4_000)
    eng.bootstrap(generate_seeds(spark, 600), generate_hosts(spark))
    blm = None
    for c in (1, 2, 3):
        eng.run_cycle(spark, c)
        v = eng.seen.version_of(f"cycle-{c:05d}-seen")
        blm = B.merge_bloom(blm, eng.seen.read_delta(spark, v).select("url_hash"))
    seen = eng.seen.read(spark).select("url_hash")
    probed = B.probe_bloom(seen, blm)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    # and unseen keys still mostly clear (fpp sane after merges)
    unseen = spark.range(10_000_000, 10_003_000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash")
    )
    fp = B.probe_bloom(unseen, blm).filter(F.col("maybe_seen")).count()
    assert fp / 3000 < 0.05


def test_engine_neither_reads_nor_writes_the_bloom(spark, tmp_path):
    """The seen filter is the exact anti-join alone: a warehouse whose
    ``bloom`` table holds an old-format ``bitmap binary`` row (which
    ``bloom.py`` refuses to probe or merge) crawls three cycles without
    error, leaves the bloom table's version and files untouched, and
    ends with the seen set and crawl order of a fresh warehouse."""
    seeds, hosts = generate_seeds(spark, 400), generate_hosts(spark)
    eng = CrawlEngine(str(tmp_path / "old"), cycle_budget_ms=BUDGET_MS)
    eng.bloom.overwrite(spark.createDataFrame(
        [(0, 1, 64, 1, bytearray(8))],
        "bucket int, n_keys long, m_bits long, k_hashes int, bitmap binary",
    ))
    eng.bootstrap(seeds, hosts)
    v_bloom = eng.bloom.current_version()
    bloom_data = tmp_path / "old" / "bloom" / "data"
    files = sorted(p.relative_to(bloom_data) for p in bloom_data.rglob("*.parquet"))
    ref = CrawlEngine(str(tmp_path / "fresh"), cycle_budget_ms=BUDGET_MS)
    ref.bootstrap(seeds, hosts)
    for c in range(1, N_CYCLES + 1):
        eng.run_cycle(spark, c)
        ref.run_cycle(spark, c)
    assert eng.bloom.current_version() == v_bloom
    assert sorted(
        p.relative_to(bloom_data) for p in bloom_data.rglob("*.parquet")
    ) == files
    assert ref.bloom.is_empty()
    assert _order_and_seen(spark, eng) == _order_and_seen(spark, ref)


def test_recrawl_updates_articles_in_place(spark, tmp_path):
    """S5 end-to-end: the keyed articles store shows one current row
    per URL across re-crawls (ON CONFLICT DO UPDATE), while the
    append-only fetched log keeps every attempt."""
    wh = str(tmp_path / "wh")
    eng = CrawlEngine(wh, cycle_budget_ms=10**9, maintain_articles=True)
    seeds, hosts = generate_seeds(spark, 300), generate_hosts(spark)
    eng.bootstrap(seeds, hosts)
    eng.run_cycle(spark, 1)
    n_articles_1 = eng.articles.read(spark).count()
    n_fetched_1 = eng.fetched.read(spark).count()
    assert n_articles_1 > 0
    # operational re-crawl: expire the seen set, re-seed, run again
    eng.reset_seen(spark, "recrawl")
    eng.add_seeds(seeds, op_id="recrawl-seeds")
    eng.run_cycle(spark, 2)
    # the log grew; the keyed store still has one row per url_hash
    assert eng.fetched.read(spark).count() > n_fetched_1
    arts = eng.articles.read(spark)
    assert arts.count() == arts.select("url_hash").distinct().count()
    # every re-fetched valid URL's article row is the cycle-2 version
    refetched = (
        eng.fetched.read(spark)
        .filter((F.col("cycle_id") == 2) & F.col("valid"))
        .select("url_hash")
        .distinct()
    )
    from pyspark.sql import functions as _F
    stale = (
        eng.articles.read(spark, _resolve=False)
        .join(refetched, "url_hash", "left_semi")
        .groupBy("url_hash")
        .agg(_F.max("_v").alias("vmax"))
        .filter(_F.col("vmax") < 2)  # no winning row older than cycle 2's commit
    )
    # resolve picks max _v per key, and cycle-2 commits have higher _v
    assert stale.count() == 0


def test_articles_compact_on_the_engine_cadence(spark, tmp_path):
    """The keyed articles store compacts on the same cadence as every
    other table: with frontier_compact_every=2, cycle 2 commits
    ``cycle-00002-compact`` right after its upsert, folding the
    re-crawl's superseded rows without changing the keyed view."""
    eng = CrawlEngine(
        str(tmp_path / "wh"), cycle_budget_ms=10**9,
        maintain_articles=True, frontier_compact_every=2,
    )
    seeds, hosts = generate_seeds(spark, 300), generate_hosts(spark)
    eng.bootstrap(seeds, hosts)
    eng.run_cycle(spark, 1)
    assert eng.articles.version_of("cycle-00001-compact") is None
    eng.reset_seen(spark, "recrawl")  # cycle 2 re-upserts known keys
    eng.add_seeds(seeds, op_id="recrawl-seeds")
    eng.run_cycle(spark, 2)
    v_upsert = eng.articles.version_of("cycle-00002-articles")
    v_compact = eng.articles.version_of("cycle-00002-compact")
    assert v_compact == v_upsert + 1
    before = eng.articles.read(spark, version=v_upsert)
    after = eng.articles.read(spark, version=v_compact)
    assert before.count() == after.count() > 0
    assert before.exceptAll(after).count() == 0
    # the fold dropped every superseded row
    def raw_rows(v: int) -> int:
        return eng.articles.read(spark, version=v, _resolve=False).count()

    assert raw_rows(v_compact) == after.count() < raw_rows(v_upsert)


def test_retention_bounds_manifests_preserves_crawl(spark, tmp_path):
    """Compaction-cycle retention (expire_snapshots + remove_orphans)
    bounds the frontier's manifest count over a long drain WITHOUT
    changing what gets crawled: same crawl order and seen set as an
    engine that never expires, and replaying the last cycle after
    retention is still a no-op."""
    outs = []
    for name, keep in (("keepall", None), ("tight", 2)):
        eng = CrawlEngine(
            str(tmp_path / name),
            cycle_budget_ms=4000,
            frontier_compact_every=1,  # maintenance every cycle
            retention_keep_last=keep if keep else 10**6,
        )
        eng.bootstrap(generate_seeds(spark, 400), generate_hosts(spark))
        for c in (1, 2, 3, 4):
            eng.run_cycle(spark, c)
        outs.append(_order_and_seen(spark, eng))
        if keep:
            assert len(eng.frontier._snapshot_files()) <= 2
            # replay of the newest cycle is still a no-op after expiry
            v = eng.frontier.current_version()
            eng.run_cycle(spark, 4)
            assert eng.frontier.current_version() == v
    assert outs[0] == outs[1]


def test_sitemap_directives_feed_discovery(spark, tmp_path):
    """A hosts dim whose robots_txt carries Sitemap: lines yields
    those sitemaps' <loc> entries in the next cycle's frontier —
    byte-identical to the reference simulator end to end (the
    no-Sitemap byte-parity case is the module fixtures above)."""
    n = 80
    hosts_df = generate_hosts(spark).withColumn(
        "robots_txt",
        F.concat(
            F.lit("User-agent: *\nDisallow: /private\n\nSitemap: https://"),
            F.col("host"),
            F.lit("/sitemap.xml\n"),
        ),
    )
    eng = CrawlEngine(str(tmp_path / "wh"), cycle_budget_ms=BUDGET_MS)
    eng.bootstrap(generate_seeds(spark, n), hosts_df)
    for c in (1, 2):
        eng.run_cycle(spark, c)

    seeds = [
        {
            "url": r.url,
            "priority": r.priority,
            "discovery_ts": r.discovery_ts,
            "source": r.source,
        }
        for r in generate_seeds(spark, n).collect()
    ]
    hosts = {
        r.host: {
            "crawl_delay_ms": r.crawl_delay_ms,
            "max_parallel": r.max_parallel,
            "robots_disallow": list(r.robots_disallow),
            "robots_txt": r.robots_txt,
        }
        for r in hosts_df.collect()
    }
    sim = SIM.simulate(seeds, hosts, BUDGET_MS, 2)

    engine_order = [
        (r.cycle_id, r.start_ms, r.host, r.lane, r.crawl_seq, r.url_canonical)
        for r in eng.fetched.read(spark)
        .filter(F.col("valid"))
        .orderBy("cycle_id", "start_ms", "host", "lane", "crawl_seq")
        .collect()
    ]
    assert engine_order == sim.order
    engine_seen = {r.url_canonical for r in eng.seen.read(spark).collect()}
    assert engine_seen == sim.seen

    # the sitemap URLs themselves were fetched in cycle 1 (invalid —
    # they are not articles) and their <loc> links entered the
    # cycle-2 frontier: at least one loc URL got fetched/seen
    sm = eng.fetched.read(spark).filter(
        F.col("url_canonical").endswith("/sitemap.xml")
    )
    sm_rows = sm.collect()
    assert len(sm_rows) > 0
    assert all(not r.valid and r.category == "sitemap" for r in sm_rows)
    assert all(len(r.links) >= 3 for r in sm_rows)
    loc_urls = {
        SIM.canonicalize(u) for r in sm_rows for u in r.links
    }
    fetched_c2 = {
        r.url_canonical
        for r in eng.fetched.read(spark)
        .filter(F.col("cycle_id") == 2)
        .collect()
    }
    assert loc_urls & fetched_c2  # sitemap discoveries were crawled


def test_bootstrap_sitemap_seeding_idempotent(spark, tmp_path):
    """A replayed bootstrap (same op_ids) must not duplicate the
    robots-sitemap frontier seeds."""
    hosts_df = generate_hosts(spark).withColumn(
        "robots_txt",
        F.concat(
            F.lit("User-agent: *\nDisallow: /private\n\nSitemap: https://"),
            F.col("host"),
            F.lit("/sitemap.xml\n"),
        ),
    )
    eng = CrawlEngine(str(tmp_path / "wh"), cycle_budget_ms=BUDGET_MS)
    seeds = generate_seeds(spark, 40)
    eng.bootstrap(seeds, hosts_df)
    n1 = eng.frontier.read(spark).count()
    v1 = eng.frontier.current_version()
    eng.bootstrap(seeds, hosts_df)  # replay
    assert eng.frontier.read(spark).count() == n1
    assert eng.frontier.current_version() == v1
    sm = eng.frontier.read(spark).filter(
        F.col("source") == "sitemap-robots"
    )
    assert sm.count() == 50  # one seed per host, exactly once


def test_trap_filter_gates_frontier_admission(spark, tmp_path):
    """Opt-in trap admission: seeds and mid-crawl additions whose URL
    carries a trap signature (deep path / segment repeat / calendar
    tail / param explosion) never enter the frontier; the default
    engine admits them unchanged (byte-parity preserved)."""
    from pyspark.sql import functions as F

    trap_urls = [
        "https://h0.example.com/a/b/c/d/e/f/g/h/i/j",        # deep
        "https://h0.example.com/page/page/page/x",            # repeat
        "https://h0.example.com/blog/2024/05/17",             # calendar
        "https://h0.example.com/s?a=1&b=2&c=3&d=4&e=5&f=6&g=7&h=8",
    ]
    ok_urls = [
        "https://h0.example.com/sec1/article-1",
        "https://h0.example.com/sec2/article-2?a=1&b=2",
    ]
    seeds = spark.createDataFrame(
        [(u, 5, "rss", "2025-01-01 00:00:00", None)
         for u in trap_urls + ok_urls],
        "url string, priority int, source string, "
        "discovery_ts string, title string",
    ).withColumn("discovery_ts", F.to_timestamp("discovery_ts"))
    hosts = generate_hosts(spark)

    gated = CrawlEngine(str(tmp_path / "gated"), trap_filter=True)
    gated.bootstrap(seeds, hosts)
    admitted = {
        r.url_canonical for r in gated.frontier.read(spark).collect()
    }
    assert admitted == {
        "https://h0.example.com/sec1/article-1",
        "https://h0.example.com/sec2/article-2?a=1&b=2",
    }
    # mid-crawl additions run through the same gate, idempotently
    gated.add_seeds(seeds, op_id="more")
    gated.add_seeds(seeds, op_id="more")
    assert gated.frontier.read(spark).count() == 2 * len(ok_urls)

    plain = CrawlEngine(str(tmp_path / "plain"))
    plain.bootstrap(seeds, hosts)
    assert plain.frontier.read(spark).count() == len(trap_urls) + len(ok_urls)

"""CrawlEngine — the micro-cycle orchestrator (SURVEY §3.1 rebuilt).

One cycle = one pure DataFrame lineage:

    frontier ──dedup──▶ candidates
      ──exact anti-join (seen)──▶ new URLs
      ──robots filter──▶ allowed
      ──politeness schedule (host×lane)──▶ scheduled | deferred
      ──batched fetch──▶ raw pages
      ──extract + validate (pure columns)──▶ articles
      ──commits──▶ fetched / seen / frontier' / lineage_metrics

State lives in SnapshotTables (Iceberg stand-in, lakehouse/table.py):
every phase commit is atomic and idempotent (op_id = cycle+phase), so
a crash anywhere during a cycle resumes by simply re-running the
cycle — already-committed phases no-op, uncommitted ones recompute
from the same deterministic inputs and produce identical bytes
(asserted by the resume tests in tests/test_frontier.py).

Replaces the reference's run_single_cycle
(src/orchestrator/omni_orchestrator.py:73-117): Redis seen-set → one
exact ``left_anti`` join on ``url_hash``; asyncio semaphore →
host×lane partitions; per-record SQLite writes → bulk snapshot
commits; stats dict (:185-207) → lineage_metrics table rows per
partition and phase.

The seen filter has no bloom pre-screen: a pre-screen saves no exact
lookup (a left-side condition cannot leave the anti-join) and cost a
probe, a merge and a table rewrite per cycle. ``bloom.py`` stays as a
library for the benchmark's filter probe.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omni_crawler_spark.frontier import bloom as B
from omni_crawler_spark.frontier import politeness as P
from omni_crawler_spark.frontier.fetch import fetch_extract_validate
from omni_crawler_spark.functions import urls as U
from omni_crawler_spark.lakehouse import SnapshotTable
from omni_crawler_spark.search_index import SearchIndex
from omni_crawler_spark.session import local_rows, spread


def _indexed_fp() -> "F.Column":
    """Fingerprint of a page's INDEXED surface (title/content/caption —
    exactly the fields build_inverted_index posts). Shared by the
    HTTP-304 unchanged-recrawl short-circuit and the change-rate
    revisit scheduler so "changed" means the same thing to both.

    Each field is hashed SEPARATELY before combining: a separator-join
    of the raw fields would let content containing the separator byte
    alias across field boundaries (title='a\\x1fb' / content='c' vs
    title='a' / content='b\\x1fc'), misclassifying a changed page as
    unchanged and keeping stale postings live forever."""

    def h(c: str) -> "F.Column":
        return F.md5(F.coalesce(F.col(c), F.lit("")))

    return F.md5(F.concat(h("title"), h("content"), h("caption")))


class CrawlEngine:
    def __init__(
        self,
        warehouse: str,
        cycle_budget_ms: int = 120_000,
        maintain_articles: bool = False,
        maintain_index: bool = False,
        frontier_compact_every: int = 8,
        retention_keep_last: int | None = None,
        trap_filter: bool = False,
    ):
        self.warehouse = warehouse
        # read only by perfbench/crawl.py's filter probe
        self.num_buckets = B.DEFAULT_BUCKETS
        self.cycle_budget_ms = cycle_budget_ms
        self.maintain_articles = maintain_articles
        self.maintain_index = maintain_index
        # opt-in URL-trap admission gate (functions/urls.trap_signals
        # — the same policy the oracle-paired crawl_trap_detect query
        # verifies): when enabled, seeds and discovered links whose
        # verdict is not 'ok' never enter the frontier. Off by
        # default to preserve byte-parity with the reference
        # simulator, which has no trap defense beyond its depth cap.
        self.trap_filter = trap_filter
        # frontier commits are O(delta) appends of each cycle's
        # discoveries; every Nth cycle rewrites the resolved live set
        # to bound the log scan. 1 = compact every cycle (the round-2
        # full-overwrite behavior, kept for equivalence tests).
        self.frontier_compact_every = max(1, frontier_compact_every)
        # snapshot retention window (manifests kept after each
        # compaction-cycle maintenance pass); must cover the
        # crash-replay horizon — default several compaction periods
        self.retention_keep_last = (
            retention_keep_last
            if retention_keep_last is not None
            else max(16, 2 * self.frontier_compact_every)
        )
        self.frontier = SnapshotTable(os.path.join(warehouse, "frontier"), "frontier")
        self.seen = SnapshotTable(os.path.join(warehouse, "seen"), "seen")
        self.fetched = SnapshotTable(os.path.join(warehouse, "fetched"), "fetched")
        self.hosts = SnapshotTable(os.path.join(warehouse, "hosts"), "hosts")
        self.plan = SnapshotTable(os.path.join(warehouse, "plan"), "plan")
        # never written or read here; perfbench/crawl.py reads its version
        self.bloom = SnapshotTable(os.path.join(warehouse, "bloom"), "bloom")
        self.lineage = SnapshotTable(os.path.join(warehouse, "lineage"), "lineage")
        # current-state article store (S5 ON CONFLICT DO UPDATE): one
        # row per url_hash, last crawl wins — the keyed MERGE twin of
        # the append-only `fetched` log. Optional: the log alone
        # serves analytics; enable when re-crawl-updates-in-place
        # semantics are needed.
        self.articles = SnapshotTable(
            os.path.join(warehouse, "articles"), "articles",
            key=["url_hash"], on_conflict="update",
        )
        # full-text inverted index over crawled articles (the engine's
        # ES replacement, SURVEY §3.3): a SearchIndex whose postings
        # run_cycle appends per cycle from that cycle's valid fetches
        # — O(delta) index maintenance. Re-crawled pages replace their
        # postings through the index's deletion vectors, so probes
        # anti-filter stale postings with one broadcast join.
        self.index = SearchIndex(
            os.path.join(warehouse, "index"),
            fields={"title": 30, "content": 20, "caption": 15},
            id_col="url_hash",
        )
        # which upcoming fetches are RE-crawls (their postings must be
        # replaced, not appended): recrawl() records the exact hashes,
        # reset_seen() records an 'all' marker. Empty on a pure
        # forward crawl — the hot path pays nothing.
        self.reindex_marker = SnapshotTable(
            os.path.join(warehouse, "reindex_marker"), "reindex_marker"
        )

    # ------------------------------------------------------------------ setup

    @staticmethod
    def _prepare_seeds(seeds: DataFrame) -> DataFrame:
        return seeds.withColumns(
            {
                "url_canonical": U.canonicalize_url(F.col("url")),
            }
        ).withColumns(
            {
                "url_hash": U.url_hash64(F.col("url_canonical")),
                "host": U.url_host(F.col("url_canonical")),
            }
        )

    @classmethod
    def _frontier_rows(
        cls,
        urls: DataFrame,
        source: str,
        priority: int,
        discovery_ts: "F.Column",
    ) -> DataFrame:
        """Frontier rows for the ``url`` column of ``urls``: the given
        source, priority and discovery time, no title."""
        return cls._prepare_seeds(
            urls.select(
                "url",
                F.lit(source).alias("source"),
                F.lit(priority).alias("priority"),
                discovery_ts.alias("discovery_ts"),
                F.lit(None).cast("string").alias("title"),
            )
        )

    def _admit(self, rows: DataFrame) -> DataFrame:
        """Frontier admission gate: drop trap-verdict URLs when
        ``trap_filter`` is on (a pure column predicate — pushes into
        whatever scan feeds the rows); identity otherwise."""
        if not self.trap_filter:
            return rows
        return rows.filter(
            U.trap_signals(F.col("url_canonical"))["verdict"] == "ok"
        )

    def bootstrap(self, seeds: DataFrame, hosts: DataFrame) -> None:
        """Seed the frontier: canonicalize, hash, host-split. A hosts
        dim carrying raw ``robots_txt`` also contributes its
        ``Sitemap:`` directives as frontier seeds (how real crawlers
        find most sitemaps — RFC 9309 §2.3; the reference parses
        sitemap XML, url_discovery_engine.py:58-89, but never reads
        the robots pointer). Idempotent."""
        self.frontier.append(
            self._admit(self._prepare_seeds(seeds)), op_id="bootstrap"
        )
        self.hosts.overwrite(hosts, op_id="bootstrap-hosts")
        self._seed_robots_sitemaps(hosts)

    def _seed_robots_sitemaps(self, hosts: DataFrame) -> None:
        """robots ``Sitemap:`` URLs → frontier seeds (priority 10,
        source 'sitemap-robots'). The sitemap URL itself is fetched
        like any page; its <loc> entries come back as that fetch's
        ``links`` and join the next cycle's frontier through the
        normal discovery path. O(hosts dim): the Arrow parse runs
        over one row per host, never the frontier; an already-seen
        sitemap URL is anti-joined away like any other candidate, so
        repeated bootstraps cannot refetch it."""
        if "robots_txt" not in hosts.columns:
            return
        sm = hosts.select(
            F.explode(
                P.robots_sitemaps_udf()(F.col("robots_txt"))
            ).alias("url")
        )
        rows = self._frontier_rows(
            sm, "sitemap-robots", 10,
            F.to_timestamp(F.lit("2025-01-01 00:00:00")),
        )
        self.frontier.append(self._admit(rows), op_id="bootstrap-sitemaps")

    def add_seeds(self, seeds: DataFrame, op_id: str) -> None:
        """Append more discovery seeds mid-crawl (idempotent)."""
        self.frontier.append(
            self._admit(self._prepare_seeds(seeds)), op_id=op_id
        )

    # ------------------------------------------------------------------ cycle

    def _read_seen(self, spark: SparkSession) -> DataFrame:
        if self.seen.is_empty():
            return local_rows(spark, [], "url_hash long")
        return self.seen.read(spark)

    def candidates(self, spark: SparkSession) -> DataFrame:
        """Frontier dedup: one row per url_hash, keeping the best
        (priority desc, discovery_ts asc, url asc) entry — a single
        shuffle on url_hash via max_by over a sortable struct."""
        f = self.frontier.read(spark)
        rank = F.struct(
            F.col("priority").alias("p"),
            (F.lit(0) - F.unix_timestamp("discovery_ts")).alias("ts_neg"),
            F.col("url_canonical").alias("u"),
        )
        return (
            f.groupBy("url_hash")
            .agg(
                F.max_by(
                    F.struct(
                        "url_canonical", "host", "priority", "discovery_ts", "source"
                    ),
                    rank,
                ).alias("r")
            )
            .select("url_hash", "r.*")
        )

    def run_cycle(
        self,
        spark: SparkSession,
        cycle_id: int,
        collect_stats: bool = False,  # unused; perfbench/crawl.py passes it
    ) -> dict:
        """Run one crawl cycle; returns the cycle's phase timings,
        scheduled and stored counts, and frontier-commit bytes.

        The cycle materializes TWO snapshots, and everything else
        derives from their committed parquet. A default cycle runs
        18-19 Spark jobs (AQE submits each shuffle stage as its own
        job), in three steps:

        1. serial: plan = discover→dedup→seen-filter→robots→schedule,
           committed to the ``plan`` table (the cycle's fetch plan is
           itself a durable, inspectable artifact);
        2. serial: fetched = fetch+extract+validate over the plan's
           scheduled rows (repartitioned for full parallelism),
           committed with the ``valid`` flag kept (invalid attempts
           carry lineage);
        3. pooled, from driver threads: the seen, next-frontier and
           lineage_metrics commits (plus articles and index when
           maintained) and the two returned counts, all column scans
           of those two snapshots.

        After the pool come the one-row frontier-commit lineage write
        (it reads the frontier commit's footer) and, on compaction
        cycles, snapshot retention. Nothing upstream is ever
        recomputed (an earlier cache-based version re-ran the fused
        applyInPandas→mapInPandas chain per commit and burned 3-4x
        the wall time), and every commit stays idempotent (op_id), so
        a crash between any two commits replays safely."""
        t0 = time.time()
        op = f"cycle-{cycle_id:05d}"
        # one maintenance cadence: every Nth cycle compacts the
        # frontier, seen, index and articles and expires old snapshots
        is_compact = cycle_id % self.frontier_compact_every == 0
        stats: dict[str, float | int] = {"cycle_id": cycle_id}
        _t = [time.time()]

        def mark(name: str) -> None:
            now = time.time()
            stats[f"t_{name}"] = round(now - _t[0], 2)
            _t[0] = now

        # -- job 1: the cycle plan ----------------------------------------
        seen = self._read_seen(spark)
        new = self.candidates(spark).join(
            seen.select("url_hash"), "url_hash", "left_anti"
        )
        hosts = self.hosts.read(spark)
        allowed = P.robots_filter(new, hosts)
        self.plan.overwrite(
            P.schedule(allowed, hosts, self.cycle_budget_ms),
            op_id=f"{op}-plan",
        )
        mark("plan")
        plan = self.plan.read(spark)
        todo = plan.filter(F.col("scheduled")).transform(spread)

        # -- job 2: fetch + extract + validate ----------------------------
        articles = fetch_extract_validate(todo)
        self.fetched.append(
            articles.withColumn("cycle_id", F.lit(cycle_id)).select(
                "cycle_id", "article_id", "url_canonical", "url_hash", "host",
                "title", "content", "caption", "image_id", "links", "word_count",
                "content_length", "quality_score", "category", "priority",
                "crawl_seq", "lane", "start_ms", "status", "valid",
                "crawler_engine", "n_engine_attempts",
            ),
            op_id=f"{op}-fetched",
        )
        mark("fetch")

        # -- derived commits (scans of the two snapshots above) -----------
        # seen / frontier / lineage derive from the committed
        # plan+fetched parquet and are mutually independent (separate
        # tables, separate op_ids) → submit them as concurrent Spark
        # jobs from driver threads; each stays atomic+idempotent.
        # Profiled: ~2 s serial → ~1 s overlapped per cycle.
        from concurrent.futures import ThreadPoolExecutor

        # incremental read: exactly this cycle's commit (O(commit), no
        # footer listing of prior cycles' dirs — at 10^3 cycles the
        # read-everything-filter-cycle_id form scans the whole history
        # per cycle). version_of() keeps it correct under crash-replay,
        # where append() no-ops and current_version points elsewhere.
        v_fetched = self.fetched.version_of(f"{op}-fetched")
        fetched_now = self.fetched.read_delta(spark, v_fetched)

        def commit_seen() -> None:
            # every *attempted* URL becomes seen (success or not),
            # mirroring mark-after-discovery (url_discovery_engine.py:117-123)
            self.seen.append(
                plan.filter(F.col("scheduled"))
                .select("url_hash", "url_canonical")
                .distinct(),
                op_id=f"{op}-seen",
            )
            # file compaction on the same cadence as the frontier:
            # `seen` is read on EVERY cycle's anti-join, and one data
            # dir per cycle makes that read list O(cycles) directories
            if is_compact:
                self.seen.rewrite(spark, op_id=f"{op}-seen-rewrite")

        # next frontier = deferred rows ∪ links discovered this cycle
        # (dedup + seen-filter happen at the head of the next cycle)
        deferred = (
            plan.filter(~F.col("scheduled"))
            .select(
                "url_hash", "url_canonical", "host", "priority",
                "discovery_ts", "source",
            )
            .withColumns(
                {
                    "url": F.col("url_canonical"),
                    "title": F.lit(None).cast("string"),
                }
            )
        )
        # discovered links: deterministic discovery_ts (pure function of
        # cycle) so scheduling order is reproducible; tie-break is the
        # url. Trap admission (when enabled) is part of this map-side
        # chain — rejected links cost one predicate, never a frontier row.
        discovered = self._admit(
            self._frontier_rows(
                fetched_now.select(F.explode("links").alias("url")),
                "link", 3,
                F.to_timestamp(F.lit("2025-06-01 00:00:00"))
                + F.make_interval(days=F.lit(cycle_id)),
            )
        )

        def commit_frontier() -> None:
            # O(delta) incremental commit: append ONLY this cycle's
            # discovered links. The frontier is an append-only
            # discovery log — no tombstones needed, because liveness
            # is resolved on read by candidates(): scheduling a row
            # implies membership in `seen` (anti-joined away next
            # cycle), duplicates collapse in the max_by dedup, and
            # robots-blocked rows are re-filtered. The round-2 plan
            # overwrote the WHOLE remaining frontier every cycle —
            # O(frontier) parquet I/O per cycle, the dominant write
            # cost at a 10^10-URL frontier drained over 10^3 cycles.
            # Every Nth cycle a compaction rewrites the resolved live
            # set (deferred ∪ discovered — exactly the old overwrite)
            # to bound the log scan; both commit forms are idempotent
            # under the same op_id, so crash-replay is unchanged.
            if is_compact:
                self.frontier.overwrite(
                    deferred.unionByName(discovered), op_id=f"{op}-frontier"
                )
            else:
                self.frontier.append(discovered, op_id=f"{op}-frontier")

        def commit_lineage() -> None:
            # per-partition lineage over the committed fetch results
            pid = F.spark_partition_id().alias("partition_id")
            lineage_rows = (
                fetched_now.groupBy(pid)
                .agg(
                    F.count("*").alias("n_in"),
                    F.sum(F.col("valid").cast("int")).alias("n_out"),
                    F.sum((~F.col("valid")).cast("int")).alias("n_err"),
                )
                .withColumns(
                    {
                        "cycle_id": F.lit(cycle_id),
                        "phase": F.lit("fetch+validate"),
                        "t_start": F.lit(t0),
                        "t_end": F.lit(time.time()),
                    }
                )
            )
            self.lineage.append(lineage_rows, op_id=f"{op}-lineage")

        def commit_index() -> None:
            # O(delta) inverted-index maintenance: postings for THIS
            # cycle's valid articles only (url_hash is the doc key).
            # A pure forward crawl appends at a fresh generation and
            # pays nothing extra (the seen-filter guarantees the ids
            # are new). When the reindex marker says some of this
            # cycle's fetches are RE-crawls, those docs' stale
            # postings are tombstoned via the shared deletion-vector
            # path (floor recovered from the committed leg; replay
            # converges) — probes then anti-filter them with one
            # broadcast join instead of a corpus-sized groupBy.
            if not self.maintain_index:
                return
            from omni_crawler_spark.search import build_inverted_index

            valid_now = fetched_now.filter(F.col("valid"))
            postings = build_inverted_index(
                valid_now, self.index.fields, self.index.id_col
            )
            re_ids = self._pending_reindex_ids(spark, valid_now)
            if re_ids is None and (
                self.index.table.version_of(f"{op}-index-post") is not None
            ):
                # crash-replay of a reindex cycle whose marker was
                # already consumed: the marker now reads empty, but
                # taking the append branch would commit the postings
                # under the FRESH op_id f"{op}-index" and duplicate
                # them. Re-enter the reindex path with no ids — both
                # legs then no-op under their committed op_ids.
                re_ids = local_rows(spark, [], "url_hash long")
            if re_ids is None:
                self.index.dv.append(postings, op_id=f"{op}-index")
            else:
                re_ids = re_ids.localCheckpoint()
                unchanged_recrawl = (
                    self._unchanged_recrawl_ids(
                        spark, fetched_now, re_ids, unchanged_fp_version
                    )
                    if unchanged_fp_version is not None
                    and re_ids.limit(1).count() > 0
                    else None
                )
                if unchanged_recrawl is not None:
                    # unchanged re-fetches keep their live postings:
                    # no tombstone, no re-post (the new postings are
                    # byte-identical to the live ones by construction)
                    re_ids = re_ids.join(
                        F.broadcast(unchanged_recrawl),
                        "url_hash",
                        "left_anti",
                    )
                    postings = postings.join(
                        F.broadcast(unchanged_recrawl),
                        "url_hash",
                        "left_anti",
                    )
                self.index.dv.reindex(
                    spark, postings, re_ids, op_id=f"{op}-index"
                )
                self._consume_reindex_marker(spark, valid_now, op)
            if is_compact:
                # compaction cadence: fold append-per-cycle dirs and
                # apply the deletion vectors physically, bounding the
                # probe-time read like the frontier log's compaction
                self.index.compact(spark, op_id=f"{op}-index-fold")

        def commit_articles() -> None:
            if not self.maintain_articles:
                return
            self.articles.upsert(
                fetched_now.filter(F.col("valid")).drop("cycle_id"),
                op_id=f"{op}-articles",
            )
            # periodic maintenance: bound merge-on-read amplification
            if is_compact:
                self.articles.compact(spark, op_id=f"{op}-compact")

        # HTTP-304 analog (reference models carry the latent
        # etag/last_modified fields for this, enhanced_article.py:36,60,
        # never populated by its fetch path): re-fetches whose indexed
        # surface is byte-identical skip the deletion-vector replace —
        # at web scale most re-crawls return unchanged pages, so this
        # is the difference between O(changed) and O(recrawled) index
        # churn. Only the VERSION PIN happens here (driver-side
        # manifest reads, no Spark job): the pre-cycle articles
        # version must be resolved before the parallel
        # commit_articles upsert can advance "latest" (and a
        # crash-replay after that upsert landed must re-pin to
        # version_of(op)-1, or changed docs would compare against
        # their own new rows and misclassify as unchanged). The
        # articles fingerprint scan itself runs inside the pooled
        # commit_index, pinned to this version — overlapped with the
        # other commits and skipped entirely when no marker hash is
        # in this cycle's batch.
        unchanged_fp_version = (
            self._unchanged_fp_version(op)
            if self.maintain_index and self.maintain_articles
            else None
        )

        def count_stored() -> int:
            return int(
                fetched_now.agg(
                    F.sum(F.col("valid").cast("int")).alias("v")
                ).collect()[0].v
                or 0
            )

        # the two returned counts read only the committed plan and
        # fetched snapshots, so they run beside the commits instead of
        # after them
        with ThreadPoolExecutor(max_workers=7) as pool:
            futures = [
                pool.submit(fn)
                for fn in (commit_seen, commit_frontier, commit_lineage,
                           commit_articles, commit_index)
            ]
            n_scheduled = pool.submit(plan.filter(F.col("scheduled")).count)
            n_stored = pool.submit(count_stored)
            for fut in futures:
                fut.result()  # re-raise any commit failure
        mark("derived_commits")

        # write-amplification lineage: bytes this cycle's frontier
        # commit actually wrote (delta bytes on append cycles, full
        # rewrite bytes on compaction cycles) — the evidence that
        # per-cycle frontier I/O scales with the discovery delta, not
        # the frontier size.
        v_frontier = self.frontier.version_of(f"{op}-frontier")
        frontier_bytes = self.frontier.delta_bytes(v_frontier)
        stats["frontier_commit_bytes"] = frontier_bytes
        stats["frontier_commit_op"] = "overwrite" if is_compact else "append"
        self.lineage.append(
            local_rows(
                spark,
                [(
                    -1,
                    # rows this commit wrote, from parquet footer
                    # metadata — no Spark job for lineage accounting
                    int(self.frontier.delta_rows(v_frontier)),
                    int(frontier_bytes),
                    0,
                    cycle_id,
                    "frontier-commit:"
                    + ("overwrite" if is_compact else "append"),
                    float(t0),
                    float(time.time()),
                )],
                "partition_id int, n_in long, n_out long, n_err long, "
                "cycle_id int, phase string, t_start double, t_end double",
            ),
            op_id=f"{op}-lineage-frontier",
        )

        # retention maintenance on the compaction cadence (after the
        # lineage delta accounting, which may read the predecessor
        # manifest): expire manifests past the crash-replay window and
        # reclaim lost-commit-race orphan dirs. The op_versions map
        # rides the NEWEST manifest, so idempotent replay of recent
        # cycles is unaffected; keep_last is sized to several
        # compaction periods so time travel covers the replay horizon.
        if is_compact:
            self.frontier.expire_snapshots(
                keep_last=self.retention_keep_last
            )
            self.frontier.remove_orphans()

        stats["n_scheduled"] = n_scheduled.result()
        stats["n_stored"] = n_stored.result()
        stats["wall_sec"] = round(time.time() - t0, 3)
        return stats

    def recrawl(
        self,
        spark: SparkSession,
        urls: DataFrame,
        op_id: str,
    ) -> None:
        """Route KNOWN (already-crawled) URLs back through the next
        cycle — the reference's implicit re-crawl story made explicit
        (its stores replace by article_id: PG ``ON CONFLICT DO
        UPDATE`` omni_storage.py:137-205, SQLite ``INSERT OR
        REPLACE`` :410-464, ES doc_id :275-296, so a re-fetched page
        overwrites in place). Two idempotent commits:

        1. re-seed the frontier with ``urls`` (source='recrawl',
           boosted priority 10 so they schedule promptly);
        2. remove their hashes from ``seen`` so the exact anti-join
           lets them through (``seen`` is the only seen-state).

        The downstream stores then apply their replace-by-id
        semantics on the refetch: the ``articles`` keyed table
        upserts last-writer-wins, and the ``index`` tombstones the
        stale postings of changed pages (stale tokens stop matching —
        :meth:`search`). The seen rewrite is O(seen): at a
        10^10-URL seen set, batch recrawl requests and fold them in
        on the compaction cadence, or keep `seen` bucketed by
        url_hash so the anti-join rewrite is partition-local.

        ``urls`` needs a ``url`` column; other frontier columns are
        fixed (deterministic ``discovery_ts`` keeps scheduling
        reproducible for the resume/byte-parity tests)."""
        prepared = self._frontier_rows(
            urls, "recrawl", 10, F.to_timestamp(F.lit("2025-07-01 00:00:00"))
        )
        self.frontier.append(prepared, op_id=f"{op_id}-seed")
        hashes = prepared.select("url_hash").distinct()
        self.seen.overwrite(
            self._read_seen(spark).join(hashes, "url_hash", "left_anti"),
            op_id=f"{op_id}-seen",
        )
        # mark the hashes for postings replacement: the cycle that
        # refetches them routes their index commit through the
        # deletion-vector reindex path (O(batch))
        self.reindex_marker.append(
            hashes.withColumn("scope", F.lit("hash")),
            op_id=f"{op_id}-marker",
        )

    def reset_seen(self, spark: SparkSession, op_id: str) -> None:
        """Operational re-crawl: clear the seen set so
        the next cycle refetches everything still in the frontier —
        the analog of the reference's Redis cache expiry. The fetched
        log keeps every attempt; the keyed ``articles`` store then
        shows last-writer-wins update-in-place on the re-crawl, and
        the STICKY 'all' reindex marker makes every subsequent cycle
        route already-indexed fetches through the deletion-vector
        replace path (the per-cycle cost is one streamed scan of the
        index's id column against the broadcast batch — the price of
        blanket re-crawl mode; targeted recrawl() stays O(batch))."""
        self.seen.overwrite(
            local_rows(spark, [], "url_hash long, url_canonical string"),
            op_id=f"{op_id}-seen",
        )
        self.reindex_marker.append(
            local_rows(spark, [(None, "all")], "url_hash long, scope string"),
            op_id=f"{op_id}-marker",
        )

    # ------------------------------------------------------------ revisits

    def revisit_schedule(self, spark: SparkSession) -> DataFrame:
        """Per-page adaptive revisit schedule from the fetched log —
        the change-rate policy behind the oracle-paired
        ``crawl_revisit_schedule`` query, wired to the engine's own
        observations (the reference re-crawls on a fixed orchestrator
        cadence, omni_orchestrator.py:122-127; production crawlers
        derive the cadence from observed change rates per page).

        A "change" is a valid re-fetch whose indexed-surface
        fingerprint differs from the previous valid fetch of the same
        url_hash (the exact complement of the HTTP-304 short-circuit:
        what that path skips, this path counts as unchanged). The
        clock is the cycle counter — deterministic, replay-stable,
        and the unit the engine actually schedules in. Interval
        ladder (cycles), integer cross-multiplication so there is no
        division and single-observation pages (span 0) fall through
        safely:

        - changes on ≥ half the observed span   → every cycle
        - changes on ≥ a quarter of the span    → every 4 cycles
        - any change ever observed              → every 16 cycles
        - never observed changed                → every 64 cycles

        Columns: url_hash, url_canonical, n_obs, n_changes,
        last_cycle, interval_cycles, next_fetch_cycle.

        100 TB shape: one window over the fetched log partitioned by
        url_hash (a single hash shuffle — the same key the log would
        be bucketed on); everything after the lag is map-side. At
        10^10 pages keep a persisted per-page state table (n_changes,
        last_fp, last_cycle) folded forward per cycle delta instead
        of re-windowing the full log; this method is that fold run
        from genesis."""
        from pyspark.sql import Window

        log = (
            self.fetched.read(spark)
            .filter(F.col("valid"))
            .select(
                "url_hash",
                "url_canonical",
                "cycle_id",
                "start_ms",
                _indexed_fp().alias("_fp"),
            )
        )
        w = Window.partitionBy("url_hash").orderBy("cycle_id", "start_ms")
        obs = log.withColumn("_prev_fp", F.lag("_fp").over(w)).withColumn(
            "_changed",
            (
                F.col("_prev_fp").isNotNull()
                & (F.col("_fp") != F.col("_prev_fp"))
            ).cast("int"),
        )
        agg = obs.groupBy("url_hash").agg(
            # one url_hash ↔ one canonical URL by construction; min()
            # keeps the agg deterministic rather than order-dependent
            F.min("url_canonical").alias("url_canonical"),
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("_changed").cast("long").alias("n_changes"),
            F.max("cycle_id").cast("long").alias("last_cycle"),
            (F.max("cycle_id") - F.min("cycle_id"))
            .cast("long")
            .alias("_span"),
        )
        ch, span = F.col("n_changes"), F.col("_span")
        interval = (
            F.when((ch > 0) & (ch * 2 >= span), F.lit(1))
            .when((ch > 0) & (ch * 4 >= span), F.lit(4))
            .when(ch > 0, F.lit(16))
            .otherwise(F.lit(64))
            .cast("long")
        )
        return agg.select(
            "url_hash",
            "url_canonical",
            "n_obs",
            "n_changes",
            "last_cycle",
            interval.alias("interval_cycles"),
            (F.col("last_cycle") + interval).alias("next_fetch_cycle"),
        )

    def schedule_revisits(
        self, spark: SparkSession, as_of_cycle: int, op_id: str
    ) -> int:
        """Enqueue every page whose ``next_fetch_cycle`` has arrived
        (per :meth:`revisit_schedule`) through the idempotent
        :meth:`recrawl` path; returns how many were enqueued. Due
        pages carry priority 10 so they schedule promptly; their
        refetch then routes through the deletion-vector reindex path,
        and if the page turns out unchanged, the HTTP-304
        short-circuit keeps the index untouched — the full adaptive
        loop is O(due batch), never O(corpus). Call between cycles
        (e.g. every Nth) with the current cycle counter."""
        due = (
            self.revisit_schedule(spark)
            .filter(F.col("next_fetch_cycle") <= F.lit(int(as_of_cycle)))
            .select(F.col("url_canonical").alias("url"))
            .localCheckpoint()
        )
        n = due.count()
        if n:
            self.recrawl(spark, due, op_id=op_id)
        return n

    # ------------------------------------------------------- reindex marker

    def _pending_reindex_ids(self, spark: SparkSession, valid_now: DataFrame):
        """The ids among this cycle's valid fetches whose postings
        must be REPLACED (per the reindex marker), or None when the
        marker is empty — the pure-forward-crawl fast path, which
        costs nothing (footer-metadata emptiness check only)."""
        if self.reindex_marker.footer_row_count() == 0:
            return None
        m = self.reindex_marker.read(spark)
        batch_ids = valid_now.select("url_hash").distinct()
        if m.filter(F.col("scope") == "all").limit(1).count() > 0:
            # blanket re-crawl mode: any already-indexed fetched doc
            # is a re-crawl — intersect the index's id column
            # (streamed) with the broadcast batch
            if self.index.table.is_empty():
                return None
            indexed = self.index.table.read(spark).select("url_hash")
            return indexed.join(
                F.broadcast(batch_ids), "url_hash", "left_semi"
            ).distinct()
        return (
            m.filter(F.col("scope") == "hash")
            .select("url_hash")
            .join(F.broadcast(batch_ids), "url_hash", "left_semi")
            .distinct()
        )

    def _unchanged_fp_version(self, op: str) -> int | None:
        """The articles version the HTTP-304 comparison must read —
        the snapshot BEFORE this cycle's upsert — or None when there
        is nothing to compare (empty reindex marker / empty articles
        store). Driver-side manifest reads only (no Spark job), so
        run_cycle can resolve it before launching the commit pool:
        version_of(op)-1 when the upsert already landed on a
        crash-replay, the current (pre-pool) version otherwise.
        Without the pin, a replay after commit_articles landed would
        compare changed docs against their own new rows and
        misclassify them as unchanged, leaving stale postings live
        forever."""
        if self.reindex_marker.footer_row_count() == 0:
            return None
        v_commit = self.articles.version_of(f"{op}-articles")
        if v_commit is None:
            return self.articles.current_version() or None  # 0 == empty
        if v_commit <= 1:
            return None  # articles were empty before this cycle
        return v_commit - 1

    def _unchanged_recrawl_ids(
        self,
        spark: SparkSession,
        fetched_now: DataFrame,
        re_ids: DataFrame,
        version: int,
    ):
        """url_hashes among this cycle's pending RE-crawls whose
        INDEXED surface (title/content/caption — exactly the fields
        build_inverted_index posts) is byte-identical to the stored
        article: the conditional-fetch / HTTP-304 short-circuit. The
        article_id's md5(content)[:8] alone is NOT enough — the title
        is indexed too, so the fingerprint covers all three fields.

        Reads the articles snapshot at the replay-pinned ``version``
        from :meth:`_unchanged_fp_version` (resolved pre-pool), so it
        is safe to evaluate concurrently with the commit_articles
        upsert. Both sides are semi-joined to the broadcast pending
        set first: only re-crawled docs are fingerprinted, and the
        articles scan prunes to O(pending) rows surviving the
        broadcast hash join.

        Returns an eagerly-materialized O(pending) DataFrame."""
        prev = (
            self.articles.read(spark, version=version)
            .join(F.broadcast(re_ids), "url_hash", "left_semi")
            .select("url_hash", _indexed_fp().alias("_prev_fp"))
        )
        cur = (
            fetched_now.filter(F.col("valid"))
            .join(F.broadcast(re_ids), "url_hash", "left_semi")
            .select("url_hash", _indexed_fp().alias("_new_fp"))
            .distinct()
        )
        return (
            prev.join(F.broadcast(cur), "url_hash")
            .filter(F.col("_prev_fp") == F.col("_new_fp"))
            .select("url_hash")
            .distinct()
            .localCheckpoint()
        )

    def _consume_reindex_marker(
        self, spark: SparkSession, valid_now: DataFrame, op: str
    ) -> None:
        """Drop hash-scoped marker rows consumed by this cycle's
        fetches ('all' rows are sticky — see reset_seen). Idempotent
        under the cycle op_id."""
        m = self.reindex_marker.read(spark)
        remaining = m.filter(F.col("scope") == "all").unionByName(
            m.filter(F.col("scope") == "hash").join(
                F.broadcast(valid_now.select("url_hash").distinct()),
                "url_hash",
                "left_anti",
            )
        )
        self.reindex_marker.overwrite(remaining, op_id=f"{op}-marker")

    # ------------------------------------------------------------------ reads

    def crawl_order(self, spark: SparkSession, cycle_id: int | None = None) -> DataFrame:
        """Deterministic global crawl order of fetched pages:
        (start_ms, host, lane, crawl_seq) — the comparison key for
        byte-identical-ordering tests."""
        df = self.fetched.read(spark).filter(F.col("valid"))
        if cycle_id is not None:
            df = df.filter(F.col("cycle_id") == cycle_id)
        return df.orderBy("start_ms", "host", "lane", "crawl_seq")

    def seen_set(self, spark: SparkSession) -> DataFrame:
        return self.seen.read(spark).select("url_hash").distinct()

    def search(
        self, spark: SparkSession, query: str, size: int = 20
    ) -> DataFrame:
        """Full-text search over the crawled corpus via the
        incrementally-maintained inverted index — the engine's ES
        replacement (the reference's AdvancedSearchEngine queries the
        ES index its storage layer maintains; here run_cycle appends
        each cycle's postings and this probes them through
        :meth:`SearchIndex.query`). Requires ``maintain_index=True``."""
        return self.index.query(spark, query, size=size)

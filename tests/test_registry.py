"""Smoke + shape tests for the analytics query registry (SURVEY §2).

Full value-level verification against DuckDB runs in
tools/check_correctness.py (and in the driver's sf0.01 gate); here we
assert structural invariants at sf0.001 so pytest stays fast.
"""

from __future__ import annotations

from datetime import datetime

import duckdb
import pytest

from pyspark.sql import functions as F

from omni_crawler_spark.analytics import REGISTRY
from omni_crawler_spark.analytics.tables import TABLE_NAMES


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_runs_and_matches_oracle(spark, sf_dir, name):
    q = REGISTRY[name]
    sdf = q.build(spark, sf_dir)
    # physical-plan lint (north rule, tools/plan_lint.py): Python only
    # Arrow-batched, cross joins only with a broadcast bounded side
    from tools.plan_lint import lint

    assert lint(sdf) == [], f"{name}: forbidden physical nodes"
    pdf = sdf.toPandas()
    assert pdf is not None
    if q.oracle is None:
        return
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    odf = con.execute(q.oracle).fetchdf()
    assert len(pdf) == len(odf), f"{name}: row count mismatch"
    assert sorted(c.lower() for c in pdf.columns) == sorted(
        c.lower() for c in odf.columns
    ), f"{name}: schema mismatch"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 20


def test_driver_window_covers_unchecked_queries():
    """The correctness driver checks the FIRST 50 queries() entries
    per round. Every name in the rotation priority list (this round's
    changed queries + the stalest prior driver greens) must sit
    inside that window."""
    from omni_crawler_spark.analytics import _DRIVER_WINDOW_PRIORITY

    names = list(REGISTRY)
    window = set(names[:50])
    expected = [n for n in _DRIVER_WINDOW_PRIORITY if n in REGISTRY]
    missing = [n for n in expected if n not in window]
    assert not missing, f"outside the driver window: {missing}"
    # and the priority prefix is exactly the head of the registry
    assert names[: len(expected)] == expected


def test_one_parallelism_policy_and_single_pass_cap():
    """Partition counts come from ``session.spread`` alone, and the
    bucket cap reads its input once (no join, no broadcast)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "omni_crawler_spark"
    users = sorted(
        str(f.relative_to(pkg))
        for f in pkg.rglob("*.py")
        if "defaultParallelism" in f.read_text()
    )
    assert users == ["session.py"]
    src = (pkg / "operators" / "dedup.py").read_text()
    fn = next(
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "drop_oversized"
    )
    calls = {
        n.attr for n in ast.walk(fn) if isinstance(n, ast.Attribute)
    }
    assert not calls & {"join", "broadcast", "persist", "cache"}, calls


_LINEAGE_DDL = (
    "partition_id int, n_in long, n_out long, n_err long, "
    "cycle_id int, phase string, t_start double, t_end double"
)


@pytest.mark.parametrize(
    "rows,ddl",
    [
        ([], _LINEAGE_DDL),
        ([(-1, 12, 3456, 0, 7, "frontier-commit:append", 1.5, 2.5)],
         _LINEAGE_DDL),
        ([(datetime(2025, 6, 1, 12, 30), "a"),
          (None, None)],
         "ts timestamp, s string"),
    ],
    ids=["empty", "lineage-row", "timestamp"],
)
def test_local_rows_is_a_local_table_scan(spark, monkeypatch, rows, ddl):
    """``session.local_rows`` plans a ``LocalTableScan`` (no Python
    workers), keeps the DDL schema exactly, and in UTC holds the rows
    the list form ``createDataFrame(<list>)`` holds."""
    import time

    from pyspark.sql.types import StructType

    from omni_crawler_spark.session import local_rows

    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    try:
        df = local_rows(spark, rows, ddl)
        got = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        want = spark.createDataFrame(rows, ddl).collect()
    finally:
        monkeypatch.undo()
        time.tzset()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert df.schema == StructType.fromDDL(ddl)
    assert got == want


def test_driver_rows_come_from_local_rows():
    """``createDataFrame(`` appears in the package only inside
    ``session.local_rows``: driver-side rows never take the
    ``Scan ExistingRDD`` path."""
    import ast
    import pathlib

    def calls(node) -> int:
        return sum(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            for n in ast.walk(node)
        )

    pkg = pathlib.Path(__file__).resolve().parent.parent / "omni_crawler_spark"
    trees = {
        str(f.relative_to(pkg)): ast.parse(f.read_text())
        for f in pkg.rglob("*.py")
    }
    assert {k: n for k, t in trees.items() if (n := calls(t))} == {
        "session.py": 1
    }
    helper = next(
        n for n in trees["session.py"].body
        if isinstance(n, ast.FunctionDef) and n.name == "local_rows"
    )
    assert calls(helper) == 1


@pytest.mark.parametrize("name", ["crawl_frontier_drain", "pipeline_recrawl"])
def test_crawl_queries_remove_their_warehouse(spark, sf_dir, monkeypatch, name):
    """A crawl query's temp warehouse is read lazily by the returned
    DataFrame, so it stays until process exit, then goes."""
    import atexit
    import os
    import shutil

    registered = []
    monkeypatch.setattr(
        atexit, "register",
        lambda fn, *a, **kw: registered.append((fn, a, kw)),
    )
    REGISTRY[name].build(spark, sf_dir).collect()
    cleanups = [(fn, a, kw) for fn, a, kw in registered if fn is shutil.rmtree]
    assert len(cleanups) == 1
    fn, a, kw = cleanups[0]
    wh = a[0]
    assert os.path.isdir(wh)
    fn(*a, **kw)
    assert not os.path.exists(wh)


def test_one_deletion_vector_owner_per_index():
    """Each persisted index class owns its deletion vectors; the crawl
    engine's index is a ``SearchIndex``, not a second hand-built
    table + vectors pair."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "omni_crawler_spark"
    users = sorted(
        str(f.relative_to(pkg))
        for f in pkg.rglob("*.py")
        if "DeletionVectors(" in f.read_text()
    )
    assert users == [
        "operators/dedup_incremental.py", "operators/ivf.py", "search_index.py"
    ]


@pytest.mark.parametrize("ram_gib", [1, 3, 15, 64, 512])
def test_driver_memory_default_fits_host(monkeypatch, ram_gib):
    """The default driver heap is derived from host RAM: it never
    exceeds the host's RAM nor 24g, and SPARK_DRIVER_MEMORY still
    overrides it."""
    import os

    from omni_crawler_spark import session as S

    page = 4096
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_gib * 2**30 // page}
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = S.driver_memory()
    assert heap.endswith("g")
    assert 1 <= int(heap[:-1]) <= min(ram_gib, S.MAX_DRIVER_MEMORY_GB)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert S.driver_memory() == "3g"


def test_budget_allocate_waterfill_invariants(spark, sf_dir):
    """Exact integer max-min fairness: the quotas must exhaust the
    budget, never exceed pending, and differ by at most 1 across
    throttled hosts (the water level)."""
    rows = (
        REGISTRY["crawl_budget_allocate"].build(spark, sf_dir).collect()
    )
    assert rows, "allocation produced no hosts"
    total = sum(r.pending for r in rows)
    b = total * 6 // 10
    assert sum(r.quota for r in rows) == b, "budget not exhausted exactly"
    for r in rows:
        assert 0 <= r.quota <= r.pending
        if r.status == "full":
            assert r.quota == r.pending
    throttled = [r.quota for r in rows if r.status == "throttled"]
    assert throttled, "60% budget must throttle someone"
    assert max(throttled) - min(throttled) <= 1, "water level not flat"
    # max-min: every fully-served host's demand sits at or below the
    # throttled water level (else serving it fully would be unfair)
    if throttled:
        for r in rows:
            if r.status == "full":
                assert r.pending <= max(throttled) + 1


def test_aspect_buckets_partition_and_nearest(spark, sf_dir):
    """Every validated image lands in exactly one bucket, and the
    integer cross-multiplied argmin really picks the NEAREST ratio:
    square images must all be 1:1 (cost 0), and the per-bucket
    totals must partition the valid set."""
    from omni_crawler_spark.analytics.registry_multimodal import _mm_valid

    rows = REGISTRY["multimodal_aspect_buckets"].build(
        spark, sf_dir).collect()
    assert rows and [r.b_idx for r in rows] == sorted(r.b_idx for r in rows)
    n_valid = _mm_valid(spark, sf_dir).count()
    assert sum(r.n_images for r in rows) == n_valid
    # spot-check nearest-ratio: w=h rows exist (w,h share the 32+16k
    # grid) and every one of them costs 0 only at the 1:1 rung
    sq = _mm_valid(spark, sf_dir).filter("w = h").count()
    one_one = {r.bucket: r.n_images for r in rows}.get("1:1", 0)
    assert sq > 0 and one_one >= sq


def test_wds_shards_cap_and_coverage(spark, sf_dir):
    """floor(cum_before/cap) packing: shards cover every validated
    item exactly once, ids are contiguous ranges in shard order, and
    no shard exceeds the cap by more than one item's payload."""
    from omni_crawler_spark.analytics.registry_multimodal import (
        _WDS_SHARD_CAP,
        _mm_valid,
    )

    rows = sorted(
        REGISTRY["multimodal_wds_shards"].build(spark, sf_dir).collect(),
        key=lambda r: r.shard_id,
    )
    valid = _mm_valid(spark, sf_dir)
    assert sum(r.n_items for r in rows) == valid.count()
    max_item = (
        valid.agg(F.max(F.col("w").cast("long") * F.col("h") * 3))
        .first()[0]
    )
    for r in rows:
        assert r.first_id <= r.last_id
        assert r.shard_bytes <= _WDS_SHARD_CAP + max_item
    # id ranges are disjoint and ordered with the shard ids
    for a, b in zip(rows, rows[1:]):
        assert a.last_id < b.first_id


def test_train_val_split_stable_under_growth(spark, sf_dir):
    """The split is hash-of-doc_id, so restricting the corpus to any
    subset must not change any doc's assignment — the property that
    keeps eval sets uncontaminated across corpus refreshes. Also:
    the three splits partition the corpus and train dominates."""
    from omni_crawler_spark.analytics.registry import _t

    from omni_crawler_spark.analytics.registry_corpus import (
        split_assignment,
    )

    rows = {r.split: r for r in REGISTRY["corpus_train_val_split"]
            .build(spark, sf_dir).collect()}
    d = _t(spark, sf_dir, "documents")
    total = d.count()
    assert sum(r.n_docs for r in rows.values()) == total
    assert rows["train"].n_docs > total // 2
    # per-doc stability THROUGH THE QUERY'S OWN assignment function
    # (corpus_train_val_split aggregates split_assignment's output):
    # assignments over the full corpus vs a half-corpus view must
    # agree on every shared doc — a rewrite of split_assignment to
    # row_number()/rand() breaks this, which is the regression the
    # test exists to catch
    full = {
        r.doc_id: r.split
        for r in split_assignment(d).select("doc_id", "split").collect()
    }
    half = {
        r.doc_id: r.split
        for r in split_assignment(d.filter(F.col("doc_id") % 2 == 0))
        .select("doc_id", "split").collect()
    }
    assert half and all(full[k] == v for k, v in half.items())
    # and the aggregate the query reports is the aggregate of those
    # per-doc assignments
    from collections import Counter

    assert Counter(full.values()) == {
        s: r.n_docs for s, r in rows.items()
    }


def test_trap_detect_planted_verdicts(spark, sf_dir):
    """Planted trap features are detected from the URL string with
    the documented precedence: every %23 doc is trap_deep (11 extra
    segments), %31-only docs are trap_repeat, %19-only are
    trap_calendar, %37-only are trap_params, and an unplanted doc
    is ok."""
    rows = {r.doc_id: r for r in REGISTRY["crawl_trap_detect"]
            .build(spark, sf_dir).collect()}
    assert rows
    for i, r in rows.items():
        # expected DEPTH mirrors the construction (base /secN/article-N
        # = 2 segments plus each plant's), so composite plants (e.g.
        # doc_id % (19*31) == 0: repeat + calendar pushes depth to 9)
        # are expected under the detector's deep-first precedence
        depth = (
            2
            + (11 if i % 23 == 0 else 0)
            + (4 if i % 31 == 0 else 0)
            + (3 if i % 19 == 0 else 0)
        )
        if depth >= 8:
            assert r.verdict == "trap_deep", (i, r)
        elif i % 31 == 0:
            assert r.verdict == "trap_repeat", (i, r)
        elif i % 19 == 0:
            assert r.verdict == "trap_calendar", (i, r)
        elif i % 37 == 0:
            assert r.verdict == "trap_params", (i, r)
        else:
            assert r.verdict == "ok", (i, r)
    # planted families all non-empty at this SF
    seen = {r.verdict for r in rows.values()}
    assert {"trap_deep", "trap_repeat", "trap_calendar",
            "trap_params", "ok"} <= seen


def test_redirect_resolve_closed_form(spark, sf_dir):
    """Pointer jumping must agree with the closed form NEITHER engine
    computes: doc n chains n -> n-1 -> ... -> n - n%7, so
    terminal_id = n - n%7 and hops = n%7."""
    rows = REGISTRY["crawl_redirect_resolve"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.terminal_id == r.doc_id - r.doc_id % 7, r
        assert r.hops == r.doc_id % 7, r
        assert r.status == ("terminal" if r.hops == 0 else "redirected")


def test_robots_eval_longest_match_precedence(spark, sf_dir):
    """REP semantics in the oracle-paired query, re-derived by a
    THIRD implementation (Python re over the same synthetic rule
    set): longest rule wins ('$' excluded from the length), Allow
    beats Disallow on ties — the wildcard Disallow article-1*3 vs its
    wildcard Allow article-13* is an exact length tie — and
    unmatched means allowed."""
    import re

    rows = REGISTRY["crawl_robots_eval"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = r.doc_id % 20
        rules = [
            (f"/sec{n % 7}/", 0),
            (f"/sec{n % 7}/article-1", 1),
            (f"/sec{(n + 1) % 7}/article-1*3", 0),
            (f"/sec{(n + 1) % 7}/article-13*", 1),
            (f"/sec{n % 7}/article-19$", 0),
        ]
        hits = [
            (len(p.replace("$", "")), a, p)
            for p, a in rules
            if re.match("^" + p.replace("*", ".*"), r.path)
        ]
        if not hits:
            assert (r.verdict, r.matched_rule) == ("allowed", ""), r
        else:
            ln, allow, pat = max(hits)
            assert r.matched_rule == pat, (r, hits)
            assert r.verdict == ("allowed" if allow else "disallowed"), r
    # every grammar feature fires at this SF:
    by_id = {r.doc_id: r for r in rows}
    assert any(r.matched_rule == "" and r.verdict == "allowed"
               for r in rows)                             # no match
    assert any(r.matched_rule.endswith("/") and r.verdict == "disallowed"
               for r in rows)                             # literal block
    assert any(r.matched_rule.endswith("article-1")
               and r.verdict == "allowed" for r in rows)  # literal carve
    assert by_id[123].verdict == "disallowed"             # wildcard block
    assert by_id[123].matched_rule.endswith("article-1*3")
    assert by_id[135].verdict == "allowed"                # tie: Allow wins
    assert by_id[135].matched_rule.endswith("article-13*")
    assert by_id[19].verdict == "disallowed"              # '$' + longest
    assert by_id[19].matched_rule.endswith("article-19$")


def test_robots_eval_runs_the_engine_matcher(spark, sf_dir, monkeypatch):
    """The oracle-paired robots query evaluates the crawl's own robots
    parser and matcher, so the DuckDB gate checks the code the fetch
    path runs; one broadcast join does it, with no aggregate and no
    hash shuffle."""
    from omni_crawler_spark.frontier import politeness as P

    calls = {"parse_policy": 0, "robots_match": 0}
    for name in calls:
        real = getattr(P, name)

        def counted(*a, _real=real, _name=name, **k):
            calls[_name] += 1
            return _real(*a, **k)

        monkeypatch.setattr(P, name, counted)
    df = REGISTRY["crawl_robots_eval"].build(spark, sf_dir)
    assert calls["parse_policy"] >= 1 and calls["robots_match"] >= 1, calls
    assert df.count() > 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Aggregate" not in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_pipeline_image_layout_stage_monotone(spark, sf_dir):
    """The flagship image-layout composition: stage counts are
    monotone non-increasing, every planted-invalid family is
    actually removed, and the shard count matches the byte total
    under the floor(cum/cap) policy."""
    r = REGISTRY["pipeline_image_layout"].build(spark, sf_dir).first()
    assert r.n_images >= r.n_meta_valid >= r.n_caption_ok > 0
    assert r.n_meta_valid < r.n_images       # %37/%41/%29 plants removed
    assert r.n_caption_ok < r.n_meta_valid   # %11 boilerplate removed
    assert 1 <= r.n_buckets_used <= 5
    assert r.n_shards >= 1
    # floor policy: shards cover [0, total) in cap-sized strides
    cap = 1 << 20
    assert r.n_shards <= r.total_bytes // cap + 1

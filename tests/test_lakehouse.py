"""SnapshotTable (Iceberg stand-in) semantics: atomic commits, time
travel, idempotent op_ids, append vs overwrite."""

from __future__ import annotations

import os

import pytest

from omni_crawler_spark.lakehouse import SnapshotTable


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.range(0, 5)
    df2 = spark.range(5, 8)
    v1 = t.append(df1)
    v2 = t.append(df2)
    assert (v1, v2) == (1, 2)
    assert t.read(spark).count() == 8
    assert t.read(spark, version=v1).count() == 5  # VERSION AS OF analog


def test_overwrite_replaces(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 10))
    t.overwrite(spark.range(0, 3))
    assert t.read(spark).count() == 3
    assert t.read(spark, version=1).count() == 10


def test_idempotent_op_ids(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 5), op_id="op-a")
    v = t.append(spark.range(0, 5), op_id="op-a")  # replay → no-op
    assert v == 1
    assert t.read(spark).count() == 5


def test_read_empty_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert t.is_empty()
    with pytest.raises(ValueError):
        t.read(spark)


def test_rewrite_compacts_dirs_preserves_rows(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for lo in (0, 5, 9):
        t.append(spark.range(lo, lo + 3), op_id=f"a-{lo}")
    v = t.current_version()
    assert len(t._read_manifest(v)["data_dirs"]) == 3
    before = sorted(r.id for r in t.read(spark).collect())
    t.rewrite(spark, op_id="rw-1")
    after_manifest = t._read_manifest(t.current_version())
    assert len(after_manifest["data_dirs"]) == 1  # one dir now
    assert sorted(r.id for r in t.read(spark).collect()) == before
    assert t.read(spark, version=v).count() == len(before)  # time travel
    t.rewrite(spark, op_id="rw-1")  # idempotent replay
    assert after_manifest["version"] == t.current_version()


def test_op_lookup_reads_one_manifest(spark, tmp_path):
    """committed_op_ids/version_of read ONLY the newest manifest
    (op_versions chains forward per commit) — the per-commit
    full-history rescan was O(cycles²) driver I/O over a long crawl."""
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(0, 1)
    for i in range(12):
        t.append(df, op_id=f"op-{i}")
    t2 = SnapshotTable(str(tmp_path / "t"))  # fresh instance, no warm state
    reads: list[int] = []
    orig = t2._read_manifest

    def counting(version):
        reads.append(version)
        return orig(version)

    t2._read_manifest = counting  # type: ignore[method-assign]
    assert t2.committed_op_ids() == {f"op-{i}" for i in range(12)}
    assert reads == [12]
    reads.clear()
    assert t2.version_of("op-7") == 8
    assert reads == [12]


def test_op_lookup_legacy_manifest_fallback(spark, tmp_path):
    """Manifests written before op_versions existed are reconstructed
    by one history scan; the next commit re-materializes the map."""
    import json
    import os

    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(0, 1)
    t.append(df, op_id="op-a")
    t.append(df, op_id="op-b")
    # simulate a legacy newest manifest (no op_versions field)
    newest = os.path.join(str(tmp_path / "t"), "snapshots", "00000002.json")
    with open(newest) as fh:
        m = json.load(fh)
    del m["op_versions"]
    with open(newest, "w") as fh:
        json.dump(m, fh)
    assert t.committed_op_ids() == {"op-a", "op-b"}
    t.append(df, op_id="op-c")  # commit rebuilds the chained map
    assert t.committed_op_ids() == {"op-a", "op-b", "op-c"}


def _rows(t, spark):
    return {
        (r.url, r.quality) for r in t.read(spark).select("url", "quality").collect()
    }


def test_upsert_updates_in_place(spark, tmp_path):
    """S5 ON CONFLICT DO UPDATE: a re-crawled URL replaces the old
    record instead of appending a second one."""
    t = SnapshotTable(str(tmp_path / "t"), key=["url"], on_conflict="update")
    t.upsert(spark.createDataFrame(
        [("u1", 10), ("u2", 20)], "url string, quality int"))
    t.upsert(spark.createDataFrame(
        [("u1", 99), ("u3", 30)], "url string, quality int"))
    assert _rows(t, spark) == {("u1", 99), ("u2", 20), ("u3", 30)}


def test_upsert_ignore_keeps_first(spark, tmp_path):
    """S6 entity DO NOTHING: the first write of a key wins."""
    t = SnapshotTable(str(tmp_path / "t"), key=["url"], on_conflict="ignore")
    t.upsert(spark.createDataFrame([("u1", 10)], "url string, quality int"))
    t.upsert(spark.createDataFrame(
        [("u1", 99), ("u2", 20)], "url string, quality int"))
    assert _rows(t, spark) == {("u1", 10), ("u2", 20)}
    with pytest.raises(ValueError, match="on_conflict"):
        SnapshotTable(str(tmp_path / "t2"), key=["url"], on_conflict="skip")


def test_upsert_replay_idempotent(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), key=["url"])
    df = spark.createDataFrame([("u1", 10)], "url string, quality int")
    v1 = t.upsert(df, op_id="cycle-1")
    v2 = t.upsert(df, op_id="cycle-1")  # crash-replay → no-op
    assert v1 == v2
    assert _rows(t, spark) == {("u1", 10)}


def test_schema_evolution_add_column(spark, tmp_path):
    """Adding a column mid-corpus (the reference's ALTER TABLE ADD
    COLUMN migrations, scripts/update_database.py:28-98): old
    snapshots read back with typed-NULL backfill, the union schema is
    the column superset, and no file is rewritten."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([("u1", 10)], "url string, quality int"))
    t.append(spark.createDataFrame(
        [("u2", 20, "en")], "url string, quality int, lang string"))
    got = {(r.url, r.quality, r.lang) for r in t.read(spark).collect()}
    assert got == {("u1", 10, None), ("u2", 20, "en")}
    assert dict(t.read(spark).dtypes)["lang"] == "string"
    # time travel to the pre-migration snapshot sees the old schema
    assert t.read(spark, version=1).columns == ["url", "quality"]


def test_schema_evolution_upsert_across_boundary(spark, tmp_path):
    """Keyed MERGE still resolves one row per key when the winning
    write carries a column the loser predates."""
    t = SnapshotTable(str(tmp_path / "t"), key=["url"])
    t.upsert(spark.createDataFrame(
        [("u1", 10), ("u2", 20)], "url string, quality int"))
    t.upsert(spark.createDataFrame(
        [("u1", 99, "en")], "url string, quality int, lang string"))
    got = {(r.url, r.quality, r.lang) for r in t.read(spark).collect()}
    assert got == {("u1", 99, "en"), ("u2", 20, None)}


def test_schema_evolution_retype_rejected(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([("u1", 10)], "url string, quality int"))
    with pytest.raises(ValueError, match="re-typing"):
        t.append(spark.createDataFrame(
            [("u2", "high")], "url string, quality string"))


def test_schema_evolution_compact_folds_superset(spark, tmp_path):
    """compact() after a migration rewrites the resolved superset view
    into one homogeneous dir; reads before/after are identical."""
    t = SnapshotTable(str(tmp_path / "t"), key=["url"])
    t.upsert(spark.createDataFrame([("u1", 10)], "url string, quality int"))
    t.upsert(spark.createDataFrame(
        [("u2", 20, "en")], "url string, quality int, lang string"))
    before = {(r.url, r.quality, r.lang) for r in t.read(spark).collect()}
    t.compact(spark)
    assert {(r.url, r.quality, r.lang)
            for r in t.read(spark).collect()} == before
    assert len(t._read_manifest(t.current_version())["data_dirs"]) == 1


def _job_ids(spark) -> set[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


@pytest.mark.parametrize("shape", ["homogeneous", "evolved", "legacy"])
def test_reads_take_the_manifest_schema(spark, tmp_path, shape):
    """``read`` and ``read_delta`` take each dir's schema from the
    manifest: they schedule no footer-inference job before an action,
    and return the schema that inferring from the footers gives. Dirs
    of a legacy manifest (no ``dir_schemas``) still infer."""
    import json

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.createDataFrame([("u1", 10)], "url string, quality int"))
    if shape == "evolved":
        v = t.append(spark.createDataFrame(
            [("u2", 20, "en")], "url string, quality int, lang string"))
    else:
        v = t.append(spark.createDataFrame([("u2", 20)], "url string, quality int"))
    if shape == "legacy":
        path = os.path.join(t.root, "snapshots", f"{v:08d}.json")
        with open(path) as fh:
            m = json.load(fh)
        del m["dir_schemas"]
        with open(path, "w") as fh:
            json.dump(m, fh)
    dirs = t._read_manifest(v)["data_dirs"]
    want = spark.read.option("mergeSchema", "true").parquet(*dirs).schema
    want_delta = spark.read.parquet(dirs[-1]).schema
    before = _job_ids(spark)
    got, got_delta = t.read(spark).schema, t.read_delta(spark, v).schema
    jobs = _job_ids(spark) - before
    assert got == want
    assert got_delta == want_delta
    if shape != "legacy":
        assert not jobs


def test_concurrent_commit_conflict_raises(spark, tmp_path):
    """Two writers racing the same version: exactly one wins, the
    loser fails loudly instead of clobbering the committed manifest
    (os.link O_EXCL-style publish)."""
    t1 = SnapshotTable(str(tmp_path / "t"))
    t2 = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(0, 3)
    new_dir = str(tmp_path / "race-dir")
    df.write.mode("overwrite").parquet(new_dir)
    v1 = t1.append(df)
    # t2 computed its commit against the same base version: simulate
    # the race by forcing its _commit to target t1's version number
    t2.current_version = lambda: v1 - 1  # type: ignore[method-assign]
    with pytest.raises(RuntimeError, match="concurrent commit conflict"):
        t2._commit([new_dir], "append", None)
    # the winner's manifest is intact
    assert t1.read(spark).count() == 3


def test_concurrent_append_retries_and_resolves(spark, tmp_path):
    """Optimistic concurrency: an append that loses the version race
    retries against the winner's state — both writers' rows land, and
    a loser whose op_id the winner already committed no-ops."""
    t1 = SnapshotTable(str(tmp_path / "t"))
    t2 = SnapshotTable(str(tmp_path / "t"))
    base = t1.append(spark.range(0, 2), op_id="base")
    # t2 races: its first current_version() call returns the stale
    # base, as if t1's next commit landed between t2's read and write
    stale_once = [True]
    orig = t2.current_version

    def racy():
        if stale_once[0]:
            stale_once[0] = False
            t1.append(spark.range(100, 102), op_id="winner")  # interleaved
        return orig()

    t2.current_version = racy  # type: ignore[method-assign]
    t2.append(spark.range(200, 203), op_id="loser-retries")
    got = sorted(r.id for r in t1.read(spark).collect())
    assert got == [0, 1, 100, 101, 200, 201, 202]
    assert t1.committed_op_ids() >= {"base", "winner", "loser-retries"}
    # one parquet dir per committed write: a retry rewrites no parquet
    assert len(os.listdir(tmp_path / "t" / "data")) == 3
    # same-op_id race: replaying the op another session won is a no-op
    v = t1.current_version()
    assert t2.append(spark.range(300, 310), op_id="winner") == v
    assert t1.read(spark).count() == 7


def test_append_retry_writes_parquet_once(spark, tmp_path):
    """An append whose pinned commit loses a race retries with a new
    manifest only: its parquet dir is written once and reused."""
    t1 = SnapshotTable(str(tmp_path / "t"))
    t2 = SnapshotTable(str(tmp_path / "t"))
    t1.append(spark.range(0, 2), op_id="base")
    orig = t2._commit
    calls = []

    def racy(*a, **kw):
        if not calls:
            t1.append(spark.range(100, 102), op_id="winner")
        calls.append(kw.get("pin_version"))
        return orig(*a, **kw)

    t2._commit = racy  # type: ignore[method-assign]
    assert t2.append(spark.range(200, 203), op_id="loser") == 3
    assert calls == [2, 3]  # lost at 2, retried pinned at 3
    got = sorted(r.id for r in t1.read(spark).collect())
    assert got == [0, 1, 100, 101, 200, 201, 202]
    assert len(os.listdir(tmp_path / "t" / "data")) == 3


def _race_after_read(t, racer):
    """Make ``racer()`` commit from another instance right after the
    writer ``t`` reads its input (once)."""
    orig = t.read
    fired = []

    def read(*a, **kw):
        out = orig(*a, **kw)
        if not fired:
            fired.append(True)
            racer()
        return out

    t.read = read  # type: ignore[method-assign]


def test_rewrite_keeps_racing_append(spark, tmp_path):
    """An append that lands after ``rewrite`` read its input must
    survive: the rewrite's pinned commit loses and it re-reads."""
    t = SnapshotTable(str(tmp_path / "t"))
    other = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 2))
    t.append(spark.range(2, 3))
    _race_after_read(
        t, lambda: other.append(spark.range(100, 102), op_id="racer")
    )
    t.rewrite(spark, op_id="rw")
    assert sorted(r.id for r in other.read(spark).collect()) == [
        0, 1, 2, 100, 101
    ]
    assert len(other._read_manifest(other.current_version())["data_dirs"]) == 1
    assert other.committed_op_ids() >= {"racer", "rw"}


def test_compact_keeps_racing_upsert(spark, tmp_path):
    """An upsert that lands after ``compact`` read its input must
    survive: the compaction's pinned commit loses and it re-resolves."""
    t = SnapshotTable(str(tmp_path / "t"), key=["id"])
    other = SnapshotTable(str(tmp_path / "t"), key=["id"])
    t.upsert(spark.range(0, 2))
    t.upsert(spark.range(1, 3))
    _race_after_read(
        t, lambda: other.upsert(spark.range(100, 102), op_id="racer")
    )
    t.compact(spark, op_id="cp")
    assert sorted(r.id for r in other.read(spark).collect()) == [
        0, 1, 2, 100, 101
    ]
    assert len(other._read_manifest(other.current_version())["data_dirs"]) == 1
    assert other.committed_op_ids() >= {"racer", "cp"}


def _dv(tmp_path):
    from omni_crawler_spark.lakehouse.deletion_vectors import DeletionVectors

    root = str(tmp_path / "ix")
    return DeletionVectors(root, "ix", "id")


def test_dv_compact_keeps_racing_append(spark, tmp_path):
    """An index append that lands after ``DeletionVectors.compact``
    read the index must survive: the index leg's pinned commit loses
    and it re-applies the tombstones to the new snapshot."""
    dv, other = _dv(tmp_path), _dv(tmp_path)
    dv.bootstrap(spark, spark.range(0, 3))
    dv.delete(spark, spark.range(1, 2))
    _race_after_read(
        dv.table,
        lambda: other.bootstrap(spark, spark.range(100, 102), op_id="racer"),
    )
    dv.compact(spark, op_id="cp")
    assert sorted(r.id for r in other.live(spark).collect()) == [0, 2, 100, 101]
    assert sorted(r.id for r in other.table.read(spark).collect()) == [
        0, 2, 100, 101
    ]
    assert other._tomb_rows() == 0
    assert other.table.committed_op_ids() >= {"racer", "cp-post"}


def test_dv_compact_keeps_racing_tombstone(spark, tmp_path):
    """A tombstone that lands after ``DeletionVectors.compact`` read
    the tombstones must survive the tombstone leg: only what the index
    leg applied is cleared."""
    dv, other = _dv(tmp_path), _dv(tmp_path)
    dv.bootstrap(spark, spark.range(0, 4))
    dv.delete(spark, spark.range(1, 2))
    _race_after_read(
        dv.tomb,
        lambda: other.delete(spark, spark.range(2, 3), op_id="racer"),
    )
    dv.compact(spark, op_id="cp")
    assert sorted(r.id for r in other.live(spark).collect()) == [0, 3]
    assert [r.id for r in other.tomb.read(spark).collect()] == [2]
    assert other.tomb.committed_op_ids() >= {"racer", "cp-tomb"}


def test_dv_compact_between_reindex_legs_keeps_resurrected_id(spark, tmp_path):
    """A compaction that runs between ``reindex``'s row leg and its
    tombstone leg applies the earlier delete's floor to the fresh rows.
    That floor must not reach them: the delete's floor is the first
    generation not yet written, so rows written after it stay live."""
    dv, other = _dv(tmp_path), _dv(tmp_path)
    dv.bootstrap(spark, spark.range(0, 3))
    dv.delete(spark, spark.range(1, 2))
    tombstone = dv._tombstone

    def compact_then_tombstone(*a, **kw):
        other.compact(spark, op_id="cp")
        tombstone(*a, **kw)

    dv._tombstone = compact_then_tombstone  # type: ignore[method-assign]
    dv.reindex(spark, spark.range(1, 2), spark.range(1, 2), op_id="rx")
    assert sorted(r.id for r in other.live(spark).collect()) == [0, 1, 2]
    other.compact(spark, op_id="cp2")
    assert sorted(r.id for r in other.table.read(spark).collect()) == [0, 1, 2]


def test_one_write_path():
    """Every writer goes through ``_write``: the table module has one
    DataFrame ``.write`` and one ``_commit`` call site, both in it."""
    import ast

    from omni_crawler_spark.lakehouse import table

    with open(table.__file__) as fh:
        tree = ast.parse(fh.read())
    fns = [n for n in tree.body if isinstance(n, ast.FunctionDef)]
    for cls in (n for n in tree.body if isinstance(n, ast.ClassDef)):
        fns += [n for n in cls.body if isinstance(n, ast.FunctionDef)]
    writes, commits = [], []
    for fn in fns:
        for n in ast.walk(fn):
            if isinstance(n, ast.Attribute) and n.attr == "write":
                writes.append(fn.name)
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "_commit"):
                commits.append(fn.name)
    assert writes == ["_write"]
    assert set(commits) == {"_write"}
    names = {n.id if isinstance(n, ast.Name) else n.attr
             for n in ast.walk(tree)
             if isinstance(n, (ast.Name, ast.Attribute))}
    names |= {fn.name for fn in fns}
    assert not names & {"_commit_pinned", "_prev_dirs"}


def test_compact_preserves_resolved_view(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), key=["url"])
    for q in (1, 2, 3):
        t.upsert(spark.createDataFrame(
            [("u1", q), (f"u{q}", q * 10)], "url string, quality int"))
    before = _rows(t, spark)
    t.compact(spark)
    assert _rows(t, spark) == before
    # compaction collapsed the manifest to one data dir
    assert len(t._read_manifest(t.current_version())["data_dirs"]) == 1
    # and further upserts still resolve on top of the compacted base
    t.upsert(spark.createDataFrame([("u1", 777)], "url string, quality int"))
    assert ("u1", 777) in _rows(t, spark)


def test_expire_snapshots_bounds_history(spark, tmp_path):
    """Iceberg expire_snapshots: old manifests + their exclusive data
    dirs are deleted; reads at surviving versions are unchanged and
    op-id replay protection (newest-manifest map) still works."""
    t = SnapshotTable(str(tmp_path / "t"))
    for i in range(8):
        t.append(spark.range(i * 10, i * 10 + 3), op_id=f"op-{i}")
    before = sorted(r.id for r in t.read(spark).collect())
    stats = t.expire_snapshots(keep_last=3)
    assert stats["expired_manifests"] == 5
    # appends accumulate dirs, so every old dir is still referenced
    # by the newest manifests — nothing deletable yet
    assert stats["deleted_dirs"] == 0
    assert sorted(r.id for r in t.read(spark).collect()) == before
    assert len(t._snapshot_files()) == 3
    assert t.committed_op_ids() == {f"op-{i}" for i in range(8)}
    # replaying an expired-era op is still a no-op
    v = t.current_version()
    assert t.append(spark.range(0, 3), op_id="op-0") == v
    # after a rewrite (one fused dir), expiry CAN reclaim old dirs
    t.rewrite(spark, op_id="rw")
    stats2 = t.expire_snapshots(keep_last=1)
    assert stats2["deleted_dirs"] == 8  # the 8 pre-rewrite append dirs
    assert sorted(r.id for r in t.read(spark).collect()) == before
    # delta of the oldest surviving version is UNKNOWABLE (expired
    # predecessor) — read_delta fails loudly instead of silently
    # returning the full table as "the delta"; the lenient fallback
    # remains only for the stats gauges
    with pytest.raises(ValueError, match="expired"):
        t.read_delta(spark, t.current_version())
    assert t.delta_bytes(t.current_version()) > 0


def test_expired_op_ids_pruned_at_next_commit(spark, tmp_path):
    """expire_snapshots + the next commit bound the op_versions map:
    op_ids whose version predates the oldest surviving manifest are
    dropped (their replays can no longer happen), so manifest size
    stops growing O(total commits) over the retention horizon."""
    t = SnapshotTable(str(tmp_path / "t"))
    for i in range(8):
        t.append(spark.range(i, i + 1), op_id=f"op-{i}")
    t.expire_snapshots(keep_last=3)  # survivors: versions 6,7,8
    # the map still carries everything until a commit rewrites it
    assert t.committed_op_ids() == {f"op-{i}" for i in range(8)}
    t.append(spark.range(100, 101), op_id="op-new")
    # ops committed at versions < 6 are gone; recent ones survive
    assert t.committed_op_ids() == {"op-5", "op-6", "op-7", "op-new"}
    # replay protection still intact for surviving ops
    v = t.current_version()
    assert t.append(spark.range(0, 1), op_id="op-7") == v


def test_params_marker_atomic_and_loud(tmp_path):
    """ensure_params_marker: same params create-or-pass; different
    params raise — including when the marker appears AFTER the
    isfile precheck (the os.link publish refuses an existing target
    and re-runs the equality check, closing the last-rename-wins
    TOCTOU where one of two racing param sets silently vanished)."""
    import json
    import os
    from unittest import mock

    from omni_crawler_spark.lakehouse.table import ensure_params_marker

    p = str(tmp_path / "m.json")
    ensure_params_marker(p, {"a": 1})
    ensure_params_marker(p, {"a": 1})  # idempotent
    with pytest.raises(ValueError, match="built with"):
        ensure_params_marker(p, {"a": 2})
    # race: the marker lands between the precheck and the publish
    p2 = str(tmp_path / "m2.json")
    real_isfile = os.path.isfile

    def racy_isfile(path):
        exists = real_isfile(path)
        if path == p2 and not exists:
            with open(p2, "w") as fh:
                json.dump({"a": 99}, fh)  # the concurrent winner
            return False  # what the loser's precheck observed
        return exists

    with mock.patch(
        "omni_crawler_spark.lakehouse.table.os.path.isfile", racy_isfile
    ):
        with pytest.raises(ValueError, match="built with"):
            ensure_params_marker(p2, {"a": 1})
    with open(p2) as fh:
        assert json.load(fh) == {"a": 99}  # winner's params intact


def test_cache_root_gc_exact_base_only(tmp_path):
    """cache_root GC deletes superseded fingerprints of the SAME
    source only — a source whose sanitized base is a prefix of
    another's ('/d/sf0.1' vs '/d/sf0.1.v2' both sanitize with '_')
    must never have its live root deleted by the other's GC."""
    import os

    from omni_crawler_spark.analytics.registry import cache_root, cache_tag

    src_a = tmp_path / "d" / "sf0.1"
    src_b = tmp_path / "d" / "sf0.1.v2"
    for s in (src_a, src_b):
        s.mkdir(parents=True)
        (s / "x.parquet").write_bytes(b"pq")
    parent = str(tmp_path / "cache")
    os.makedirs(parent)
    live_b = os.path.join(parent, cache_tag(str(src_b)))
    os.makedirs(live_b)
    # a superseded generation of source A (same base, other fp)
    base_a = str(src_a).strip("/").replace("/", "_").replace(".", "_")
    stale_a = os.path.join(parent, f"{base_a}_{'0' * 12}")
    os.makedirs(stale_a)
    root_a = cache_root(parent, str(src_a))
    assert not os.path.isdir(stale_a)  # superseded sibling reclaimed
    assert os.path.isdir(live_b)  # the OTHER source's root untouched
    assert root_a == os.path.join(parent, cache_tag(str(src_a)))


def test_remove_orphans_only_unreferenced_and_aged(spark, tmp_path):
    """Orphan cleanup deletes exactly the dirs no manifest references
    (lost-race residue) AND older than the grace window — never
    committed data, never a possibly-in-flight fresh write."""
    import os
    import time

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(spark.range(0, 4), op_id="a")
    # simulate a lost race: a data dir written but never committed
    orphan = str(tmp_path / "t" / "data" / "deadbeefcafe")
    spark.range(100, 105).write.parquet(orphan)
    # fresh orphan: inside the grace window → protected (it could be
    # a concurrent writer between its parquet write and its commit)
    assert t.remove_orphans() == 0
    assert os.path.isdir(orphan)
    # age it past the window → reclaimed
    old = time.time() - 7200
    for root, _, files in os.walk(orphan):
        for f in files:
            os.utime(os.path.join(root, f), (old, old))
    assert t.remove_orphans() == 1
    assert not os.path.isdir(orphan)
    assert t.read(spark).count() == 4
    assert t.remove_orphans() == 0

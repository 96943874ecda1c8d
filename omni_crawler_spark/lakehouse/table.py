"""SnapshotTable: append-only parquet table with atomic JSON-manifest
snapshots (Iceberg stand-in; see package docstring).

Layout:

    <root>/data/<uuid>/part-*.parquet     one dir per committed write
    <root>/snapshots/00000001.json        manifest: list of data dirs
    <root>/snapshots/00000002.json        + commit metadata

A snapshot manifest lists the data directories visible at that
version. Commits are atomic via write-temp + ``os.link`` onto the
final path — ``link`` fails with EEXIST if another writer already
published that version, so concurrent committers lose loudly instead
of silently clobbering each other's manifest. Readers resolve the
latest manifest (or an explicit ``version``) and read exactly those
files — a partially-written data dir that never got a manifest is
invisible, which is what makes kill-anywhere resume safe.

Pinned commits (the Iceberg optimistic-concurrency model): every
writer goes through ``_write``, which computes its rows on top of the
latest snapshot ``base`` and commits pinned to version ``base + 1``.
If any other writer published after ``base``, the pinned commit fails
with CommitConflict and the writer starts over from the new latest
snapshot: ``upsert`` re-tags ``_v``, ``rewrite``/``compact`` re-read
the table, so a racing writer's rows are never dropped. Parquet is
rewritten only when the rows changed — an ``append``/``overwrite``
retry is a driver-side JSON rewrite, never a Spark job. A retry whose
op_id the winner already committed is a no-op.

Schema evolution: each manifest records the parquet schema of every
data dir (``dir_schemas``). A commit may add NEW columns relative to
earlier snapshots (the reference's ad-hoc ``ALTER TABLE ADD COLUMN``
migrations, scripts/update_database.py:28-98 and
src/storage/database_schema_updater.py:135-190); ``read`` returns the
column superset with typed-NULL backfill for dirs written before the
column existed. The schema comes from the manifest, never from footer
sniffing (``mergeSchema`` would read every file footer — O(files)
driver I/O at 10^10 rows); heterogeneous dirs are grouped by schema
signature so the scan count is O(#migrations), not O(#commits).
Renaming or re-typing an existing column is rejected loudly.

Idempotent commits: a write tagged with ``op_id`` is skipped if any
existing snapshot already carries that op_id — replaying a crawl
cycle after a crash cannot double-append (mirrors Iceberg's
idempotent MERGE pattern, SURVEY §4.2 checkpoint-resume row).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer published the version this commit targeted."""


def ensure_params_marker(path: str, params: dict, what: str = "index") -> None:
    """Create-or-validate a JSON params marker ATOMICALLY: the file is
    published via write-temp + ``os.link`` (EEXIST-refusing, the same
    arbiter ``_commit`` uses), so a concurrent reader can never
    observe a half-written marker AND two concurrent bootstraps with
    DIFFERENT params cannot both "win" — the link loser re-reads the
    winner's marker and runs the equality check, so exactly one param
    set is installed and a mismatched racer fails loudly instead of
    proceeding against an index whose marker no longer matches what
    it built (the TOCTOU a rename-based publish leaves open)."""

    def _check(existing: dict) -> None:
        if existing != params:
            raise ValueError(
                f"{what} at {os.path.dirname(path)} was built with "
                f"{existing}, requested {params} — use a new root or "
                "matching parameters"
            )

    if os.path.isfile(path):
        with open(path) as fh:
            _check(json.load(fh))
        return
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(params, fh)
    try:
        os.link(tmp, path)
    except FileExistsError:
        with open(path) as fh:
            _check(json.load(fh))
    finally:
        os.unlink(tmp)


class _OpAlreadyCommitted(Exception):
    """Raised inside _commit when the newest manifest already carries
    this op_id — a concurrent writer won the same idempotent op
    between the caller's precheck and the commit (TOCTOU). Callers
    translate it into a no-op return."""


class SnapshotTable:
    """``key``/``on_conflict`` give the table keyed MERGE semantics
    (merge-on-read): ``upsert`` appends rows tagged with their commit
    version, and ``read`` resolves one row per key — newest commit
    wins for ``on_conflict='update'`` (PG ``ON CONFLICT DO UPDATE``,
    omni_storage.py:137-205), oldest for ``'ignore'`` (entity
    ``DO NOTHING``, :186-196). ``compact`` rewrites the resolved view
    into one snapshot, bounding read amplification — the Iceberg
    MOR + maintenance-compaction pattern. At scale the resolve window
    shuffles on the key once per read; bucketing the table by the key
    makes it a partition-local sort."""

    def __init__(
        self,
        root: str,
        name: str = "table",
        key: list[str] | None = None,
        on_conflict: str = "update",
    ):
        self.root = root
        self.name = name
        self.key = key
        assert on_conflict in ("update", "ignore")
        self.on_conflict = on_conflict
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------------

    def _snapshot_files(self) -> list[str]:
        d = os.path.join(self.root, "snapshots")
        return sorted(f for f in os.listdir(d) if f.endswith(".json"))

    def current_version(self) -> int:
        files = self._snapshot_files()
        return int(files[-1].split(".")[0]) if files else 0

    def _read_manifest(self, version: int) -> dict:
        path = os.path.join(self.root, "snapshots", f"{version:08d}.json")
        with open(path) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        return [self._read_manifest(int(f.split(".")[0]))
                for f in self._snapshot_files()]

    def _op_versions(self) -> dict[str, int]:
        """{op_id: version} for every committed op, read from the
        NEWEST manifest only — each commit chains the accumulated map
        forward, so idempotency checks are O(1) manifest reads instead
        of O(history) (with 6 tables × 5+ commits/cycle the per-commit
        full-history rescan was O(cycles²) driver file I/O over a long
        crawl). Manifests written before this field fall back to one
        full history scan, after which the next commit materializes
        the map.

        The map is O(total commits) per manifest; at very long
        horizons (10^4+ commits) you'd bound it with snapshot
        retention (expire manifests older than the replay window and
        prune their op_ids with them — Iceberg's expire_snapshots
        pattern; crash-replay only ever re-runs recent cycles)."""
        v = self.current_version()
        if v == 0:
            return {}
        m = self._read_manifest(v)
        ops = m.get("op_versions")
        if ops is not None:
            return ops
        # legacy manifests: reconstruct once from full history
        out: dict[str, int] = {}
        for mm in self.history():
            if mm.get("op_id") is not None:
                out[mm["op_id"]] = mm["version"]
        return out

    def version_of(self, op_id: str) -> int | None:
        """Version committed under ``op_id`` (None if never committed)
        — pairs with read_delta for replay-safe incremental reads."""
        return self._op_versions().get(op_id)

    def committed_op_ids(self) -> set[str]:
        return set(self._op_versions())

    # -- writes --------------------------------------------------------------

    def _commit(
        self,
        data_dirs: list[str],
        op: str,
        op_id: str | None,
        dir_schemas: dict[str, str] | None = None,
        pin_version: int | None = None,
    ) -> int:
        version = (
            pin_version if pin_version is not None
            else self.current_version() + 1
        )
        if pin_version is not None and self.current_version() >= pin_version:
            # fast-path the stale case; the atomic link below catches
            # any race that slips past this check
            raise CommitConflict(
                f"{self.name}: version {pin_version} already taken"
            )
        op_versions = self._op_versions()
        # retention-aware pruning: op_ids whose commit predates the
        # oldest SURVIVING manifest protect replays that can no longer
        # happen (their cycle's inputs were expired with the manifest)
        # — without this, expire_snapshots bounds manifests and data
        # dirs but the chained map still grows O(total commits) over
        # the 10^4-commit horizon retention exists to bound.
        files = self._snapshot_files()
        if files:
            floor = int(files[0].split(".")[0])
            if any(v < floor for v in op_versions.values()):
                op_versions = {
                    k: v for k, v in op_versions.items() if v >= floor
                }
        if op_id is not None:
            # final idempotency check against the NEWEST manifest,
            # made airtight by the atomic link below: if a concurrent
            # writer commits our op_id after this read, our link
            # targets a version that now exists and fails with
            # CommitConflict — the retry then lands here and no-ops.
            if op_id in op_versions:
                raise _OpAlreadyCommitted(op_id)
            op_versions = {**op_versions, op_id: version}
        manifest = {
            "version": version,
            "op": op,
            "op_id": op_id,
            "data_dirs": data_dirs,
            "op_versions": op_versions,
            "dir_schemas": dir_schemas or {},
        }
        final = os.path.join(self.root, "snapshots", f"{version:08d}.json")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            # atomic publish that REFUSES an existing target: two
            # concurrent writers racing the same version number get
            # exactly one winner; the loser raises instead of
            # overwriting a committed snapshot (os.rename would
            # silently clobber it).
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(
                f"concurrent commit conflict on {self.name} version "
                f"{version} — another writer committed this version first"
            ) from None
        finally:
            os.unlink(tmp)
        return version

    def _check_evolution(self, df: DataFrame, prior: dict[str, str]) -> None:
        """New snapshots may ADD columns to ``prior`` (the base
        snapshot's ``dir_schemas``); they may not re-type an existing
        one (rename = old column goes NULL-backfilled + new column
        appears, which is Iceberg's add-column semantics too — a true
        rename needs a rewrite)."""
        from pyspark.sql.types import StructType

        existing: dict[str, str] = {}
        for sig in set(prior.values()):
            for fld in StructType.fromJson(json.loads(sig)).fields:
                existing.setdefault(fld.name, fld.dataType.simpleString())
        for fld in df.schema.fields:
            old = existing.get(fld.name)
            if old is not None and old != fld.dataType.simpleString():
                raise ValueError(
                    f"schema evolution conflict on {self.name}.{fld.name}: "
                    f"committed type {old}, new write has "
                    f"{fld.dataType.simpleString()} — re-typing requires a "
                    "full rewrite"
                )

    def _write(
        self,
        op: str,
        op_id: str | None,
        rows_at: Callable[[int], DataFrame],
        keep_prior: bool,
    ) -> int:
        """The one write path (the pinned-commit rule is in the module
        docstring). ``rows_at(base)`` gives the rows to commit on top
        of snapshot ``base``; ``keep_prior`` keeps ``base``'s data dirs
        (append, upsert) instead of replacing them."""
        rows = new_dir = None
        for _ in range(100):
            if op_id is not None and op_id in self.committed_op_ids():
                return self.current_version()
            base = self.current_version()
            prior = self._read_manifest(base) if keep_prior and base else {}
            prior_schemas = prior.get("dir_schemas") or {}
            df = rows_at(base)
            if keep_prior:
                self._check_evolution(df, prior_schemas)
            if df is not rows:
                rows = df
                new_dir = os.path.join(self.root, "data", uuid.uuid4().hex)
                df.write.mode("overwrite").parquet(new_dir)
            try:
                return self._commit(
                    prior.get("data_dirs", []) + [new_dir],
                    op,
                    op_id,
                    dir_schemas={**prior_schemas, new_dir: df.schema.json()},
                    pin_version=base + 1,
                )
            except CommitConflict:
                continue
            except _OpAlreadyCommitted:
                return self.current_version()
        raise CommitConflict(
            f"{op} to {self.name} lost 100 consecutive commit races"
        )

    def append(self, df: DataFrame, op_id: str | None = None) -> int:
        """Append df as a new snapshot. No-op if op_id already
        committed. The new snapshot may carry added columns
        (schema evolution); see the module docstring."""
        return self._write("append", op_id, lambda b: df, keep_prior=True)

    def overwrite(self, df: DataFrame, op_id: str | None = None) -> int:
        return self._write("overwrite", op_id, lambda b: df, keep_prior=False)

    def upsert(self, df: DataFrame, op_id: str | None = None) -> int:
        """Keyed MERGE: append ``df`` tagged ``_v`` with the version
        its commit lands at; ``read`` resolves per-key conflicts by
        ``on_conflict``. No-op if ``op_id`` already committed
        (idempotent replay)."""
        if self.key is None:
            raise ValueError(f"table {self.name} has no key — use append()")
        return self._write(
            "append", op_id, lambda b: df.withColumn("_v", F.lit(b + 1)),
            keep_prior=True,
        )

    def rewrite(self, spark: SparkSession, op_id: str | None = None) -> int:
        """File compaction for unkeyed tables: rewrite the current
        rows as ONE data dir (same contents, new snapshot). Bounds
        the per-read dir listing after many small appends — an
        append-per-cycle table accumulates O(cycles) directories that
        every reader must list and open. Time travel to prior
        versions still works (old dirs are never deleted)."""
        return self._write(
            "rewrite", op_id,
            lambda b: self.read(spark, version=b, _resolve=False),
            keep_prior=False,
        )

    def compact(self, spark: SparkSession, op_id: str | None = None) -> int:
        """Rewrite the resolved view as a single snapshot (keyed
        tables only): bounds the per-read merge work after many
        upserts. Resolved rows keep their winning ``_v`` tags, so
        reads before/after compaction are identical. ``op_id`` makes
        maintenance crash-replay-idempotent like any other commit."""
        if self.key is None:
            raise ValueError(f"table {self.name} has no key")
        return self._write(
            "compact", op_id,
            lambda b: self._resolve(
                self.read(spark, version=b, _resolve=False), keep_v=True
            ),
            keep_prior=False,
        )

    # -- reads ---------------------------------------------------------------

    def _resolve(self, df: DataFrame, keep_v: bool = False) -> DataFrame:
        if self.key is None or "_v" not in df.columns:
            return df
        order = F.desc("_v") if self.on_conflict == "update" else F.asc("_v")
        w = Window.partitionBy(*self.key).orderBy(order)
        out = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return out if keep_v else out.drop("_v")

    def _added_dirs(self, version: int, strict: bool) -> list[str]:
        """Data dirs ``version`` added over its predecessor. When the
        predecessor was expired by ``expire_snapshots`` the delta is
        unknowable: ``strict`` raises, otherwise the oldest surviving
        version reports its full contents as its own delta."""
        cur = self._read_manifest(version)["data_dirs"]
        prev: set[str] = set()
        if version > 1:
            try:
                prev = set(self._read_manifest(version - 1)["data_dirs"])
            except FileNotFoundError:
                if strict:
                    raise ValueError(
                        f"predecessor manifest {version - 1} of "
                        f"{self.name} was expired — the delta of version "
                        f"{version} is unknowable (a fallback would "
                        "return the full table, not the delta); widen "
                        "snapshot retention past the incremental-read "
                        "horizon or use read()"
                    ) from None
        return [d for d in cur if d not in prev]

    @staticmethod
    def _footer_rows(dirs: list[str]) -> int:
        """Row count of the parquet files under ``dirs`` from footer
        METADATA (driver-side pyarrow read, no Spark job)."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for d in dirs
            for root, _, files in os.walk(d)
            for f in files
            if f.endswith(".parquet")
        )

    def delta_bytes(self, version: int) -> int:
        """Bytes written by ``version`` (the files of its NEW data
        dirs) — the write-amplification gauge: an incremental append
        reports the delta's bytes, an overwrite/compact reports the
        full rewrite."""
        return sum(
            os.path.getsize(os.path.join(root, f))
            for d in self._added_dirs(version, strict=False)
            for root, _, files in os.walk(d)
            for f in files
        )

    def delta_rows(self, version: int) -> int:
        """Row count of the files ``version`` added, from parquet
        footers — lineage accounting shouldn't cost a cluster pass."""
        return self._footer_rows(self._added_dirs(version, strict=False))

    def read_delta(self, spark: SparkSession, version: int) -> DataFrame:
        """Read ONLY the rows added by ``version`` (its new data dirs,
        not the accumulated table) — the incremental-scan primitive:
        a cycle that needs just-its-own commit reads O(commit), never
        O(history), and no footer listing of prior dirs happens.

        Strict about an expired predecessor: the lenient fallback
        would silently return the ENTIRE cumulative table, so an
        incremental consumer near the retention boundary would
        reprocess full history as "the delta" (the lenient form stays
        only for the stats gauges delta_bytes/delta_rows, where
        over-attribution is harmless)."""
        delta = self._added_dirs(version, strict=True)
        if not delta:
            raise ValueError(f"version {version} added no data dirs")
        manifest = self._read_manifest(version)
        return self._scan(
            spark, {"data_dirs": delta, "dir_schemas": manifest.get("dir_schemas")}
        )

    def read_since(
        self, spark: SparkSession, base: int, version: int
    ) -> DataFrame:
        """Rows of ``version`` held in data dirs that ``base`` did not
        list: what the commits after ``base`` added, as of ``version``
        (``base`` 0 reads the whole version; no new dir reads empty)."""
        manifest = self._read_manifest(version)
        old = set(self._read_manifest(base)["data_dirs"]) if base else set()
        new = [d for d in manifest["data_dirs"] if d not in old]
        if not new:
            return self.read(spark, version=version, _resolve=False).limit(0)
        return self._scan(
            spark, {"data_dirs": new, "dir_schemas": manifest.get("dir_schemas")}
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        _resolve: bool = True,
    ) -> DataFrame:
        """Read the table at ``version`` (time travel) or latest.
        Keyed tables resolve to one row per key (merge-on-read)."""
        version = version if version is not None else self.current_version()
        if version == 0:
            raise ValueError(f"table {self.name} has no snapshots yet")
        manifest = self._read_manifest(version)
        df = self._scan(spark, manifest)
        return self._resolve(df) if _resolve else df

    def _scan(self, spark: SparkSession, manifest: dict) -> DataFrame:
        """Scan a manifest's data dirs, evolving heterogeneous schemas
        to the column superset with typed-NULL backfill. Dirs are
        grouped by schema signature so the plan has one scan node per
        distinct schema (O(#migrations)), and each scan gets its schema
        from the manifest: no footer inference (a driver-side Spark
        job per read) and no ``mergeSchema`` (every file footer). Only
        legacy dirs committed before ``dir_schemas`` still infer."""
        from pyspark.sql.types import StructField, StructType

        dir_schemas = manifest.get("dir_schemas") or {}
        groups: dict[str | None, list[str]] = {}
        for d in manifest["data_dirs"]:
            groups.setdefault(dir_schemas.get(d), []).append(d)
        scans: list[tuple[StructType, DataFrame]] = []
        for sig, ds in groups.items():
            if sig is None:
                df = spark.read.parquet(*ds)
                scans.append((df.schema, df))
            else:
                st = StructType.fromJson(json.loads(sig))
                scans.append((st, spark.read.schema(st).parquet(*ds)))
        if len(scans) == 1:
            return scans[0][1]
        union_fields: dict[str, StructField] = {}
        for st, _ in scans:
            for fld in st.fields:
                prev = union_fields.get(fld.name)
                if prev is not None and prev.dataType != fld.dataType:
                    raise ValueError(
                        f"table {self.name} column {fld.name} committed "
                        f"with conflicting types "
                        f"{prev.dataType.simpleString()} vs "
                        f"{fld.dataType.simpleString()}"
                    )
                union_fields.setdefault(fld.name, fld)
        out: DataFrame | None = None
        for st, df in scans:
            have = set(st.fieldNames())
            df = df.select(
                *[
                    F.col(n) if n in have
                    else F.lit(None).cast(fld.dataType).alias(n)
                    for n, fld in union_fields.items()
                ]
            )
            out = df if out is None else out.unionByName(df)
        return out

    def is_empty(self) -> bool:
        return self.current_version() == 0

    def footer_row_count(self) -> int:
        """Total LIVE rows of the current snapshot from parquet
        footer metadata (driver-side pyarrow, no Spark job) — the
        right emptiness test for tables that get overwritten with
        zero rows (a cleared table keeps a nonzero version, so
        ``is_empty`` alone cannot say 'nothing in here')."""
        if self.is_empty():
            return 0
        return self._footer_rows(
            self._read_manifest(self.current_version())["data_dirs"]
        )

    # -- maintenance ---------------------------------------------------------

    def expire_snapshots(self, keep_last: int = 10) -> dict:
        """Drop manifests older than the newest ``keep_last`` and
        delete data dirs no surviving manifest references — Iceberg's
        ``expire_snapshots``: bounds driver-side snapshot listing and
        disk growth over a long crawl (the 10^4-commit horizon the
        op-map docstring flags). Time travel remains valid within the
        retention window. Replay protection is BOUNDED BY THE SAME
        WINDOW: the next commit prunes op_ids whose version predates
        the oldest surviving manifest (that is what stops the op map
        growing O(total commits)), so an op expired out of the window
        — e.g. a round-one bootstrap — would re-run if replayed.
        Size ``keep_last`` past the crash-replay horizon (CrawlEngine
        defaults to 2x the compaction period, min 16), and treat
        one-shot backfills as replayable only within it. Returns
        {'expired_manifests': n, 'deleted_dirs': n}."""
        import shutil

        files = self._snapshot_files()
        if len(files) <= keep_last:
            return {"expired_manifests": 0, "deleted_dirs": 0}
        keep = files[-keep_last:]
        expire = files[:-keep_last]
        live: set[str] = set()
        for f in keep:
            live.update(self._read_manifest(int(f.split(".")[0]))["data_dirs"])
        doomed: set[str] = set()
        for f in expire:
            doomed.update(
                self._read_manifest(int(f.split(".")[0]))["data_dirs"]
            )
        deleted = 0
        for d in doomed - live:
            shutil.rmtree(d, ignore_errors=True)
            deleted += 1
        for f in expire:
            os.unlink(os.path.join(self.root, "snapshots", f))
        return {"expired_manifests": len(expire), "deleted_dirs": deleted}

    def remove_orphans(self, grace_seconds: float = 3600.0) -> int:
        """Delete data dirs referenced by NO manifest — the residue of
        lost commit races (a loser's parquet write that resolved to a
        no-op) and of writes killed before their commit.

        ``grace_seconds`` protects IN-FLIGHT writers: a concurrent
        commit exists for a window between its parquet write and its
        manifest publish, during which its dir is unreferenced —
        deleting it would let the writer publish a manifest pointing
        at missing files (the Iceberg orphan-cleanup age-threshold
        rule). Only dirs whose newest mtime is older than the grace
        window are reclaimed; a dir older than an hour with no
        manifest has no live writer (commits are driver-side JSON
        writes that follow the data write within seconds). Returns
        the number removed."""
        import shutil
        import time

        referenced: set[str] = set()
        for f in self._snapshot_files():
            referenced.update(
                self._read_manifest(int(f.split(".")[0]))["data_dirs"]
            )
        cutoff = time.time() - grace_seconds
        data_root = os.path.join(self.root, "data")
        removed = 0
        for d in os.listdir(data_root):
            full = os.path.join(data_root, d)
            if full in referenced:
                continue
            try:
                newest = max(
                    os.path.getmtime(os.path.join(root, name))
                    for root, _, files in os.walk(full)
                    for name in files
                ) if os.path.isdir(full) else os.path.getmtime(full)
            except (ValueError, OSError):
                # empty dir: fall back to the dir's own mtime
                try:
                    newest = os.path.getmtime(full)
                except OSError:
                    continue
            if newest > cutoff:
                continue  # possibly an in-flight writer — leave it
            shutil.rmtree(full, ignore_errors=True)
            removed += 1
        return removed

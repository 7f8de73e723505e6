"""Snapshot-versioned parquet metadata store.

The reference keeps its metadata in three DynamoDB tables with
read-after-write consistency and a FIFO-serialized single writer for the
catalog (/root/reference/geostore/datasets_model.py,
processing_assets_model.py, validation_results_model.py;
infrastructure/constructs/processing.py:113-140). The Spark-first
equivalent is Delta; this container has no delta-spark, so the store
implements the same guarantees with plain parquet + an atomically swapped
version pointer:

- every write produces a NEW immutable snapshot directory ``v{n}``;
- ``_LATEST`` is swapped with ``os.replace`` (atomic on POSIX), so readers
  always see a complete snapshot — never a partial write;
- racing writers: the loser's ``errorifexists`` snapshot write fails →
  ``ConcurrentWriteError`` (Delta's optimistic-concurrency conflict);
- ``read(table, version=…)`` time-travels any retained snapshot;
  ``history`` lists them (DESCRIBE HISTORY shape);
- ``compact`` rewrites the current snapshot into few files as a new
  version (small-files fix); ``vacuum`` trims history to a retention;
- ``add_column`` is additive schema evolution — old snapshots keep their
  written schema, new reads see the new column (parquet self-describes);
- ``merge`` is the Delta ``MERGE INTO`` shape (matched-update /
  not-matched-insert) expressed as a join + union rewrite;
- ``changes`` is the Delta change-data-feed (``table_changes``) shape:
  insert/delete rows between any two retained snapshots via null-safe
  whole-row anti-joins, with updates surfacing as delete+insert pairs —
  no stored change log needed.

Single-writer discipline (the reference's FIFO queue, op T5) is the
caller's job here, as it is with Delta's optimistic concurrency.

At 100 TB these tables are *metadata* (datasets, assets, validation
results) — orders of magnitude smaller than the data they describe; the
rewrite-on-merge cost is bounded and the swap is O(1).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ConcurrentWriteError(RuntimeError):
    """Raised when two writers race a snapshot commit — the loser's
    ``errorifexists`` directory write fails, mirroring Delta's optimistic
    concurrency ``ConcurrentAppendException``. Retry = re-read and
    re-apply (the caller's serialization discipline, reference op T5)."""

# Decoded schemas (FIXTURES.md B1-B3, B5): no '#'-encoded composite keys —
# the reference's pk/sk prefixes become real columns.
SCHEMAS: dict[str, str] = {
    "datasets": (
        "dataset_id string, title string, created_at timestamp, "
        "updated_at timestamp, current_dataset_version string"
    ),
    "processing_assets": (
        "dataset_id string, version_id string, asset_type string, "
        "item_index long, url string, filename string, multihash string, "
        "exists_in_staging boolean, replaced_in_new_version boolean"
    ),
    "validation_results": (
        "dataset_id string, version_id string, check string, url string, "
        "result string, details map<string,string>"
    ),
    "pipeline_runs": (
        "execution_id string, dataset_id string, version_id string, "
        "title string, status string, validation_success boolean, "
        "asset_job_status string, metadata_job_status string, "
        "started_at timestamp, stopped_at timestamp"
    ),
    "catalog": (
        "url string, stac_type string, dataset_id string, title string, "
        "parent_url string, etag string"
    ),
}


def null_safe_on(keys: list[str], prefix: str) -> Column:
    """AND-fold of ``key <=> prefix+key`` — the null-safe key-join
    condition every merge/probe site shares (NULL keys are one group,
    matching groupBy/CDF semantics). The right side's key columns must
    have been renamed to ``prefix+key`` first so the condition is
    unambiguous."""
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"{prefix}{k}"))
        cond = c if cond is None else (cond & c)
    return cond


class MetadataStore:
    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        # immutable-snapshot scan plans, keyed (applicationId, path) —
        # see read(); plans are session-scoped objects, so the key
        # carries the session and stale-session entries are evicted
        self._scan_cache: dict[tuple[str, str], DataFrame] = {}

    # -- snapshot plumbing --------------------------------------------------

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_LATEST")

    def current_version(self, table: str) -> int:
        """Latest committed version: the max ``v{n}`` directory, because
        the atomic ``os.rename`` of the staged directory IS the commit
        (see ``_write_snapshot``). The ``_LATEST`` pointer is kept as a
        fast-path cache and crash witness — a crash between rename and
        pointer swap leaves the pointer lagging one behind, and taking
        the max of both heals that torn state on the next read instead
        of silently losing the committed snapshot (round-8 crash-point
        fuzz, tests/test_cdc_random_script.py)."""
        best = -1
        try:
            with open(self._pointer(table)) as f:
                best = int(f.read().strip())
        except FileNotFoundError:
            pass
        try:
            for name in os.listdir(self._table_dir(table)):
                if name.startswith("v"):
                    try:
                        best = max(best, int(name[1:]))
                    except ValueError:
                        continue
        except FileNotFoundError:
            pass
        return best

    def has_version(self, table: str, version: int) -> bool:
        """Whether the snapshot directory for ``version`` still exists —
        i.e. it has not been removed by :meth:`vacuum`. Incremental
        consumers anchored to an old version (IVM's applied watermark)
        probe this EAGERLY before building a change-feed plan, so
        retention races surface as a deliberate rebuild decision, not a
        lazy file-not-found failure mid-merge."""
        return version >= 0 and os.path.isdir(
            os.path.join(self._table_dir(table), f"v{version}")
        )

    @staticmethod
    def _crash_hook(label: str) -> None:
        """Fault-injection seam: a no-op the crash-point fuzz
        monkeypatches to simulate a process kill at every commit
        boundary (after the staged parquet write, after the commit-meta
        write, after the atomic rename, around the pointer swap). The
        production code path pays one function call per boundary."""

    def _swap_pointer(self, table: str, version: int) -> None:
        d = self._table_dir(table)
        fd, tmp = tempfile.mkstemp(dir=d, prefix="_LATEST.")
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
        self._crash_hook("pointer_staged")
        os.replace(tmp, self._pointer(table))  # atomic cache refresh

    # Reserved commit-meta key describing the commit's recorded change
    # feed (the Delta CDF design: mutators that KNOW their changes write
    # them at commit time, so `changes()` over an adjacent version pair
    # reads O(|changes|) instead of diffing two full snapshots):
    #   {"type": "files", "files": [...]} — the commit only ADDED the
    #       listed parquet files (append); the feed is those rows as
    #       inserts, and no separate change data is stored at all;
    #   {"type": "dir"}   — net change rows live in ``v{n}/_changes``;
    #   {"type": "empty"} — the commit changed no rows (compact).
    # Absent key = unknown provenance (create/overwrite/add_column or a
    # pre-upgrade commit): `changes()` falls back to the generic
    # snapshot diff, so the fast path is purely an optimization and the
    # pinned net-multiset-diff contract is unchanged.
    CDF_META_KEY = "__cdf"

    def _write_snapshot(
        self,
        table: str,
        df: DataFrame,
        base: int,
        meta: dict | None = None,
        link_from: int | None = None,
        cdf_feed: DataFrame | None = None,
        cdf_kind: str | None = None,
    ) -> None:
        """Commit ``df`` as ``v{base+1}``, where ``base`` is the version
        the mutator READ its input at — never re-resolved here. Re-reading
        the pointer at commit time would silently discard a concurrent
        writer's update (writer B, read at v0, would happily commit v2 on
        top of A's v1); pinning the version to the read makes
        ``errorifexists`` a true read-version conflict check, which is the
        validation Delta's optimistic concurrency does at commit.

        ``meta`` is committed ATOMICALLY with the snapshot (Delta's
        ``txn``/commitInfo shape): it lands inside the STAGED directory
        before the rename, so a reader either sees snapshot+meta or
        neither — the primitive idempotent writers (streaming sinks, IVM
        refresh) need to make "was this already applied?" crash-safe.

        Commit protocol (round 8, crash-point fuzz): the snapshot is
        written to a ``_staged.*`` scratch directory and COMMITTED by one
        atomic ``os.rename`` onto ``v{n+1}`` — Delta's
        put-if-absent log-entry write. A kill anywhere before the rename
        leaves only scratch (cleaned by ``vacuum``), never a torn
        version directory: the previous write-in-place protocol wedged
        the table permanently after a mid-write crash, because the
        half-written ``v{n+1}`` made every retry raise
        ConcurrentWriteError. Racing writers both stage; the loser's
        rename fails on the existing target (ENOTEMPTY) → true conflict.
        A kill between rename and pointer swap is healed by
        ``current_version`` taking the max of pointer and dirs."""
        version = base + 1
        d = self._table_dir(table)
        path = os.path.join(d, f"v{version}")

        def conflict(cause: Exception | None) -> ConcurrentWriteError:
            return ConcurrentWriteError(
                f"snapshot v{version} of '{table}' was committed by a "
                f"concurrent writer; re-read and retry"
            )

        if os.path.exists(path):
            raise conflict(None)
        os.makedirs(d, exist_ok=True)  # first write creates the table dir
        staged = tempfile.mkdtemp(dir=d, prefix="_staged.")
        # Spark owns the leaf dir: give it a fresh path inside scratch
        staged_snap = os.path.join(staged, "snap")
        df.write.mode("errorifexists").parquet(staged_snap)
        cdf: dict | None = None
        if link_from is not None and link_from >= 0:
            # O(|batch|) append: only the batch was written above; the
            # base snapshot's immutable parquet files are HARDLINKED in
            # (same data blocks, no rewrite — Delta's add-files commit).
            # Part-file names carry the writing job's UUID, so linked
            # and fresh files never collide. The freshly written names
            # are recorded as the commit's change feed: those rows ARE
            # the inserts, with no separate change data stored.
            new_files = sorted(
                f for f in os.listdir(staged_snap) if f.endswith(".parquet")
            )
            src_dir = os.path.join(d, f"v{link_from}")
            for f in os.listdir(src_dir):
                if not f.endswith(".parquet"):
                    continue
                try:
                    os.link(
                        os.path.join(src_dir, f), os.path.join(staged_snap, f)
                    )
                except OSError:
                    shutil.copy2(
                        os.path.join(src_dir, f), os.path.join(staged_snap, f)
                    )
            cdf = {"type": "files", "files": new_files}
        if cdf_feed is not None:
            cdf_feed.select(
                *[c for c in cdf_feed.columns if c != "_change_type"],
                "_change_type",
            ).write.parquet(os.path.join(staged_snap, "_changes"))
            cdf = {"type": "dir"}
        elif cdf_kind == "empty":
            cdf = {"type": "empty"}
        self._crash_hook("staged_written")
        if meta or cdf:
            import json

            full_meta = dict(meta or {})
            if cdf is not None:
                full_meta[self.CDF_META_KEY] = cdf
            with open(os.path.join(staged_snap, "_COMMIT.json"), "w") as f:
                json.dump(full_meta, f)
        self._crash_hook("meta_written")
        try:
            os.rename(staged_snap, path)  # THE commit: atomic claim
        except OSError as ex:
            shutil.rmtree(staged, ignore_errors=True)
            raise conflict(ex) from ex
        # a kill before this point leaves only inert ``_staged.*``
        # scratch — vacuum() janitors it; a kill after the rename left
        # a fully committed snapshot
        shutil.rmtree(staged, ignore_errors=True)
        self._crash_hook("renamed")
        self._swap_pointer(table, version)
        self._crash_hook("pointer_swapped")

    def commit_meta(self, table: str, version: int | None = None) -> dict:
        """Transaction metadata committed with a snapshot (empty dict if
        the commit carried none, or the table is absent). Internal keys
        (the change-feed descriptor) are the store's own bookkeeping and
        stay out of the caller-visible dict."""
        meta = self._raw_commit_meta(table, version)
        meta.pop(self.CDF_META_KEY, None)
        return meta

    def _raw_commit_meta(self, table: str, version: int | None = None) -> dict:
        import json

        version = self.current_version(table) if version is None else version
        if version < 0:
            return {}
        p = os.path.join(self._table_dir(table), f"v{version}", "_COMMIT.json")
        try:
            with open(p) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    # -- public API ----------------------------------------------------------

    def schema(self, table: str) -> StructType:
        return StructType.fromDDL(SCHEMAS[table])

    def read(self, table: str, version: int | None = None) -> DataFrame:
        """Read the current snapshot, or — time travel — any retained
        historical ``version``. Snapshots are immutable and parquet is
        self-describing, so an old version reads with the schema it was
        written with (pre-evolution columns stay absent)."""
        current = self.current_version(table)
        version = current if version is None else version
        if version < 0:
            return self.spark.createDataFrame([], self.schema(table))
        if version > current:
            raise ValueError(f"{table} has no snapshot v{version}")
        path = os.path.join(self._table_dir(table), f"v{version}")
        if not os.path.isdir(path):
            raise ValueError(f"{table} snapshot v{version} was vacuumed")
        # Snapshots are immutable, so the resolved scan PLAN for a
        # version is too: memoize it per (session, path). Each
        # spark.read.parquet is an eager driver footer read (~0.1-0.4 s
        # measured inside a warm IVM refresh, 3 reads per refresh) that
        # a multi-commit protocol otherwise pays on every step. The
        # vacuum probe above stays ahead of the cache, so a vacuumed
        # snapshot still raises here instead of failing mid-job.
        key = (self.spark.sparkContext.applicationId, path)
        df = self._scan_cache.get(key)
        if df is None:
            for stale in [k for k in self._scan_cache if k[0] != key[0]]:
                del self._scan_cache[stale]
            df = self.spark.read.parquet(path)
            self._scan_cache[key] = df
        if version == current and not df.columns:
            return self.spark.createDataFrame([], self.schema(table))
        return df

    def history(self, table: str) -> list[dict]:
        """Retained snapshots, oldest first: version, file count, bytes —
        the Delta DESCRIBE HISTORY shape (what compaction/vacuum act on)."""
        d = self._table_dir(table)
        out = []
        if not os.path.isdir(d):
            return out
        for name in sorted(os.listdir(d)):
            if not name.startswith("v"):
                continue
            try:
                version = int(name[1:])
            except ValueError:
                continue
            files = [
                f
                for f in os.listdir(os.path.join(d, name))
                if f.endswith(".parquet")
            ]
            size = sum(
                os.path.getsize(os.path.join(d, name, f)) for f in files
            )
            out.append({"version": version, "n_files": len(files), "bytes": size})
        return sorted(out, key=lambda r: r["version"])

    def compact(
        self,
        table: str,
        target_files: int = 1,
        cluster_by: list[str] | None = None,
        zorder_by: tuple[str, str] | None = None,
    ) -> dict:
        """Rewrite the current snapshot into ``target_files`` files as a
        NEW snapshot (history preserved; readers of the old snapshot are
        unaffected — the small-files fix for high-frequency appends).

        ``cluster_by`` sorts rows on the given columns before the write
        (linear clustering: parquet min/max row-group stats become
        selective on those columns, so later point/range scans skip
        row groups). ``zorder_by`` interleaves the low bits of TWO
        integer columns into a Morton key and sorts on it — locality in
        both dimensions at once, the OPTIMIZE ZORDER BY shape. Returns
        {files_in, files_out}."""
        from pyspark.sql import functions as F

        from geostore_spark.functions.geo import zorder_key

        hist = {h["version"]: h for h in self.history(table)}
        base = self.current_version(table)
        files_in = hist.get(base, {}).get("n_files", 0)
        df = self.read(table, base)
        if zorder_by is not None:
            x, y = zorder_by
            df = (
                df.withColumn(
                    "_zk", zorder_key(F.col(x).cast("long"), F.col(y).cast("long"))
                )
                # range-partition on the Morton key → each output file owns
                # a contiguous z-range; sort within → row groups inside a
                # file are z-contiguous too
                .repartitionByRange(target_files, "_zk")
                .sortWithinPartitions("_zk")
                .drop("_zk")
            )
        elif cluster_by:
            df = df.repartitionByRange(target_files, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        else:
            df = df.coalesce(target_files)
        # carry the prior commit's transaction metadata forward: compaction
        # is a data no-op, and dropping the meta would reset a streaming
        # sink's batch-id watermark to -1 on the next crash replay (r7
        # advisor) — worse once vacuum removes the original commit.
        # commit_meta never exposes the prior commit's change-feed
        # descriptor, so carrying it forward is safe; compact records
        # its own (empty) feed instead.
        self._write_snapshot(
            table,
            df,
            base,
            meta=self.commit_meta(table, base) or None,
            cdf_kind="empty",
        )
        # measure what was actually written: repartitionByRange with fewer
        # distinct keys than target_files (or coalesce over fewer input
        # partitions) legitimately writes fewer files — echoing
        # target_files would over-report
        new_hist = {h["version"]: h for h in self.history(table)}
        files_out = new_hist[self.current_version(table)]["n_files"]
        return {"files_in": files_in, "files_out": files_out}

    def vacuum(self, table: str, keep_last: int = 1) -> list[int]:
        """Delete all but the most recent ``keep_last`` snapshots (never
        the current one). Returns the removed version numbers — the Delta
        VACUUM retention shape; time travel works only within retention.
        Also janitors ``_staged.*`` scratch left by crashed writers (a
        kill before the commit rename — inert, but worth reclaiming),
        exactly what Delta VACUUM does with uncommitted data files."""
        keep_last = max(1, keep_last)
        d = self._table_dir(table)
        versions = [h["version"] for h in self.history(table)]
        removed = []
        for v in versions[:-keep_last]:
            shutil.rmtree(os.path.join(d, f"v{v}"))
            removed.append(v)
        if os.path.isdir(d):
            for name in os.listdir(d):
                if name.startswith("_staged."):
                    shutil.rmtree(os.path.join(d, name), ignore_errors=True)
        return removed

    def add_column(
        self, table: str, name: str, default: Column
    ) -> None:
        """Additive schema evolution: a new snapshot with the extra
        column filled from ``default``; prior snapshots keep their
        written schema (visible via time travel), and subsequent
        appends/merges include the column because reads are
        parquet-self-describing."""
        base = self.current_version(table)
        self._write_snapshot(
            table, self.read(table, base).withColumn(name, default), base
        )

    def create(self, table: str, df: DataFrame, meta: dict | None = None) -> None:
        """Commit the FIRST snapshot (v0) of a new table — the path for
        dynamically-named tables (materialized views, scratch outputs)
        that have no entry in the fixed SCHEMAS registry. Errors if the
        table already exists (use overwrite for that)."""
        if self.current_version(table) >= 0:
            raise ValueError(f"table '{table}' already exists")
        self._write_snapshot(table, df, -1, meta=meta)

    def append(self, table: str, df: DataFrame, meta: dict | None = None) -> None:
        """Append = write ONLY the batch and hardlink the base snapshot's
        immutable files into the new version: O(|batch|) work, never a
        rewrite of the table (the pre-r11 read-union-rewrite form paid
        O(|table|) per append — the wrong slope for an append-heavy store).
        The batch is cast to the table's existing schema so every file in
        a snapshot stays schema-uniform (linked files are never rewritten,
        so a type-widening union can no longer paper over a mismatch)."""
        base = self.current_version(table)
        existing = self.read(table, base)
        batch = df.select(
            [F.col(f.name).cast(f.dataType).alias(f.name) for f in existing.schema.fields]
        )
        if base < 0:
            self._write_snapshot(table, batch, base, meta=meta)
            return
        self._write_snapshot(table, batch, base, meta=meta, link_from=base)

    def overwrite(self, table: str, df: DataFrame, meta: dict | None = None) -> None:
        base = self.current_version(table)
        self._write_snapshot(
            table, df.select(self.read(table, base).columns), base, meta=meta
        )

    def delete_where(self, table: str, condition: Column) -> None:
        """SQL ``DELETE WHERE``: removes exactly the rows where the
        predicate is TRUE. A NULL predicate keeps the row — ``~cond``
        alone would silently delete NULL-valued rows too (NOT NULL is
        NULL, and filter drops non-TRUE), which is how ``v = 7`` came
        to delete the ``v IS NULL`` rows before the fuzz caught it."""
        base = self.current_version(table)
        snapshot = self.read(table, base)
        # recorded change feed: exactly the removed rows, as deletes —
        # O(|deleted|) at commit time instead of an O(|table| ∪ |table|)
        # snapshot diff when the feed is consumed (Delta CDF shape)
        deleted = snapshot.filter(F.coalesce(condition, F.lit(False))).withColumn(
            "_change_type", F.lit("delete")
        )
        self._write_snapshot(
            table,
            snapshot.filter(~F.coalesce(condition, F.lit(False))),
            base,
            cdf_feed=deleted,
        )

    def update_where(self, table: str, condition: Column, assignments: dict[str, Column]) -> None:
        """Delta ``UPDATE SET ... WHERE ...`` equivalent. Records no
        change feed: the pre/post images would need a second pass over
        the touched rows plus a net-collapse aggregation at commit time
        (an update that leaves a row unchanged must contribute nothing),
        which an A/B on the CDC churn protocol measured as MORE
        expensive than the generic snapshot diff it would replace when
        the touched set is a material fraction of the table — so
        ``changes()`` keeps its generic-diff fallback here."""
        base = self.current_version(table)
        df = self.read(table, base)
        for col, expr in assignments.items():
            df = df.withColumn(col, F.when(condition, expr).otherwise(F.col(col)))
        self._write_snapshot(table, df, base)

    def merge(
        self,
        table: str,
        source: DataFrame,
        on: list[str],
        when_matched_set: dict[str, Column] | None = None,
        insert_not_matched: bool = False,
        source_cols: list[str] | None = None,
        delete_matched_where: Column | None = None,
        insert_not_matched_where: Column | None = None,
        meta: dict | None = None,
    ) -> None:
        """Delta ``MERGE INTO`` shape: join target with source on keys;
        matched rows get the assignments, unmatched-source rows are
        inserted when requested (V12 idempotent child-add).

        ``source_cols`` carries the named source columns into the
        matched join as ``__src_<name>`` so assignments can combine
        target and source values (the delta-apply shape IVM needs:
        ``n = n + __src_n``); ``source`` must then be key-unique.
        ``delete_matched_where`` drops matched rows satisfying the
        predicate AFTER assignments (``WHEN MATCHED ... THEN DELETE``).
        ``insert_not_matched_where`` gates the insert arm on a source
        predicate (``WHEN NOT MATCHED AND <cond> THEN INSERT`` — fires
        only when the predicate is TRUE, per SQL MERGE): the shape a
        CDC apply needs so a delete event for an absent key is a no-op
        inside the merge plan itself, with no separate target-key
        pre-probe scan.
        """
        base = self.current_version(table)
        df = self._merge_frame(
            self.read(table, base),
            source,
            on,
            when_matched_set,
            insert_not_matched,
            source_cols,
            delete_matched_where,
            insert_not_matched_where,
        )
        # No recorded change feed: computing the merge's pre/post images
        # needs the merge join's output twice (pre-images + committed
        # frame). r11 re-ran the join and measured 5.7 s vs 3.3 s on the
        # CDC churn; r12 re-tried it with the join PINNED and a
        # feed-sized net-collapse — still a loss (cdc b1 apply 0.73 ->
        # 1.59 s for only ~0.1 s of refresh saved: the pin write is
        # table-sized and the extra feed-write job is pure fixed cost on
        # every merge, including aggregate-sized IVM view commits).
        # changes() over a merge commit therefore stays a generic
        # snapshot diff, and IVM's refresh dispatches to a one-scan
        # rebuild instead (strictly less work than the two-scan diff).
        self._write_snapshot(table, df, base, meta=meta)

    @staticmethod
    def _merge_frame(
        target: DataFrame,
        source: DataFrame,
        on: list[str],
        when_matched_set: dict[str, Column] | None = None,
        insert_not_matched: bool = False,
        source_cols: list[str] | None = None,
        delete_matched_where: Column | None = None,
        insert_not_matched_where: Column | None = None,
    ) -> DataFrame:
        """The merged frame ``merge`` commits — exposed for plan
        assertions: the target side is probed by key join only (never
        shuffled when the source is broadcast-sized), so merge cost
        tracks the source/delta, not the table.

        Keys compare NULL-SAFELY (``<=>``): a NULL-keyed target row and
        a NULL-keyed source row MATCH, consistent with how groupBy and
        the change feed treat NULL keys as one group. SQL MERGE's
        NULL-never-matches equi-join would instead fire the insert arm
        on every merge — an IVM view with a NULL grouping key would
        grow a new duplicate row per refresh forever (the documented
        Delta MERGE trap, deliberately not reproduced). EqualNullSafe
        is still an equi-join predicate, so hash/broadcast strategies
        and the probe-only target cost are unchanged."""
        marked_src = (
            source.select(*on, *(source_cols or []))
            .withColumn("__hit", F.lit(True))
        )
        if not source_cols:
            marked_src = marked_src.distinct()
        for c in source_cols or []:
            marked_src = marked_src.withColumnRenamed(c, f"__src_{c}")
        for k in on:
            marked_src = marked_src.withColumnRenamed(k, f"__mk_{k}")
        joined = target.join(marked_src, null_safe_on(on, "__mk_"), "left")
        updated = joined
        for col, expr in (when_matched_set or {}).items():
            updated = updated.withColumn(
                col, F.when(F.col("__hit").isNotNull(), expr).otherwise(F.col(col))
            )
        if delete_matched_where is not None:
            # TRUE-only, like delete_where: a NULL predicate must keep
            # the matched row, not drop it
            updated = updated.filter(
                F.col("__hit").isNull()
                | ~F.coalesce(delete_matched_where, F.lit(False))
            )
        drop = [
            "__hit",
            *(f"__src_{c}" for c in source_cols or []),
            *(f"__mk_{k}" for k in on),
        ]
        result = updated.drop(*drop)
        if insert_not_matched:
            insertable = source
            if insert_not_matched_where is not None:
                # TRUE-only, per SQL MERGE's WHEN NOT MATCHED AND cond:
                # .filter keeps only rows where the predicate is TRUE
                insertable = insertable.filter(insert_not_matched_where)
            tkeys = target.select(
                *[F.col(k).alias(f"__tk_{k}") for k in on]
            ).distinct()
            new_rows = insertable.join(tkeys, null_safe_on(on, "__tk_"), "left_anti")
            result = result.unionByName(new_rows.select(result.columns))
        return result

    @staticmethod
    def _net_collapse(feed: DataFrame, cols: list[str]) -> DataFrame:
        """Collapse a raw pre/post feed to the NET multiset diff the
        ``changes()`` contract promises — identical rows on both sides
        cancel, multiplicity shifts emit |delta| copies. Same signed
        count-diff as the generic snapshot diff, but over FEED-sized
        rows only."""
        w = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        delta = (
            feed.withColumn("__side", w)
            .groupBy(*cols)
            .agg(F.sum("__side").alias("__delta"))
            .filter(F.col("__delta") != 0)
        )
        return (
            delta.withColumn(
                "_change_type",
                F.when(F.col("__delta") > 0, F.lit("insert")).otherwise(
                    F.lit("delete")
                ),
            )
            .withColumn(
                "__rep",
                F.explode(
                    F.array_repeat(F.lit(1), F.abs(F.col("__delta")).cast("int"))
                ),
            )
            .drop("__delta", "__rep")
        )

    def window_feeds_recorded(
        self, table: str, from_version: int, to_version: int
    ) -> bool:
        """True when every commit in ``(from_version, to_version]``
        recorded a change feed — i.e. ``changes()`` over the window is
        O(Σ|changes|), never a two-snapshot diff. Driver-side commit
        metadata only, no job: incremental consumers dispatch on this
        (an unrecorded commit makes the generic diff scan BOTH
        snapshots, at which point a one-scan full rebuild is strictly
        less work)."""
        for v in range(from_version + 1, to_version + 1):
            if not isinstance(
                self._raw_commit_meta(table, v).get(self.CDF_META_KEY), dict
            ):
                return False
        return True

    def window_insert_only(
        self, table: str, from_version: int, to_version: int
    ) -> bool:
        """True when every commit in ``(from_version, to_version]``
        recorded a change feed that PROVABLY contains no deletes —
        'files' append commits and 'empty' commits. Driver-side commit
        metadata only, no job: incremental consumers use it to skip
        their retraction machinery (delta checkpoint + has-delete
        probe) on insert-only windows."""
        for v in range(from_version + 1, to_version + 1):
            cdf = self._raw_commit_meta(table, v).get(self.CDF_META_KEY)
            if not isinstance(cdf, dict) or cdf.get("type") not in (
                "files",
                "empty",
            ):
                return False
        return True

    def _recorded_changes(self, table: str, version: int) -> DataFrame | None:
        """The change feed RECORDED by ``version``'s commit, or None when
        the commit predates recording / has unknown provenance (generic
        diff applies). Shapes (see ``CDF_META_KEY``): 'files' reads the
        commit's newly added parquet files as inserts; 'dir' reads the
        net feed at ``v{n}/_changes``; 'empty' is a zero-row feed."""
        cdf = self._raw_commit_meta(table, version).get(self.CDF_META_KEY)
        if not isinstance(cdf, dict):
            return None
        kind = cdf.get("type")
        vdir = os.path.join(self._table_dir(table), f"v{version}")
        app = self.spark.sparkContext.applicationId
        if kind == "files":
            files = [os.path.join(vdir, f) for f in cdf.get("files", [])]
            if not files:
                base = self.read(table, version).filter(F.lit(False))
            else:
                key = (app, "\x00".join(files))
                base = self._scan_cache.get(key)
                if base is None:
                    base = self.spark.read.parquet(*files)
                    self._scan_cache[key] = base
            return base.withColumn("_change_type", F.lit("insert")).withColumn(
                "_commit_version", F.lit(version)
            )
        if kind == "dir":
            path = os.path.join(vdir, "_changes")
            key = (app, path)
            df = self._scan_cache.get(key)
            if df is None:
                df = self.spark.read.parquet(path)
                self._scan_cache[key] = df
            return df.withColumn("_commit_version", F.lit(version))
        if kind == "empty":
            return (
                self.read(table, version)
                .filter(F.lit(False))
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(version))
            )
        return None

    def changes(
        self, table: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed between two snapshots — the Delta CDF
        (`table_changes`) shape: every row that was inserted or deleted
        between ``from_version`` (exclusive) and ``to_version``
        (inclusive, default current), tagged with ``_change_type``
        ('insert' | 'delete'). An update surfaces as a delete of the old
        row plus an insert of the new one, exactly like CDF's
        update_preimage/postimage collapsed to row granularity.

        Computed as a single signed count-diff over the union of both
        snapshots (old rows weighted -1, new rows +1, grouped on every
        column): no change log is stored, so arbitrary version pairs
        work as long as both snapshots survive vacuum retention — and
        unlike a whole-row anti-join, **multiplicity changes are
        row-level**: two identical rows shrinking to one emits exactly
        one delete (|delta| copies via array_repeat/explode), matching
        Delta CDF's row-granular feed. groupBy treats NULL keys as
        equal, so null-bearing rows compare null-safely for free.

        Schema evolution: the union is ``allowMissingColumns=True``, so
        version pairs straddling an ``add_column`` boundary work — the
        older snapshot reads NULL for columns added after it, and a row
        whose only difference is a non-NULL value in an added column
        surfaces as a delete(old)+insert(new) pair, exactly as a real
        CDF would report the update.

        At 100 TB this is ONE hash shuffle on all columns (vs two
        anti-join shuffles), with map-side combine collapsing unchanged
        duplicates before the exchange; AQE sizes the post-agg side —
        and for an ADJACENT version pair whose commit recorded its own
        change feed (append/delete/update/merge/compact — see
        ``CDF_META_KEY``), even that diff disappears: the feed is read
        back in O(|changes|), value-identical to the diff by
        construction (recorded feeds are net-collapsed at commit)."""
        if to_version is None:
            to_version = self.current_version(table)
        feed = None
        if to_version == from_version + 1:
            recorded = self._recorded_changes(table, to_version)
            if recorded is not None:
                return recorded
        elif to_version > from_version + 1:
            # multi-commit window with EVERY commit's feed recorded
            # (r12): union the per-commit feeds and net-collapse across
            # commits — an insert in one commit cancelled by a delete in
            # a later one must vanish, exactly as the generic diff would
            # report. Value-identical to the diff by induction (net of
            # per-commit nets = net), at O(Σ|changes|) instead of two
            # full snapshot scans; _commit_version is to_version on
            # every row, matching the generic diff's labeling.
            feeds = [
                self._recorded_changes(table, v)
                for v in range(from_version + 1, to_version + 1)
            ]
            if all(f is not None for f in feeds):
                feed = feeds[0]
                for f in feeds[1:]:
                    feed = feed.unionByName(f, allowMissingColumns=True)
                feed = feed.drop("_commit_version")
        if feed is None:
            # generic two-snapshot diff: the old snapshot as deletes, the
            # new one as inserts, net-collapsed like a recorded feed
            old = self.read(table, from_version).withColumn(
                "_change_type", F.lit("delete")
            )
            new = self.read(table, to_version).withColumn(
                "_change_type", F.lit("insert")
            )
            feed = old.unionByName(new, allowMissingColumns=True)
        cols = [c for c in feed.columns if c != "_change_type"]
        return self._net_collapse(feed, cols).withColumn(
            "_commit_version", F.lit(to_version)
        )

"""Write-path layout guarantees: bucketed no-shuffle joins, ORC, the metadata store."""

from __future__ import annotations

from pyspark.sql import functions as F

from geostore_spark.sources.bucketed import write_bucketed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_shuffle(spark):
    a = spark.range(500).select("id", (F.col("id") * 2).alias("va"))
    b = spark.range(500).select("id", (F.col("id") * 3).alias("vb"))
    try:
        write_bucketed(a, "bk_a", "id", 4)
        write_bucketed(b, "bk_b", "id", 4)
        # hint("merge"): at this toy size the planner would broadcast (and
        # rightly so); the bucketing guarantee under test is the sort-merge
        # path a 100 TB-vs-100 TB join takes
        joined = spark.table("bk_a").hint("merge").join(spark.table("bk_b"), "id")
        plan = _plan(joined)
        assert "Exchange" not in plan  # both sides arrive pre-partitioned
        assert "Bucketed: true" in plan
        assert joined.count() == 500
        agg = spark.table("bk_a").groupBy("id").agg(F.sum("va"))
        assert "Exchange" not in _plan(agg)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_orc_roundtrip_preserves_schema_and_pushdown(spark, tmp_path):
    """Format breadth: the engine reads/writes ORC natively (Spark's
    second columnar format) with the same typed schema and scan-level
    predicate pushdown parquet gets."""
    df = spark.range(1000).select(
        "id",
        (F.col("id") % 5).cast("string").alias("lang"),
        (F.col("id") * 37 % 997).cast("double").alias("score"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )
    out = str(tmp_path / "docs_orc")
    df.write.orc(out)
    back = spark.read.orc(out)
    # nullability is not round-tripped (readers assume nullable); names
    # and types must be
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    filtered = back.filter(F.col("id") == 7).select("id", "lang")
    plan = _plan(filtered)
    assert "PushedFilters: [IsNotNull(id), EqualTo(id,7)]" in plan
    assert filtered.count() == 1
    assert back.count() == 1000


def test_store_time_travel_and_history(spark, tmp_path):
    from pyspark.sql import functions as F

    from geostore_spark.sources.store import MetadataStore

    store = MetadataStore(spark, str(tmp_path / "store"))
    t = "datasets"
    row = {
        "dataset_id": "d1", "title": "t1", "created_at": None,
        "updated_at": None, "current_dataset_version": "v0",
    }
    store.append(t, spark.createDataFrame([row], store.schema(t)))
    store.update_where(
        t, F.col("dataset_id") == "d1",
        {"current_dataset_version": F.lit("v1")},
    )
    assert store.current_version(t) == 1
    # time travel: v0 still shows the pre-update pointer
    assert store.read(t, 0).first()["current_dataset_version"] == "v0"
    assert store.read(t).first()["current_dataset_version"] == "v1"
    assert [h["version"] for h in store.history(t)] == [0, 1]


def test_store_compact_and_vacuum(spark, tmp_path):
    from geostore_spark.sources.store import MetadataStore

    store = MetadataStore(spark, str(tmp_path / "store"))
    t = "validation_results"
    df = spark.range(100).selectExpr(
        "CAST(id AS STRING) AS dataset_id", "'v' AS version_id",
        "'c' AS check", "'u' AS url", "'Passed' AS result",
        "map('k', 'v') AS details",
    ).repartition(8)
    store.append(t, df)
    stats = store.compact(t, target_files=1)
    assert stats["files_in"] >= 8 and stats["files_out"] == 1
    assert store.read(t).count() == 100  # same rows, fewer files
    removed = store.vacuum(t, keep_last=1)
    assert removed == [0]
    assert store.read(t).count() == 100  # current snapshot untouched
    import pytest

    with pytest.raises(ValueError):
        store.read(t, 0)  # vacuumed beyond retention


def test_store_schema_evolution_is_additive(spark, tmp_path):
    from pyspark.sql import functions as F

    from geostore_spark.sources.store import MetadataStore

    store = MetadataStore(spark, str(tmp_path / "store"))
    t = "catalog"
    row = {"url": "u", "stac_type": "Catalog", "dataset_id": "d",
           "title": "t", "parent_url": None, "etag": "e"}
    store.append(t, spark.createDataFrame([row], store.schema(t)))
    store.add_column(t, "license", F.lit("CC-BY-4.0"))
    assert store.read(t).first()["license"] == "CC-BY-4.0"
    assert "license" not in store.read(t, 0).columns  # old snapshot intact


def test_store_concurrent_write_conflict_surfaces(spark, tmp_path):
    import pytest

    from geostore_spark.sources.store import ConcurrentWriteError, MetadataStore

    a = MetadataStore(spark, str(tmp_path / "store"))
    b = MetadataStore(spark, str(tmp_path / "store"))
    t = "datasets"
    row = {
        "dataset_id": "d1", "title": "t1", "created_at": None,
        "updated_at": None, "current_dataset_version": "v0",
    }
    df = spark.createDataFrame([row], a.schema(t))
    a.append(t, df)
    # simulate a race: b read version 0, a commits v1 first, b's commit of
    # the same next version must fail loudly, not corrupt the pointer
    base_b = b.read(t)
    a.append(t, df)
    version_seen_by_b = 0

    class RacingStore(MetadataStore):
        def current_version(self, table):
            return version_seen_by_b

    racer = RacingStore(spark, str(tmp_path / "store"))
    with pytest.raises(ConcurrentWriteError):
        racer.append(t, base_b)
    assert a.current_version(t) == 1  # winner's pointer intact


def test_store_stale_read_version_cannot_silently_win(spark, tmp_path):
    # the lost-update hole: B reads at v0, A commits v1, B commits — the
    # old commit path re-resolved the pointer and would write v2 built on
    # stale v0 data with no error. The commit version is now pinned to
    # the read version, so B's write is a loud conflict and no v2 appears.
    import os

    import pytest

    from geostore_spark.sources.store import ConcurrentWriteError, MetadataStore

    store = MetadataStore(spark, str(tmp_path / "store"))
    t = "datasets"
    row = {
        "dataset_id": "d1", "title": "t1", "created_at": None,
        "updated_at": None, "current_dataset_version": "v0",
    }
    df = spark.createDataFrame([row], store.schema(t))
    store.append(t, df)            # v0
    b_base = store.current_version(t)
    b_data = store.read(t, b_base)
    store.append(t, df)            # A wins: v1
    with pytest.raises(ConcurrentWriteError):
        store._write_snapshot(t, b_data, b_base)  # B: pinned to its read
    assert store.current_version(t) == 1
    assert not os.path.exists(str(tmp_path / "store" / t / "v2"))


def test_compact_cluster_by_orders_rows(spark, tmp_path, monkeypatch):
    from geostore_spark.sources.store import SCHEMAS, MetadataStore

    monkeypatch.setitem(SCHEMAS, "pts", "id long, x long, y long")
    store = MetadataStore(spark, str(tmp_path / "store"))
    rows = [(i, (i * 37) % 100, (i * 53) % 100) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    store.overwrite("pts", df)
    out = store.compact("pts", target_files=2, cluster_by=["x"])
    assert out["files_out"] == 2
    # rows inside each parquet file must be sorted on x
    import glob

    import pandas as pd

    files = sorted(
        glob.glob(str(tmp_path / "store" / "pts" / "v*" / "*.parquet"))
    )
    latest_dir = max({f.rsplit("/", 2)[1] for f in files}, key=lambda v: int(v[1:]))
    latest = [f for f in files if f"/{latest_dir}/" in f]
    assert len(latest) == 2
    for f in latest:
        xs = pd.read_parquet(f)["x"].tolist()
        assert xs == sorted(xs)
    # clustered rewrite preserves content exactly
    assert store.read("pts").count() == 400


def test_compact_zorder_by_clusters_both_dims(spark, tmp_path, monkeypatch):
    from geostore_spark.sources.store import SCHEMAS, MetadataStore

    monkeypatch.setitem(SCHEMAS, "pts", "id long, x long, y long")
    store = MetadataStore(spark, str(tmp_path / "store"))
    rows = [(i, (i * 37) % 64, (i * 53) % 64) for i in range(512)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    store.overwrite("pts", df)
    out = store.compact("pts", target_files=2, zorder_by=("x", "y"))
    assert out["files_out"] == 2
    got = store.read("pts")
    assert got.count() == 512
    assert set(got.columns) == {"id", "x", "y"}


def test_vacuum_respects_current_and_time_travel_window(spark, tmp_path):
    from pyspark.sql import functions as F

    from geostore_spark.sources.store import MetadataStore

    store = MetadataStore(spark, str(tmp_path / "store"))
    t = "datasets"
    row = {
        "dataset_id": "d1", "title": "t0", "created_at": None,
        "updated_at": None, "current_dataset_version": "v0",
    }
    store.append(t, spark.createDataFrame([row], store.schema(t)))
    for i in range(1, 4):
        store.update_where(
            t, F.col("dataset_id") == "d1", {"title": F.lit(f"t{i}")}
        )
    assert store.current_version(t) == 3
    removed = store.vacuum(t, keep_last=2)
    assert removed == [0, 1]
    # the retained window still time-travels; the current read is intact
    assert store.read(t, 2).first()["title"] == "t2"
    assert store.read(t).first()["title"] == "t3"
    # vacuumed versions are gone from history
    assert [h["version"] for h in store.history(t)] == [2, 3]


def test_store_change_data_feed(spark, tmp_path):
    """changes() — the Delta CDF table_changes shape: inserts and
    deletes between two snapshots, an update surfacing as delete+insert,
    computed from retained snapshots without a stored change log."""
    from pyspark.sql import functions as F

    from geostore_spark.sources.store import MetadataStore

    store = MetadataStore(spark, str(tmp_path / "store"))
    t = "datasets"

    def row(did, ptr):
        return {
            "dataset_id": did, "title": f"t-{did}", "created_at": None,
            "updated_at": None, "current_dataset_version": ptr,
        }

    store.append(t, spark.createDataFrame([row("d1", "v0"), row("d2", "v0")], store.schema(t)))  # v0
    store.append(t, spark.createDataFrame([row("d3", "v0")], store.schema(t)))  # v1
    store.update_where(
        t, F.col("dataset_id") == "d1", {"current_dataset_version": F.lit("v9")}
    )  # v2
    store.delete_where(t, F.col("dataset_id") == "d2")  # v3

    # v0 -> v3: d3 inserted; d1 updated (delete old + insert new); d2 deleted
    ch = {
        (r["dataset_id"], r["current_dataset_version"], r["_change_type"])
        for r in store.changes(t, 0).collect()
    }
    assert ch == {
        ("d3", "v0", "insert"),
        ("d1", "v0", "delete"),
        ("d1", "v9", "insert"),
        ("d2", "v0", "delete"),
    }
    # narrower window v1 -> v2: only the update pair
    ch12 = {
        (r["dataset_id"], r["_change_type"])
        for r in store.changes(t, 1, 2).collect()
    }
    assert ch12 == {("d1", "insert"), ("d1", "delete")}
    # every row carries the commit version it materialized at
    assert all(
        r["_commit_version"] == 2 for r in store.changes(t, 1, 2).collect()
    )


def test_store_cdf_multiplicity_deltas(spark, tmp_path):
    """ADVICE r4: duplicate-row multiplicity changes must surface as
    row-level change rows (2 identical rows shrinking to 1 emits one
    delete), matching Delta CDF's row-granular feed — a whole-row
    anti-join would report nothing."""
    from geostore_spark.sources.store import MetadataStore

    store = MetadataStore(spark, str(tmp_path / "store"))
    t = "datasets"

    def row(did, ptr):
        return {
            "dataset_id": did, "title": f"t-{did}", "created_at": None,
            "updated_at": None, "current_dataset_version": ptr,
        }

    dup = [row("d1", "v0"), row("d1", "v0"), row("d2", "v0")]
    store.append(t, spark.createDataFrame(dup, store.schema(t)))  # v0
    # v1: collapse the duplicate (overwrite with one d1 copy + d2,
    # plus a TRIPLED d2 to test the insert direction too)
    store.overwrite(
        t,
        spark.createDataFrame(
            [row("d1", "v0"), row("d2", "v0"), row("d2", "v0"), row("d2", "v0")],
            store.schema(t),
        ),
    )
    ch = [
        (r["dataset_id"], r["_change_type"])
        for r in store.changes(t, 0, 1).collect()
    ]
    assert sorted(ch) == [("d1", "delete"), ("d2", "insert"), ("d2", "insert")]


def test_store_cdf_across_schema_evolution(spark, tmp_path):
    """ADVICE r4 (medium): changes() across an add_column boundary must
    work — the older snapshot reads NULL for the added column, and a row
    whose added-column value is non-NULL reports as delete+insert."""
    from pyspark.sql import functions as F

    from geostore_spark.sources.store import MetadataStore

    store = MetadataStore(spark, str(tmp_path / "store"))
    t = "datasets"
    store.append(
        t,
        spark.createDataFrame(
            [{"dataset_id": "d1", "title": "t", "created_at": None,
              "updated_at": None, "current_dataset_version": "v0"}],
            store.schema(t),
        ),
    )  # v0
    store.add_column(t, "owner", F.lit("team-a"))  # v1: d1 gains owner
    ch = [
        (r["dataset_id"], r["_change_type"], r["owner"])
        for r in store.changes(t, 0, 1).collect()
    ]
    # old row (owner NULL) deleted, new row (owner team-a) inserted
    assert sorted(ch) == [("d1", "delete", None), ("d1", "insert", "team-a")]

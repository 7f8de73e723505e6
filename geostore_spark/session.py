"""SparkSession factory.

Tuned for the 100 TB design point while remaining correct on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting, and
  dynamic join-strategy switching replace any hand-scheduling the reference
  did with AWS Batch array jobs (/root/reference/infrastructure/constructs/
  batch_job_queue.py:96-100).
- ``spark.sql.shuffle.partitions`` defaults to the local core count; on a
  real cluster AQE coalesces from a deliberately high initial number, so we
  set the initial partition count rather than a fixed one.
- ``parquet.nanosAsLong``: the events fixture carries nanosecond timestamps
  which Spark 4.x refuses natively; sources/tables.py rebuilds a proper
  timestamp column (see TESTDATA caveat).
- Arrow enabled for every pandas-UDF path (the only Python hot paths we
  allow: multihash checksums, JSON-Schema validation, embedding kernels).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "geostore-spark"


def get_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def persistent_catalog_conf(catalog_dir: str) -> dict[str, str]:
    """Session conf for a FILE-BACKED catalog: a local Derby metastore
    plus a pinned warehouse dir, so managed tables (and their bucketing
    / partitioning specs) survive session restarts through the CATALOG
    itself — a second session sees the table like any persistent
    metastore deployment would, demoting ``adopt_existing_table``
    (sources/bucketed.py) to the fallback for plain in-memory-catalog
    sessions. Derby allows ONE process at a time; concurrent sessions
    on a cluster use a shared metastore service instead — the conf
    shape is identical, only the JDBC URL changes."""
    import os as _os

    return {
        "spark.sql.catalogImplementation": "hive",
        "spark.sql.warehouse.dir": _os.path.join(catalog_dir, "warehouse"),
        "javax.jdo.option.ConnectionURL": (
            f"jdbc:derby:;databaseName={_os.path.join(catalog_dir, 'metastore_db')}"
            ";create=true"
        ),
    }


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    persistent_catalog_dir: str | None = None,
) -> SparkSession:
    cpus = get_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] puts the driver AND all executor threads in ONE JVM, so
        # this is the whole engine's heap: broadcast builds, shuffle
        # buffers and N concurrent tasks share it. 8g survives sf0.1 but
        # an sf1 throughput pass (8 concurrent streams x 64 MB broadcast
        # budget each) hits notEnoughMemoryToBuildAndBroadcastTableError;
        # the sandbox has 128 GiB, so default to a quarter of it. On a
        # real cluster this maps to per-executor memory sized the same
        # way: (concurrent tasks) x (broadcast + spill working set).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        # ContextCleaner reaps out-of-scope localCheckpoint blocks and
        # broadcasts only after a JVM GC processes their weak refs; the
        # default periodic GC (30 MINUTES) lets a query-per-second
        # session pile up gigabytes of dead blocks until an organic
        # full GC stalls a query mid-flight (measured r9: pagerank@sf1
        # bimodal 4.5 s vs 23-41 s across reps; stable 4.1-4.8 s with a
        # forced GC between reps). One background System.gc() a minute
        # bounds the debris at negligible cost on a 32 GB heap.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # (a) JVM unified-logging warnings default to STDOUT and can
        # interleave with bench.py's one-JSON-line contract (observed:
        # gc,alloc GCLocker warnings corrupting the output mid-line);
        # route all JVM log output to stderr. (b) Arrow's JNI critical
        # sections can starve allocation under concurrent streams
        # ("Retried waiting for GCLocker too often" → JVM abort at sf1);
        # raise the retry budget from the JDK17 default of 2.
        .config(
            "spark.driver.extraJavaOptions",
            "-Xlog:disable -Xlog:all=warning:stderr "
            "-XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=100",
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    if persistent_catalog_dir is not None:
        # catalogImplementation / warehouse dir / Derby URL are STATIC
        # confs: getOrCreate() silently ignores them when a live session
        # already exists, handing the caller an in-memory catalog it
        # explicitly asked not to have (r7 advisor). Fail loudly instead.
        active = SparkSession.getActiveSession()
        if active is not None:
            wanted = persistent_catalog_conf(persistent_catalog_dir)
            got_impl = active.conf.get("spark.sql.catalogImplementation", "in-memory")
            got_wh = active.conf.get("spark.sql.warehouse.dir", "")
            if got_impl != wanted["spark.sql.catalogImplementation"] or wanted[
                "spark.sql.warehouse.dir"
            ] not in got_wh:
                raise RuntimeError(
                    "build_session(persistent_catalog_dir=...) cannot take "
                    "effect: an active SparkSession already exists with "
                    f"catalogImplementation={got_impl!r}, warehouse={got_wh!r} "
                    "(static confs are fixed at JVM startup). Stop the "
                    "active session first (spark.stop()) or reuse it "
                    "knowingly via SparkSession.getActiveSession()."
                )
        for k, v in persistent_catalog_conf(persistent_catalog_dir).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

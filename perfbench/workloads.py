"""The three workloads: one closed-loop client each, in this process.

Each workload function does its set-up and returns ``window``, which runs
one measured window of ``run.seconds``. Every operation runs under its own
Spark job group with a timeout that cancels the group. An exception, a
timeout or a wrong result marks the operation failed; failed operations
stay out of every latency figure. Correctness checks run after each
operation's timed window closes.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import random
import statistics
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from pathlib import Path

from stac_gen import Publisher, Shape
from tracing import Tracer, spark_jobs

SF = "0.1"
OP_TIMEOUT_S = {"import": 120.0, "status": 30.0, "query": 60.0}

SHAPES = {
    # dozens of metadata documents, small assets: the per-job floor,
    # traversal, validation and store commits dominate
    "ingest_versions": Shape(
        items=(50, 70),
        collections=(2, 4),
        asset_bytes=(16 << 10, 64 << 10),
        change_frac=0.10,
        remove_frac=0.05,
    ),
    # a few dozen assets of several MiB: hashing and copying dominate the
    # part of the import that grows with input
    "ingest_bytes": Shape(
        items=(11, 13),
        collections=(2, 2),
        asset_bytes=(8 << 20, 20 << 20),
        change_frac=0.25,
        remove_frac=0.10,
    ),
}

# A fixed stratified tenth of the registry (every tenth key of each
# registering module, by name), frozen so that a query added later does
# not change what the benchmark measures. Each registering module has at
# least one query here, the storage ones included.
QUERY_SUBSET = (
    "x_orders_backlog", "x_dedup_chunks", "x_dedup_simhash",
    "x_emb_centroid_shift", "x_dedup_clusters", "x_ml_kmeans",
    "x_mm_bmp_decode", "x_events_cohort_ltv", "x_join_bloom_semi",
    "x_pipeline_funnel", "x_sim_ann_lsh", "x_skew_distinct", "x_geo_density",
    "x_stats_approx_quantile_audit", "x_stats_histogram",
    "x_stats_qq_deciles", "x_asof_join", "x_orders_survival",
    "x_pipeline_dataset_card", "x_text_fingerprint", "x_text_quality",
    "x_win_attribution", "x_win_tumbling", "a10_pivot_crosstab",
    "f10_truncate", "f9_href_rewrite", "j9_above_avg_anti",
    "p4_compound_filter", "w1_enumeration", "x_storage_bucketed_join",
    "x_storage_ivm_refresh", "x_storage_partition_prune",
    "x_storage_cdc_apply",
)


class SetupError(RuntimeError):
    """Set-up failed, so nothing can be measured."""


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    root: Path  # checkout root
    run_dir: Path  # fresh per run, removed at exit
    cache_dir: Path  # generated inputs kept across runs of one checkout
    window: int = 0  # index of the measured window an operation belongs to
    setup: dict[str, float] = field(default_factory=dict)
    ops: list[dict] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)

    def timed(self, name: str, fn):
        """Run one set-up phase, recording its wall time under ``name``."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            value = fn()
        self.setup[name] = time.perf_counter() - t0
        return value

    def op(self, kind: str, name: str, fn) -> tuple[dict, object]:
        """One client operation: job group, timeout, wall time. Returns
        the record (``ok`` still False: the caller checks the result) and
        the value, or None when it raised."""
        sc = self.spark.sparkContext
        rec = {"id": len(self.ops), "window": self.window, "kind": kind, "name": name}
        rec.update(ok=False, error=None, group=f"perfbench-{rec['id']}")
        self.ops.append(rec)
        sc.setJobGroup(rec["group"], f"{kind} {name}", interruptOnCancel=True)
        self.tracer.op_id = rec["id"]
        timer = threading.Timer(OP_TIMEOUT_S[kind], sc.cancelJobGroup, [rec["group"]])
        timer.start()
        value = None
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                value = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {str(exc).strip()[:300]}"
        finally:
            rec["wall"] = time.perf_counter() - t0
            rec["end"] = time.time()
            timer.cancel()
            self.tracer.op_id = None
        if rec["error"] is None and rec["wall"] > OP_TIMEOUT_S[kind]:
            rec["error"] = "timeout"
        if self.tracer.enabled:
            rec["jobs"] = spark_jobs(self.spark, rec["group"])
        return rec, value

    def verdict(self, rec: dict, problem: str | None) -> None:
        if rec["error"] is None and problem:
            rec["error"] = f"wrong: {problem}"
        rec["ok"] = rec["error"] is None
        if not rec["ok"]:
            print(f"perfbench: {rec['kind']} {rec['name']} failed: {rec['error']}", file=sys.stderr)


# -- ingest ------------------------------------------------------------------


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while chunk := f.read(1 << 20):
            h.update(chunk)
    return h.hexdigest()


def _check_storage(dataset_dir: str, current: dict, previous: dict) -> str | None:
    """The storage tree holds exactly the current version's data assets,
    byte-identical to what was staged, and none of the previous version's
    stale ones."""
    held = {n for n in os.listdir(dataset_dir) if not n.endswith(".json")}
    stale = sorted((set(previous) - set(current)) & held)
    if stale:
        return f"{len(stale)} stale assets not swept, e.g. {stale[0]}"
    if held != set(current):
        return f"storage holds {len(held)} data files, version has {len(current)}"
    for name, (_size, digest) in current.items():
        if _sha256(os.path.join(dataset_dir, name)) != digest:
            return f"sha256 mismatch for {name}"
    return None


def _check_status(status: dict, dataset: dict, version_id: str) -> str | None:
    if status.get("status_code") != 200 or dataset.get("status_code") != 200:
        return f"status codes {status.get('status_code')}/{dataset.get('status_code')}"
    body = status["body"]
    got = (
        body["validation"]["status"],
        body["asset upload"]["status"],
        body["metadata upload"]["status"],
    )
    if got != ("Passed", "Complete", "Complete"):
        return f"import status {got}, first error {body['validation']['errors'][:1]}"
    if dataset["body"]["current_dataset_version"] != version_id:
        return "dataset does not point at the new version"
    return None


def _inodes(root: str) -> dict[int, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            st = os.stat(os.path.join(dirpath, name))
            out[st.st_ino] = st.st_size
    return out


def _copied_bytes(dataset_dir: str, names, since: float) -> int:
    """Bytes of the named storage files written at or after ``since``."""
    total = 0
    for name in names:
        try:
            st = os.stat(os.path.join(dataset_dir, name))
        except FileNotFoundError:
            continue
        if st.st_mtime >= since:
            total += st.st_size
    return total


def ingest(run: Run, workload: str):
    """A publisher re-imports versions of one dataset; after each import
    it asks for the import status and the dataset."""
    from geostore_spark.api import datasets
    from geostore_spark.pipeline import ingest as pipeline
    from geostore_spark.sources.store import MetadataStore

    spark = run.spark
    publisher = Publisher(run.seed, SHAPES[workload], str(run.run_dir / "stage"))
    store = MetadataStore(spark, str(run.run_dir / "store"))
    storage = str(run.run_dir / "storage")
    title = "Bench_Dataset"
    dataset_dir = os.path.join(storage, title)
    rng = random.Random(run.seed)
    clock = datetime(2026, 1, 1, tzinfo=timezone.utc)

    created = run.timed(
        "api.create_dataset", lambda: datasets.create_dataset(store, title, now=clock, rng=rng)
    )
    if created["status_code"] != 201:
        raise SetupError(f"create_dataset returned {created}")
    dataset_id = created["body"]["id"]

    def import_version(version, k):
        return pipeline.create_dataset_version(
            spark, store, dataset_id, version.root_url, storage,
            now=clock + timedelta(minutes=k), rng=rng,
        )

    # the first version primes the store, so every timed import is a
    # re-import that marks, sweeps and merges
    state = {"previous": publisher.next_version()}
    first = run.timed("ingest.first_import", lambda: import_version(state["previous"], 0))
    if first.get("status_code") != 201 or _check_storage(dataset_dir, state["previous"].data, {}):
        raise SetupError(f"first import failed: {first}")

    def one_version() -> None:
        k = publisher.version + 1
        version = publisher.next_version()
        store_before = _inodes(store.root) if run.tracer.enabled else {}
        rec, resp = run.op("import", f"v{k}", lambda: import_version(version, k))
        rec["data_bytes"] = sum(size for size, _ in version.data.values())
        rec["staged_bytes"] = version.staged_bytes
        problem = None
        if rec["error"] is None:
            if resp.get("status_code") != 201:
                problem = f"create_dataset_version returned {resp}"
            else:
                new_version = resp["body"]["new_version_id"]
                execution = resp["body"]["execution_id"]
                srec, answer = run.op(
                    "status",
                    f"v{k}",
                    lambda: (
                        pipeline.get_import_status(store, execution),
                        datasets.get_dataset(store, dataset_id),
                    ),
                )
                problem = None if answer is None else _check_status(*answer, new_version)
                run.verdict(srec, problem)
                problem = problem or _check_storage(
                    dataset_dir, version.data, state["previous"].data
                )
        if run.tracer.enabled:
            rec["copy_bytes"] = _copied_bytes(dataset_dir, version.data, rec["start"])
            after = _inodes(store.root)
            rec["store_new_bytes"] = sum(s for i, s in after.items() if i not in store_before)
            run.extra["store.snapshot_files"] = len(after)
        run.verdict(rec, problem)
        state["previous"] = version

    def window() -> None:
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < run.seconds:
            one_version()

    return window


# -- query suite ---------------------------------------------------------------


def _frame_digest(pdf) -> str:
    from geostore_spark.testing import normalize_frame

    cols, rows = normalize_frame(pdf)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def ensure_sf(run: Run) -> str:
    """The sf0.1 fixture from the repository's seed-42 generator, made
    once per checkout."""
    out = run.cache_dir / f"sf{SF}"
    if not out.is_dir():
        sys.path.insert(0, str(run.root / "tools"))
        from gen_sf import generate

        tmp = run.cache_dir / f"sf{SF}.partial-{os.getpid()}"
        generate(float(SF), tmp)
        os.rename(tmp, out)
    return str(out)


def ensure_goldens(run: Run, sf_dir: str, registry: dict) -> dict[str, str]:
    """Golden result digests from each query's oracle SQL in DuckDB, made
    once per checkout and remade for a query whose SQL changed."""
    import duckdb

    from geostore_spark.sources.tables import TABLE_NAMES

    path = run.cache_dir / f"goldens-sf{SF}.json"
    cached = json.loads(path.read_text()) if path.exists() else {}
    todo = {}
    for name in QUERY_SUBSET:
        sql = registry[name].oracle if name in registry else None
        if sql is None:
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()
        if cached.get(name, {}).get("sql") != key:
            todo[name] = (key, sql)
    if todo:
        con = duckdb.connect(config={"threads": os.cpu_count() or 1, "memory_limit": "2GB"})
        try:
            for table in TABLE_NAMES:
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
                )
            for name, (key, sql) in todo.items():
                cached[name] = {"sql": key, "digest": _frame_digest(con.execute(sql).df())}
        finally:
            con.close()
        tmp = path.with_name(f"{path.name}.partial-{os.getpid()}")
        tmp.write_text(json.dumps(cached, indent=1, sort_keys=True))
        os.replace(tmp, path)
    return {name: entry["digest"] for name, entry in cached.items()}


def _reap(spark) -> None:
    """Collect dead broadcasts and checkpoint blocks between queries,
    outside any timed window (the same reap bench.py does)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.3)


def _warmup(spark, registry: dict, sf_dir: str) -> None:
    """The warm-ups bench.py runs: the flagship query (JVM and codegen
    start-up), the reusable Python workers, and the JVM's case-mapping
    tables, so that no timed query pays them."""
    from pyspark.sql import functions as F

    registry["a5_status_rollup"].spark(spark, sf_dir).collect()
    cpus = spark.sparkContext.defaultParallelism
    spark.range(64).repartition(cpus).mapInPandas(lambda it: it, "id long").collect()
    spark.range(1).select(F.upper(F.lit("a")), F.lower(F.lit("A"))).collect()


def query_suite(run: Run):
    """Every query of the subset once per pass, in a seeded order; the
    first pass always completes, later passes stop when time is up."""
    from geostore_spark.operators.util import shared_scaffold_builders
    from geostore_spark.registry import all_queries

    spark = run.spark
    registry = all_queries()
    sf_dir = ensure_sf(run)
    goldens = ensure_goldens(run, sf_dir, registry)

    run.timed("session.warmup", lambda: _warmup(spark, registry, sf_dir))
    for name, build in shared_scaffold_builders().items():
        run.timed(f"scaffold.{name}", lambda build=build: build(spark, sf_dir).count())

    order = list(QUERY_SUBSET)
    random.Random(run.seed).shuffle(order)

    def one_query(name: str) -> None:
        query = registry.get(name)
        phases = {}

        def execute():
            t0 = time.perf_counter()
            df = query.spark(spark, sf_dir)
            phases["plan_s"] = time.perf_counter() - t0
            pdf = df.toPandas()
            phases["exec_s"] = time.perf_counter() - t0 - phases["plan_s"]
            return pdf

        rec, pdf = run.op("query", name, execute)
        module = query.spark.__module__.removeprefix("geostore_spark.") if query else None
        rec.update(phases, module=module)
        problem = None
        if pdf is not None and _frame_digest(pdf) != goldens.get(name):
            problem = "result digest differs from the DuckDB oracle"
        run.verdict(rec, problem)

    def window() -> None:
        t_start = time.perf_counter()
        n = 0
        while n < len(order) or time.perf_counter() - t_start < run.seconds:
            if n and n % 16 == 0:
                _reap(spark)
            one_query(order[n % len(order)])
            n += 1

    return window


def query_medians(ops: list[dict]) -> dict[str, tuple[float, str]]:
    """Per-query median wall over its successful runs, with its module."""
    walls = defaultdict(list)
    module = {}
    for op in ops:
        if op["kind"] == "query" and op["ok"]:
            walls[op["name"]].append(op["wall"])
            module[op["name"]] = op["module"]
    return {name: (statistics.median(v), module[name]) for name, v in walls.items()}

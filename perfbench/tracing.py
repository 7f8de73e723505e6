"""Traced-run instrumentation, installed from outside the program.

Spans are recorded around calls into each module's public functions (and
the ingest stages the pipeline runs in sequence) by replacing the module
or class attribute with a timing wrapper; nothing inside ``geostore_spark``
changes. Each span has a name, start, end, parent and operation id and is
kept in memory until the run ends. Spark work is attributed per operation
through its job group, read back from the driver's status store after the
operation completes, outside its timed window.
"""

from __future__ import annotations

import functools
import json
import logging
import time
from collections import Counter
from contextlib import contextmanager

from py4j.protocol import Py4JError

from geostore_spark.logging_keys import (
    LOG_MESSAGE_STRATEGY_DISPATCH,
    LOG_MESSAGE_TRAVERSAL_COMPLETE,
    LOGGER,
)


class Tracer:
    """Span recorder. With ``enabled`` False, ``install`` wraps nothing and
    ``span`` records nothing, so untraced runs measure the bare program."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.op_events: dict[int, Counter] = {}
        self.op_fields: dict[int, list[dict]] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, table_arg: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. With
        ``table_arg`` the span name gets the store table as a suffix."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name
            if table_arg:
                table = kwargs.get("table", args[1] if len(args) > 1 else None)
                label = f"{name}.{table}"
            with tracer.span(label):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap the program's layer boundaries (traced runs only)."""
        if not self.enabled:
            return
        from geostore_spark.api import datasets
        from geostore_spark.pipeline import ingest, validation
        from geostore_spark.sources.store import MetadataStore

        for attr in ("create_dataset", "get_dataset"):
            self.wrap(datasets, attr, f"api.{attr}")
        self.wrap(ingest, "create_dataset_version", "ingest.create_dataset_version")
        self.wrap(ingest, "get_import_status", "ingest.get_import_status")
        # ingest binds these by name at import, so wrap them where it looks
        self.wrap(ingest, "traverse", "traversal.traverse")
        self.wrap(ingest, "verify_checksums", "checksums.verify_checksums")
        for attr, label in (
            ("_import_assets", "ingest.copy"),
            ("_import_metadata", "ingest.metadata_rewrite"),
            ("_gc_and_pointer", "ingest.gc"),
            ("_update_catalog", "ingest.catalog"),
        ):
            self.wrap(ingest, attr, label)
        for attr in (
            "validate_documents",
            "root_type_gate",
            "fetch_failure_rows",
            "collect_assets",
            "no_assets_gate",
        ):
            self.wrap(validation, attr, f"validation.{attr}")
        for attr in ("append", "merge", "update_where", "delete_where", "overwrite", "read"):
            self.wrap(MetadataStore, attr, f"store.{attr}", table_arg=True)
        handler = _EventCounter(self)
        LOGGER.addHandler(handler)
        LOGGER.setLevel(logging.INFO)

    def dump(self, path: str, ops: list[dict]) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": ops}, f)


class _EventCounter(logging.Handler):
    """Counts the program's structured events per operation; keeps the
    fields of the traversal summary event."""

    def __init__(self, tracer: Tracer) -> None:
        super().__init__(logging.INFO)
        self.tracer = tracer

    def emit(self, record: logging.LogRecord) -> None:
        op = self.tracer.op_id
        if op is None:
            return
        self.tracer.op_events.setdefault(op, Counter())[record.msg] += 1
        if record.msg == LOG_MESSAGE_TRAVERSAL_COMPLETE:
            self.tracer.op_fields.setdefault(op, []).append(dict(getattr(record, "event", {})))


def spark_jobs(spark, group: str) -> list[dict]:
    """Jobs of one job group with their stage metrics, from the status
    store (works with the UI disabled)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        data = store.job(jid)
        sub, done = data.submissionTime(), data.completionTime()
        job = {
            "id": jid,
            "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
            "end": done.get().getTime() / 1000 if done.isDefined() else None,
            "tasks": 0,
            "run_s": 0.0,
            "cpu_s": 0.0,
            "shuffle_read": 0,
            "shuffle_write": 0,
            "input": 0,
        }
        info = sc.statusTracker().getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:  # skipped stage: never ran, nothing recorded
                continue
            job["tasks"] += st.numCompleteTasks()
            job["run_s"] += st.executorRunTime() / 1e3
            job["cpu_s"] += st.executorCpuTime() / 1e9
            job["shuffle_read"] += st.shuffleReadBytes()
            job["shuffle_write"] += st.shuffleWriteBytes()
            job["input"] += st.inputBytes()
        jobs.append(job)
    return jobs


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur:
            continue
        total += b - max(a, cur)
        cur = b
    return total


# Registering modules of the queries, and the shared scaffolds, as named in
# the per-layer metrics (every name is reported on every workload).
QUERY_MODULES = (
    "operators.analytics", "operators.dedup", "operators.embeddings",
    "operators.graph", "operators.ml", "operators.multimodal",
    "operators.retention", "operators.runtime_filters", "operators.sampling",
    "operators.similarity", "operators.skew", "operators.spatial",
    "operators.stats", "operators.temporal", "operators.text",
    "operators.windows", "plans.canonical", "sources.bucketed", "sources.ivm",
    "sources.partitioned", "streaming.ivm_sink",
)
SCAFFOLDS = (
    "bucketed_layout", "partitioned_layout", "supply_pairs", "supply_sym_dst",
    "supply_nodes", "order_part_sets", "part_supports", "daily_orders",
    "kmeans_assignment", "bloom_state", "simhash_fps", "minhash_sig",
)


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def layer_metrics(
    tracer: Tracer,
    ops: list[dict],
    setup: dict[str, float],
    extra: dict[str, float],
    module_s: dict[str, float],
    overhead_frac: float,
) -> dict[str, float]:
    """Per-layer figures of one traced window. Per-operation figures are
    means over the window's successful primary operations (imports, or
    queries), so a layer a few operations touch still shows."""
    spans = {s["id"]: s for s in tracer.spans}
    by_op: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s["op"] is not None:
            by_op.setdefault(s["op"], []).append(s)
    primary = [op for op in ops if op["ok"] and op["kind"] in ("import", "query")]
    imports = [op for op in primary if op["kind"] == "import"]
    queries = [op for op in primary if op["kind"] == "query"]
    status = [op for op in ops if op["ok"] and op["kind"] == "status"]

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def named(op: dict, name: str) -> list[dict]:
        return [s for s in by_op.get(op["id"], ()) if s["name"] == name]

    def store_calls(op: dict, method: str) -> list[dict]:
        """Store calls made by the pipeline, not by another store call."""
        return [
            s for s in by_op.get(op["id"], ())
            if s["name"].split(".")[:2] == ["store", method]
            and not spans[s["parent"]]["name"].startswith("store.")
        ]

    def ingest_self(op: dict) -> float:
        total = 0.0
        for top in named(op, "ingest.create_dataset_version"):
            kids = [(s["start"], s["end"]) for s in by_op[op["id"]] if s["parent"] == top["id"]]
            total += dur(top) - covered(kids, top["start"], top["end"])
        return total

    def checksum_tasks(op: dict) -> int:
        windows = [(s["start"], s["end"]) for s in named(op, "store.append.validation_results")]
        return sum(
            j["tasks"] for j in op.get("jobs", ())
            if j["start"] is not None and any(a <= j["start"] <= b for a, b in windows)
        )

    def residual(op: dict) -> float:
        jobs = [(j["start"], j["end"]) for j in op.get("jobs", ()) if j["start"] and j["end"]]
        return op["end"] - op["start"] - covered(jobs, op["start"], op["end"])

    def traversal_field(op: dict, key: str) -> float:
        return sum(e.get(key, 0) for e in tracer.op_fields.get(op["id"], ()))

    out = {
        "session.start_s": setup.get("session.start", 0.0),
        "session.warmup_s": setup.get("session.warmup", 0.0),
        "ingest.first_import_s": setup.get("ingest.first_import", 0.0),
        "scaffold.build_s": sum(setup.get(f"scaffold.{n}", 0.0) for n in SCAFFOLDS),
    }
    for n in SCAFFOLDS:
        out[f"scaffold.{n}_s"] = setup.get(f"scaffold.{n}", 0.0)
    out.update({
        "traversal.traverse_s": _mean(
            sum(map(dur, named(op, "traversal.traverse"))) for op in primary
        ),
        "traversal.docs": _mean(traversal_field(op, "n_urls") for op in primary),
        "traversal.rounds": _mean(traversal_field(op, "n_rounds") for op in primary),
        "store.append.validation_results_s": _mean(
            sum(map(dur, named(op, "store.append.validation_results"))) for op in primary
        ),
        "checksums.bytes": _mean(op["data_bytes"] for op in imports),
        "checksums.tasks": _mean(checksum_tasks(op) for op in primary),
        "ingest.self_s": _mean(ingest_self(op) for op in imports),
        "ingest.copy_bytes": _mean(op["copy_bytes"] for op in imports),
    })
    for method in ("append", "merge", "update_where", "read"):
        out[f"store.{method}_s"] = _mean(sum(map(dur, store_calls(op, method))) for op in primary)
    out["store.append_calls"] = _mean(len(store_calls(op, "append")) for op in primary)
    out["store.snapshot_files"] = extra.get("store.snapshot_files", 0)
    out["store.bytes_written_per_user_byte"] = _mean(
        op["store_new_bytes"] / op["staged_bytes"] for op in imports
    )
    out["api.create_dataset_s"] = setup.get("api.create_dataset", 0.0)
    out["api.get_dataset_s"] = _mean(sum(map(dur, named(op, "api.get_dataset"))) for op in status)
    out["ingest.get_import_status_s"] = _mean(
        sum(map(dur, named(op, "ingest.get_import_status"))) for op in status
    )
    jobs_of = [op.get("jobs", []) for op in primary]
    out["spark.jobs"] = _mean(len(jobs) for jobs in jobs_of)
    for metric, key in (
        ("spark.tasks", "tasks"),
        ("spark.executor_run_s", "run_s"),
        ("spark.executor_cpu_s", "cpu_s"),
        ("spark.shuffle_read_bytes", "shuffle_read"),
        ("spark.shuffle_write_bytes", "shuffle_write"),
        ("spark.input_bytes", "input"),
    ):
        out[metric] = _mean(sum(j[key] for j in jobs) for jobs in jobs_of)
    out["spark.driver_residual_s"] = _mean(residual(op) for op in primary)
    out["query.plan_build_s"] = _mean(op["plan_s"] for op in queries)
    out["query.execute_s"] = _mean(op["exec_s"] for op in queries)
    for m in QUERY_MODULES:
        out[f"module.{m}_s"] = module_s.get(m, 0.0)
    out["query.dispatch_events"] = _mean(
        tracer.op_events.get(op["id"], Counter())[LOG_MESSAGE_STRATEGY_DISPATCH] for op in primary
    )
    out["trace.overhead_frac"] = overhead_frac
    return out

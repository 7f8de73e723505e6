"""Dataset-version ingest pipeline — the reference's Step Functions state
machine (SURVEY §3.2; infrastructure/constructs/processing.py:444-526)
re-expressed as one driver-orchestrated sequence of Spark jobs.

Stage map (reference → here):
  create_dataset_version (dataset_versions/create.py:53-144)
    → ``create_dataset_version``: version ULID from injectable ``now``,
      stale replaced-flag clearing, then the synchronous pipeline run
      (Choice states become ``if``; the state document becomes locals).
  check_stac_metadata  → traversal + validation modules (V1-V5, V9-V10)
  content_iterator / Batch array job → Spark task scheduling (V7): the
      checksum job is one ``mapInPandas`` over repartitioned asset rows.
  validation_summary (validation_summary/task.py:40-50) → A2 aggregate.
  import_dataset (import_dataset/task.py:89-209) → distributed copy +
      metadata href rewrite (import_metadata_file/task.py:34-73, op F9).
  update_root_catalog (update_root_catalog/task.py:51-125) → GC sweep (V8),
      current-version pointer, catalog merge (V11-V12).
  import status (step_function.py:72-122) → ``get_import_status`` with the
      Pending→Skipped inference (step_function.py:87-93).

Failure semantics preserved: a validation failure is a *successful*
pipeline outcome with ``validation_success = false`` and skipped import
(T4 — tests/test_processing_stack.py:788).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from geostore_spark.logging_keys import (
    LOG_MESSAGE_CHECK_STAGE_COMPLETE,
    LOG_MESSAGE_IMPORT_JOB_RESULT,
    LOG_MESSAGE_PIPELINE_RUN_COMPLETE,
    LOG_MESSAGE_VALIDATION_CHECK_FAILURE,
    LOG_MESSAGE_VALIDATION_COMPLETE,
    log_event,
)
from geostore_spark.pipeline import validation as V
from geostore_spark.pipeline.checksums import verify_checksums
from geostore_spark.pipeline.io import opener_snapshot as _opener_snapshot
from geostore_spark.pipeline.traversal import documents_frame, traverse
from geostore_spark.pipeline.ulid import human_readable_ulid, ulid
from geostore_spark.sources.store import MetadataStore

ETAG_CHUNK = 8 * 1024 * 1024  # reference geostore/s3_utils.py:79


def multipart_etag(payload: bytes) -> str:
    """S3-style multipart ETag (s3_utils.py:77-102): md5 of chunk-md5
    digests + '-<n>' when chunked, plain md5 otherwise. Used for
    write-elision (V11)."""
    if len(payload) <= ETAG_CHUNK:
        return hashlib.md5(payload).hexdigest()
    digests = b"".join(
        hashlib.md5(payload[i : i + ETAG_CHUNK]).digest()
        for i in range(0, len(payload), ETAG_CHUNK)
    )
    n = -(-len(payload) // ETAG_CHUNK)
    return f"{hashlib.md5(digests).hexdigest()}-{n}"


def etag_gated_write(path: str, payload: bytes) -> bool:
    """V11: skip the write when content is unchanged. Returns True if
    written."""
    if os.path.exists(path):
        with open(path, "rb") as f:
            if multipart_etag(f.read()) == multipart_etag(payload):
                return False
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(payload)
    return True


# -- import workers (executor-side, constant memory per row) ----------------


# Shared-result retry protocol (import_dataset_file.py:46-99): a
# timeout-class error is a TemporaryFailure and the copy is retried up to
# the attempt budget; anything else is a PermanentFailure immediately.
RESULT_CODE_SUCCEEDED = "Succeeded"
RESULT_CODE_TEMPORARY_FAILURE = "TemporaryFailure"
RESULT_CODE_PERMANENT_FAILURE = "PermanentFailure"
RETRY_RESULT_STRING = "Retry request to source due to timeout."
MAX_IMPORT_ATTEMPTS = 3
COPY_RESULT_SCHEMA = (
    "src string, dst string, result_code string, attempts int, message string"
)

# Chaos hook for the retry path: when $GEOSTORE_FAULT_DIR (read on the
# DRIVER at plan-build time and shipped in the task closure — executor
# processes don't see driver env mutations) contains a marker file named
# after the source basename, the copy consumes it (atomic os.remove —
# exactly one attempt across all workers sees it) and raises a timeout.
# Lets tests inject one transient failure into the executor-side worker,
# which monkeypatching cannot reach.
FAULT_DIR_ENV = "GEOSTORE_FAULT_DIR"


def _maybe_inject_fault(src: str, fault_dir: str | None) -> None:
    if not fault_dir:
        return
    marker = os.path.join(fault_dir, os.path.basename(src))
    try:
        os.remove(marker)  # atomic claim: only one attempt wins the fault
    except FileNotFoundError:
        return
    raise TimeoutError(f"injected transient failure for {src}")


def _copy_once(
    src: str, dst: str, fault_dir: str | None = None, openers: dict | None = None
) -> None:
    """Source bytes stream through the pluggable opener seam
    (pipeline/io.py) — the reference's import task reads via its
    injected S3 client (import_asset_file/task.py:23-32); the
    destination is the engine's own storage root (local by design)."""
    from geostore_spark.pipeline.io import open_url

    _maybe_inject_fault(src, fault_dir)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    with open_url(src, "rb", openers) as fi, open(dst, "wb") as fo:
        while True:
            chunk = fi.read(ETAG_CHUNK)
            if not chunk:
                break
            fo.write(chunk)


def _copy_with_retry(
    src: str, dst: str, fault_dir: str | None = None, openers: dict | None = None
) -> tuple[str, int, str | None]:
    """One asset copy under the retry protocol. Returns
    (result_code, attempts, message): timeouts retry up to
    MAX_IMPORT_ATTEMPTS (each failed attempt recorded), other errors are
    permanent on first sight — the reference's
    TemporaryFailure/PermanentFailure split (import_dataset_file.py:72-83)
    with S3 Batch's re-drive loop collapsed into a bounded local loop."""
    from geostore_spark.pipeline.object_store import RETRYABLE_ERRORS

    message: str | None = None
    for attempt in range(1, MAX_IMPORT_ATTEMPTS + 1):
        try:
            _copy_once(src, dst, fault_dir, openers)
            return RESULT_CODE_SUCCEEDED, attempt, message
        except RETRYABLE_ERRORS as err:
            # a registered cloud opener signalling
            # TemporaryObjectStoreError (e.g. S3Opener on RequestTimeout)
            # retries like an injected timeout
            message = f"{RETRY_RESULT_STRING} ({err})"
            continue
        except OSError as err:
            return RESULT_CODE_PERMANENT_FAILURE, attempt, str(err)
    return RESULT_CODE_TEMPORARY_FAILURE, MAX_IMPORT_ATTEMPTS, message


def _make_copy_batches(fault_dir: str | None, openers: dict | None = None):
    """Distributed asset byte-copy (import_asset_file/task.py:23-32) with
    the shared-result retry protocol per row. Closure factory so the
    driver-resolved fault hook ships to executors with the task."""

    def _copy_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = []
            for src, dst in zip(pdf["src"], pdf["dst"]):
                code, attempts, message = _copy_with_retry(src, dst, fault_dir, openers)
                results.append((src, dst, code, attempts, message))
            yield pd.DataFrame(
                results,
                columns=["src", "dst", "result_code", "attempts", "message"],
            )

    return _copy_batches


def _rewrite_metadata_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Distributed metadata rewrite (import_metadata_file/task.py:34-74):
    drop rel=self links, rewrite every remaining link/asset href to its
    basename (flat storage layout), then retarget rel=root links to
    ``../catalog.json`` (``update_root_link``, task.py:71-74 — applied
    AFTER the basename pass, so the root href is the fixed relative
    catalog path regardless of the source layout). Raw-JSON round-trip
    keeps fields the engine doesn't model."""
    for pdf in batches:
        results = []
        for raw, dst in zip(pdf["raw"], pdf["dst"]):
            try:
                doc = json.loads(raw)
                doc["links"] = [
                    {
                        **lk,
                        "href": "../catalog.json"
                        if lk.get("rel") == "root"
                        else os.path.basename(lk.get("href", "")),
                    }
                    for lk in doc.get("links", [])
                    if lk.get("rel") != "self"
                ]
                for asset in doc.get("assets", {}).values():
                    if "href" in asset:
                        asset["href"] = os.path.basename(asset["href"])
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                with open(dst, "w") as f:
                    json.dump(doc, f)
                results.append((dst, "Complete", None))
            except (OSError, json.JSONDecodeError) as err:
                results.append((dst, "Failed", str(err)))
        yield pd.DataFrame(results, columns=["dst", "status", "message"])


def _probe_existence_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched staging-existence probe for DATA_ITEM_INDEX assets
    (import_dataset/task.py builds its manifest only from files that
    exist in staging). One python loop per Arrow batch instead of a
    row-at-a-time UDF round-trip — the only remaining per-row Python
    in the import path before r11. Non-data rows keep a NULL flag."""
    for pdf in batches:
        pdf = pdf.copy()
        pdf["exists_in_staging"] = pd.array(
            [
                os.path.exists(url) if kind == "DATA_ITEM_INDEX" else None
                for url, kind in zip(pdf["url"], pdf["asset_type"])
            ],
            dtype="boolean",
        )
        yield pdf


# -- pipeline ----------------------------------------------------------------


def create_dataset_version(
    spark: SparkSession,
    store: MetadataStore,
    dataset_id: str,
    metadata_url: str,
    storage_root: str,
    now: datetime | None = None,
    rng: random.Random | None = None,
) -> dict:
    """Entry point 2 (geostore version create): returns
    {new_version_id, execution_id} after running the pipeline."""
    now = now or datetime.now(timezone.utc)
    rng = rng or random.Random()
    ds_rows = store.read("datasets").filter(F.col("dataset_id") == dataset_id).collect()
    if not ds_rows:
        return {"status_code": 404, "body": {"message": f"Not Found: dataset {dataset_id!r}"}}
    title = ds_rows[0]["title"]
    current_version = ds_rows[0]["current_dataset_version"]
    version_id = human_readable_ulid(now, rng)  # dataset_versions/create.py:97-98
    execution_id = ulid(now, rng)

    # clear stale GC flags on the current version (create.py:100-105)
    if current_version is not None:
        store.update_where(
            "processing_assets",
            (F.col("dataset_id") == dataset_id) & (F.col("version_id") == current_version),
            {"replaced_in_new_version": F.lit(None).cast("boolean")},
        )

    _run_pipeline(
        spark, store, dataset_id, version_id, execution_id, title,
        metadata_url, storage_root, now,
    )
    return {
        "status_code": 201,
        "body": {"new_version_id": version_id, "execution_id": execution_id},
    }


def _run_pipeline(
    spark: SparkSession,
    store: MetadataStore,
    dataset_id: str,
    version_id: str,
    execution_id: str,
    title: str,
    metadata_url: str,
    storage_root: str,
    now: datetime,
) -> None:
    key = (F.lit(dataset_id).alias("dataset_id"), F.lit(version_id).alias("version_id"))

    # NON_S3_URL gate (reference check_stac_metadata/utils.py:99-113):
    # a root URL on an unregistered storage scheme records its one
    # Failed row and short-circuits the walk — the validation run still
    # completes (T4) with validation_success=false
    from geostore_spark.pipeline.io import opener_snapshot, url_scheme

    unregistered = url_scheme(metadata_url) not in opener_snapshot()
    docs = (
        documents_frame(spark, [])  # zero documents
        if unregistered
        else traverse(spark, metadata_url)  # V1
    ).cache()
    assets = V.collect_assets(docs)
    if unregistered:
        checks = spark.createDataFrame(
            [
                (
                    metadata_url,
                    V.CHECK_NON_S3_URL,
                    V.RESULT_FAILED,
                    {
                        "message": "URL doesn't start with a registered "
                        f"storage scheme: “{metadata_url}”"
                    },
                )
            ],
            "url string, check string, result string, details map<string,string>",
        )
    else:
        # V10/V2-V5/V9 validation (+ per-URL fetch rows)
        checks = (
            V.root_type_gate(docs, metadata_url)
            .unionByName(V.validate_documents(docs))
            .unionByName(V.fetch_failure_rows(docs))
            .unionByName(V.no_assets_gate(assets, metadata_url))
        )

    asset_rows = assets.select(
        *key,
        "asset_type",
        "item_index",
        F.col("href").alias("url"),
        F.regexp_extract("href", "([^/]+)$", 1).alias("filename"),
        "multihash",
        F.lit(None).cast("boolean").alias("exists_in_staging"),
        F.lit(None).cast("boolean").alias("replaced_in_new_version"),
    )
    asset_rows = asset_rows.mapInPandas(_probe_existence_batches, asset_rows.schema)
    store.append("processing_assets", asset_rows)

    # V6 checksum job over DATA assets present in staging
    data_assets = store.read("processing_assets").filter(
        (F.col("dataset_id") == dataset_id)
        & (F.col("version_id") == version_id)
        & (F.col("asset_type") == "DATA_ITEM_INDEX")
    )
    # per-row check kind from the verifier itself: CHECKSUM pass/fail,
    # UNKNOWN_MULTIHASH_ERROR, FILE_NOT_FOUND, UNKNOWN_CLIENT_ERROR —
    # the reference's taxonomy (check_files_checksums/utils.py:88-155)
    checksum_checks = verify_checksums(
        data_assets.filter(F.col("exists_in_staging"))
    ).select(
        "url",
        "check",
        "result",
        F.when(
            F.col("message").isNotNull(), F.create_map(F.lit("message"), "message")
        ).alias("details"),
    )
    missing_checks = data_assets.filter(~F.coalesce("exists_in_staging", F.lit(False))).select(
        "url",
        F.lit(V.CHECK_FILE_NOT_FOUND).alias("check"),
        F.lit(V.RESULT_FAILED).alias("result"),
        F.create_map(
            F.lit("message"),
            F.concat(
                F.lit("Could not find asset file '"),
                F.col("url"),
                F.lit("' in staging bucket or in the Geostore."),
            ),
        ).alias("details"),
    )

    all_checks = checks.unionByName(checksum_checks).unionByName(missing_checks)
    store.append(
        "validation_results",
        all_checks.select(*key, "check", "url", "result", "details"),
    )

    # validation summary (A2): success ⇔ zero Failed rows for this version.
    # The failure sample doubles as the structured-event source: one
    # "Validation Check Failure" per failed (check, url) — bounded collect,
    # failures are operator-attention-sized — then the summary event.
    failed_rows = (
        store.read("validation_results")
        .filter(
            (F.col("dataset_id") == dataset_id)
            & (F.col("version_id") == version_id)
            & (F.col("result") == V.RESULT_FAILED)
        )
        .select("check", "url", "details")
        .limit(100)
        .collect()
    )
    for row in failed_rows:
        log_event(
            LOG_MESSAGE_VALIDATION_CHECK_FAILURE,
            dataset_id=dataset_id,
            version_id=version_id,
            check=row["check"],
            url=row["url"],
            details=dict(row["details"] or {}),
        )
    # per-check-family rollup: one event per family (checksum, schema,
    # classification, root type, ...) with pass/fail counts — check-family
    # cardinality is fixed and tiny, so the collect is constant-size
    family_rows = (
        store.read("validation_results")
        .filter(
            (F.col("dataset_id") == dataset_id)
            & (F.col("version_id") == version_id)
        )
        .groupBy("check")
        .agg(
            F.count(F.when(F.col("result") == V.RESULT_PASSED, 1)).alias("n_passed"),
            F.count(F.when(F.col("result") == V.RESULT_FAILED, 1)).alias("n_failed"),
        )
        .collect()
    )
    for row in family_rows:
        log_event(
            LOG_MESSAGE_CHECK_STAGE_COMPLETE,
            dataset_id=dataset_id,
            version_id=version_id,
            check=row["check"],
            n_passed=row["n_passed"],
            n_failed=row["n_failed"],
        )
    validation_success = not failed_rows
    log_event(
        LOG_MESSAGE_VALIDATION_COMPLETE,
        dataset_id=dataset_id,
        version_id=version_id,
        success=validation_success,
        n_failed_sample=len(failed_rows),
    )

    asset_job = metadata_job = "Pending"
    if validation_success:
        asset_job = _import_assets(spark, store, dataset_id, version_id, title, storage_root)
        log_event(
            LOG_MESSAGE_IMPORT_JOB_RESULT,
            dataset_id=dataset_id, version_id=version_id,
            job="asset", status=asset_job,
        )
        metadata_job = _import_metadata(docs, title, storage_root)
        log_event(
            LOG_MESSAGE_IMPORT_JOB_RESULT,
            dataset_id=dataset_id, version_id=version_id,
            job="metadata", status=metadata_job,
        )
        _gc_and_pointer(store, dataset_id, version_id, title, storage_root, now)
        _update_catalog(spark, store, dataset_id, title, storage_root, docs, metadata_url)

    docs.unpersist()
    run_row = spark.createDataFrame(
        [
            (
                execution_id, dataset_id, version_id, title,
                "Succeeded",  # T4: validation failure is still a successful run
                validation_success, asset_job, metadata_job, now, now,
            )
        ],
        store.schema("pipeline_runs"),
    )
    store.append("pipeline_runs", run_row)
    log_event(
        LOG_MESSAGE_PIPELINE_RUN_COMPLETE,
        execution_id=execution_id,
        dataset_id=dataset_id,
        version_id=version_id,
        validation_success=validation_success,
        asset_job_status=asset_job,
        metadata_job_status=metadata_job,
    )

    # event tail (S9/S10): one immutable event per run for the streaming
    # notification sink (geostore_spark/streaming/status_events.py)
    from geostore_spark.streaming.status_events import emit_status_event

    emit_status_event(
        os.path.join(store.root, "events"),
        {
            "event_id": execution_id,
            "dataset_id": dataset_id,
            "version_id": version_id,
            "title": title,
            "status": "Succeeded",
            "validation_success": validation_success,
            "ts": now,
        },
    )


def _import_assets(
    spark: SparkSession,
    store: MetadataStore,
    dataset_id: str,
    version_id: str,
    title: str,
    storage_root: str,
) -> str:
    """Manifest projection (S7) + distributed byte copy. Only
    staging-present assets are copied (import_dataset/task.py:142-145)."""
    manifest = (
        store.read("processing_assets")
        .filter(
            (F.col("dataset_id") == dataset_id)
            & (F.col("version_id") == version_id)
            & (F.col("asset_type") == "DATA_ITEM_INDEX")
            & F.col("exists_in_staging")
        )
        .select(
            F.col("url").alias("src"),
            F.concat(F.lit(f"{storage_root}/{title}/"), "filename").alias("dst"),
        )
    )
    results = manifest.mapInPandas(
        _make_copy_batches(os.environ.get(FAULT_DIR_ENV), _opener_snapshot()),
        COPY_RESULT_SCHEMA
    )
    n_failed = (
        results.filter(F.col("result_code") != RESULT_CODE_SUCCEEDED)
        .limit(1)
        .count()
    )
    return "Failed" if n_failed else "Complete"


def _import_metadata(docs, title: str, storage_root: str) -> str:
    rewrites = docs.select(
        "raw",
        F.concat(
            F.lit(f"{storage_root}/{title}/"),
            F.regexp_extract("url", "([^/]+)$", 1),
        ).alias("dst"),
    )
    results = rewrites.mapInPandas(
        _rewrite_metadata_batches, "dst string, status string, message string"
    )
    n_failed = results.filter(F.col("status") == "Failed").limit(1).count()
    return "Failed" if n_failed else "Complete"


def _gc_and_pointer(
    store: MetadataStore,
    dataset_id: str,
    version_id: str,
    title: str,
    storage_root: str,
    now: datetime,
) -> None:
    """V8 mark-and-sweep + J6 pointer update
    (step_function.py:197-232; update_root_catalog/task.py:100-119)."""
    ds = store.read("datasets").filter(F.col("dataset_id") == dataset_id).collect()[0]
    old_version = ds["current_dataset_version"]
    if old_version is not None:
        new_files = (
            store.read("processing_assets")
            .filter(
                (F.col("dataset_id") == dataset_id) & (F.col("version_id") == version_id)
            )
            .select("filename")
            .distinct()
        )
        old_assets_cond = (F.col("dataset_id") == dataset_id) & (
            F.col("version_id") == old_version
        )
        # mark: filename reappears in the new version → replaced
        store.merge(
            "processing_assets",
            new_files.withColumn("dataset_id", F.lit(dataset_id)).withColumn(
                "version_id", F.lit(old_version)
            ),
            on=["dataset_id", "version_id", "filename"],
            when_matched_set={"replaced_in_new_version": F.lit(True)},
        )
        # sweep: unmarked old DATA files are no longer referenced → delete
        stale = (
            store.read("processing_assets")
            .filter(
                old_assets_cond
                & (F.col("asset_type") == "DATA_ITEM_INDEX")
                & F.col("replaced_in_new_version").isNull()
            )
            .select("filename")
            .collect()
        )
        for row in stale:
            path = os.path.join(storage_root, title, row["filename"])
            if os.path.exists(path):
                os.remove(path)
    store.update_where(
        "datasets",
        F.col("dataset_id") == dataset_id,
        {"current_dataset_version": F.lit(version_id), "updated_at": F.lit(now)},
    )


def _update_catalog(
    spark: SparkSession,
    store: MetadataStore,
    dataset_id: str,
    title: str,
    storage_root: str,
    docs,
    root_url: str,
) -> None:
    """V12 idempotent child-add via MERGE WHEN NOT MATCHED + V11 ETag-gated
    render of the root catalog (populate_catalog/task.py:49-112)."""
    root_type = docs.filter(F.col("url") == root_url).select("doc.type").collect()[0][0]
    child_url = f"{storage_root}/{title}/{os.path.basename(root_url)}"
    child = spark.createDataFrame(
        [(child_url, root_type, dataset_id, title, f"{storage_root}/catalog.json", None)],
        store.schema("catalog"),
    )
    store.merge("catalog", child, on=["url"], insert_not_matched=True)

    children = (
        store.read("catalog")
        .filter(F.col("parent_url") == f"{storage_root}/catalog.json")
        .orderBy("title")
        .collect()
    )
    catalog_doc = {
        "type": "Catalog",
        "stac_version": "1.0.0",
        "id": "root",
        "description": "Geostore root catalog",
        "links": [
            {"rel": "root", "href": "./catalog.json"},
            *(
                {"rel": "child", "href": f"./{r['title']}/{os.path.basename(r['url'])}"}
                for r in children
            ),
        ],
    }
    etag_gated_write(
        os.path.join(storage_root, "catalog.json"),
        json.dumps(catalog_doc, sort_keys=True).encode(),
    )


# -- entry point 3: import status (step_function.py:72-122) ------------------

_PENDING_TO_SKIPPED = {"Pending": "Skipped"}


def get_import_status(store: MetadataStore, execution_id: str) -> dict:
    runs = store.read("pipeline_runs").filter(F.col("execution_id") == execution_id).collect()
    if not runs:
        return {"status_code": 404, "body": {"message": f"Not Found: execution {execution_id!r}"}}
    run = runs[0]
    errors = (
        store.read("validation_results")
        .filter(
            (F.col("dataset_id") == run["dataset_id"])
            & (F.col("version_id") == run["version_id"])
            & (F.col("result") == "Failed")
        )
        .orderBy("check", "url")
        .collect()
    )
    asset_job, metadata_job = run["asset_job_status"], run["metadata_job_status"]
    if not run["validation_success"]:  # Pending → Skipped inference (:87-93)
        asset_job = _PENDING_TO_SKIPPED.get(asset_job, asset_job)
        metadata_job = _PENDING_TO_SKIPPED.get(metadata_job, metadata_job)
    return {
        "status_code": 200,
        "body": {
            "step function": {"status": run["status"]},
            "validation": {
                "status": "Passed" if run["validation_success"] else "Failed",
                "errors": [
                    {
                        "check": e["check"],
                        "url": e["url"],
                        "result": e["result"],
                        "details": dict(e["details"]) if e["details"] else {},
                    }
                    for e in errors
                ],
            },
            "asset upload": {"status": asset_job},
            "metadata upload": {"status": metadata_job},
        },
    }

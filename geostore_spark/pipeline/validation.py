"""STAC validation operators (V2-V5, V9, V10).

The reference's 13 check kinds live in geostore/check.py:4-17; the ones
with real compute are re-expressed here:

- V2 per-type JSON-Schema validation (Draft 7) — a Python UDF by necessity:
  Catalyst cannot express $ref-resolving Draft-7 validation. Schemas are
  minimal required-key profiles derived from the public STAC spec (the
  golden docs in FIXTURES.md B4), selected by the document's ``type`` like
  STAC_TYPE_VALIDATION_MAP (check_stac_metadata/utils.py:45-49).
- V3 security-classification gate (utils.py:210-225): any document not
  'unclassified' fails validation.
- V4 duplicate-JSON-key detection (utils.py:297-314): a UDF over *raw*
  text with an object_pairs_hook — any structured parse silently keeps the
  last key, so this check must run beside, not after, the JSON reader.
- V5 asset/metadata manifest accumulation with discovery-order enumeration
  (utils.py:165-189,229-249): explode + row_number.
- V9 no-assets gate (utils.py:316-333).
- V10 root-type gate (utils.py:136-155).

Validation results use the decoded schema (dataset_id, version_id, check,
url, result, details) — FIXTURES.md B3.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType
from pyspark.sql.window import Window

RESULT_PASSED = "Passed"
RESULT_FAILED = "Failed"

# The reference's 13 check kinds, STRING-FOR-STRING (geostore/check.py:4-17)
CHECK_ASSETS_IN_DATASET = "assets in dataset"
CHECK_CHECKSUM = "checksum"
CHECK_DUPLICATE_KEYS = "duplicate asset name"
CHECK_FILE_NOT_FOUND = "file not found in staging or storage"
CHECK_ROOT_TYPE = "root type must be catalog or collection"
CHECK_JSON_PARSE = "JSON parse"
CHECK_JSON_SCHEMA = "JSON schema"
CHECK_NON_S3_URL = "not an s3 url"
NO_ASSETS_MESSAGE = "no assets in the dataset"  # NO_ASSETS_IN_DATASET.value
CHECK_SECURITY = "security classification"
CHECK_STAGING_ACCESS = "staging bucket access"
CHECK_UNKNOWN_CLIENT_ERROR = "unknown client error"
CHECK_UNKNOWN_MULTIHASH_ERROR = "unknown multihash error"
# back-compat alias (the no-assets gate files its row under this kind,
# reference check_stac_metadata/utils.py:316-324)
CHECK_NO_ASSETS = CHECK_ASSETS_IN_DATASET

UNCLASSIFIED = "unclassified"
ROOT_TYPES = ("Catalog", "Collection")

@F.udf(returnType=ArrayType(StringType()))
def json_schema_errors(raw: str) -> list[str]:
    """V2: full-fidelity Draft-7 validation errors for one raw document.

    Validation runs against the vendored STAC 1.0.0 schema store
    (``stac_schemas.py``): per-type core schema resolved through a
    ``$ref`` registry (item → GeoJSON Feature + basics/datetime/
    instrument/licensing/provider fragments) plus every declared
    ``stac_extensions`` schema the store vendors — the same construction
    as the reference's STAC*SchemaValidator family
    (check_stac_metadata/stac_validators.py:90-103)."""
    try:
        doc = json.loads(raw)
    except (json.JSONDecodeError, TypeError):
        return []  # malformed JSON is JSON_PARSE's finding, not V2's
    # executor-side import: the store + validators build once per worker
    from geostore_spark.pipeline.stac_schemas import validation_errors

    return validation_errors(doc)


@F.udf(returnType=StringType())
def json_parse_error(raw: str) -> str | None:
    """JSON_PARSE: the parse failure message, or NULL for valid JSON —
    its own first-class check kind, exactly as the reference records
    JSONDecodeError under Check.JSON_PARSE with details={message:
    str(error)} and never runs the schema check on that document
    (check_stac_metadata/utils.py:260-270)."""
    try:
        json.loads(raw)
        return None
    except TypeError:
        return None  # unfetched document: the fetch check owns it
    except json.JSONDecodeError as err:
        return str(err)


@F.udf(returnType=ArrayType(StringType()))
def duplicate_json_keys(raw: str) -> list[str]:
    """V4: repeated keys anywhere in the document, from raw text."""
    dupes: list[str] = []

    def hook(pairs):
        seen = set()
        for key, _ in pairs:
            if key in seen:
                dupes.append(key)
            seen.add(key)
        return dict(pairs)

    try:
        json.loads(raw, object_pairs_hook=hook)
    except (json.JSONDecodeError, TypeError):
        return []  # malformed JSON is JSON_PARSE's finding, not V4's
    return sorted(set(dupes))


def fetch_failure_rows(docs: DataFrame) -> DataFrame:
    """FILE_NOT_FOUND / STAGING_ACCESS rows for documents whose fetch
    failed (traversal captures the exception per URL — the reference
    files the same rows from its url_reader exceptions,
    check_stac_metadata/utils.py:273-295). No rows for clean fetches:
    the reference records these kinds on failure only."""
    return docs.filter(F.col("fetch_kind").isNotNull()).select(
        "url",
        F.col("fetch_kind").alias("check"),
        F.lit(RESULT_FAILED).alias("result"),
        F.create_map(F.lit("message"), F.col("fetch_error")).alias("details"),
    )


def validate_documents(docs: DataFrame) -> DataFrame:
    """Run JSON_PARSE + V2 + V3 + V4 over traversed documents → one
    validation row per (check, url). Input needs columns (url, raw,
    doc); rows whose fetch failed (``fetch_kind`` set, when present)
    are excluded here — ``fetch_failure_rows`` owns them, and the
    reference never reaches parse/schema checks for an unfetchable
    document. A document that fails JSON_PARSE gets that one row and
    no schema/duplicate/security rows, mirroring the reference's
    raise-after-record (utils.py:260-270)."""
    if "fetch_kind" in docs.columns:
        docs = docs.filter(F.col("fetch_kind").isNull())
    checked = docs.select(
        "url",
        json_parse_error("raw").alias("parse_error"),
        json_schema_errors("raw").alias("schema_errors"),
        duplicate_json_keys("raw").alias("dupe_keys"),
        F.col("doc.`linz:security_classification`").alias("classification"),
    ).localCheckpoint(eager=False)
    parse_res = checked.filter(F.col("parse_error").isNotNull()).select(
        "url",
        F.lit(CHECK_JSON_PARSE).alias("check"),
        F.lit(RESULT_FAILED).alias("result"),
        F.create_map(F.lit("message"), F.col("parse_error")).alias("details"),
    )
    checked = checked.filter(F.col("parse_error").isNull())
    schema_res = checked.select(
        "url",
        F.lit(CHECK_JSON_SCHEMA).alias("check"),
        F.when(F.size("schema_errors") == 0, RESULT_PASSED)
        .otherwise(RESULT_FAILED)
        .alias("result"),
        F.when(
            F.size("schema_errors") > 0,
            F.create_map(F.lit("message"), F.concat_ws("; ", "schema_errors")),
        ).alias("details"),
    )
    dupe_res = checked.select(
        "url",
        F.lit(CHECK_DUPLICATE_KEYS).alias("check"),
        F.when(F.size("dupe_keys") == 0, RESULT_PASSED).otherwise(RESULT_FAILED).alias("result"),
        F.when(
            F.size("dupe_keys") > 0,
            F.create_map(
                F.lit("message"),
                F.concat(F.lit("Duplicate keys: "), F.concat_ws(", ", "dupe_keys")),
            ),
        ).alias("details"),
    )
    sec_res = checked.select(
        "url",
        F.lit(CHECK_SECURITY).alias("check"),
        F.when(
            F.coalesce("classification", F.lit(UNCLASSIFIED)) == UNCLASSIFIED, RESULT_PASSED
        )
        .otherwise(RESULT_FAILED)
        .alias("result"),
        F.when(
            F.coalesce("classification", F.lit(UNCLASSIFIED)) != UNCLASSIFIED,
            F.create_map(
                F.lit("message"),
                F.concat(F.lit("Expected unclassified, got "), "classification"),
            ),
        ).alias("details"),
    )
    return (
        parse_res.unionByName(schema_res)
        .unionByName(dupe_res)
        .unionByName(sec_res)
    )


def root_type_gate(docs: DataFrame, root_url: str) -> DataFrame:
    """V10: the root document must be a Catalog or Collection."""
    return docs.filter(F.col("url") == root_url).select(
        "url",
        F.lit(CHECK_ROOT_TYPE).alias("check"),
        F.when(F.col("doc.type").isin(*ROOT_TYPES), RESULT_PASSED)
        .otherwise(RESULT_FAILED)
        .alias("result"),
        F.when(
            ~F.col("doc.type").isin(*ROOT_TYPES),
            F.create_map(
                F.lit("message"),
                F.concat(F.lit("Root type must be Catalog or Collection, got "), "doc.type"),
            ),
        ).alias("details"),
    )


def collect_assets(docs: DataFrame) -> DataFrame:
    """V5 + W1: explode per-document assets, enumerate in discovery order.
    Asset hrefs resolve against the parent document's directory, same as
    link hrefs (reference utils.py:59-67,229-249).
    Returns (asset_type, item_index, url, filename, multihash)."""
    from geostore_spark.pipeline.traversal import _resolve_href

    data_assets = (
        docs.select(
            "url",
            "discovery_ord",
            F.explode_outer(F.col("doc.assets")).alias("asset_name", "asset"),
        )
        .filter(F.col("asset.href").isNotNull())
        .select(
            F.lit("DATA_ITEM_INDEX").alias("asset_type"),
            F.col("url").alias("parent_url"),
            "discovery_ord",
            "asset_name",
            _resolve_href(F.col("url"), F.col("asset.href")).alias("href"),
            F.col("asset.`file:checksum`").alias("multihash"),
        )
    )
    w = Window.partitionBy("asset_type").orderBy("discovery_ord", "asset_name")
    data_rows = data_assets.select(
        "asset_type",
        (F.row_number().over(w) - 1).cast("long").alias("item_index"),
        "href",
        "multihash",
        "parent_url",
    )
    meta_w = Window.partitionBy(F.lit("METADATA_ITEM_INDEX")).orderBy("discovery_ord")
    meta_rows = docs.select(
        F.lit("METADATA_ITEM_INDEX").alias("asset_type"),
        (F.row_number().over(meta_w) - 1).cast("long").alias("item_index"),
        F.col("url").alias("href"),
        F.lit(None).cast("string").alias("multihash"),
        F.col("url").alias("parent_url"),
    )
    return data_rows.unionByName(meta_rows)


def no_assets_gate(asset_rows: DataFrame, root_url: str) -> DataFrame:
    """V9: a dataset version with zero DATA assets fails validation."""
    n = asset_rows.filter(F.col("asset_type") == "DATA_ITEM_INDEX").limit(1).count()
    spark = asset_rows.sparkSession
    result = RESULT_PASSED if n > 0 else RESULT_FAILED
    details = None if n > 0 else {"message": NO_ASSETS_MESSAGE}
    return spark.createDataFrame(
        [(root_url, CHECK_NO_ASSETS, result, details)],
        "url string, check string, result string, details map<string,string>",
    )

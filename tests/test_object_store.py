"""Object-store openers and the asset-copy retry protocol.

The cluster-real half of the io seam: a boto3-style s3 opener shape,
the reference's staging→storage fallback (s3_utils.py:30-57), and the
ingest copy protocol's retry classification of opener errors
(import_dataset_file.py:46-99).
"""

from __future__ import annotations

import io as _io
import json
import os
from posixpath import basename

import pytest

from geostore_spark.pipeline import io as gio
from geostore_spark.pipeline.object_store import (
    FallbackOpener,
    S3Opener,
    TemporaryObjectStoreError,
)


class FlakyReadOpener:
    """Local-file opener whose READ behavior is keyed by file name:
    ``timeout*`` always raises the retryable error, ``flaky*`` raises it
    on the first read only, ``missing*`` is permanently absent. Writes
    pass through. Picklable; the per-url counter lives inside the task's
    unpickled copy, which is exactly where the retry loop runs."""

    def __init__(self, root: str):
        self.root = root
        self.counts: dict[str, int] = {}

    def __call__(self, url: str, mode: str = "rb"):
        name = basename(url)
        path = os.path.join(self.root, name)
        if mode == "rb":
            if name.startswith("missing"):
                raise FileNotFoundError(url)
            if name.startswith("timeout"):
                raise TemporaryObjectStoreError(url)
            if name.startswith("flaky"):
                n = self.counts.get(url, 0)
                self.counts[url] = n + 1
                if n == 0:
                    raise TemporaryObjectStoreError(url)
        return open(path, mode)


def test_fallback_opener_staging_then_storage(tmp_path):
    staging = tmp_path / "staging"
    storage = tmp_path / "storage" / "my-dataset"
    os.makedirs(staging)
    os.makedirs(storage)
    (staging / "here.json").write_text("staging-copy")
    (storage / "only-durable.json").write_text("storage-copy")

    opener = FallbackOpener(
        gio.local_open, str(tmp_path / "storage"), "my-dataset"
    )
    # staging hit: served from staging, storage never consulted
    with opener(str(staging / "here.json"), "r") as f:
        assert f.read() == "staging-copy"
    # staging miss -> the storage key is {dataset_title}/{basename}
    # (s3_utils.py:43 parity)
    with opener(str(staging / "only-durable.json"), "r") as f:
        assert f.read() == "storage-copy"
    # both missing: the STORAGE lookup's error propagates
    with pytest.raises(FileNotFoundError):
        opener(str(staging / "nowhere.json"), "r")


def test_traversal_through_fallback_scheme(spark):
    """Pipeline e2e through a registered non-file scheme WITH fallback:
    the catalog lives in staging, the item only in durable storage —
    traversal reads both through one FallbackOpener registration."""
    from geostore_spark.pipeline.traversal import traverse

    docs = {
        "fb://staging/catalog.json": json.dumps(
            {
                "type": "Catalog", "id": "c", "stac_version": "1.0.0",
                "description": "d",
                "links": [{"rel": "child", "href": "fb://staging/item.json"}],
            }
        ),
        # item.json is ABSENT from staging; present at the derived
        # storage location {storage_base}/{dataset_title}/{basename}
        "fb://durable/ds-title/item.json": json.dumps(
            {
                "type": "Feature", "id": "i", "stac_version": "1.0.0",
                "assets": {}, "links": [],
            }
        ),
    }

    def dict_opener(url, mode="r"):
        if url not in docs:
            raise FileNotFoundError(url)
        return _io.StringIO(docs[url])

    gio.register_scheme(
        "fb", FallbackOpener(dict_opener, "fb://durable", "ds-title")
    )
    try:
        out = traverse(spark, "fb://staging/catalog.json")
        urls = {r["url"] for r in out.collect()}
        # the traversal saw the staging URL; the fallback served it
        assert urls == {
            "fb://staging/catalog.json",
            "fb://staging/item.json",
        }
    finally:
        gio._OPENERS.pop("fb", None)


def test_s3_opener_is_picklable_and_read_only():
    import pickle

    op = S3Opener(region_name="ap-southeast-2")
    clone = pickle.loads(pickle.dumps(op))
    assert clone.region_name == "ap-southeast-2"
    assert clone._client is None  # the live client never pickles
    with pytest.raises(ValueError, match="reads only"):
        clone("s3://b/k", "wb")


def _stubbed_opener():
    import boto3
    from botocore.stub import Stubber

    op = S3Opener(region_name="us-east-1")
    op._client = boto3.client(
        "s3",
        region_name="us-east-1",
        aws_access_key_id="x",
        aws_secret_access_key="x",
    )
    return op, Stubber(op._client)


def test_s3_opener_maps_nosuchkey_to_file_not_found():
    op, stub = _stubbed_opener()
    stub.add_client_error(
        "get_object", service_error_code="NoSuchKey", http_status_code=404
    )
    with stub:
        with pytest.raises(FileNotFoundError):
            op("s3://bucket/missing.json")


def test_s3_opener_maps_request_timeout_to_retryable():
    op, stub = _stubbed_opener()
    stub.add_client_error(
        "get_object", service_error_code="RequestTimeout", http_status_code=400
    )
    with stub:
        with pytest.raises(TemporaryObjectStoreError):
            op("s3://bucket/slow.json")


def test_s3_opener_returns_readable_body():
    import io as _bio

    op, stub = _stubbed_opener()
    stub.add_response(
        "get_object",
        {"Body": _bio.BytesIO(b"payload")},
        {"Bucket": "bucket", "Key": "a/b.json"},
    )
    with stub:
        assert op("s3://bucket/a/b.json").read() == b"payload"


def test_ingest_copy_protocol_retries_opener_transients(tmp_path):
    """The ingest pipeline's one-row-per-object copy protocol shares the
    retryable classification: a registered opener raising
    TemporaryObjectStoreError (the S3Opener RequestTimeout signal) is
    retried there exactly like its own injected timeouts, a missing
    source is a permanent failure on first sight, and only successful
    copies land at their destination."""
    from geostore_spark.pipeline.ingest import (
        MAX_IMPORT_ATTEMPTS,
        RESULT_CODE_PERMANENT_FAILURE,
        RESULT_CODE_SUCCEEDED,
        RESULT_CODE_TEMPORARY_FAILURE,
        _copy_with_retry,
    )

    root = str(tmp_path / "src2")
    os.makedirs(root)
    for name in ("flaky.bin", "ok.bin"):
        with open(os.path.join(root, name), "wb") as f:
            f.write(b"z" * 10)
    openers = {"": gio.local_open, "file": gio.local_open,
               "flaky": FlakyReadOpener(root)}
    code, attempts, _ = _copy_with_retry(
        "flaky://x/flaky.bin", str(tmp_path / "o1"), None, openers
    )
    assert (code, attempts) == (RESULT_CODE_SUCCEEDED, 2)
    code, attempts, msg = _copy_with_retry(
        "flaky://x/timeout.bin", str(tmp_path / "o2"), None, openers
    )
    assert code == RESULT_CODE_TEMPORARY_FAILURE and attempts == 3
    assert attempts == MAX_IMPORT_ATTEMPTS
    code, attempts, msg = _copy_with_retry(
        "flaky://x/missing.bin", str(tmp_path / "o3"), None, openers
    )
    assert (code, attempts) == (RESULT_CODE_PERMANENT_FAILURE, 1)
    assert "missing.bin" in msg
    code, attempts, _ = _copy_with_retry(
        "flaky://x/ok.bin", str(tmp_path / "o4"), None, openers
    )
    assert (code, attempts) == (RESULT_CODE_SUCCEEDED, 1)
    # copies landed for the successes only
    assert (tmp_path / "o1").read_bytes() == b"z" * 10
    assert (tmp_path / "o4").read_bytes() == b"z" * 10
    assert not (tmp_path / "o2").exists()
    assert not (tmp_path / "o3").exists()

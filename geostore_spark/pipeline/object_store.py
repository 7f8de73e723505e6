"""Object-store openers for the io seam.

``S3Opener`` is the boto3-style opener for ``s3://`` — picklable
(captures config strings only; the client builds lazily per worker, the
standard boto3-under-Spark pattern), import-gated for environments
without boto3. ``FallbackOpener`` wraps ANY inner opener with the
reference's staging→storage fallback: a URL missing at its staging
location is re-read from the durable storage location derived exactly
as the reference's ``geostore/s3_utils.py:30-57`` derives it
(``{dataset_title}/{basename(url)}`` under the storage base). Register
either through :mod:`geostore_spark.pipeline.io` and every pipeline
read (traversal, checksums, ingest copies) follows. The asset-copy
retry protocol that classifies their errors is
``pipeline.ingest._copy_with_retry``.
"""

from __future__ import annotations

from posixpath import basename
from urllib.parse import urlparse


class TemporaryObjectStoreError(Exception):
    """Raise from an opener for conditions worth retrying (the analog
    of AWS_CODE_REQUEST_TIMEOUT in import_dataset_file.py:72-75);
    TimeoutError and ConnectionError are treated the same way."""


# the errors pipeline.ingest's copy protocol retries, so a registered
# cloud opener's transient failures retry there
RETRYABLE_ERRORS = (TemporaryObjectStoreError, TimeoutError, ConnectionError)


class S3Opener:
    """boto3-backed ``s3://`` opener for :func:`io.register_scheme`.

    Picklable by construction: holds only config strings; the client is
    built on first use in each worker process and cached there. Maps
    NoSuchKey to ``FileNotFoundError`` (the io-seam contract, so the
    validation taxonomy and the fallback wrapper behave uniformly) and
    request timeouts to :class:`TemporaryObjectStoreError` (the retry
    protocol's signal). Import-gated: without boto3 the first call
    raises a clear RuntimeError instead of an opaque ImportError.
    """

    def __init__(self, region_name: str | None = None):
        self.region_name = region_name
        self._client = None  # built lazily per worker; never pickled

    def __getstate__(self):
        return {"region_name": self.region_name}

    def __setstate__(self, state):
        self.region_name = state["region_name"]
        self._client = None

    def client(self):
        if self._client is None:
            try:
                import boto3  # noqa: PLC0415
            except ImportError as e:  # pragma: no cover
                raise RuntimeError(
                    "S3Opener needs boto3; install it on the cluster image"
                ) from e
            self._client = boto3.client("s3", region_name=self.region_name)
        return self._client

    def __call__(self, url: str, mode: str = "rb"):
        if mode != "rb":
            raise ValueError("S3Opener reads only; imports write via copier")
        parsed = urlparse(url)
        try:
            obj = self.client().get_object(
                Bucket=parsed.netloc, Key=parsed.path.lstrip("/")
            )
        except Exception as e:
            code = getattr(e, "response", {}).get("Error", {}).get("Code", "")
            if code == "NoSuchKey":
                raise FileNotFoundError(url) from e
            if code == "RequestTimeout":
                raise TemporaryObjectStoreError(url) from e
            raise
        return obj["Body"]


class FallbackOpener:
    """Staging→storage fallback over any inner opener.

    Mirrors ``s3_utils.get_s3_url_reader``
    (/root/reference/geostore/s3_utils.py:30-57): read the staging URL;
    if the object is absent (``FileNotFoundError`` — the seam's NoSuchKey
    analog), read ``{storage_base}/{dataset_title}/{basename(url)}``
    instead. Any other error propagates, as in the reference. Picklable
    as long as the inner opener is.
    """

    def __init__(self, inner, storage_base: str, dataset_title: str):
        self.inner = inner
        self.storage_base = storage_base.rstrip("/")
        self.dataset_title = dataset_title

    def storage_url(self, staging_url: str) -> str:
        name = basename(urlparse(staging_url).path)
        return f"{self.storage_base}/{self.dataset_title}/{name}"

    def __call__(self, url: str, mode: str = "rb"):
        try:
            return self.inner(url, mode)
        except FileNotFoundError:
            return self.inner(self.storage_url(url), mode)

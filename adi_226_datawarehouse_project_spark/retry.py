"""Airflow-style retry loop, shared by the ingest layer and the DAG
runner (previously two verbatim copies of the same attempt-count /
``retry_delay_s * backoff**(attempt-1)`` policy — a semantics change
applied to one copy would silently drift the other).

Reference parity: the LOOP SHAPE (a bounded number of re-attempts,
each preceded by a fixed `retry_delay`) mirrors Airflow task-retry
semantics, which the reference configures via default_args
(`nyc_ingestion_dag.py:135-136`: retries=1, retry_delay=5 minutes;
the 311 ETL DAG sets retries=0 at
`nyc_hybrid_etl_pipeline.py:238`). The repo's own defaults at the
call sites (retries=2, 60s) are this engine's calibration, not a
mirror of those values; backoff=1.0 reproduces Airflow's fixed delay.
"""

from __future__ import annotations

from typing import Any, Callable


def call_with_retries(
    fn: Callable[[], Any],
    retries: int,
    retry_delay_s: float,
    backoff: float,
    sleep: Callable[[float], None],
) -> tuple[Any, int]:
    """Run ``fn`` with up to ``retries`` re-attempts AFTER the first
    try, sleeping ``retry_delay_s * backoff**(attempt-1)`` before each
    re-attempt. Returns ``(value, attempts_used)``; raises the LAST
    error once exhausted. ``sleep`` is injectable for tests."""
    last: Exception | None = None
    for attempt in range(retries + 1):
        if attempt:
            sleep(retry_delay_s * backoff ** (attempt - 1))
        try:
            return fn(), attempt + 1
        except Exception as e:  # noqa: BLE001 - re-raised when exhausted
            last = e
    raise last  # type: ignore[misc]

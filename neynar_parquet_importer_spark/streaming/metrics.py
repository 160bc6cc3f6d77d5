"""Import metrics & cost metering (reference A2/W8/C7).

The reference increments Datadog counters per batch
(num_parquet_rows_imported/filtered, parquet_bytes_imported;
db.py:918-936, 859-863), emits freshness gauges (file_age/row_age,
db.py:895-917) and meters "compute unit" cost with a
filtered_row_multiplier applied to all scanned rows when filters are
active (db.py:442-479, 844-856; settings.py:47).

Spark-side, per-batch kept-row counts come from ``DataFrame.observe`` — a
zero-cost aggregate piggybacked on the job, no extra scan — scanned-row
counts from the Parquet footers, and the same cost arithmetic runs on
those values.
"""

from __future__ import annotations

import time
from dataclasses import dataclass


@dataclass
class BatchMetrics:
    rows_scanned: int
    rows_imported: int
    rows_filtered: int
    file_age_s: float | None = None
    row_age_s: float | None = None


def collect_metrics(
    scanned: int,
    kept: int,
    window_end_ts: float | None = None,
    max_updated_at_ts: float | None = None,
    now: float | None = None,
) -> BatchMetrics:
    now = time.time() if now is None else now
    return BatchMetrics(
        rows_scanned=scanned,
        rows_imported=kept,
        rows_filtered=scanned - kept,
        # W8 freshness: file age from the window end, row age from the
        # newest row's updated_at (db.py:895-917)
        file_age_s=None if window_end_ts is None else now - window_end_ts,
        row_age_s=None if max_updated_at_ts is None else now - max_updated_at_ts,
    )


def compute_unit_cost(
    metrics: BatchMetrics,
    cost_per_row: float,
    filters_active: bool,
    filtered_row_multiplier: float = 1.1,
) -> float:
    """C7 cost arithmetic (db.py:844-856): with filters active, bill all
    *scanned* rows at multiplier x unit price (and imported rows are then
    free); without filters, bill imported rows at unit price."""
    if filters_active:
        return metrics.rows_scanned * filtered_row_multiplier * cost_per_row
    return metrics.rows_imported * cost_per_row


class MetricsEmitter:
    """statsd-shaped emission seam, duck-typed to a Datadog/statsd client:
    ``increment(metric, value, tags)`` / ``gauge(metric, value, tags)``.
    The reference emits through ``datadog.statsd`` (db.py:918-936,
    859-863, 895-917); this engine computes the same series via
    ``observe``/``collect_metrics`` and pushes them through whatever
    emitter is injected. This base class is the no-op default so metric
    computation never depends on a live agent."""

    def increment(
        self, metric: str, value: float = 1, tags: list[str] | None = None
    ) -> None:
        pass

    def gauge(
        self, metric: str, value: float, tags: list[str] | None = None
    ) -> None:
        pass


class RecordingEmitter(MetricsEmitter):
    """Capture emitter for tests/inspection: every call appends
    (kind, metric, value, tags)."""

    def __init__(self) -> None:
        self.series: list[tuple[str, str, float, tuple[str, ...]]] = []

    def increment(
        self, metric: str, value: float = 1, tags: list[str] | None = None
    ) -> None:
        self.series.append(("increment", metric, float(value), tuple(tags or ())))

    def gauge(
        self, metric: str, value: float, tags: list[str] | None = None
    ) -> None:
        self.series.append(("gauge", metric, float(value), tuple(tags or ())))


def emit_batch_metrics(
    emitter: MetricsEmitter,
    metrics: BatchMetrics,
    table: str,
    cu_cost: float | None = None,
    cu_metric: str | None = None,
    extra_tags: list[str] | None = None,
) -> None:
    """Emit one batch's series under the reference's metric names:
    counters ``num_parquet_rows_imported`` / ``num_parquet_rows_filtered``
    (db.py:859-863, 921-926) and the configurable CU-cost counter
    (db.py:850-855, 930-936); gauges ``parquet_file_age_s`` /
    ``parquet_row_age_s`` (db.py:918-919). Tagged per table like the
    reference's dd_tags."""
    tags = [f"table:{table}"] + list(extra_tags or [])
    if metrics.rows_filtered:
        emitter.increment("num_parquet_rows_filtered", metrics.rows_filtered, tags)
    emitter.increment("num_parquet_rows_imported", metrics.rows_imported, tags)
    if metrics.file_age_s is not None:
        emitter.gauge("parquet_file_age_s", metrics.file_age_s, tags)
    if metrics.row_age_s is not None:
        emitter.gauge("parquet_row_age_s", metrics.row_age_s, tags)
    if cu_metric is not None and cu_cost is not None:
        emitter.increment(cu_metric, cu_cost, tags)


class PricingCache:
    """C7's pricing lookup with an 8 h TTL (reference neynar_api.py:38-49:
    a TTLCache-wrapped portal-pricing fetch). The fetch function is
    injected — there is no live pricing API in this engine — and its
    result is cached per product until the TTL lapses, so a long-running
    daemon re-prices at most every 8 hours."""

    def __init__(self, fetch_fn, ttl_s: float = 8 * 3600, now_fn=time.time):
        self._fetch = fetch_fn
        self._ttl = ttl_s
        self._now = now_fn
        self._cache: dict[str, tuple[float, dict[str, float]]] = {}

    def get_pricing(self, product: str) -> dict[str, float]:
        now = self._now()
        hit = self._cache.get(product)
        if hit is not None and now - hit[0] < self._ttl:
            return hit[1]
        value = self._fetch(product)
        self._cache[product] = (now, value)
        return value

    def cost_per_row(self, product: str, key: str = "rows_written") -> float:
        return float(self.get_pricing(product)[key])

"""The benchmark's workloads: which registry entries one timed pass calls.

Each workload is a closed loop with one client: its entries are called
one after another, in an order the run's seed permutes every pass.
Passes are kept to a few seconds on 4 cores, so one run times several.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    entries: tuple[str, ...]
    # wrapped layers (``tracing.WRAPPED``) a traced run must see called
    exercises: frozenset[str]


WORKLOADS = {
    "batch_analytics": Workload(
        entries=(
            "customer_metrics",
            "daily_business_metrics",
            "orders_status_rollup",
            "event_funnel_conversion",
            "events_hourly",
            "cdc_op_summary",
            "rule_violations",
        ),
        exercises=frozenset({"sources.load_table", "sources.changelog"}),
    ),
    "stream_ingest": Workload(
        entries=(
            "streaming_dedup_events",
            "streaming_snapshot_ingest",
        ),
        exercises=frozenset(
            {
                "sources.event_drops",
                "stores.snapshot_commit",
                "stores.lease_acquire",
            }
        ),
    ),
}

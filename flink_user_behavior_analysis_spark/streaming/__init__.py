from .jobs import (
    STREAMING_QUERIES,
    Twin,
    funnel_step_events_stream,
    hot_items_counts_stream,
    run_available_now,
    run_topn_to_parquet,
    run_with_late_channel_to_parquet,
    stream_events,
    tx_interval_join_stream,
    unique_visitors_stream,
)
from .stateful import (
    cap_filter_stateful,
    consecutive_fail_stateful,
    order_timeout_stateful,
    asof_stateful,
    reconcile_stateful,
)

__all__ = [
    "STREAMING_QUERIES",
    "Twin",
    "funnel_step_events_stream",
    "cap_filter_stateful",
    "consecutive_fail_stateful",
    "asof_stateful",
    "reconcile_stateful",
    "hot_items_counts_stream",
    "order_timeout_stateful",
    "run_available_now",
    "run_topn_to_parquet",
    "run_with_late_channel_to_parquet",
    "stream_events",
    "tx_interval_join_stream",
    "unique_visitors_stream",
]

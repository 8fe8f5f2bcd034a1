"""Structured Streaming layer: file-replay sources, windowed aggregations
with watermarks, stateful dedup, and backlog draining.
"""

from .drain import (
    capture_tail_offsets,
    drain_backlog,
    latest_committed_offsets,
)
from .windows import (
    dedup_stream,
    dedup_stream_within_watermark,
    enrich_stream,
    interval_join_streams,
    read_event_stream,
    run_available_now,
    session_values,
    sliding_counts,
    tumbling_counts,
)

__all__ = [
    "read_event_stream",
    "enrich_stream",
    "interval_join_streams",
    "tumbling_counts",
    "sliding_counts",
    "session_values",
    "dedup_stream",
    "dedup_stream_within_watermark",
    "run_available_now",
    "drain_backlog",
    "capture_tail_offsets",
    "latest_committed_offsets",
]

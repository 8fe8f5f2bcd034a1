"""Pure-Python KPL aggregated-record codec (wire-compatible with the
amazon-kinesis-producer aggregation format consumed by KCL deaggregators).

Capability parity with the reference's aggregation core
(/root/reference/src/main/java/com/amazonaws/kinesis/agg/AggRecord.java and
RecordAggregator.java), re-implemented from the public KPL ``messages.proto``
wire format — no code is translated from the reference.
"""

from .aggregator import AggRecordBuilder, RecordAggregator
from .protocol import (
    DIGEST_SIZE,
    MAGIC,
    MAX_BYTES_PER_RECORD,
    UINT128_MAX,
    derive_explicit_hash_key,
    varint_size,
)

#: Consumer-side names, resolved from :mod:`.deaggregator` on first use so
#: that a producer importing the package never loads the consumer codec.
_DEAGGREGATOR_NAMES = frozenset(
    {"DeaggregationError", "UserRecord", "deaggregate", "is_aggregated"}
)


def __getattr__(name: str):
    if name in _DEAGGREGATOR_NAMES:
        from . import deaggregator

        return getattr(deaggregator, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

__all__ = [
    "AggRecordBuilder",
    "RecordAggregator",
    "deaggregate",
    "is_aggregated",
    "DeaggregationError",
    "UserRecord",
    "MAGIC",
    "MAX_BYTES_PER_RECORD",
    "DIGEST_SIZE",
    "UINT128_MAX",
    "derive_explicit_hash_key",
    "varint_size",
]

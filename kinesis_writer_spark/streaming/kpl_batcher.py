"""Stateful streaming KPL batcher: the reference's size-bounded batching
(AggRecord.java:151-184, RecordAggregator.java:72-95) under a soft cap, run
as a per-key ``applyInPandasWithState`` operator whose unflushed tail
survives across micro-batches.

State is the *raw payload list* — exactly the replay-from-raw representation
the reference keeps in ``MyAggregator`` (MyAggregator.scala:10-15): every
micro-batch replays the stored tail through :func:`..kpl.aggregator.pack_records`
(re-running the exact varint size arithmetic, so a restart can never
produce different bytes than a straight-through run), folds the new rows in,
emits one output row per *completed* aggregated record with its actual KPL
wire bytes, and stores the new tail back.

A record flushes as soon as it reaches the soft cap, unlike the writer's
rule (``sink.batch_records``), which decides on the next record: here the
next record may arrive in a later micro-batch, and the state bound needs
every stored tail to stay under the soft cap.

Scale notes: state is hash-partitioned by key across executors (state store
per shuffle partition), so total state = active-keys × soft_max regardless
of stream length, on the default HDFS-backed store or on RocksDB (a session
setting, ``spark.sql.streaming.stateStore.providerClass``). Output mode is
append — completed batches are immutable facts.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..kpl.aggregator import pack_records
from ..sink import SOFT_MAX_SIZE

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: output: one row per completed KPL aggregated record
OUTPUT_SCHEMA = (
    "pk string, batch_seq bigint, n_records int, batch_bytes int, wire binary"
)

_STATE_SCHEMA = "next_seq bigint, tail array<binary>"


def fold_batches(
    pk: str, payloads: Iterator[bytes], soft_max: int
) -> tuple[list[tuple[int, bytes]], list[bytes]]:
    """Pack ``payloads`` under key ``pk``: returns (completed
    [(n_records, wire)], unflushed tail payloads)."""
    records = list(pack_records(((pk, data) for data in payloads), soft_max))
    tail: list[bytes] = []
    if records and records[-1].size_bytes < soft_max:
        tail = [data for _, _, data in records.pop().raw_records()]
    return [(rec.num_user_records, rec.to_bytes()) for rec in records], tail


def _make_output(pk: str, first_seq: int, completed: list[tuple[int, bytes]]):
    import pandas as pd

    return pd.DataFrame(
        {
            "pk": [pk] * len(completed),
            "batch_seq": [first_seq + i for i in range(len(completed))],
            "n_records": [n for n, _ in completed],
            "batch_bytes": [len(w) for _, w in completed],
            "wire": [w for _, w in completed],
        }
    )


def kpl_batch_stream(
    stream: DataFrame, soft_max_bytes: int = SOFT_MAX_SIZE
) -> DataFrame:
    """Batch a streaming ``(pk string, data binary)`` frame into KPL
    aggregated records per key (GroupState holds (next_seq, tail payload
    array))."""

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        (pk,) = key
        next_seq, tail = state.get if state.exists else (0, [])

        def payloads() -> Iterator[bytes]:
            for data in tail:
                yield bytes(data)
            for pdf in pdfs:
                for data in pdf["data"]:
                    yield bytes(data)

        completed, new_tail = fold_batches(str(pk), payloads(), soft_max_bytes)
        state.update((next_seq + len(completed), new_tail))
        if completed:
            yield _make_output(str(pk), next_seq, completed)

    return stream.groupBy("pk").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

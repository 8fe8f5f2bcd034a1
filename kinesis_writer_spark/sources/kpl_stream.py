"""KPL stream source: read KPL-aggregated wire records back into user-record
DataFrames — the consumer side of the sink's producer path.

The reference library is write-only (KinesisWriter.scala:115 takes an
iterator and ships aggregated records); a complete engine also needs the
read side, which is what every KCL-style consumer does with the same wire
format (awslabs/kinesis-aggregation deaggregation contract): validate magic
prefix + MD5 trailer, decode the protobuf body, resolve key-table indexes.

Spark shape: ``mapInPandas`` over a DataFrame of wire payloads — each Arrow
batch of aggregated records explodes into its user records without any
shuffle, so deaggregation parallelizes with the scan. At 100 TB the wire
payloads arrive partitioned by shard/file; deaggregation stays a narrow
transform.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

#: Output schema of the deaggregated user-record stream.
USER_RECORD_DDL = "partition_key string, explicit_hash_key string, data binary"


def deaggregate_records(df: DataFrame, wire_col: str = "wire", strict: bool = True) -> DataFrame:
    """Explode KPL aggregated records into their user records.

    Each input row's ``wire_col`` holds one framed aggregated record
    (magic + protobuf + MD5). With ``strict`` (default), malformed frames
    raise; with ``strict=False`` a non-aggregated payload — or one that
    carries the magic but fails deaggregation (corrupt digest/protobuf) —
    passes through as a single user record with null keys, the standard
    consumer fallback for streams mixing aggregated and plain records
    (a plain record can legitimately begin with the 4 magic bytes, so a
    failed parse means "treat as plain", not "drop"; at 100 TB one hostile
    record must not kill the consumer task either way).
    """
    import pandas as pd

    from ..kpl import deaggregator

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[str | None, str | None, bytes]] = []
            for wire in pdf[wire_col]:
                wire = bytes(wire)
                if not strict and not deaggregator.is_aggregated(wire):
                    out.append((None, None, wire))
                    continue
                try:
                    records = deaggregator.deaggregate(wire)
                except deaggregator.DeaggregationError:
                    if strict:
                        raise
                    out.append((None, None, wire))
                    continue
                for rec in records:
                    out.append((rec.partition_key, rec.explicit_hash_key, rec.data))
            yield pd.DataFrame(out, columns=["partition_key", "explicit_hash_key", "data"])

    return df.mapInPandas(run, USER_RECORD_DDL)


def aggregate_payloads(
    df: DataFrame, data_col: str = "data", partition_key: str = "a"
) -> DataFrame:
    """Pack binary payloads into KPL aggregated wire records, one output row
    per filled ~1 MiB record (plus each partition's tail). The producer-side
    twin of :func:`deaggregate_records`, used to build test captures and the
    oracle-checked roundtrip query. Payloads arrive as Arrow record batches
    (``mapInArrow``).
    """
    from ..kpl.aggregator import pack_records

    def run(batches):
        import pyarrow as pa

        records = (
            (partition_key, data)
            for batch in batches
            for data in batch.column(data_col).to_pylist()
        )
        for rec in pack_records(records):
            yield pa.record_batch([pa.array([rec.to_bytes()], pa.binary())], names=["wire"])

    return df.select(data_col).mapInArrow(run, "wire binary")

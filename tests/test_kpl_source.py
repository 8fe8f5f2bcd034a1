"""Spark-level tests of the KPL source (sources/kpl_stream): aggregate →
deaggregate roundtrip inside a distributed plan, the mixed-stream
fallback for non-aggregated payloads, and the one packing loop that
``aggregate_payloads`` and the ``kpl`` writer share.
"""

from __future__ import annotations

import pytest

from kinesis_writer_spark.kpl.aggregator import RecordAggregator, pack_records
from kinesis_writer_spark.sources.kpl_stream import aggregate_payloads, deaggregate_records

#: ~3.1 MB of payloads: three full aggregated records and a tail
PACKED = [bytes([i % 251]) * (20_000 + 100 * i) for i in range(120)]


@pytest.fixture(scope="module")
def payload_df(spark):
    rows = [(f"payload-{i:05d}".encode() * 50,) for i in range(200)]
    return spark.createDataFrame(rows, "data binary").repartition(4)


def test_roundtrip_preserves_payload_multiset(spark, payload_df):
    wires = aggregate_payloads(payload_df)
    back = deaggregate_records(wires)
    original = sorted(bytes(r.data) for r in payload_df.collect())
    decoded = sorted(bytes(r.data) for r in back.collect())
    assert decoded == original


def test_roundtrip_partition_keys_resolved(spark, payload_df):
    back = deaggregate_records(aggregate_payloads(payload_df, partition_key="pk7"))
    keys = {r.partition_key for r in back.collect()}
    assert keys == {"pk7"}


def test_multiple_wire_records_when_over_1mib(spark):
    big = [(b"x" * 200_000,) for i in range(12)]  # ~2.4 MB total
    wires = aggregate_payloads(spark.createDataFrame(big, "data binary").coalesce(1))
    n_wires = wires.count()
    assert n_wires >= 3
    assert deaggregate_records(wires).count() == 12


def test_strict_rejects_plain_payloads(spark):
    plain = spark.createDataFrame([(b"not aggregated",)], "wire binary")

    with pytest.raises(Exception, match="magic prefix"):
        deaggregate_records(plain).collect()


def test_lenient_passes_plain_payloads_through(spark):
    plain = spark.createDataFrame([(b"not aggregated",)], "wire binary")
    rows = deaggregate_records(plain, strict=False).collect()
    assert len(rows) == 1
    assert bytes(rows[0].data) == b"not aggregated"
    assert rows[0].partition_key is None


def test_lenient_passes_magic_prefixed_corrupt_frame_through(spark):
    """A plain record can legitimately START with the 4 KPL magic bytes; a
    failed deaggregation in lenient mode must yield the raw payload as one
    plain record (KCL fallback), not kill the consumer task."""
    from kinesis_writer_spark.kpl.protocol import MAGIC

    hostile = MAGIC + b"definitely not protobuf + md5"
    df = spark.createDataFrame([(hostile,)], "wire binary")
    with pytest.raises(Exception, match="[Dd]igest|truncated"):
        deaggregate_records(df).collect()  # strict still raises
    rows = deaggregate_records(df, strict=False).collect()
    assert len(rows) == 1
    assert bytes(rows[0].data) == hostile
    assert rows[0].partition_key is None


def test_pack_records_matches_rolling_aggregator():
    agg = RecordAggregator()
    expected: list[bytes] = []
    agg.on_record_complete(lambda rec: expected.append(rec.to_bytes()))
    for data in PACKED:
        agg.add_user_record("k", data)
    expected.append(agg.clear_and_get().to_bytes())
    got = [rec.to_bytes() for rec in pack_records(("k", data) for data in PACKED)]
    assert got == expected
    assert len(got) == 4
    assert list(pack_records([])) == []


def test_aggregate_payloads_emits_the_packed_frames(spark):
    df = spark.createDataFrame([(p,) for p in PACKED], "data binary").coalesce(1)
    wires = [bytes(r.wire) for r in aggregate_payloads(df, partition_key="k").collect()]
    assert wires == [rec.to_bytes() for rec in pack_records(("k", p) for p in PACKED)]


def test_kpl_writer_is_an_arrow_writer():
    from pyspark.sql.datasource import DataSourceArrowWriter

    from kinesis_writer_spark.sources.kpl_datasource import KplWriter

    assert issubclass(KplWriter, DataSourceArrowWriter)

"""Custom Python DataSource tests: round-trip payloads through the KPL
producer into .kpl container files, then scan them back with
``spark.read.format("kpl")`` — per-file partitions, validated framing.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kinesis_writer_spark import io as kio
from kinesis_writer_spark.sources.kpl_datasource import (
    count_wire_frames,
    read_wire_file,
    read_wire_slice,
    register,
    write_wire_dir,
    write_wire_file,
)
from kinesis_writer_spark.sources.kpl_stream import aggregate_payloads
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def wire_dir(tmp_path_factory):
    from kinesis_writer_spark.session import get_spark

    spark = get_spark("tests")
    events = kio.load(spark, SF_DIR, "events")
    payloads = events.select(
        F.encode(F.to_json(F.struct("event_id", "value")), "utf-8").alias("data")
    ).repartition(4)
    d = str(tmp_path_factory.mktemp("kpl_capture"))
    write_wire_dir(aggregate_payloads(payloads), d)
    return d


class TestContainerFormat:
    def test_framing_roundtrip(self, tmp_path):
        p = str(tmp_path / "x.kpl")
        frames = [b"abc", b"", b"\x00" * 1024]
        write_wire_file(p, frames)
        assert read_wire_file(p) == frames

    def test_torn_file_fails_loudly(self, tmp_path):
        p = str(tmp_path / "torn.kpl")
        write_wire_file(p, [b"abcdef"])
        with open(p, "r+b") as f:
            f.truncate(7)  # cut mid-frame
        with pytest.raises(ValueError, match="torn"):
            read_wire_file(p)
        with pytest.raises(ValueError, match="torn"):
            read_wire_slice(p, 0, 1)

    def test_count_matches_read(self, tmp_path):
        # seek-based count == materializing read, incl. empty frames
        p = str(tmp_path / "c.kpl")
        frames = [b"a" * 10, b"", b"b" * 100_000, b"c"]
        write_wire_file(p, frames)
        assert count_wire_frames(p) == len(read_wire_file(p)) == 4

    def test_slice_matches_read(self, tmp_path):
        # every [lo, hi) slice equals the materializing read's slice
        p = str(tmp_path / "s.kpl")
        frames = [b"a" * 10, b"", b"b" * 100_000, b"c", b"d" * 7]
        write_wire_file(p, frames)
        whole = read_wire_file(p)
        for lo in range(6):
            for hi in range(lo, 6):
                assert read_wire_slice(p, lo, hi) == whole[lo:hi], (lo, hi)

    def test_count_torn_file_fails_loudly(self, tmp_path):
        p = str(tmp_path / "torn2.kpl")
        write_wire_file(p, [b"abcdef"])
        with open(p, "r+b") as f:
            f.truncate(7)
        with pytest.raises(ValueError, match="torn"):
            count_wire_frames(p)


class TestKplDataSource:
    def test_scan_recovers_every_user_record(self, spark, wire_dir):
        register(spark)
        df = spark.read.format("kpl").load(wire_dir)
        total = kio.load(spark, SF_DIR, "events").count()
        assert df.count() == total
        row = df.first()
        assert row.partition_key == "a"  # reference always sends pk "a"
        # EHK is optional on the wire (AggRecord inherits it only when set)
        assert row.explicit_hash_key is None or int(row.explicit_hash_key) >= 0

    def test_one_partition_per_file(self, spark, wire_dir):
        register(spark)
        df = spark.read.format("kpl").load(wire_dir)
        n_files = len(glob.glob(os.path.join(wire_dir, "*.kpl")))
        assert n_files >= 2  # repartition(4) → multiple captures
        assert df.rdd.getNumPartitions() == n_files
        assert df.select("source_file").distinct().count() == n_files

    def test_payload_content_roundtrips(self, spark, wire_dir):
        register(spark)
        df = spark.read.format("kpl").load(wire_dir)
        back = df.select(F.decode("data", "utf-8").alias("j")).select(
            F.get_json_object("j", "$.event_id").cast("long").alias("event_id")
        )
        expected = kio.load(spark, SF_DIR, "events").select("event_id")
        assert back.distinct().count() == expected.distinct().count()
        assert back.join(expected, "event_id", "left_anti").count() == 0


class TestKplWriter:
    """df.write.format('kpl') — the producer half of the DataSource."""

    def test_write_read_roundtrip(self, spark, tmp_path):
        from kinesis_writer_spark.sources import kpl_datasource

        kpl_datasource.register(spark)
        payloads = [(f"payload-{i}".encode(),) for i in range(500)]
        df = spark.createDataFrame(payloads, "data binary").repartition(4)
        out = str(tmp_path / "wire_out")
        df.write.format("kpl").mode("append").save(out)

        back = spark.read.format("kpl").load(out)
        got = sorted(bytes(r["data"]) for r in back.collect())
        assert got == sorted(p for (p,) in payloads)
        # one container per non-empty input partition
        import glob as g
        assert 1 <= len(g.glob(out + "/*.kpl")) <= 4

    def test_write_with_partition_keys(self, spark, tmp_path):
        from kinesis_writer_spark.sources import kpl_datasource

        kpl_datasource.register(spark)
        rows = [(f"user-{i % 7}", f"data-{i}".encode()) for i in range(100)]
        df = spark.createDataFrame(rows, "partition_key string, data binary")
        out = str(tmp_path / "wire_keys")
        df.write.format("kpl").mode("append").save(out)
        back = spark.read.format("kpl").load(out)
        keys = {r["partition_key"] for r in back.collect()}
        assert keys == {f"user-{i}" for i in range(7)}

    def test_missing_data_column_rejected(self, spark, tmp_path):
        from kinesis_writer_spark.sources import kpl_datasource

        kpl_datasource.register(spark)
        df = spark.createDataFrame([("x",)], "wrong string")
        with pytest.raises(Exception, match="data"):
            df.write.format("kpl").mode("append").save(str(tmp_path / "nope"))

    def test_append_merges_manifest(self, spark, tmp_path):
        """A second mode('append') job must keep the first job's containers
        visible: the commit manifest merges, never overwrites (ADVICE r02)."""
        from kinesis_writer_spark.sources import kpl_datasource

        kpl_datasource.register(spark)
        out = str(tmp_path / "append_twice")
        spark.createDataFrame([(b"first-1",), (b"first-2",)], "data binary").coalesce(
            1
        ).write.format("kpl").mode("append").save(out)
        spark.createDataFrame([(b"second-1",)], "data binary").coalesce(1).write.format(
            "kpl"
        ).mode("append").save(out)
        got = {bytes(r["data"]) for r in spark.read.format("kpl").load(out).collect()}
        assert got == {b"first-1", b"first-2", b"second-1"}

    def test_overwrite_replaces_and_cleans(self, spark, tmp_path):
        """mode('overwrite') replaces the manifest and removes superseded
        containers from disk."""
        import glob as g

        from kinesis_writer_spark.sources import kpl_datasource

        kpl_datasource.register(spark)
        out = str(tmp_path / "overwrite")
        spark.createDataFrame([(b"old-1",), (b"old-2",)], "data binary").coalesce(
            1
        ).write.format("kpl").mode("append").save(out)
        spark.createDataFrame([(b"new-1",)], "data binary").coalesce(1).write.format(
            "kpl"
        ).mode("overwrite").save(out)
        got = {bytes(r["data"]) for r in spark.read.format("kpl").load(out).collect()}
        assert got == {b"new-1"}
        assert len(g.glob(out + "/*.kpl")) == 1  # old containers deleted

    def test_manifest_hides_orphan_files(self, spark, tmp_path):
        """A container left by a failed/retried task attempt is not read."""
        import json as _json
        import os

        from kinesis_writer_spark.sources import kpl_datasource
        from kinesis_writer_spark.kpl.aggregator import RecordAggregator

        kpl_datasource.register(spark)
        df = spark.createDataFrame([(b"good-1",), (b"good-2",)], "data binary").coalesce(1)
        out = str(tmp_path / "with_orphan")
        df.write.format("kpl").mode("append").save(out)
        # simulate a retried attempt's orphan: a valid container NOT in the manifest
        agg = RecordAggregator()
        agg.add_user_record("a", b"orphan-duplicate")
        rec = agg.clear_and_get()
        kpl_datasource.write_wire_file(os.path.join(out, "part-orphan.kpl"), [rec.to_bytes()])
        manifest = _json.load(open(os.path.join(out, kpl_datasource.MANIFEST)))
        assert "part-orphan.kpl" not in manifest["files"]
        got = {bytes(r["data"]) for r in spark.read.format("kpl").load(out).collect()}
        assert got == {b"good-1", b"good-2"}

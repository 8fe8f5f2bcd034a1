"""End-to-end offline test of the Kinesis readStream adapter: KPL-aggregated
records are produced into a capture (one directory per shard), replayed
through the boto3 ``get_records`` API shape by ``CaptureReplayClient``, read
via ``spark.readStream.format("kinesis")``, deaggregated, and windowed —
the reference's north star (Structured Streaming + Kinesis source) with no
network anywhere.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kinesis_writer_spark.kpl.aggregator import RecordAggregator
from kinesis_writer_spark.sources import kinesis_stream
from kinesis_writer_spark.sources.kpl_datasource import write_wire_file
from kinesis_writer_spark.sources.kpl_stream import deaggregate_records


def _make_capture(tmp_path, shards: dict[str, list[bytes]]) -> str:
    """Aggregate each shard's payloads into KPL wire frames on disk."""
    root = tmp_path / "capture"
    for shard_id, payloads in shards.items():
        agg = RecordAggregator()
        wires: list[bytes] = []
        agg.on_record_complete(lambda rec: wires.append(rec.to_bytes()))
        for p in payloads:
            agg.add_user_record("pk", p)
        tail = agg.clear_and_get()
        if tail is not None:
            wires.append(tail.to_bytes())
        shard_dir = root / shard_id
        os.makedirs(shard_dir)
        write_wire_file(str(shard_dir / "part-0.kpl"), wires)
    return str(root)


def _append_frames(capture_dir: str, shard_id: str, name: str, payloads) -> None:
    """Land one more capture file on a shard, one KPL frame per payload."""
    frames = []
    for p in payloads:
        agg = RecordAggregator()
        agg.add_user_record("pk", p)
        frames.append(agg.clear_and_get().to_bytes())
    write_wire_file(os.path.join(capture_dir, shard_id, name), frames)


def _payloads(shard: int, n: int) -> list[bytes]:
    return [
        json.dumps(
            {
                "user_id": shard * 1000 + i,
                "event_time": f"2024-01-01T00:{i % 60:02d}:00",
            }
        ).encode()
        for i in range(n)
    ]


@pytest.fixture()
def capture_dir(tmp_path):
    return _make_capture(
        tmp_path,
        {
            "shardId-000000000000": _payloads(0, 40),
            "shardId-000000000001": _payloads(1, 25),
        },
    )


def _read_stream(spark, capture_dir, **options):
    kinesis_stream.register(spark)
    return (
        spark.readStream.format("kinesis")
        .option("stream_name", "events")
        .option(
            "client_factory",
            "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
        )
        .option("client_kwargs", json.dumps({"capture_dir": capture_dir}))
        .options(**options)
        .load()
    )


class TestCaptureReplayClient:
    def test_boto3_surface_shapes(self, capture_dir):
        c = kinesis_stream.capture_client_factory(capture_dir)
        shards = c.list_shards(StreamName="events")["Shards"]
        assert [s["ShardId"] for s in shards] == [
            "shardId-000000000000",
            "shardId-000000000001",
        ]
        it = c.get_shard_iterator(
            StreamName="events",
            ShardId="shardId-000000000000",
            ShardIteratorType="TRIM_HORIZON",
        )["ShardIterator"]
        out = c.get_records(ShardIterator=it, Limit=100)
        assert out["Records"], "capture should hold aggregated frames"
        assert out["Records"][0]["SequenceNumber"] == "0"
        # paging: AT_SEQUENCE_NUMBER resumes exactly where the offset says
        it2 = c.get_shard_iterator(
            StreamName="events",
            ShardId="shardId-000000000000",
            ShardIteratorType="AT_SEQUENCE_NUMBER",
            StartingSequenceNumber="1",
        )["ShardIterator"]
        out2 = c.get_records(ShardIterator=it2, Limit=100)
        assert all(int(r["SequenceNumber"]) >= 1 for r in out2["Records"])

    def test_driver_surface_is_lazy(self, capture_dir):
        # each Spark task builds its own client, so construction and the
        # driver's planning calls (list_shards, LATEST probes) must never
        # parse capture payloads — at a multi-GB capture an eager client
        # charged every task a fixed cost proportional to TOTAL stream
        # size (measured 2.4x per-shard drain loss at 20M records)
        c = kinesis_stream.capture_client_factory(capture_dir)
        assert c._file_counts_cache == {}, "construction must not touch frames"
        c.list_shards(StreamName="events")
        assert c._file_counts_cache == {}, (
            "list_shards on a flat topology must not touch frames"
        )
        it = c.get_shard_iterator(
            StreamName="events",
            ShardId="shardId-000000000000",
            ShardIteratorType="LATEST",
        )["ShardIterator"]
        # LATEST probed seek-based counts for exactly that shard
        assert set(c._file_counts_cache) == {"shardId-000000000000"}
        # reads materialize only the requested slice and LATEST sits one
        # past the tail
        th = c.get_shard_iterator(
            StreamName="events",
            ShardId="shardId-000000000000",
            ShardIteratorType="TRIM_HORIZON",
        )["ShardIterator"]
        recs = c.get_records(ShardIterator=th, Limit=1)["Records"]
        assert len(recs) == 1
        import json as _j

        assert _j.loads(it)["idx"] == c._n_frames("shardId-000000000000")

    def test_unknown_shard_fails_loudly(self, capture_dir):
        # a checkpoint naming a shard whose capture dir vanished must
        # surface as an error (like ResourceNotFoundException), never as
        # an empty, already-drained shard
        c = kinesis_stream.capture_client_factory(capture_dir)
        with pytest.raises(KeyError):
            c.get_shard_iterator(
                StreamName="events",
                ShardId="shardId-000000000099",
                ShardIteratorType="LATEST",
            )
        with pytest.raises(KeyError):
            c.get_records(ShardIterator=c._tok("shardId-000000000099", 0))


class TestKinesisReadStream:
    def test_stream_deaggregate_roundtrip(self, spark, capture_dir, tmp_path):
        raw = _read_stream(spark, capture_dir)
        assert raw.isStreaming
        user_records = deaggregate_records(raw, wire_col="data", strict=False)
        q = (
            user_records.writeStream.format("memory")
            .queryName("kinesis_user_records")
            .option("checkpointLocation", str(tmp_path / "ckpt1"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM kinesis_user_records").collect()
        # every produced payload comes back exactly once
        assert len(got) == 40 + 25
        users = sorted(json.loads(bytes(r["data"]))["user_id"] for r in got)
        assert users == sorted(
            list(range(0, 40)) + list(range(1000, 1025))
        )

    def test_stream_window_aggregation(self, spark, capture_dir, tmp_path):
        raw = _read_stream(spark, capture_dir)
        events = deaggregate_records(raw, wire_col="data", strict=False).select(
            F.from_json(
                F.col("data").cast("string"),
                "user_id long, event_time timestamp",
            ).alias("e")
        ).select("e.user_id", "e.event_time")
        counts = (
            events.withWatermark("event_time", "10 minutes")
            .groupBy(F.window("event_time", "15 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        # complete mode: a single availableNow micro-batch emits every window
        # (append would hold all windows open until a later batch advances
        # the watermark past them)
        q = (
            counts.writeStream.format("memory")
            .queryName("kinesis_windows")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT w.start AS start, n_events FROM kinesis_windows ORDER BY start"
        ).collect()
        # event minutes are i%60 for i<40 (shard 0) and i<25 (shard 1):
        # [00:00,00:15) gets 15+15=30, [00:15,00:30) 15+10=25, [00:30,00:45) 10
        by_start = {r["start"].minute: r["n_events"] for r in rows}
        assert by_start.get(0) == 30
        assert by_start.get(15) == 25
        assert by_start.get(30) == 10

    def test_checkpoint_resume_no_duplicates(self, spark, capture_dir, tmp_path):
        ckpt = str(tmp_path / "ckpt3")
        out = str(tmp_path / "out")
        for _ in range(2):  # second run resumes from the checkpoint
            raw = _read_stream(spark, capture_dir)
            q = (
                deaggregate_records(raw, wire_col="data", strict=False)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        # exactly-once across restart: committed offsets are never re-read,
        # so the file sink holds each user record exactly once
        n = spark.read.parquet(out).count()
        assert n == 40 + 25, f"expected no duplicates after resume, got {n}"


class TestKinesisStreamSink:
    """writeStream.format('kinesis'): the reference's producer loop as a
    native Structured Streaming sink, round-tripped offline through the
    capture layout."""

    def test_writestream_roundtrip(self, spark, tmp_path):
        from kinesis_writer_spark.sources import kinesis_stream, kpl_datasource

        kinesis_stream.register(spark)
        sink_dir = str(tmp_path / "sink_capture")
        # a small file-backed stream of payload rows
        src_dir = tmp_path / "src"
        os.makedirs(src_dir)
        payloads = [f"msg-{i:03d}".encode() for i in range(300)]
        spark.createDataFrame([(p,) for p in payloads], "data binary").write.mode(
            "overwrite"
        ).parquet(str(src_dir / "p"))
        stream = spark.readStream.schema("data binary").parquet(str(src_dir / "p"))
        q = (
            stream.writeStream.format("kinesis")
            .option("stream_name", "out-stream")
            .option(
                "client_factory",
                "kinesis_writer_spark.sources.kinesis_stream:capture_sink_client_factory",
            )
            .option("client_kwargs", json.dumps({"capture_dir": sink_dir, "num_shards": 2}))
            .option("checkpointLocation", str(tmp_path / "ckpt_sink"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # the capture dir now holds KPL containers; the batch DataSource
        # deaggregates them back into the original user-record payloads
        kpl_datasource.register(spark)
        back = spark.read.format("kpl").load(sink_dir + "/*/*.kpl")
        got = sorted(bytes(r["data"]) for r in back.collect())
        assert got == sorted(payloads)


class TestPartitionedReader:
    """The stream reader: one input partition per shard slice, executor-side
    polling."""

    def test_partition_planning(self, capture_dir):
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        r = KinesisPartitionedStreamReader(
            {
                "stream_name": "events",
                "client_factory": "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
                "client_kwargs": json.dumps({"capture_dir": capture_dir}),
            }
        )
        start, end = r.initialOffset(), r.latestOffset()
        assert set(start) == set(end)
        assert all(e["seq"] is not None for e in end.values())
        parts = r.partitions(start, end)
        assert len(parts) == 2  # one per shard
        rows = list(r.read(parts[0])) + list(r.read(parts[1]))
        # frames (aggregated records) per shard, not user records; capture
        # sequence numbers are dense, so last seq + 1 == frame count
        assert len(rows) == sum(int(e["seq"]) + 1 for e in end.values())
        assert {t[0] for t in rows} == set(end)

    def test_rate_limited_batches(self, tmp_path):
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        # 3 single-frame containers per shard -> 3 sequence positions
        root = tmp_path / "multi"
        for sid in ("shardId-000000000000", "shardId-000000000001"):
            os.makedirs(root / sid)
            for i in range(3):
                agg = RecordAggregator()
                agg.add_user_record("pk", f"{sid}-{i}".encode())
                rec = agg.clear_and_get()
                write_wire_file(str(root / sid / f"part-{i}.kpl"), [rec.to_bytes()])
        r = KinesisPartitionedStreamReader(
            {
                "stream_name": "events",
                "client_factory": "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
                "client_kwargs": json.dumps({"capture_dir": str(root)}),
                "max_records_per_batch": "1",
            }
        )
        r.initialOffset()
        e1 = r.latestOffset()  # capture seqs are dense ints: batch 1 ends at "0"
        assert all(e["seq"] == "0" for e in e1.values())
        e2 = r.latestOffset()  # next batch advances by at most 1 more
        assert all(e["seq"] == "1" for e in e2.values())
        e3 = r.latestOffset()
        assert all(e["seq"] == "2" for e in e3.values())  # reaches the tip
        e4 = r.latestOffset()
        assert all(e["seq"] == "2" for e in e4.values())  # and never goes past

    def test_latest_start_pins_exact_tip(self, capture_dir):
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        opts = {
            "stream_name": "events",
            "client_factory": "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
            "client_kwargs": json.dumps({"capture_dir": capture_dir}),
        }
        tip = KinesisPartitionedStreamReader(opts).latestOffset()
        r = KinesisPartitionedStreamReader({**opts, "starting_position": "LATEST"})
        start = r.initialOffset()
        # an index-exposing client pins the exact tip: no marker, no probe
        assert start == tip
        end = r.latestOffset()
        assert end == start
        parts = r.partitions(start, end)  # the first batch plans no slice
        assert len(parts) == 1 and parts[0].shard_id is None
        # a record that lands after the start is the next batch's only row
        sid = "shardId-000000000000"
        _append_frames(capture_dir, sid, "part-1.kpl", [b"after-start"])
        r._client = None  # the capture client lists its files once
        nxt = r.latestOffset()
        rows = [t for p in r.partitions(end, nxt) for t in r.read(p)]
        assert [(t[0], t[1]) for t in rows] == [(sid, str(int(tip[sid]["seq"]) + 1))]

    def test_latest_stream_reads_only_new_records(self, spark, capture_dir, tmp_path):
        ckpt = str(tmp_path / "ckpt_latest")
        out = str(tmp_path / "out_latest")

        def run():
            raw = _read_stream(spark, capture_dir, starting_position="LATEST")
            q = (
                deaggregate_records(raw, wire_col="data", strict=False)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run()  # starts at the tip: the 65 captured payloads are not read
        new = [b"late-0", b"late-1", b"late-2"]
        _append_frames(capture_dir, "shardId-000000000001", "part-1.kpl", new)
        run()  # resumes from the pinned tip
        got = sorted(bytes(r["data"]) for r in spark.read.parquet(out).collect())
        assert got == new


class TestOpaqueSequenceNumbers:
    """Real boto3 shard iterators are opaque strings and sequence numbers
    admit no arithmetic. With ``opaque=True`` the capture client hides its
    indices, so the reader must go through AFTER_SEQUENCE_NUMBER resume and
    the driver-side sequence probe."""

    def _opts(self, capture_dir, **extra):
        kw = {"capture_dir": capture_dir, "opaque": True}
        kw.update(extra)
        return {
            "stream_name": "events",
            "client_factory": "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
            "client_kwargs": json.dumps(kw),
        }

    def test_probe_pins_exact_end(self, capture_dir):
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        r = KinesisPartitionedStreamReader(self._opts(capture_dir))
        start, end = r.initialOffset(), r.latestOffset()
        parts = r.partitions(start, end)
        assert len(parts) == 2
        rows = list(r.read(parts[0])) + list(r.read(parts[1]))
        # the probe pinned each shard's true tip; executors replayed to it
        by_shard: dict[str, list] = {}
        for t in rows:
            by_shard.setdefault(t[0], []).append(t[1])
        for sid, seqs in by_shard.items():
            assert seqs[-1] == end[sid]["seq"]
        # a second planning call from the same position adds nothing
        e2 = r.latestOffset()
        assert all(e2[s]["seq"] == end[s]["seq"] for s in e2)
        assert r.partitions(end, e2) and r.partitions(end, e2)[0].shard_id is None

    def test_opaque_checkpoint_resume_exactly_once(self, spark, capture_dir, tmp_path):
        ckpt = str(tmp_path / "ckpt_opq")
        out = str(tmp_path / "out_opq")
        for _ in range(2):  # second run resumes from the checkpoint
            raw = (
                spark.readStream.format("kinesis")
                .options(**self._opts(capture_dir))
                .load()
            )
            q = (
                deaggregate_records(raw, wire_col="data", strict=False)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        n = spark.read.parquet(out).count()
        assert n == 40 + 25, f"expected exactly-once across resume, got {n}"

    def test_simple_reader_opaque_roundtrip(self, spark, capture_dir, tmp_path):
        raw = (
            spark.readStream.format("kinesis")
            .options(**self._opts(capture_dir))
            .load()
        )
        q = (
            deaggregate_records(raw, wire_col="data", strict=False)
            .writeStream.format("memory")
            .queryName("kinesis_opaque_simple")
            .option("checkpointLocation", str(tmp_path / "ckpt_opq_s"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM kinesis_opaque_simple").collect()
        users = sorted(json.loads(bytes(r["data"]))["user_id"] for r in got)
        assert users == sorted(list(range(0, 40)) + list(range(1000, 1025)))

    def test_latest_start_is_graceful(self, capture_dir):
        # ADVICE r02: LATEST on an opaque client used to die in json.loads;
        # it must fall back to a LATEST position marker instead
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        marker = {"seq": None, "done": False, "pos": "LATEST"}
        opts = self._opts(capture_dir)
        opts["starting_position"] = "LATEST"
        r = KinesisPartitionedStreamReader(opts)
        start = r.initialOffset()
        assert all(v == marker for v in start.values())
        end = r.latestOffset()
        assert end == start  # nothing after the tip: the marker stays
        parts = r.partitions(start, end)
        assert len(parts) == 1 and parts[0].shard_id is None
        # records land while a probe's LATEST iterator is open: the probe
        # pins the last one, but no slice starts at the marker (its
        # executor would open a fresh LATEST iterator and read past the
        # pinned end), so they are skipped
        sid = "shardId-000000000000"
        before = r._c()  # lists its files once: LATEST stays at the old tip
        _append_frames(capture_dir, sid, "part-1.kpl", [b"skipped-0", b"skipped-1"])
        after = kinesis_stream.capture_client_factory(capture_dir, opaque=True)

        class LandsDuringProbe:
            list_shards = before.list_shards
            get_shard_iterator = before.get_shard_iterator
            get_records = after.get_records

        r._client = LandsDuringProbe()
        e1 = r.latestOffset()
        assert e1[sid]["seq"] is not None and "pos" not in e1[sid]
        assert e1["shardId-000000000001"] == marker
        parts = r.partitions(end, e1)
        assert len(parts) == 1 and parts[0].shard_id is None
        # from the first pinned sequence number on, every record is read
        _append_frames(capture_dir, sid, "part-2.kpl", [b"read-0"])
        r._client = None
        e2 = r.latestOffset()
        rows = [t for p in r.partitions(e1, e2) for t in r.read(p)]
        assert [t[1] for t in rows] == [e2[sid]["seq"]]
        assert int(e2[sid]["seq"]) == int(e1[sid]["seq"]) + 1


class TestResharding:
    """A mid-stream split: the parent shard closes (SHARD_END) and two
    children take over its key range. No loss, no duplication, no infinite
    polling of the drained parent, parent-before-child admission."""

    PARENT = "shardId-000000000000"
    CHILD_A = "shardId-000000000001"
    CHILD_B = "shardId-000000000002"

    @pytest.fixture()
    def reshard_capture(self, tmp_path):
        # one KPL frame per payload => one sequence position per payload, so
        # record-count admission caps are exercised frame by frame
        root = tmp_path / "reshard_capture"
        for sid, payloads in {
            self.PARENT: _payloads(0, 10),
            self.CHILD_A: _payloads(1, 7),
            self.CHILD_B: _payloads(2, 5),
        }.items():
            os.makedirs(root / sid)
            for i, p in enumerate(payloads):
                agg = RecordAggregator()
                agg.add_user_record("pk", p)
                rec = agg.clear_and_get()
                write_wire_file(str(root / sid / f"part-{i:04d}.kpl"), [rec.to_bytes()])
        reshard = {
            "closed": [self.PARENT],
            "parents": {self.CHILD_A: self.PARENT, self.CHILD_B: self.PARENT},
        }
        return str(root), reshard

    def _opts(self, capture, reshard, **extra):
        kw = {"capture_dir": capture, "opaque": True, "reshard": reshard}
        o = {
            "stream_name": "events",
            "client_factory": "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
            "client_kwargs": json.dumps(kw),
        }
        o.update(extra)
        return o

    def test_partitioned_drains_tree_parent_first(self, reshard_capture):
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        capture, reshard = reshard_capture
        r = KinesisPartitionedStreamReader(self._opts(capture, reshard))
        start, end = r.initialOffset(), r.latestOffset()
        # parent hit SHARD_END during the probe and is marked done
        assert end[self.PARENT]["done"] is True
        parts = r.partitions(start, end)
        assert {p.shard_id for p in parts} == {self.PARENT, self.CHILD_A, self.CHILD_B}
        rows = [t for p in parts for t in r.read(p)]
        assert len(rows) == 10 + 7 + 5  # no loss, no duplication
        # next planning call: parent stays done and plans NO further slices
        e2 = r.latestOffset()
        assert e2[self.PARENT]["done"] is True
        assert all(p.shard_id != self.PARENT for p in r.partitions(end, e2))

    def test_children_wait_for_capped_parent(self, reshard_capture):
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        capture, reshard = reshard_capture
        r = KinesisPartitionedStreamReader(
            self._opts(capture, reshard, max_records_per_batch="4")
        )
        r.initialOffset()
        e1 = r.latestOffset()  # parent caps at 4 of 10 records — not done
        assert e1[self.PARENT]["done"] is False
        assert e1[self.CHILD_A]["seq"] is None  # children blocked behind parent
        assert e1[self.CHILD_B]["seq"] is None
        e2 = r.latestOffset()
        e3 = r.latestOffset()  # 4+4+2: parent drains on the third batch
        assert e3[self.PARENT]["done"] is True
        e4 = r.latestOffset()  # children admitted only now
        assert e4[self.CHILD_A]["seq"] is not None
        assert e4[self.CHILD_B]["seq"] is not None

    def test_streaming_reshard_exactly_once(self, spark, reshard_capture, tmp_path):
        capture, reshard = reshard_capture
        raw = (
            spark.readStream.format("kinesis")
            .options(**self._opts(capture, reshard))
            .load()
        )
        q = (
            deaggregate_records(raw, wire_col="data", strict=False)
            .writeStream.format("memory")
            .queryName("kinesis_reshard")
            .option("checkpointLocation", str(tmp_path / "ckpt_rs"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM kinesis_reshard").collect()
        users = sorted(json.loads(bytes(r["data"]))["user_id"] for r in got)
        assert users == sorted(
            list(range(0, 10)) + list(range(1000, 1007)) + list(range(2000, 2005))
        )


class TestKinesisBatchRead:
    def test_batch_backfill(self, spark, capture_dir):
        kinesis_stream.register(spark)
        # a backfill scans from TRIM_HORIZON whatever the stream options say
        for options in ({}, {"starting_position": "LATEST"}):
            df = (
                spark.read.format("kinesis")
                .option("stream_name", "events")
                .option(
                    "client_factory",
                    "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
                )
                .option("client_kwargs", json.dumps({"capture_dir": capture_dir}))
                .options(**options)
                .load()
            )
            assert not df.isStreaming
            user_records = deaggregate_records(df, wire_col="data", strict=False)
            users = sorted(
                json.loads(bytes(r["data"]))["user_id"] for r in user_records.collect()
            )
            assert users == sorted(list(range(0, 40)) + list(range(1000, 1025)))


class TestKinesisToStatefulPipeline:
    """The full streaming-analytics composition: Kinesis source → KPL
    deaggregate → parse → session-window aggregation — every stage of the
    engine's streaming story on one query."""

    def test_kinesis_sessionization(self, spark, tmp_path):
        # payloads with two sessions per user (> 10 min gap between them)
        def evts(uid, minutes):
            return [
                json.dumps(
                    {"user_id": uid, "value": 1.0,
                     "event_time": f"2024-01-01T00:{m:02d}:00"}
                ).encode()
                for m in minutes
            ]

        capture = _make_capture(
            tmp_path,
            {
                # user 1: events at :00-:02 and :30-:31 -> 2 sessions
                # user 2: events at :05-:06 -> 1 session
                "shardId-000000000000": evts(1, [0, 1, 2, 30, 31]),
                "shardId-000000000001": evts(2, [5, 6]),
            },
        )
        raw = _read_stream(spark, capture)
        events = (
            deaggregate_records(raw, wire_col="data", strict=False)
            .select(
                F.from_json(
                    F.col("data").cast("string"),
                    "user_id long, value double, event_time timestamp",
                ).alias("e")
            )
            .select("e.user_id", "e.value", F.col("e.event_time").alias("ts"))
        )
        sessions = (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total"))
        )
        q = (
            sessions.writeStream.format("memory")
            .queryName("kinesis_sessions")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT user_id, n_events FROM kinesis_sessions ORDER BY user_id, n_events"
        ).collect()
        got = [(r["user_id"], r["n_events"]) for r in rows]
        # user 1: one 3-event session + one 2-event session; user 2: 2 events
        assert got == [(1, 2), (1, 3), (2, 2)]


class TestKinesisToIncrementalDedup:
    def test_stream_dedup_capstone(self, spark, tmp_path):
        """Capstone composition: fixture docs are produced as KPL frames
        into a Kinesis capture, read back with readStream format('kinesis'),
        deaggregated, JSON-parsed, and routed through per-micro-batch
        incremental dedup against the static corpus — verdicts must equal
        the batch operator's exactly."""
        from pyspark.sql import functions as F

        from kinesis_writer_spark import io as kio
        from kinesis_writer_spark.operators.pipeline_ops_corpus import (
            _INC_MOD,
            incremental_verdicts,
        )
        from kinesis_writer_spark.sources.kpl_stream import deaggregate_records
        from kinesis_writer_spark.streaming.incremental import (
            dedup_stream_against_corpus,
        )
        from tests.conftest import SF_DIR

        docs = kio.load(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
        incoming = docs.filter(F.col("doc_id") % _INC_MOD == 0)
        corpus = docs.filter(F.col("doc_id") % _INC_MOD != 0)
        expected = sorted(
            tuple(r) for r in incremental_verdicts(incoming, corpus).collect()
        )

        # produce the incoming docs into a 2-shard KPL capture
        rows = incoming.collect()
        payloads = [
            json.dumps(
                {"doc_id": r["doc_id"], "text": r["text"], "lang": r["lang"]}
            ).encode()
            for r in rows
        ]
        cap = _make_capture(
            tmp_path,
            {
                "shardId-000000000000": payloads[::2],
                "shardId-000000000001": payloads[1::2],
            },
        )

        raw = _read_stream(spark, cap)
        user = deaggregate_records(raw, wire_col="data", strict=True)
        parsed = user.select(
            F.from_json(
                F.col("data").cast("string"),
                "doc_id bigint, text string, lang string",
            ).alias("d")
        ).select("d.doc_id", "d.text", "d.lang")

        collected: list = []

        def sink(verdicts, batch_id):
            collected.extend(tuple(r) for r in verdicts.collect())

        q = (
            dedup_stream_against_corpus(parsed, corpus, sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(180)
        assert sorted(collected) == expected


class TestSinkOptionValidation:
    """Sink writer options fail LOUD at plan time (driver-side), not on the
    first executor send: a '0' rate is truthy as a string but builds a
    bucket that can never refill (round-5 advice fix)."""

    def _writer(self, **opts):
        base = {"stream_name": "s"}
        base.update(opts)
        return kinesis_stream.KinesisStreamSinkWriter(base, ["data"])

    def test_zero_rate_rejected(self):
        with pytest.raises(ValueError, match="rate_limit_bytes_per_sec must be > 0"):
            self._writer(rate_limit_bytes_per_sec="0")
        with pytest.raises(ValueError, match="rate_limit_puts_per_sec must be > 0"):
            self._writer(rate_limit_puts_per_sec="-5")
        with pytest.raises(ValueError, match="rate_limit_burst_seconds must be > 0"):
            self._writer(rate_limit_bytes_per_sec="1000", rate_limit_burst_seconds="0")

    def test_refresh_cadence_validated(self):
        with pytest.raises(ValueError, match="shard_map_refresh_flushes must be >= 0"):
            self._writer(shard_map_refresh_flushes="-1")
        w = self._writer(shard_map_refresh_flushes="5")
        assert w._refresh_flushes == 5

    def test_refresh_default_on_and_zero_disables(self):
        from kinesis_writer_spark.sink import DEFAULT_REFRESH_EVERY_FLUSHES

        assert self._writer()._refresh_flushes == DEFAULT_REFRESH_EVERY_FLUSHES
        assert self._writer(shard_map_refresh_flushes="0")._refresh_flushes is None

    def test_absent_rates_mean_no_limiter(self):
        w = self._writer()
        assert w._rl_bytes is None and w._rl_puts is None

    def test_limiter_shared_per_process_per_budget(self):
        a = kinesis_stream._shared_sink_limiter("s", 1000.0, 10.0, 1.0)
        b = kinesis_stream._shared_sink_limiter("s", 1000.0, 10.0, 1.0)
        c = kinesis_stream._shared_sink_limiter("s", 2000.0, 10.0, 1.0)
        assert a is b  # bucket state survives across microbatches
        assert a is not c  # different budget, different bucket


class TestReshardChaosEndToEnd:
    """Mid-writeStream split: the sink writes through a live reshard (the
    capture client closes its only shard and opens two children after 3
    puts), the writer's periodic refresh re-discovers and re-routes, and
    the partitioned source then drains parent-before-child — zero lost
    records end to end. The sink's refresh and the source's admission rule
    were previously only tested separately."""

    PARENT = "shardId-000000000000"
    CHILD_A = "shardId-000000000001"
    CHILD_B = "shardId-000000000002"

    def test_split_mid_stream_zero_loss_and_child_routing(self, spark, tmp_path):
        from kinesis_writer_spark.sources import kpl_datasource

        kinesis_stream.register(spark)
        sink_dir = str(tmp_path / "chaos_capture")
        src_dir = tmp_path / "chaos_src"
        os.makedirs(src_dir)
        # ~400 KB payloads -> ~16 MiB total -> well over a dozen ~1 MiB
        # flushes, most of them AFTER the split fires at put #4
        payloads = [
            (f"payload-{i:03d}-".encode() * 1) + bytes([i % 251]) * 400_000
            for i in range(40)
        ]
        spark.createDataFrame([(p,) for p in payloads], "data binary").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src_dir / "p"))
        q = (
            spark.readStream.schema("data binary")
            .parquet(str(src_dir / "p"))
            .writeStream.format("kinesis")
            .option("stream_name", "chaos-stream")
            .option(
                "client_factory",
                "kinesis_writer_spark.sources.kinesis_stream:capture_sink_client_factory",
            )
            .option(
                "client_kwargs",
                json.dumps(
                    {"capture_dir": sink_dir, "num_shards": 1, "split_after_puts": 3}
                ),
            )
            .option("shard_map_refresh_flushes", "1")  # fast pickup for the test
            .option("checkpointLocation", str(tmp_path / "ckpt_chaos"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        # the split actually happened and BOTH children received traffic:
        # a stale (never-refreshed) router would keep drawing the parent's
        # midpoint, which the service maps into child A every time — files
        # in child B prove the writer refreshed and re-drew child keys
        def kpl_files(shard):
            d = os.path.join(sink_dir, shard)
            return [f for f in os.listdir(d)] if os.path.isdir(d) else []

        assert len(kpl_files(self.PARENT)) >= 1  # pre-split flushes landed
        assert len(kpl_files(self.CHILD_A)) >= 1
        assert len(kpl_files(self.CHILD_B)) >= 1

        # batch read-back: every payload delivered exactly once
        kpl_datasource.register(spark)
        back = spark.read.format("kpl").load(sink_dir + "/*/*.kpl")
        got = sorted(bytes(r["data"]) for r in back.collect())
        assert got == sorted(payloads)

        # streaming read-back through the reshard topology: the partitioned
        # reader must admit the parent fully before its children
        reshard = {
            "closed": [self.PARENT],
            "parents": {self.CHILD_A: self.PARENT, self.CHILD_B: self.PARENT},
        }
        raw = (
            spark.readStream.format("kinesis")
            .option("stream_name", "chaos-stream")
            .option(
                "client_factory",
                "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
            )
            .option(
                "client_kwargs",
                json.dumps(
                    {"capture_dir": sink_dir, "opaque": True, "reshard": reshard}
                ),
            )
            .load()
        )
        q2 = (
            deaggregate_records(raw, wire_col="data", strict=False)
            .writeStream.format("memory")
            .queryName("chaos_readback")
            .option("checkpointLocation", str(tmp_path / "ckpt_chaos_read"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        streamed = sorted(
            bytes(r["data"]) for r in spark.sql("SELECT data FROM chaos_readback").collect()
        )
        assert streamed == sorted(payloads)


class TestMergeTopology:
    """A shard MERGE: two parents close and ONE child spans their combined
    hash range. The child carries ParentShardId + AdjacentParentShardId and
    must not be admitted until BOTH parents are drained — the gating path
    (_parents_done's AdjacentParentShardId key) a split never exercises."""

    PARENT_A = "shardId-000000000000"
    PARENT_B = "shardId-000000000001"
    CHILD = "shardId-000000000002"

    @pytest.fixture()
    def merge_capture(self, tmp_path):
        root = tmp_path / "merge_capture"
        for sid, payloads in {
            self.PARENT_A: _payloads(0, 10),
            self.PARENT_B: _payloads(1, 7),
            self.CHILD: _payloads(2, 5),
        }.items():
            os.makedirs(root / sid)
            for i, p in enumerate(payloads):
                agg = RecordAggregator()
                agg.add_user_record("pk", p)
                rec = agg.clear_and_get()
                write_wire_file(str(root / sid / f"part-{i:04d}.kpl"), [rec.to_bytes()])
        reshard = {
            "closed": [self.PARENT_A, self.PARENT_B],
            "parents": {self.CHILD: [self.PARENT_A, self.PARENT_B]},
        }
        return str(root), reshard

    def _opts(self, capture, reshard, **extra):
        kw = {"capture_dir": capture, "opaque": True, "reshard": reshard}
        o = {
            "stream_name": "events",
            "client_factory": "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
            "client_kwargs": json.dumps(kw),
        }
        o.update(extra)
        return o

    def test_list_shards_reports_both_parent_ids(self, merge_capture):
        from kinesis_writer_spark.sources.kinesis_stream import (
            capture_client_factory,
        )

        capture, reshard = merge_capture
        client = capture_client_factory(capture, opaque=True, reshard=reshard)
        by_id = {s["ShardId"]: s for s in client.list_shards(StreamName="events")["Shards"]}
        child = by_id[self.CHILD]
        assert child["ParentShardId"] == self.PARENT_A
        assert child["AdjacentParentShardId"] == self.PARENT_B
        assert "EndingSequenceNumber" in by_id[self.PARENT_A]["SequenceNumberRange"]
        assert "EndingSequenceNumber" in by_id[self.PARENT_B]["SequenceNumberRange"]

    def test_child_waits_for_both_parents(self, merge_capture):
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        capture, reshard = merge_capture
        r = KinesisPartitionedStreamReader(
            self._opts(capture, reshard, max_records_per_batch="4")
        )
        r.initialOffset()
        e1 = r.latestOffset()  # A 4/10, B 4/7 — neither done
        assert e1[self.PARENT_A]["done"] is False
        assert e1[self.PARENT_B]["done"] is False
        assert e1[self.CHILD]["seq"] is None
        e2 = r.latestOffset()  # B drains (7<=8); A at 8/10 — child MUST
        assert e2[self.PARENT_B]["done"] is True  # still be blocked on the
        assert e2[self.PARENT_A]["done"] is False  # ADJACENT parent A
        assert e2[self.CHILD]["seq"] is None
        e3 = r.latestOffset()  # A drains
        assert e3[self.PARENT_A]["done"] is True
        e4 = r.latestOffset()  # both parents done -> child admitted
        assert e4[self.CHILD]["seq"] is not None

    def test_partitioned_drains_parents_then_child(self, merge_capture):
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        capture, reshard = merge_capture
        r = KinesisPartitionedStreamReader(self._opts(capture, reshard))
        start, end = r.initialOffset(), r.latestOffset()
        assert end[self.PARENT_A]["done"] is True
        assert end[self.PARENT_B]["done"] is True
        rows = [t for p in r.partitions(start, end) for t in r.read(p)]
        assert len(rows) == 10 + 7 + 5  # no loss, no duplication

    def test_streaming_merge_exactly_once(self, spark, merge_capture, tmp_path):
        kinesis_stream.register(spark)
        capture, reshard = merge_capture
        raw = (
            spark.readStream.format("kinesis")
            .options(**self._opts(capture, reshard))
            .load()
        )
        q = (
            deaggregate_records(raw, wire_col="data", strict=False)
            .writeStream.format("memory")
            .queryName("kinesis_merge")
            .option("checkpointLocation", str(tmp_path / "ckpt_mg"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM kinesis_merge").collect()
        users = sorted(json.loads(bytes(r["data"]))["user_id"] for r in got)
        assert users == sorted(
            list(range(0, 10)) + list(range(1000, 1007)) + list(range(2000, 2005))
        )


class TestMergeChaosEndToEnd:
    """Mid-writeStream MERGE: the sink writes through a live MergeShards
    (two open shards close into one child after 3 puts), the writer's
    periodic refresh re-discovers and re-routes onto the merged child, and
    the partitioned source then drains BOTH parents before the child —
    zero lost records end to end."""

    SHARD_A = "shardId-000000000000"
    SHARD_B = "shardId-000000000001"
    MERGED = "shardId-000000000002"

    def test_merge_mid_stream_zero_loss(self, spark, tmp_path):
        from kinesis_writer_spark.sources import kpl_datasource

        kinesis_stream.register(spark)
        sink_dir = str(tmp_path / "merge_chaos_capture")
        src_dir = tmp_path / "merge_chaos_src"
        os.makedirs(src_dir)
        payloads = [
            (f"payload-{i:03d}-".encode() * 1) + bytes([i % 251]) * 400_000
            for i in range(40)
        ]
        spark.createDataFrame([(p,) for p in payloads], "data binary").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src_dir / "p"))
        q = (
            spark.readStream.schema("data binary")
            .parquet(str(src_dir / "p"))
            .writeStream.format("kinesis")
            .option("stream_name", "merge-chaos-stream")
            .option(
                "client_factory",
                "kinesis_writer_spark.sources.kinesis_stream:capture_sink_client_factory",
            )
            .option(
                "client_kwargs",
                json.dumps(
                    {"capture_dir": sink_dir, "num_shards": 2, "merge_after_puts": 3}
                ),
            )
            .option("shard_map_refresh_flushes", "1")
            .option("checkpointLocation", str(tmp_path / "ckpt_merge_chaos"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        def kpl_files(shard):
            d = os.path.join(sink_dir, shard)
            return [f for f in os.listdir(d)] if os.path.isdir(d) else []

        # pre-merge traffic landed in the parents, post-merge traffic in
        # the single merged child (a stale router drawing closed-parent
        # midpoints would still route into the child's combined range —
        # files in MERGED prove the refresh + the service-side routing)
        assert len(kpl_files(self.SHARD_A)) + len(kpl_files(self.SHARD_B)) >= 1
        assert len(kpl_files(self.MERGED)) >= 1

        kpl_datasource.register(spark)
        back = spark.read.format("kpl").load(sink_dir + "/*/*.kpl")
        got = sorted(bytes(r["data"]) for r in back.collect())
        assert got == sorted(payloads)

        # streaming read-back through the merge topology
        reshard = {
            "closed": [self.SHARD_A, self.SHARD_B],
            "parents": {self.MERGED: [self.SHARD_A, self.SHARD_B]},
        }
        raw = (
            spark.readStream.format("kinesis")
            .option("stream_name", "merge-chaos-stream")
            .option(
                "client_factory",
                "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
            )
            .option(
                "client_kwargs",
                json.dumps(
                    {"capture_dir": sink_dir, "opaque": True, "reshard": reshard}
                ),
            )
            .load()
        )
        q2 = (
            deaggregate_records(raw, wire_col="data", strict=False)
            .writeStream.format("memory")
            .queryName("merge_chaos_readback")
            .option("checkpointLocation", str(tmp_path / "ckpt_merge_read"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        streamed = sorted(
            bytes(r["data"])
            for r in spark.sql("SELECT data FROM merge_chaos_readback").collect()
        )
        assert streamed == sorted(payloads)


class TestTopologyPersistence:
    """r12: the capture sink persists its reshard topology
    (_topology.json) and the replay client auto-loads it, so a captured
    stream replays through its own split/merge history without the caller
    reconstructing parent/child wiring by hand."""

    @staticmethod
    def _agg(payload: bytes) -> bytes:
        agg = RecordAggregator()
        agg.add_user_record("pk", payload, str(1 << 100))
        return agg.clear_and_get().to_bytes()

    def _drive(self, tmp_path, **knobs):
        cap = str(tmp_path / "cap")
        client = kinesis_stream.CaptureSinkClient(cap, num_shards=2, **knobs)
        for i in range(6):
            client.put_records(
                StreamName="s",
                Records=[{
                    "Data": self._agg(b"p%d" % i),
                    "PartitionKey": "pk",
                    "ExplicitHashKey": str((i % 2) * (1 << 127)),
                }],
            )
        return cap, client

    def test_split_topology_roundtrips_without_reshard_kwarg(self, tmp_path):
        cap, sink = self._drive(tmp_path, split_after_puts=2)
        replay = kinesis_stream.CaptureReplayClient(cap)
        shards = {s["ShardId"]: s for s in replay.list_shards(StreamName="s")["Shards"]}
        closed = {
            sid for sid, s in shards.items()
            if s["SequenceNumberRange"].get("EndingSequenceNumber")
        }
        assert closed == {"shardId-000000000000", "shardId-000000000001"}
        children = {sid: s for sid, s in shards.items() if s.get("ParentShardId")}
        assert len(children) == 4
        assert all(s["ParentShardId"] in closed for s in children.values())

    def test_merge_topology_carries_adjacent_parent(self, tmp_path):
        cap, sink = self._drive(tmp_path, merge_after_puts=2)
        replay = kinesis_stream.CaptureReplayClient(cap)
        shards = {s["ShardId"]: s for s in replay.list_shards(StreamName="s")["Shards"]}
        child = shards["shardId-000000000002"]
        assert child["ParentShardId"] == "shardId-000000000000"
        assert child["AdjacentParentShardId"] == "shardId-000000000001"

    def test_explicit_empty_reshard_still_means_flat(self, tmp_path):
        cap, _sink = self._drive(tmp_path, split_after_puts=2)
        replay = kinesis_stream.CaptureReplayClient(cap, reshard={})
        shards = replay.list_shards(StreamName="s")["Shards"]
        assert all(not s.get("ParentShardId") for s in shards)

    def test_flat_capture_writes_no_topology_file(self, tmp_path):
        cap, _sink = self._drive(tmp_path)
        assert not os.path.exists(os.path.join(cap, "_topology.json"))


class TestAdmissionCapBatchZero:
    """r12: Spark 4 plans a fresh query's FIRST batch by calling
    latestOffset() before initialOffset(), which used to bypass the
    max_records_per_batch admission cap — a fresh query over a deep
    backlog planned the whole backlog as one batch. The reader now snaps
    an unknown start to the TRIM_HORIZON floor (fresh) and is taught the
    checkpointed end via partitions() (restart), so the cap binds from
    batch 0 and never plans below a checkpoint."""

    @staticmethod
    def _frames(n, tag):
        out = []
        for i in range(n):
            agg = RecordAggregator()
            agg.add_user_record("pk", f"{tag}-{i:03d}".encode(), str(1 << 100))
            out.append(agg.clear_and_get().to_bytes())
        return out

    def _offsets(self, ckpt):
        import json as _json

        d = os.path.join(ckpt, "offsets")
        out = []
        for f in sorted((f for f in os.listdir(d) if f.isdigit()), key=int):
            lines = open(os.path.join(d, f)).read().splitlines()
            if len(lines) >= 3:
                out.append(_json.loads(lines[2]))
        return out

    def _start(self, spark, cap_dir, ckpt, out):
        raw = (
            spark.readStream.format("kinesis")
            .option("stream_name", "capped")
            .option("max_records_per_batch", "2")
            .option(
                "client_factory",
                "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
            )
            .option("client_kwargs", json.dumps({"capture_dir": str(cap_dir)}))
            .load()
        )
        # parquet sink: the memory sink cannot recover from a checkpoint,
        # and the restart leg is the point of this test
        return (
            raw.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .start()
        )

    def test_fresh_query_batch_zero_is_capped_and_restart_never_regresses(
        self, spark, tmp_path
    ):
        import time as _time

        kinesis_stream.register(spark)
        cap_dir = tmp_path / "cap"
        shard = cap_dir / "shardId-000000000000"
        os.makedirs(shard)
        write_wire_file(str(shard / "a.kpl"), self._frames(9, "a"))
        ckpt = tmp_path / "ckpt"
        out = tmp_path / "out"

        def drained(n):
            try:
                return spark.read.parquet(str(out)).count() >= n
            except Exception:
                return False

        q = self._start(spark, cap_dir, ckpt, out)
        t0 = _time.monotonic()
        while not drained(9) and _time.monotonic() - t0 < 120:
            _time.sleep(0.5)
        q.stop()
        q.awaitTermination()
        offs = self._offsets(ckpt)
        # batch 0 capped: its end seq must be 1 (two frames), not 8
        assert offs, "no batches planned"
        b0 = offs[0]["shardId-000000000000"]
        assert b0["seq"] == "1", offs[0]
        # every batch advances by <= cap frames
        prev = -1
        for off in offs:
            seq = int(off["shardId-000000000000"]["seq"])
            assert seq - prev <= 2, (prev, seq)
            assert seq > prev, "offset regressed"
            prev = seq
        assert prev == 8  # fully drained

        # restart with a new backlog: the first post-restart batch must
        # start from the checkpoint (no replay) and stay capped
        write_wire_file(str(shard / "b.kpl"), self._frames(6, "b"))
        q = self._start(spark, cap_dir, ckpt, out)
        t0 = _time.monotonic()
        while not drained(15) and _time.monotonic() - t0 < 120:
            _time.sleep(0.5)
        q.stop()
        q.awaitTermination()
        offs = self._offsets(ckpt)
        prev = -1
        for off in offs:
            seq = int(off["shardId-000000000000"]["seq"])
            assert seq > prev, "offset regressed across restart"
            assert seq - prev <= 2
            prev = seq
        assert prev == 14
        rows = [
            bytes(r["data"])
            for r in spark.read.parquet(str(out)).select("data").collect()
        ]
        # across both legs: every record delivered exactly once
        from kinesis_writer_spark.kpl.deaggregator import deaggregate

        got = sorted(rec.data for w in rows for rec in deaggregate(w))
        want = sorted(
            [f"a-{i:03d}".encode() for i in range(9)]
            + [f"b-{i:03d}".encode() for i in range(6)]
        )
        assert got == want


class TestSinkBudgetRoutingOption:
    """The streaming sink's rate-limit options select its routing: with a
    limit, its writers route each flush to the fullest limiter bucket;
    without one, they keep the reference's seed-42 draw."""

    def _writer(self, **opts):
        base = {"stream_name": "budget-routing"}
        base.update(opts)
        return kinesis_stream.KinesisStreamSinkWriter(base, ["data"])

    _ROWS = [{"data": b"r" * 1000}] * 4000  # four ~1 MB flushes and a tail

    def _routed(self, monkeypatch, **opts) -> list[str]:
        """The explicit hash key of every put one sink task makes."""
        from kinesis_writer_spark.sink import FakeKinesisClient

        monkeypatch.setattr(kinesis_stream, "_SINK_LIMITERS", {})
        client = FakeKinesisClient(num_shards=4)
        monkeypatch.setattr(kinesis_stream, "resolve_factory", lambda *a: client)
        self._writer(**opts).write(iter(self._ROWS))
        return [r["Records"][0]["ExplicitHashKey"] for r in client.put_requests]

    @staticmethod
    def _midpoints() -> list[str]:
        from kinesis_writer_spark.sink import FakeKinesisClient, open_shard_midpoints

        return open_shard_midpoints(FakeKinesisClient(num_shards=4), "s")

    def _assert_seeded(self, keys: list[str]) -> None:
        from kinesis_writer_spark.sink import ShardRouter

        mids = self._midpoints()
        router = ShardRouter(mids, seed=42)
        assert keys == [router.next_hash_key() for _ in keys]
        assert keys[:4] != mids

    def test_default_off(self, monkeypatch):
        # no rate limit: no limiter, so the reference's seed-42 draw
        assert self._writer()._rl_bytes is None
        self._assert_seeded(self._routed(monkeypatch))

    def test_enabled_with_rate_limit(self, monkeypatch):
        # fresh buckets are all full: the first four flushes take the
        # shards in map order (the limit is ample, so nothing sleeps)
        keys = self._routed(monkeypatch, rate_limit_bytes_per_sec="10485760")
        assert keys[:4] == self._midpoints()

    def test_requires_a_rate_limit(self, monkeypatch):
        # budget routing follows the limiter, not an option: a puts-only
        # limit routes by budget, and the removed route_by_budget option
        # without a limit changes nothing
        keys = self._routed(monkeypatch, rate_limit_puts_per_sec="10000")
        assert keys[:4] == self._midpoints()
        self._assert_seeded(self._routed(monkeypatch, route_by_budget="true"))

    def test_end_to_end_capture_roundtrip(self, spark, tmp_path):
        kinesis_stream.register(spark)
        sink_dir = str(tmp_path / "budget_capture")
        src_dir = tmp_path / "budget_src"
        os.makedirs(src_dir)
        payloads = [f"bp-{i:04d}".encode() for i in range(200)]
        spark.createDataFrame([(p,) for p in payloads], "data binary").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src_dir / "p"))
        q = (
            spark.readStream.schema("data binary")
            .parquet(str(src_dir / "p"))
            .writeStream.format("kinesis")
            .option("stream_name", "budget-stream")
            .option(
                "client_factory",
                "kinesis_writer_spark.sources.kinesis_stream:capture_sink_client_factory",
            )
            .option("client_kwargs", json.dumps(
                {"capture_dir": sink_dir, "num_shards": 4}))
            .option("rate_limit_bytes_per_sec", "10485760")  # ample: no pacing stalls
            .option("checkpointLocation", str(tmp_path / "ckpt_budget"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        from kinesis_writer_spark.sources import kpl_datasource

        kpl_datasource.register(spark)
        back = spark.read.format("kpl").load(sink_dir + "/*/*.kpl")
        got = sorted(bytes(r["data"]) for r in back.collect())
        assert got == sorted(payloads)


class TestBackwardsPlanClamp:
    """r12 advice: the snap-to-TRIM_HORIZON in latestOffset relies on the
    measured Spark 4 call order. If a future runner ever hands partitions()
    an end BELOW the start (cap computed from an unknown floor while the
    checkpoint sits ahead), the clamp must plan it as EMPTY — never a
    backwards slice replaying committed records — and the taught
    _last_start must never regress below the given start."""

    def _reader(self, capture_dir):
        from kinesis_writer_spark.sources.kinesis_stream import (
            KinesisPartitionedStreamReader,
        )

        return KinesisPartitionedStreamReader(
            {
                "stream_name": "events",
                "client_factory": "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
                "client_kwargs": json.dumps({"capture_dir": capture_dir}),
            }
        )

    def test_end_below_start_plans_empty(self, capture_dir):
        r = self._reader(capture_dir)
        start, end = r.initialOffset(), r.latestOffset()
        # simulate the pathological order: checkpoint (end) is the start,
        # a horizon-floored cap produced an earlier end
        behind = {sid: {"seq": "0", "done": False} for sid in end}
        parts = r.partitions(end, behind)
        assert len(parts) == 1 and parts[0].shard_id is None  # empty batch

    def test_taught_floor_never_regresses(self, capture_dir):
        r = self._reader(capture_dir)
        start, end = r.initialOffset(), r.latestOffset()
        behind = {sid: {"seq": "0", "done": False} for sid in end}
        r.partitions(end, behind)
        # _last_start keeps the checkpointed end, not the regressed one
        for sid, off in r._last_start.items():
            assert int(off["seq"]) >= int(end[sid]["seq"])
        # and the NEXT latestOffset plans forward of the checkpoint
        nxt = r.latestOffset()
        for sid in nxt:
            if nxt[sid]["seq"] is not None and end[sid]["seq"] is not None:
                assert int(nxt[sid]["seq"]) >= int(end[sid]["seq"])

    def test_forward_planning_unchanged(self, capture_dir):
        r = self._reader(capture_dir)
        start, end = r.initialOffset(), r.latestOffset()
        parts = r.partitions(start, end)
        assert len(parts) == 2
        rows = [t for p in parts for t in r.read(p)]
        assert len(rows) == sum(int(e["seq"]) + 1 for e in end.values())

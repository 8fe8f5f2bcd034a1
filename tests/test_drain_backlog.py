"""The safe capped-backlog drain recipe as package surface (r13 verdict
task #1): streaming.drain_backlog must take a capped, default-trigger
query all the way to the true stream tip — the availableNow x admission-cap
combination silently truncates (one capped latestOffset snapshot becomes
the terminal offset), and the helper is THE packaged defense.
"""

from __future__ import annotations

import json
import logging
import os

import pytest
from pyspark.sql import functions as F

from kinesis_writer_spark.kpl.aggregator import RecordAggregator
from kinesis_writer_spark.sources import kinesis_stream
from kinesis_writer_spark.sources.kpl_datasource import write_wire_file
from kinesis_writer_spark.sources.kpl_stream import deaggregate_records
from kinesis_writer_spark.streaming import (
    capture_tail_offsets,
    drain_backlog,
    latest_committed_offsets,
)


def _frame(payloads: list[bytes]) -> bytes:
    agg = RecordAggregator()
    wires: list[bytes] = []
    agg.on_record_complete(lambda rec: wires.append(rec.to_bytes()))
    for p in payloads:
        agg.add_user_record("pk", p)
    tail = agg.clear_and_get()
    if tail is not None:
        wires.append(tail.to_bytes())
    assert len(wires) == 1
    return wires[0]


@pytest.fixture()
def capture(tmp_path):
    """2 shards x 8 wire frames x 5 payloads: enough frames that a capped
    drain needs several micro-batches per shard to reach the tip."""
    root = tmp_path / "capture"
    total = 0
    for shard in range(2):
        frames = []
        for f in range(8):
            frames.append(
                _frame(
                    [
                        json.dumps({"shard": shard, "frame": f, "i": i}).encode()
                        for i in range(5)
                    ]
                )
            )
            total += 5
        shard_dir = root / f"shardId-00000000000{shard}"
        os.makedirs(shard_dir)
        write_wire_file(str(shard_dir / "part-0.kpl"), frames)
    return str(root), total


def _capped_stream(spark, capture_dir: str, cap: int):
    kinesis_stream.register(spark)
    return (
        spark.readStream.format("kinesis")
        .option("stream_name", "drain-test")
        .option(
            "client_factory",
            "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
        )
        .option("client_kwargs", json.dumps({"capture_dir": capture_dir}))
        .option("max_records_per_batch", str(cap))
        .load()
    )


def test_capture_tail_offsets(capture):
    capture_dir, _ = capture
    tails = capture_tail_offsets(capture_dir)
    # 8 frames per shard -> tail frame index 7
    assert tails == {
        "shardId-000000000000": "7",
        "shardId-000000000001": "7",
    }


def test_capped_drain_reaches_tip(spark, capture, tmp_path):
    """The headline contract: cap 2 frames/shard/batch means any single
    offset snapshot covers only a quarter of the backlog, yet the helper
    drives the query to the full 80 records — the at-scale twin is the
    20M/40M decade drains (artifacts/stream_decade*_point.json)."""
    capture_dir, total = capture
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = _capped_stream(spark, capture_dir, cap=2)
    q = (
        deaggregate_records(raw, wire_col="data", strict=False)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    drained = drain_backlog(
        q, ckpt, capture_tail_offsets(capture_dir), timeout_s=120.0
    )
    assert drained is True
    assert not q.isActive
    n = spark.read.parquet(out).count()
    assert n == total  # every record, exactly once
    # and the committed offsets really are the tip
    off = latest_committed_offsets(ckpt)
    assert off["shardId-000000000000"]["seq"] == "7"
    assert off["shardId-000000000001"]["seq"] == "7"


def test_timeout_is_loud_and_stops_query(spark, capture, tmp_path):
    """A drain that cannot reach its expected tail must raise (the silent
    partial drain is the exact wrong outcome the helper exists to prevent)
    — and the query must be stopped, not leaked."""
    capture_dir, _ = capture
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = _capped_stream(spark, capture_dir, cap=2)
    q = (
        deaggregate_records(raw, wire_col="data", strict=False)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    impossible = {"shardId-000000000000": "9999"}
    with pytest.raises(TimeoutError, match="drain did not reach"):
        drain_backlog(q, ckpt, impossible, timeout_s=3.0)
    assert not q.isActive
    # raise_on_timeout=False is the soak-harness mode: same stop, bool out
    raw2 = _capped_stream(spark, capture_dir, cap=2)
    q2 = (
        deaggregate_records(raw2, wire_col="data", strict=False)
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out2"))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    assert (
        drain_backlog(q2, str(tmp_path / "ckpt2"), impossible, timeout_s=3.0,
                      raise_on_timeout=False)
        is False
    )
    assert not q2.isActive


def test_cap_logs_planning_time_warning(capture, caplog):
    """The in-code defense: configuring an admission cap logs the
    availableNow caveat at reader construction (planning time), naming the
    safe recipe."""
    from kinesis_writer_spark.sources.kinesis_stream import (
        KinesisPartitionedStreamReader,
    )

    capture_dir, _ = capture
    opts = {
        "client_factory":
            "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
        "client_kwargs": json.dumps({"capture_dir": capture_dir}),
    }
    with caplog.at_level(logging.WARNING,
                         logger="kinesis_writer_spark.sources.kinesis_stream"):
        KinesisPartitionedStreamReader({**opts, "max_records_per_batch": "128"})
    assert any("AvailableNow" in r.message and "drain_backlog" in r.message
               for r in caplog.records)
    # no cap -> no warning noise
    caplog.clear()
    with caplog.at_level(logging.WARNING,
                         logger="kinesis_writer_spark.sources.kinesis_stream"):
        KinesisPartitionedStreamReader(opts)
    assert not caplog.records

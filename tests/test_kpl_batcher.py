"""Stateful streaming KPL batcher: the reference's size-bounded batching
(AggRecord.java:151-184) under a soft cap, run as a per-key stateful
streaming operator, raw-tail state carried across micro-batches
(MyAggregator.scala:10-15 replay representation).

Every streaming case runs on both state stores, the default HDFS-backed one
and RocksDB; the store is a session setting, set and restored per test.
"""

from __future__ import annotations

import json
import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from kinesis_writer_spark import io as kio
from kinesis_writer_spark.kpl import MAX_BYTES_PER_RECORD, AggRecordBuilder
from kinesis_writer_spark.kpl.deaggregator import deaggregate
from kinesis_writer_spark.streaming.kpl_batcher import fold_batches, kpl_batch_stream
from kinesis_writer_spark.streaming.windows import read_event_stream
from tests.conftest import SF_DIR

SOFT_MAX = 300  # tiny soft cap so every key flushes several times

PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}
STORES = sorted(PROVIDERS)


@contextmanager
def state_store(spark, store: str):
    """Run streaming queries started inside on ``store``; restore after."""
    previous = spark.conf.get(PROVIDER_KEY, None)
    spark.conf.set(PROVIDER_KEY, PROVIDERS[store])
    try:
        yield
    finally:
        if previous is None:
            spark.conf.unset(PROVIDER_KEY)
        else:
            spark.conf.set(PROVIDER_KEY, previous)


@pytest.fixture(params=STORES)
def store(request, spark):
    with state_store(spark, request.param):
        yield request.param


def _keyed_events(spark, path: str):
    return read_event_stream(spark, path, max_files_per_trigger=1).select(
        F.col("user_id").cast("string").alias("pk"),
        F.to_json(F.struct("event_id", "user_id", "event_type", "value"))
        .cast("binary")
        .alias("data"),
    )


@pytest.fixture(scope="module")
def run_batcher(spark, tmp_path_factory):
    """``run(store)`` batches the sf0.001 events once per store and returns
    (output rows, per-key input counts, micro-batches, rocksdb metrics seen)."""
    path = str(tmp_path_factory.mktemp("replay") / "events")
    kio.load(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(path)
    totals = {
        str(r.pk): r.n
        for r in kio.load(spark, SF_DIR, "events")
        .groupBy(F.col("user_id").cast("string").alias("pk"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    results: dict[str, tuple] = {}

    def run(store: str) -> tuple:
        if store not in results:
            name = f"kpl_batches_{store}"
            with state_store(spark, store):
                q = (
                    kpl_batch_stream(_keyed_events(spark, path), soft_max_bytes=SOFT_MAX)
                    .writeStream.format("memory")
                    .queryName(name)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            progress = q.recentProgress
            q.stop()
            rocksdb = any(
                key.startswith("rocksdb")
                for p in progress
                for op in p.get("stateOperators") or []
                for key in op.get("customMetrics") or {}
            )
            out = spark.sql(f"SELECT * FROM {name}").collect()
            results[store] = (out, totals, len(progress), rocksdb)
        return results[store]

    return run


@pytest.fixture(params=STORES)
def batched(request, run_batcher):
    return run_batcher(request.param)


def test_runs_on_the_chosen_store(request, batched):
    *_, rocksdb = batched
    assert rocksdb == (request.node.callspec.params["batched"] == "rocksdb")


def test_stores_emit_identical_wire_rows(run_batcher):
    rows = {
        store: sorted((r.pk, r.batch_seq, bytes(r.wire)) for r in run_batcher(store)[0])
        for store in STORES
    }
    assert rows["hdfs"], "no batches emitted"
    assert rows["hdfs"] == rows["rocksdb"]


def test_state_spans_micro_batches(batched):
    _, _, n_batches, _ = batched
    assert n_batches >= 4


def test_every_batch_is_valid_kpl_wire(batched):
    out, _, _, _ = batched
    assert out, "no batches emitted"
    for row in out:
        wire = bytes(row.wire)
        assert len(wire) == row.batch_bytes <= MAX_BYTES_PER_RECORD
        records = deaggregate(wire)
        assert len(records) == row.n_records >= 1
        for rec in records:
            assert rec.partition_key == row.pk
            assert json.loads(bytes(rec.data))["user_id"] == int(row.pk)


def test_batch_seqs_contiguous_per_key(batched):
    out, _, _, _ = batched
    by_key: dict[str, list[int]] = {}
    for row in out:
        by_key.setdefault(row.pk, []).append(row.batch_seq)
    assert any(len(v) >= 2 for v in by_key.values()), "soft cap never refilled"
    for pk, seqs in by_key.items():
        assert sorted(seqs) == list(range(len(seqs))), f"gap in seq for {pk}"


def test_residual_tail_bounded_by_soft_cap(batched):
    # flush invariant: the unflushed tail is always < SOFT_MAX framed bytes,
    # so per key (total - emitted) records must fit under the soft cap
    out, totals, _, _ = batched
    emitted: dict[str, int] = {}
    for row in out:
        emitted[row.pk] = emitted.get(row.pk, 0) + row.n_records
    min_payload = 40  # json of the struct is far bigger; conservative floor
    for pk, total in totals.items():
        residual = total - emitted.get(pk, 0)
        assert residual >= 0
        assert residual * min_payload < SOFT_MAX, (
            f"key {pk}: residual {residual} records cannot fit under the soft cap"
        )


def test_fold_batches_core_invariants():
    # order-preserving: concatenated batch contents + tail == input sequence
    payloads = [f"payload-{i:04d}".encode() for i in range(100)]
    completed, tail = fold_batches("k", iter(payloads), soft_max=256)
    rebuilt = [bytes(r.data) for _, w in completed for r in deaggregate(w)] + tail
    assert rebuilt == payloads
    for _, wire in completed:
        assert len(wire) >= 256 or wire is completed[-1][1]


def _reference_fold(pk, payloads, soft_max):
    """The batcher's add-then-flush loop written out on AggRecordBuilder:
    close a record when the next payload overflows the protocol cap, or
    as soon as an add brings it to the soft cap."""
    agg, pending, completed = AggRecordBuilder(), [], []

    def flush():
        completed.append((agg.num_user_records, agg.to_bytes()))
        agg.clear()
        pending.clear()

    for data in payloads:
        if not agg.add_user_record(pk, data):
            flush()
            agg.add_user_record(pk, data)
        pending.append(data)
        if agg.size_bytes >= soft_max:
            flush()
    return completed, pending


def test_fold_batches_matches_reference_loop():
    # random payload sets, some large enough to close records at the
    # protocol cap under the soft cap; then one set replayed micro-batch by
    # micro-batch (tail ahead of the next rows) gives the straight run
    rng = random.Random(7)
    protocol_closed = 0
    for _ in range(80):
        soft_max = rng.choice([64, 300, 16_384, 900_000, 2_000_000])
        big = rng.random() < 0.3
        payloads = [
            rng.randbytes(rng.randint(200_000, 500_000) if big and rng.random() < 0.5
                          else rng.randint(0, 2_000))
            for _ in range(rng.randint(0, 60))
        ]
        got = fold_batches("k", iter(payloads), soft_max)
        assert got == _reference_fold("k", payloads, soft_max)
        protocol_closed += sum(len(w) < soft_max for _, w in got[0])
    assert protocol_closed, "no record closed at the protocol cap"

    payloads = [rng.randbytes(rng.randint(0, 400_000)) for _ in range(60)]
    completed, tail = [], []
    for start in range(0, len(payloads), 7):
        done, tail = fold_batches("k", iter(tail + payloads[start : start + 7]), 900_000)
        completed += done
    assert len(completed) > 1
    assert (completed, tail) == fold_batches("k", iter(payloads), 900_000)


def test_checkpoint_restart_resumes_state(store, spark, tmp_path):
    """Kill the query mid-corpus and restart from the checkpoint: batch
    sequences stay contiguous per key, no aggregated record is emitted
    twice, and the unflushed tail carried in the state store survives the
    restart (the replay-from-raw representation, MyAggregator.scala:10-15).
    """
    src = tmp_path / "events"
    events = kio.load(spark, SF_DIR, "events").repartition(6)
    events.write.mode("overwrite").parquet(str(src))
    files = sorted(f.name for f in src.glob("part-*"))
    half = tmp_path / "half"
    half.mkdir()
    for f in files[:3]:
        (half / f).symlink_to(src / f)
    ckpt = str(tmp_path / "ckpt")

    sink = str(tmp_path / "out")

    def run(path: str) -> None:
        q = (
            kpl_batch_stream(_keyed_events(spark, path), soft_max_bytes=SOFT_MAX)
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()

    run(str(half))
    for f in files[3:]:
        (half / f).symlink_to(src / f)
    run(str(half))

    out = spark.read.parquet(sink).collect()
    by_key: dict[str, list[int]] = {}
    for row in out:
        by_key.setdefault(row.pk, []).append(row.batch_seq)
    assert by_key, "no batches emitted across restart"
    for pk, seqs in by_key.items():
        assert sorted(seqs) == list(range(len(seqs))), f"gap/dup in seq for {pk}"

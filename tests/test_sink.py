"""Fake-client integration tests for the sink (FIXTURES.md B2/B3):
flush-branch coverage, retry schedule, replay re-encoding, count preservation.
"""

from __future__ import annotations

import logging
import random

import pytest

from kinesis_writer_spark.kpl import MAX_BYTES_PER_RECORD
from kinesis_writer_spark.sink import (
    FATAL_ERROR_MARKERS,
    MAX_LAST_RECORD_SIZE,
    MIN_ERROR_REFRESH_INTERVAL_S,
    SOFT_MAX_SIZE,
    FakeKinesisClient,
    KinesisStreamWriter,
    ShardRateLimiter,
    ShardRouter,
    batch_records,
    list_shards,
    open_shard_midpoints,
    retry_delay_seconds,
)


def make_writer(client, **kw):
    return KinesisStreamWriter("test-stream", client, sleep=lambda s: None, **kw)


class TestShardDiscovery:
    def test_paginated_open_shard_midpoints(self):
        client = FakeKinesisClient(num_shards=4)
        mids = open_shard_midpoints(client, "s")
        assert len(mids) == 4
        space = 1 << 128
        for i, m in enumerate(mids):
            lo, hi = i * space // 4, (i + 1) * space // 4 - 1
            assert int(m) == lo + (hi - lo) // 2

    def test_closed_shards_excluded(self):
        client = FakeKinesisClient(num_shards=3)
        client.shards[1]["SequenceNumberRange"]["EndingSequenceNumber"] = "99"
        assert len(open_shard_midpoints(client, "s")) == 2

    def test_discovery_retries_on_transient_failures(self):
        class FlakyClient(FakeKinesisClient):
            def __init__(self):
                super().__init__(num_shards=2)
                self.calls = 0

            def list_shards(self, *a, **kw):
                self.calls += 1
                if self.calls <= 2:
                    raise RuntimeError("LimitExceededException: simulated")
                return super().list_shards(*a, **kw)

        sleeps = []
        client = FlakyClient()
        writer = KinesisStreamWriter("s", client, sleep=sleeps.append)
        assert sleeps == [2, 4]  # back-off applied to the discovery phase too
        assert writer.write([b"x"]) == 1

    def test_merge_reports_both_parents(self):
        client = FakeKinesisClient(num_shards=4)
        client.merge_adjacent_shards()
        shards = {s["ShardId"]: s for s in list_shards(client, "s")}
        children = {sid: s for sid, s in shards.items() if s.get("ParentShardId")}
        assert {
            sid: (s["ParentShardId"], s["AdjacentParentShardId"])
            for sid, s in children.items()
        } == {
            "shardId-000000000004": ("shardId-000000000000", "shardId-000000000001"),
            "shardId-000000000005": ("shardId-000000000002", "shardId-000000000003"),
        }
        # each child spans its two parents' hash ranges; only children stay open
        for s in children.values():
            lo = shards[s["ParentShardId"]]["HashKeyRange"]["StartingHashKey"]
            hi = shards[s["AdjacentParentShardId"]]["HashKeyRange"]["EndingHashKey"]
            assert s["HashKeyRange"] == {"StartingHashKey": lo, "EndingHashKey": hi}
        assert len(open_shard_midpoints(client, "s")) == 2

    def test_router_deterministic_with_seed(self):
        mids = [str(i) for i in range(8)]
        a = ShardRouter(mids, seed=42)
        b = ShardRouter(mids, seed=42)
        assert [a.next_hash_key() for _ in range(20)] == [b.next_hash_key() for _ in range(20)]


class TestBatching:
    def test_soft_cap_small_record_flushes_after_add(self):
        # 6 x 167k = ~1_002_000 B: above the soft cap, below the protocol cap;
        # a small record then joins the batch and the batch flushes right after
        payloads = [("a", None, bytes(167_000)) for _ in range(6)] + [("a", None, b"tiny")]
        batches = list(batch_records(payloads))
        assert len(batches) == 1
        first = batches[0]
        assert first.num_user_records == 7
        assert first.size_bytes >= SOFT_MAX_SIZE
        # the tiny record is inside the flushed batch, not a new one
        assert first.raw_records()[-1][2] == b"tiny"

    def test_soft_cap_large_record_flushes_before_add(self):
        payloads = [("a", None, bytes(167_000)) for _ in range(6)]
        payloads.append(("a", None, bytes(MAX_LAST_RECORD_SIZE + 1)))
        batches = list(batch_records(payloads))
        assert len(batches) == 2
        assert batches[0].num_user_records == 6
        assert batches[1].num_user_records == 1
        assert len(batches[1].raw_records()[0][2]) == MAX_LAST_RECORD_SIZE + 1

    def test_protocol_cap_never_exceeded_property(self):
        rnd = random.Random(42)
        sizes = [rnd.choice([10, 1_000, 99_999, 100_001, 500_000]) for _ in range(60)]
        payloads = [("a", None, bytes(s)) for s in sizes]
        batches = list(batch_records(payloads))
        assert sum(b.num_user_records for b in batches) == len(sizes)
        for b in batches:
            assert len(b.to_bytes()) <= MAX_BYTES_PER_RECORD


class TestRetryReplay:
    def test_retry_schedule_is_linear(self):
        assert [retry_delay_seconds(n) for n in range(5)] == [2, 4, 6, 8, 10]
        assert sum(retry_delay_seconds(n) for n in range(30)) == 930

    def test_failed_record_count_triggers_replay_with_fresh_ehk(self):
        client = FakeKinesisClient(num_shards=4, fail_first_n_puts=2)
        sleeps = []
        writer = KinesisStreamWriter("s", client, sleep=sleeps.append)
        n = writer.write([b"payload-%d" % i for i in range(10)])
        assert n == 10
        assert len(client.put_requests) == 3  # 2 failures + 1 success
        assert sleeps == [2, 4]
        ehks = [req["Records"][0]["ExplicitHashKey"] for req in client.put_requests]
        # replay redraws the hash key (seeded RNG makes collisions possible but
        # the three draws here differ under seed 42 with 4 shards)
        assert len(set(ehks)) > 1

    def test_gives_up_after_max_retries(self):
        client = FakeKinesisClient(num_shards=2, fail_first_n_puts=10**9)
        writer = make_writer(client, max_retries=3)
        with pytest.raises(RuntimeError):
            writer.write([b"x"])
        assert len(client.put_requests) == 4  # initial + 3 retries

    @pytest.mark.parametrize("code", FATAL_ERROR_MARKERS)
    def test_fatal_put_error_raises_without_back_off(self, code):
        client = FakeKinesisClient(num_shards=2)
        sleeps = []
        writer = KinesisStreamWriter("s", client, sleep=sleeps.append)
        client.fail_next_put_with = (
            f"An error occurred ({code}) when calling the PutRecords operation"
        )
        with pytest.raises(RuntimeError, match=code):
            writer.write([b"x"])
        assert sleeps == []
        assert len(client.put_requests) == 1

    def test_fatal_discovery_error_raises_without_back_off(self):
        client = FakeKinesisClient(num_shards=2)
        client.list_shards = lambda **kw: (_ for _ in ()).throw(
            RuntimeError("AccessDeniedException: not authorized")
        )
        sleeps = []
        with pytest.raises(RuntimeError, match="AccessDeniedException"):
            KinesisStreamWriter("s", client, sleep=sleeps.append)
        assert sleeps == []

    def test_resource_in_use_retries_refreshes_and_delivers(self):
        client = FakeKinesisClient(num_shards=2)
        sleeps = []
        writer = KinesisStreamWriter("s", client, sleep=sleeps.append)
        listings = TestRefreshHygiene._count_list_shards(client)
        client.fail_next_put_with = "ResourceInUseException: stream is being updated"
        assert writer.write([b"x" * 1000]) == 1
        assert sleeps == [2]
        assert listings["n"] > 0
        assert len(client.put_requests) == 2 and len(client.received) == 1

    def test_replay_payloads_intact(self):
        client = FakeKinesisClient(num_shards=2, fail_first_n_puts=1)
        writer = make_writer(client)
        payloads = [b"alpha", b"beta", b"gamma"]
        assert writer.write(payloads) == 3
        from tests.test_kpl import decode_aggregated

        _, _, records = decode_aggregated(client.received[0])
        assert [r[2] for r in records] == payloads


class TestLimiterRefund:
    """A put the service rejected for any reason but throughput spent no
    shard budget, so its limiter charge comes back; a throughput rejection
    keeps it. Frozen clock: no refill, so the buckets show every charge."""

    class Logged(ShardRateLimiter):
        def __init__(self):
            super().__init__(
                bytes_per_sec=1000.0, puts_per_sec=10.0,
                clock=lambda: 0.0, sleep=lambda s: None,
            )
            self.log = []

        def acquire(self, shard_key, n_bytes, n_puts=1):
            waited = super().acquire(shard_key, n_bytes, n_puts)
            self.log.append(
                (shard_key, n_bytes, n_puts, tuple(self._buckets[shard_key][:2]))
            )
            return waited

    def _write_one(self, client):
        limiter = self.Logged()
        writer = make_writer(client, rate_limiter=limiter)
        mids = writer.router.midpoints
        for key in mids:
            limiter.acquire(key, 500)  # every bucket at 500 B, 9 puts
        del limiter.log[:]
        assert writer.write([b"r" * 100]) == 1
        return limiter, mids

    def test_resource_in_use_returns_its_tokens(self):
        client = FakeKinesisClient(num_shards=2)
        client.fail_next_put_with = "ResourceInUseException: stream is being updated"
        limiter, mids = self._write_one(client)
        (key, cost, _, charged), refund, retry = limiter.log
        assert charged == (500.0 - cost, 8.0)
        # the refund puts the bucket back where it was before the attempt
        assert refund == (key, -cost, -1, (500.0, 9.0))
        # so the retry is routed to the same, again fullest, shard
        assert retry == (key, cost, 1, (500.0 - cost, 8.0))
        assert len(client.put_requests) == 2 and len(client.received) == 1
        assert limiter._buckets[mids[1]][:2] == [500.0, 9.0]

    def test_throughput_rejection_keeps_its_charge(self):
        client = FakeKinesisClient(num_shards=2, fail_first_n_puts=1)
        limiter, mids = self._write_one(client)
        # no refund: the rejected attempt's charge stays, so the retry
        # goes to the other, now fuller, shard
        assert [(key, n) for key, _cost, n, _state in limiter.log] == [
            (mids[0], 1), (mids[1], 1)
        ]
        for key, cost, _n, _state in limiter.log:
            assert limiter._buckets[key][:2] == [500.0 - cost, 8.0]


class TestEndToEnd:
    def test_count_returned_matches_input(self):
        client = FakeKinesisClient(num_shards=4)
        writer = make_writer(client)
        rnd = random.Random(1)
        payloads = [bytes(rnd.randrange(256) for _ in range(rnd.choice([10, 1000, 50_000]))) for _ in range(500)]
        assert writer.write(payloads) == 500
        from tests.test_kpl import decode_aggregated

        total = sum(len(decode_aggregated(w)[2]) for w in client.received)
        assert total == 500

    def test_each_flush_routed_to_some_open_shard_midpoint(self):
        client = FakeKinesisClient(num_shards=4)
        writer = make_writer(client)
        writer.write([bytes(300_000) for _ in range(12)])
        mids = set(open_shard_midpoints(client, "s"))
        for req in client.put_requests:
            assert req["Records"][0]["ExplicitHashKey"] in mids
        assert len(client.put_requests) >= 3


class TestReshardRefresh:
    """Round-5 capability beyond reference parity: the writer re-discovers
    the shard map when a reshard surfaces (error-triggered or periodic), so
    a long-running sink never keeps routing to closed parents."""

    def _no_sleep(self, _s):
        pass

    def test_reshard_error_refreshes_and_reroutes_to_children(self):
        client = FakeKinesisClient(num_shards=2)
        writer = KinesisStreamWriter("s", client, sleep=self._no_sleep)
        old_mids = set(writer.router.midpoints)
        assert len(old_mids) == 2

        client.split_all_shards()  # both parents close, 4 children open
        client.fail_next_put_with = "ResourceInUseException: shard is closed"
        payloads = [b"x" * 400_000 for _ in range(12)]  # several ~1 MiB flushes
        assert writer.write(payloads) == 12  # zero lost records

        new_mids = set(writer.router.midpoints)
        assert len(new_mids) == 4 and new_mids.isdisjoint(old_mids)
        # the failed put re-sent: every record landed despite the reshard
        assert len(client.received) == len(client.put_requests) - 1
        # EHKs drawn after the refresh target live child shards. One batch
        # may still carry a pre-refresh key: the overflow record that seeds
        # the next builder was keyed before the refresh, and the aggregated
        # record inherits its FIRST record's EHK — that key stays valid
        # (children cover the parent's hash range), it just lands via the
        # child that owns it. Everything after migrates fully.
        post = [
            r["Records"][0]["ExplicitHashKey"] for r in client.put_requests[1:]
        ]
        assert post[0] in new_mids  # the retry itself re-routed
        stale = [ehk for ehk in post if ehk not in new_mids]
        assert len(stale) <= 1
        assert post[-1] in new_mids

    def test_periodic_refresh_without_errors(self):
        client = FakeKinesisClient(num_shards=2)
        writer = KinesisStreamWriter(
            "s", client, sleep=self._no_sleep, refresh_every_flushes=1
        )
        client.split_all_shards()
        # silent reshard: no error ever raised, refresh cadence picks it up
        assert writer.write([b"y" * 400_000 for _ in range(6)]) == 6
        assert len(set(writer.router.midpoints)) == 4

    def test_discovery_failure_keeps_previous_map(self, caplog):
        client = FakeKinesisClient(num_shards=2)
        writer = KinesisStreamWriter("s", client, sleep=self._no_sleep)
        before = writer.router.midpoints
        orig = client.list_shards
        client.list_shards = lambda **kw: (_ for _ in ()).throw(
            RuntimeError("transient listing failure")
        )
        with caplog.at_level(logging.WARNING, logger="kinesis_writer_spark.sink"):
            writer.refresh_shard_map()  # must not raise, must not clear the map
        assert writer.router.midpoints == before
        [record] = caplog.records  # loud, once
        assert record.levelno == logging.WARNING
        assert "'s'" in record.getMessage()
        assert "transient listing failure" in record.getMessage()
        client.list_shards = orig


class TestRefreshHygiene:
    """Round-6 hardening: refresh is ON by default (silent splits are picked
    up without any error trigger), throttling never triggers discovery, and
    a reshard-error retry storm can't become a ListShards storm."""

    def _no_sleep(self, _s):
        pass

    @staticmethod
    def _count_list_shards(client):
        calls = {"n": 0}
        orig = client.list_shards

        def counting(**kw):
            calls["n"] += 1
            return orig(**kw)

        client.list_shards = counting
        return calls

    def test_default_on_periodic_refresh_picks_up_silent_split(self):
        client = FakeKinesisClient(num_shards=2)
        writer = KinesisStreamWriter("s", client, sleep=self._no_sleep)
        assert writer.refresh_every_flushes == 64
        client.split_all_shards()  # NO error will ever be raised
        # ~3 records per ~1 MiB flush -> 200 payloads is ~66 flushes
        assert writer.write(b"z" * 400_000 for _ in range(200)) == 200
        assert len(set(writer.router.midpoints)) == 4  # children discovered

    def test_throttle_error_does_not_trigger_discovery(self):
        client = FakeKinesisClient(num_shards=2)
        writer = KinesisStreamWriter("s", client, sleep=self._no_sleep)
        calls = self._count_list_shards(client)
        client.fail_next_put_with = (
            "ProvisionedThroughputExceededException: rate exceeded"
        )
        assert writer.write([b"a" * 1000]) == 1
        assert calls["n"] == 0  # paced by the rate limiter, not discovery

    def test_error_refresh_cooldown_collapses_retry_storms(self):
        client = FakeKinesisClient(num_shards=2)
        now = {"t": 100.0}
        writer = KinesisStreamWriter(
            "s", client, sleep=self._no_sleep, clock=lambda: now["t"]
        )
        calls = self._count_list_shards(client)

        # three reshard-shaped errors within the cooldown window: only the
        # FIRST refreshes (paginated fake: 1 ListShards call per shard page)
        for _ in range(3):
            client.fail_next_put_with = "ResourceInUseException: resharding"
            writer.write([b"b" * 1000])
        first_burst = calls["n"]
        assert first_burst > 0
        per_sweep = first_burst  # one full pagination sweep

        # past the cooldown, the next reshard error refreshes again
        now["t"] += MIN_ERROR_REFRESH_INTERVAL_S + 1
        client.fail_next_put_with = "ShardClosed: gone"
        writer.write([b"c" * 1000])
        assert calls["n"] == per_sweep * 2

    def test_resource_not_found_does_not_trigger_refresh(self):
        # ResourceNotFound = the stream is GONE, not resharded; re-discovery
        # cannot succeed, so the error path must not burn a ListShards
        # sweep (ADVICE r6: a deleted stream would otherwise surface a
        # discovery error in place of the original fatal put error).
        client = FakeKinesisClient(num_shards=2)
        writer = KinesisStreamWriter("s", client, sleep=self._no_sleep)
        calls = self._count_list_shards(client)
        client.fail_next_put_with = (
            "ResourceNotFoundException: Stream s under account not found"
        )
        with pytest.raises(RuntimeError, match="ResourceNotFoundException"):
            writer.write([b"d" * 1000])  # fatal: the original error, at once
        assert calls["n"] == 0


class TestWritePartition:
    """The one per-partition function both Kinesis fronts call, fed Arrow
    record batches the way a Spark task hands them over."""

    @staticmethod
    def _batch(payloads):
        import pyarrow as pa

        return pa.record_batch([pa.array(payloads, pa.binary())], ["data"])

    def test_empty_partition_makes_no_writer(self):
        from kinesis_writer_spark.sink import write_partition

        def make_writer():
            raise AssertionError("an empty partition built a writer")

        assert write_partition(iter([]), "data", make_writer) == 0
        assert write_partition(iter([self._batch([])] * 3), "data", make_writer) == 0

    def test_payloads_of_every_batch_in_order(self):
        from kinesis_writer_spark.kpl.deaggregator import deaggregate
        from kinesis_writer_spark.sink import write_partition

        client = FakeKinesisClient(num_shards=2)
        payloads = [f"p-{i:03d}".encode() for i in range(30)]
        batches = [self._batch([]), self._batch(payloads[:10]), self._batch([]),
                   self._batch(payloads[10:])]
        n = write_partition(iter(batches), "data", lambda: make_writer(client))
        assert n == 30
        assert [rec.data for wire in client.received for rec in deaggregate(wire)] == payloads


class TestWriteDataframeArrowPath:
    """write_dataframe ships payloads as Arrow batches (mapInArrow) and
    returns the count as job output. Pin the partition-edge behavior:
    empty partitions must be skipped without creating a client (no
    shard-discovery calls for no work), and the count must be exact when
    most partitions are empty."""

    def test_mostly_empty_partitions_count_exact(self, spark):
        from pyspark.sql import functions as F

        from kinesis_writer_spark.sink import FakeKinesisClient, write_dataframe

        df = (
            spark.range(5)
            .select(F.encode(F.format_string("p-%03d", "id"), "utf-8").alias("data"))
            .repartition(16)
        )
        n = write_dataframe(
            df, "s", lambda: FakeKinesisClient(num_shards=2), sleep=lambda s: None
        )
        assert n == 5

    def test_fully_empty_frame_returns_zero(self, spark):
        from pyspark.sql import functions as F

        from kinesis_writer_spark.sink import write_dataframe

        # a predicate the optimizer cannot fold, so both partitions run a
        # task (``filter("false")`` plans no partition at all)
        df = spark.range(0, 10, 1, 2).filter(F.col("id") < 0).select(
            F.encode(F.col("id").cast("string"), "utf-8").alias("data")
        )

        def factory():
            # runs in a Python worker, so only a failed job can show that
            # a client was built for an empty frame
            raise AssertionError("a client was built for an empty frame")

        assert write_dataframe(df, "s", factory, sleep=lambda s: None) == 0

    def test_roundtrip_payloads_through_wire(self, spark, tmp_path):
        # put_records runs in executor Python workers, so the capture must
        # land on disk (a driver-side closure list stays empty)
        import glob
        import uuid

        from pyspark.sql import functions as F

        from kinesis_writer_spark.kpl.deaggregator import deaggregate
        from kinesis_writer_spark.sink import FakeKinesisClient, write_dataframe

        cap = str(tmp_path / "wires")
        import os

        os.makedirs(cap)

        class Capture(FakeKinesisClient):
            def put_records(self, StreamName, Records):
                for r in Records:
                    with open(f"{cap}/{uuid.uuid4().hex}.bin", "wb") as f:
                        f.write(bytes(r["Data"]))
                return super().put_records(StreamName=StreamName, Records=Records)

        df = spark.range(200).select(
            F.encode(F.format_string("payload-%05d", "id"), "utf-8").alias("data")
        ).coalesce(1)
        n = write_dataframe(df, "s", lambda: Capture(num_shards=2), sleep=lambda s: None)
        assert n == 200
        wires = [open(p, "rb").read() for p in glob.glob(f"{cap}/*.bin")]
        got = sorted(
            bytes(rec.data).decode() for wire in wires for rec in deaggregate(wire)
        )
        assert got == [f"payload-{i:05d}" for i in range(200)]

"""Fast fixed-key encoder (kpl/fastpath.py) vs the AggRecordBuilder slow
path: the fast path must be BYTE-IDENTICAL on the wire — same flush
boundaries, same protobuf bodies, one EHK per flush drawn when its batch
opens — across every flush-policy branch (soft-cap add-then-flush,
flush-before for oversize records, hard-cap overflow carry, tail flush).
The comparison runs the full writer against capture clients and diffs the
exact PutRecords byte streams, so it also pins the send/route plumbing
around the encoder.
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kinesis_writer_spark.kpl.aggregator import AggRecordBuilder
from kinesis_writer_spark.kpl.deaggregator import deaggregate
from kinesis_writer_spark.kpl.fastpath import FastBatcher
from kinesis_writer_spark.kpl.protocol import MAX_BYTES_PER_RECORD
from kinesis_writer_spark.sink import (
    DEFAULT_PARTITION_KEY,
    MAX_LAST_RECORD_SIZE,
    SOFT_MAX_SIZE,
    FakeKinesisClient,
    KinesisStreamWriter,
    batch_records,
    open_shard_midpoints,
)

#: Payload sizes that reach every flush-policy branch: small records
#: (soft-cap add-then-flush), ~100 KB ones around ``MAX_LAST_RECORD_SIZE``
#: (flush-before) and ~0.5-0.9 MB ones (hard-cap overflow carry).
ADVERSARIAL_SIZES = st.lists(
    st.one_of(
        st.integers(1, 300),
        st.integers(40_000, 120_000),
        st.integers(400_000, 900_000),
    ),
    min_size=1,
    max_size=120,
)


def _slow_write(writer: KinesisStreamWriter, payloads) -> int:
    """The reference write(): batch_records's flush policy over
    AggRecordBuilder, each batch keyed by one router draw when its first
    record is added (after the previous flush was sent). Kept here as the
    equivalence oracle."""
    agg = AggRecordBuilder()
    count = 0

    def add(data) -> bool:
        if agg.num_user_records:
            key = agg.explicit_hash_key
        else:
            key = writer.router.next_hash_key()
        return agg.add_user_record(DEFAULT_PARTITION_KEY, data, key)

    def ship() -> None:
        nonlocal agg, count
        count += writer.send(agg)
        writer._flushes_since_discovery += 1
        if (
            writer.refresh_every_flushes is not None
            and writer._flushes_since_discovery >= writer.refresh_every_flushes
        ):
            writer.refresh_shard_map()
        agg = AggRecordBuilder()

    for data in payloads:
        at_soft_cap = agg.size_bytes >= SOFT_MAX_SIZE
        if at_soft_cap and len(data) > MAX_LAST_RECORD_SIZE:
            ship()  # flush-before: the record opens the next batch
            add(data)
        elif not add(data):  # protocol-cap overflow
            ship()
            add(data)
        elif at_soft_cap:
            ship()
    if agg.num_user_records:
        ship()
    return count


def _both(payloads, num_shards: int = 4):
    fast_client = FakeKinesisClient(num_shards=num_shards)
    slow_client = FakeKinesisClient(num_shards=num_shards)
    fast_w = KinesisStreamWriter("s", fast_client)
    slow_w = KinesisStreamWriter("s", slow_client)
    n_fast = fast_w.write(iter(payloads))
    n_slow = _slow_write(slow_w, iter(payloads))
    return fast_client, slow_client, n_fast, n_slow


def _requests(client: FakeKinesisClient):
    return [
        (r["Data"], r["PartitionKey"], r["ExplicitHashKey"])
        for req in client.put_requests
        for r in req["Records"]
    ]


def assert_identical(payloads, num_shards: int = 4):
    fast_client, slow_client, n_fast, n_slow = _both(payloads, num_shards)
    assert n_fast == n_slow == len(payloads)
    assert _requests(fast_client) == _requests(slow_client)
    # and the wire decodes back to the exact input payloads, in order
    decoded = [
        rec.data
        for req in fast_client.put_requests
        for r in req["Records"]
        for rec in deaggregate(r["Data"])
    ]
    assert decoded == [bytes(p) for p in payloads]


class TestWireEquivalence:
    def test_small_steady_stream_multi_flush(self):
        assert_identical([b"x" * 100] * 25_000)

    def test_varied_small_sizes(self):
        rng = random.Random(7)
        assert_identical(
            [bytes([i % 251]) * rng.randrange(1, 400) for i in range(20_000)]
        )

    def test_oversize_at_soft_cap_flush_before(self):
        # fill to the soft cap with ~50 KB records, then a >100 KB record
        # triggers the flush-before branch and opens the next batch
        payloads = [b"a" * 50_000] * 21 + [b"B" * 150_000] + [b"c" * 100] * 50
        assert_identical(payloads)

    def test_hard_cap_overflow_below_soft_cap(self):
        # two ~520 KB records: the second overflows the 1 MiB protocol cap
        # while still below the soft cap -> overflow carry branch
        payloads = [b"p" * 520_000, b"q" * 520_000, b"r" * 10]
        assert_identical(payloads)

    def test_tail_flush_partial_batch(self):
        assert_identical([b"t" * 64] * 17)

    def test_empty_input_no_puts(self):
        fast_client, slow_client, n_fast, n_slow = _both([])
        assert n_fast == n_slow == 0
        assert fast_client.put_requests == slow_client.put_requests == []

    def test_single_record(self):
        assert_identical([b"only"])

    def test_bytearray_payloads_coerced(self):
        assert_identical([bytearray(b"ba" * 30)] * 500)

    @settings(max_examples=25, deadline=None)
    @given(sizes=ADVERSARIAL_SIZES)
    def test_adversarial_size_mixes(self, sizes):
        rng = random.Random(42)
        payloads = [bytes([rng.randrange(256)]) * s for s in sizes]
        assert_identical(payloads)


class TestErrorParity:
    def test_oversize_record_raises_like_slow_path(self):
        from kinesis_writer_spark.kpl.protocol import MAX_USER_PAYLOAD

        too_big = b"z" * (MAX_USER_PAYLOAD + 1)
        for run in (
            lambda: KinesisStreamWriter("s", FakeKinesisClient()).write(
                iter([too_big])
            ),
            lambda: _slow_write(
                KinesisStreamWriter("s", FakeKinesisClient()), iter([too_big])
            ),
        ):
            with pytest.raises(ValueError, match="record data exceeds"):
                run()

    def test_never_fits_record_raises_like_slow_path(self):
        # fits the payload bound but not the framed protocol cap once the
        # key tables + prefixes are charged
        from kinesis_writer_spark.kpl.protocol import MAX_USER_PAYLOAD

        edge = b"z" * MAX_USER_PAYLOAD
        for run in (
            lambda: KinesisStreamWriter("s", FakeKinesisClient()).write(
                iter([edge])
            ),
            lambda: _slow_write(
                KinesisStreamWriter("s", FakeKinesisClient()), iter([edge])
            ),
        ):
            with pytest.raises(ValueError, match="can never fit"):
                run()

    def test_none_payload_raises_value_error(self):
        w = KinesisStreamWriter("s", FakeKinesisClient())
        with pytest.raises(ValueError, match="must not be None"):
            w.write(iter([b"ok", None]))


class TestFastAggRecordSurface:
    def test_raw_records_reconstruct_carry_run(self):
        batcher = FastBatcher(DEFAULT_PARTITION_KEY, 300, 100)
        ehks = iter(["1111", "2222", "3333"])

        # 150-byte records against a 300-byte soft cap: the third record
        # finds the batch at the soft cap and is >100 (max_last) ->
        # flush-before; the carried record opens the next batch and takes
        # that batch's key
        payloads = [b"a" * 150, b"b" * 150, b"c" * 150]
        aggs = list(batcher.flushes(iter(payloads), lambda: next(ehks)))
        raws = [agg.raw_records() for agg in aggs]
        flat = [r for batch in raws for r in batch]
        assert [d for _pk, _e, d in flat] == payloads
        assert all(pk == DEFAULT_PARTITION_KEY for pk, _e, _d in flat)
        assert sum(agg.num_user_records for agg in aggs) == 3
        # one key per flush, one key-source call per batch
        assert [[e for _pk, e, _d in raw] for raw in raws] == [
            ["1111", "1111"], ["2222"]
        ]
        assert [agg.explicit_hash_key for agg in aggs] == ["1111", "2222"]

    def test_retry_replay_rebuilds_from_fast_record(self):
        client = FakeKinesisClient()
        client.fail_next_put_with = "transient"
        w = KinesisStreamWriter("s", client, sleep=lambda _s: None)
        n = w.write(iter([b"r1", b"r2", b"r3"]))
        assert n == 3
        decoded = [
            rec.data
            for req in client.put_requests[-1:]
            for r in req["Records"]
            for rec in deaggregate(r["Data"])
        ]
        assert decoded == [b"r1", b"r2", b"r3"]


class TestFlushBeforeRaiseParity:
    """r12 advice: the fast path must not drop a flush the slow path
    would have delivered before failing. With a pending at-soft-cap batch,
    an oversize record yields that batch FIRST on both paths, then raises
    on the next generator advance (slow path: clear_and_get yields before
    add_user_record's validate_data fires)."""

    def _drain(self, gen):
        yielded = []
        err = None
        try:
            for batch in gen:
                yielded.append(batch.num_user_records)
        except ValueError as e:
            err = str(e)
        return yielded, err

    def test_oversize_after_soft_cap_yields_pending_batch_first(self):
        from kinesis_writer_spark.kpl.protocol import MAX_USER_PAYLOAD
        from kinesis_writer_spark.sink import (
            MAX_LAST_RECORD_SIZE,
            SOFT_MAX_SIZE,
            batch_records,
        )

        payloads = [b"x" * 200_000] * 5 + [b"z" * (MAX_USER_PAYLOAD + 1)]
        ehk = "123"

        fb = FastBatcher("a", SOFT_MAX_SIZE, MAX_LAST_RECORD_SIZE)
        fast_yields, fast_err = self._drain(fb.flushes(iter(payloads), lambda: ehk))
        slow_yields, slow_err = self._drain(
            batch_records(("a", ehk, p) for p in payloads)
        )
        assert fast_yields == slow_yields == [5]
        assert fast_err == slow_err
        assert "record data exceeds" in fast_err

    def test_oversize_below_soft_cap_raises_without_flush_on_both(self):
        from kinesis_writer_spark.kpl.protocol import MAX_USER_PAYLOAD
        from kinesis_writer_spark.sink import (
            MAX_LAST_RECORD_SIZE,
            SOFT_MAX_SIZE,
            batch_records,
        )

        payloads = [b"x" * 10_000] * 3 + [b"z" * (MAX_USER_PAYLOAD + 1)]
        ehk = "123"

        fb = FastBatcher("a", SOFT_MAX_SIZE, MAX_LAST_RECORD_SIZE)
        fast_yields, fast_err = self._drain(fb.flushes(iter(payloads), lambda: ehk))
        slow_yields, slow_err = self._drain(
            batch_records(("a", ehk, p) for p in payloads)
        )
        assert fast_yields == slow_yields == []
        assert fast_err == slow_err
        assert "record data exceeds" in fast_err


def _fast_flushes(payloads, ehk: str):
    batcher = FastBatcher(DEFAULT_PARTITION_KEY, SOFT_MAX_SIZE, MAX_LAST_RECORD_SIZE)
    return list(batcher.flushes(iter(payloads), lambda: ehk))


class TestRekey:
    """A flush routed when it is sent is re-keyed after batching: the
    re-keyed record must be exactly what aggregating its payloads under the
    new key would have produced."""

    MIDS = open_shard_midpoints(FakeKinesisClient(num_shards=4), "s")

    @settings(max_examples=25, deadline=None)
    @given(sizes=ADVERSARIAL_SIZES)
    def test_rekey_matches_slow_path_under_new_key(self, sizes):
        # two keys of the same length, so the flush boundaries agree
        old, new = self.MIDS[1], self.MIDS[3]
        assert len(old) == len(new) and old != new
        rng = random.Random(42)
        payloads = [bytes([rng.randrange(256)]) * s for s in sizes]
        fast = _fast_flushes(payloads, old)
        moved = [agg.with_explicit_hash_key(new) for agg in fast]
        slow = list(
            batch_records((DEFAULT_PARTITION_KEY, new, p) for p in payloads)
        )
        assert [m.to_bytes() for m in moved] == [b.to_bytes() for b in slow]
        assert [m.explicit_hash_key for m in moved] == [new] * len(slow)
        assert [m.raw_records() for m in moved] == [b.raw_records() for b in slow]
        assert [m.num_user_records for m in moved] == [
            a.num_user_records for a in fast
        ]
        assert [m.size_bytes for m in moved] == [b.size_bytes for b in slow]

    def test_rekey_across_key_lengths(self):
        short, long_ = self.MIDS[0], self.MIDS[3]
        assert len(short) < len(long_)
        payloads = [b"k" * s for s in (300, 50_000, 520_000, 520_000, 120_000, 10)]
        for old, new in ((short, long_), (long_, short)):
            for agg in _fast_flushes(payloads, old):
                [slow] = batch_records(
                    (pk, new, d) for pk, _ehk, d in agg.raw_records()
                )
                assert agg.with_explicit_hash_key(new).to_bytes() == slow.to_bytes()

    def test_carry_record_is_rebuilt_under_one_key(self):
        batcher = FastBatcher(DEFAULT_PARTITION_KEY, SOFT_MAX_SIZE, MAX_LAST_RECORD_SIZE)
        draws = iter(self.MIDS)
        # 400 KB records: the third overflows the cap and is carried into
        # the next batch, which it opens under that batch's own draw
        flushes = list(
            batcher.flushes(iter([b"c" * 400_000] * 5), lambda: next(draws))
        )
        assert [agg.explicit_hash_key for agg in flushes] == self.MIDS[:3]
        carry = flushes[1]
        assert {ehk for _pk, ehk, _d in carry.raw_records()} == {self.MIDS[1]}
        [own] = batch_records(carry.raw_records())
        assert carry.to_bytes() == own.to_bytes()
        moved = carry.with_explicit_hash_key(self.MIDS[3])
        [slow] = batch_records(
            (pk, self.MIDS[3], d) for pk, _ehk, d in carry.raw_records()
        )
        assert moved.to_bytes() == slow.to_bytes()
        assert moved.num_user_records == carry.num_user_records == 2

    def test_rekey_never_outgrows_the_protocol_cap(self):
        short, long_ = self.MIDS[0], self.MIDS[3]
        # one payload that fills the record to exactly the cap under the
        # shorter key: the longer key cannot fit, so the record keeps its own
        probe = AggRecordBuilder()
        probe.add_user_record(DEFAULT_PARTITION_KEY, b"f" * 1_000_000, short)
        fill = 1_000_000 + MAX_BYTES_PER_RECORD - probe.size_bytes
        [agg] = _fast_flushes([b"f" * fill], short)
        assert agg.size_bytes == MAX_BYTES_PER_RECORD
        assert agg.with_explicit_hash_key(long_) is agg
        assert agg.with_explicit_hash_key(short) is agg  # same key: no work

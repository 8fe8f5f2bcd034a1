"""ShardRateLimiter tests on virtual time: proactive pacing must hold the
per-shard bytes/s and puts/s budgets without ever deadlocking."""

from __future__ import annotations

import pytest

from kinesis_writer_spark.kpl.deaggregator import deaggregate
from kinesis_writer_spark.sink import (
    FakeKinesisClient,
    KinesisStreamWriter,
    ShardRateLimiter,
    ShardRouter,
    open_shard_midpoints,
)


class VirtualClock:
    def __init__(self) -> None:
        self.now = 0.0
        self.sleeps: list[float] = []

    def clock(self) -> float:
        return self.now

    def sleep(self, seconds: float) -> None:
        self.sleeps.append(seconds)
        self.now += seconds


def make_limiter(vc: VirtualClock, **kw) -> ShardRateLimiter:
    kw.setdefault("bytes_per_sec", 1000.0)
    kw.setdefault("puts_per_sec", 10.0)
    kw.setdefault("burst_seconds", 1.0)
    return ShardRateLimiter(clock=vc.clock, sleep=vc.sleep, **kw)


class TestBuckets:
    def test_burst_passes_without_wait(self, *a):
        vc = VirtualClock()
        rl = make_limiter(vc)
        assert rl.acquire("s0", 1000) == 0.0  # exactly the burst budget
        assert vc.sleeps == []

    def test_sustained_rate_is_paced(self):
        vc = VirtualClock()
        rl = make_limiter(vc)
        total = sum(rl.acquire("s0", 1000) for _ in range(4))
        # 4000 bytes through a 1000 B/s bucket with 1000 B burst: the last
        # three sends wait ~1 s each
        assert 2.9 <= total <= 3.1
        assert vc.now >= 2.9

    def test_puts_cap_independent_of_bytes(self):
        vc = VirtualClock()
        rl = make_limiter(vc, puts_per_sec=2.0, burst_seconds=1.0)
        waits = [rl.acquire("s0", 1) for _ in range(5)]
        # 5 tiny puts at 2 puts/s with a 2-put burst: ~1.5 s of pacing
        assert 1.4 <= sum(waits) <= 1.6

    def test_shards_have_independent_budgets(self):
        vc = VirtualClock()
        rl = make_limiter(vc)
        assert rl.acquire("s0", 1000) == 0.0
        assert rl.acquire("s1", 1000) == 0.0  # different shard, fresh bucket
        assert rl.acquire("s0", 1000) > 0.0

    def test_oversized_cost_delays_but_never_deadlocks(self):
        vc = VirtualClock()
        rl = make_limiter(vc)
        w1 = rl.acquire("s0", 5000)  # 5x the burst capacity
        assert w1 >= 3.9  # needs ~4 s of refill beyond the burst
        w2 = rl.acquire("s0", 1000)
        assert w2 >= 0.0  # debt paid, next send proceeds

    def test_oversized_costs_sustain_the_configured_rate(self):
        # Regression: the old refill-after-sleep re-capped the bucket at
        # burst before subtracting, double-charging any cost above burst
        # capacity (5000 B records through 1000 B/s settled at ~555 B/s).
        vc = VirtualClock()
        rl = make_limiter(vc, puts_per_sec=1e9)
        for _ in range(10):
            rl.acquire("s0", 5000)
        # 50 000 B through 1000 B/s with a 1000 B burst: ~49 s, not ~90 s
        assert 48.5 <= vc.now <= 49.5

    def test_negative_cost_refunds_without_sleeping(self):
        vc = VirtualClock()
        rl = make_limiter(vc)
        rl.acquire("s0", 600, 4)
        assert rl.acquire("s0", -300, -1) == 0.0
        assert rl._buckets["s0"][:2] == [700.0, 7.0]
        # a credit never lifts a bucket past its burst
        assert rl.acquire("s0", -5000, -100) == 0.0
        assert rl._buckets["s0"][:2] == [1000.0, 10.0]
        # a refund into a bucket still in debt credits it and never waits
        rl.acquire("s1", 3000)  # 2000 B in debt: sleeps 2 s
        assert rl.acquire("s1", -500, -1) == 0.0
        assert vc.sleeps == [2.0]
        assert rl._buckets["s1"][:2] == [500.0, 10.0]

    def test_idle_time_refills_to_burst_only(self):
        vc = VirtualClock()
        rl = make_limiter(vc)
        rl.acquire("s0", 1000)
        vc.now += 100.0  # long idle: tokens must cap at burst, not 100x
        assert rl.acquire("s0", 1000) == 0.0
        assert rl.acquire("s0", 1000) > 0.0

    @pytest.mark.parametrize(
        "key,value",
        [
            ("bytes_per_sec", float("inf")),
            ("bytes_per_sec", float("nan")),
            ("bytes_per_sec", -5),
            ("puts_per_sec", 0),
            ("puts_per_sec", float("inf")),
            ("burst_seconds", float("nan")),
            ("burst_seconds", 0),
        ],
    )
    def test_rates_that_switch_pacing_off_are_rejected(self, key, value):
        # a nan, inf or negative rate makes every acquire return 0.0 (pacing
        # off) and a zero one divides by zero inside acquire
        with pytest.raises(ValueError, match=f"{key} must be > 0 and finite"):
            make_limiter(VirtualClock(), **{key: value})


class TestWriterIntegration:
    def test_writer_paces_and_delivers_everything(self):
        vc = VirtualClock()
        limiter = ShardRateLimiter(
            bytes_per_sec=200_000.0,
            puts_per_sec=10.0,
            burst_seconds=1.0,
            clock=vc.clock,
            sleep=vc.sleep,
        )
        client = FakeKinesisClient(num_shards=2)
        writer = KinesisStreamWriter(
            "s", client, sleep=vc.sleep, rate_limiter=limiter
        )
        payloads = [b"x" * 150_000 for _ in range(6)]  # ~0.9 MiB total
        n = writer.write(payloads)
        assert n == 6
        # every byte arrived (at-least-once with no failures = exactly once)
        assert len(client.received) >= 1
        # pacing happened: >0.9 MB through a 200 kB/s budget split over 2
        # shards needs multiple seconds of virtual sleep
        assert sum(vc.sleeps) > 1.0

    def test_no_limiter_means_no_pacing(self):
        vc = VirtualClock()
        client = FakeKinesisClient(num_shards=2)
        writer = KinesisStreamWriter("s", client, sleep=vc.sleep)
        writer.write([b"x" * 150_000 for _ in range(6)])
        assert vc.sleeps == []


class TestThrottlingClient:
    """ThrottlingKinesisClient: the service-side twin of the limiter —
    per-shard token buckets that REJECT with the real partial-failure
    shape instead of pacing, so the writer's reactive back-off envelope
    (linear retry + re-route) is testable on virtual time."""

    def _client(self, vc: VirtualClock, **kw):
        from kinesis_writer_spark.sink import ThrottlingKinesisClient

        kw.setdefault("num_shards", 1)
        kw.setdefault("bytes_per_sec_per_shard", 1000.0)
        kw.setdefault("puts_per_sec_per_shard", 10.0)
        return ThrottlingKinesisClient(clock=vc.clock, **kw)

    @staticmethod
    def _put(client, n_bytes: int, ehk: str = "0"):
        return client.put_records(
            StreamName="s",
            Records=[{"Data": b"x" * n_bytes, "PartitionKey": "a",
                      "ExplicitHashKey": ehk}],
        )

    def test_over_budget_put_fails_with_service_shape_and_spends_nothing(self):
        vc = VirtualClock()
        c = self._client(vc)
        assert self._put(c, 600)["FailedRecordCount"] == 0
        resp = self._put(c, 600)  # 1200 > 1000 burst budget
        assert resp["FailedRecordCount"] == 1
        assert (
            resp["Records"][0]["ErrorCode"]
            == "ProvisionedThroughputExceededException"
        )
        assert len(c.received) == 1  # the failed put spent nothing
        # a smaller put still inside the remaining 400 tokens succeeds
        assert self._put(c, 300)["FailedRecordCount"] == 0

    def test_refill_allows_after_wait(self):
        vc = VirtualClock()
        c = self._client(vc)
        self._put(c, 1000)
        assert self._put(c, 1000)["FailedRecordCount"] == 1
        vc.now += 1.0  # 1 s refills the full 1000 B/s budget
        assert self._put(c, 1000)["FailedRecordCount"] == 0
        assert c.throttle_errors == 1

    def test_split_charges_the_open_childrens_buckets(self):
        # after a split the service routes each key to the open child that
        # covers it; the closed parents' buckets are never charged again
        vc = VirtualClock()
        c = self._client(vc, num_shards=2)
        c.split_all_shards()
        children = [s["ShardId"] for s in c.shards if s.get("ParentShardId")]
        routed = [
            self._put(c, 100, ehk)["Records"][0]["ShardId"]
            for ehk in open_shard_midpoints(c, "s")
        ]
        assert routed == children
        assert sorted(c._buckets) == sorted(children)

    def test_writer_rides_out_sustained_throttle_on_virtual_time(self):
        """The reactive envelope end-to-end: offered load far above the cap
        must DEGRADE to ~the cap via linear back-off + re-route, complete
        with zero loss, and never exhaust the retry budget."""
        vc = VirtualClock()
        # burst capacity must exceed one ~1 MB aggregated flush, or a
        # max-size put could NEVER pass (the real service accepts a full
        # 1 MiB put against its 1 MiB/s budget for the same reason)
        c = self._client(
            vc, num_shards=2, bytes_per_sec_per_shard=600_000.0,
            burst_seconds=2.0,
        )
        w = KinesisStreamWriter(
            "s", c, sleep=vc.sleep, clock=vc.clock, refresh_every_flushes=None
        )
        payloads = [b"p" * 900 for _ in range(12_000)]  # ~10.8 MB
        n = w.write(iter(payloads))
        assert n == 12_000
        # zero loss: every payload delivered exactly once (flush granularity)
        from kinesis_writer_spark.kpl.deaggregator import deaggregate

        got = [rec.data for wire in c.received for rec in deaggregate(wire)]
        assert sorted(got) == sorted(payloads)
        # throughput degraded to the cap's order, not collapse: elapsed
        # virtual time within 3x of the ideal bytes/budget
        total_bytes = sum(len(w_) for w_ in c.received)
        ideal = total_bytes / (2 * 600_000.0)
        assert vc.now <= 3 * ideal + 5, (vc.now, ideal)
        assert c.throttle_errors > 0  # the envelope was actually exercised


class TestBudgetAwareRouting:
    """A writer with a limiter routes every flush to the shard whose
    limiter bucket is fullest, recovering the budget random routing leaves
    idling at the burst cap (throttling soak: 0.61x -> ~0.9x of the service
    cap). Without a limiter it keeps the reference's seeded-random draws."""

    def test_richest_key_prefers_unseen_then_fullest(self):
        vc = VirtualClock()
        lim = make_limiter(vc)
        lim.acquire("a", 800)  # a: 200 tokens left
        assert lim.richest_key(["a", "b"]) == "b"  # unseen counts as full
        lim.acquire("b", 1000)  # b: 0
        assert lim.richest_key(["a", "b"]) == "a"
        vc.now += 0.9  # b refills to 900, a caps at 1000? a=200+900=1000 cap
        assert lim.richest_key(["a", "b"]) == "a"

    def test_default_routing_unchanged(self):
        from kinesis_writer_spark.sink import ShardRouter

        client = FakeKinesisClient(num_shards=4)
        w = KinesisStreamWriter("s", client)
        expected = ShardRouter(w.router.midpoints, seed=42)
        assert w._next_routing_key() == expected.next_hash_key()
        assert w._next_routing_key() == expected.next_hash_key()

    def test_budget_routing_beats_random_under_throttle(self):
        """Same offered load, same service budgets, virtual time: the
        budget-aware writer finishes in less virtual time with no more
        service rejections than the random-routing one."""
        from kinesis_writer_spark.sink import ThrottlingKinesisClient

        class RandomRoutingLimiter(ShardRateLimiter):
            """Paces like the limiter, routes by the reference's seeded draw."""

            def __init__(self, router: ShardRouter, **kw) -> None:
                super().__init__(**kw)
                self.router = router

            def richest_key(self, keys: list[str]) -> str:
                return self.router.next_hash_key()

        def run(random_routing: bool) -> tuple[float, int]:
            vc = VirtualClock()
            client = ThrottlingKinesisClient(
                num_shards=4, bytes_per_sec_per_shard=600_000.0,
                burst_seconds=2.0, clock=vc.clock,
            )
            kw = dict(
                bytes_per_sec=0.9 * 600_000.0, puts_per_sec=900.0,
                burst_seconds=2.0, clock=vc.clock, sleep=vc.sleep,
            )
            lim = (
                RandomRoutingLimiter(
                    ShardRouter(open_shard_midpoints(client, "s"), seed=42), **kw
                )
                if random_routing
                else ShardRateLimiter(**kw)
            )
            w = KinesisStreamWriter(
                "s", client, sleep=vc.sleep, clock=vc.clock,
                rate_limiter=lim, refresh_every_flushes=None,
            )
            n = w.write(iter([b"p" * 900] * 12_000))  # ~10.8 MB
            assert n == 12_000
            return vc.now, client.throttle_errors

        t_random, err_random = run(random_routing=True)
        t_budget, err_budget = run(random_routing=False)
        assert t_budget < t_random, (t_budget, t_random)
        assert err_budget == 0 and err_budget <= err_random
        # and it approaches the aggregate paced rate: 4 shards x 540 KB/s
        ideal = 12_000 * 900 / (4 * 0.9 * 600_000.0)
        assert t_budget <= 1.6 * ideal + 3, (t_budget, ideal)

    def test_large_payloads_are_routed_when_sent(self):
        """400 KB payloads take the overflow path: the record that overflows
        a batch opens the next one. Each put must go to the shard chosen
        just before its charge, with every user record, the carried one
        included, under that one key."""
        events = []

        class Recording(ShardRateLimiter):
            def richest_key(self, keys):
                key = super().richest_key(keys)
                events.append(("route", key))
                return key

            def acquire(self, shard_key, n_bytes, n_puts=1):
                events.append(("charge", shard_key))
                return super().acquire(shard_key, n_bytes, n_puts)

        class Capture(FakeKinesisClient):
            def put_records(self, StreamName, Records):
                events.append(("put", Records[0]["ExplicitHashKey"]))
                return super().put_records(StreamName, Records)

        vc = VirtualClock()
        lim = Recording(
            bytes_per_sec=600_000.0, puts_per_sec=1000.0, burst_seconds=2.0,
            clock=vc.clock, sleep=vc.sleep,
        )
        client = Capture(num_shards=4)
        w = KinesisStreamWriter(
            "s", client, sleep=vc.sleep, clock=vc.clock, rate_limiter=lim,
            refresh_every_flushes=None,
        )
        payloads = [i.to_bytes(4, "big") * 100_000 for i in range(12)]
        assert w.write(iter(payloads)) == 12
        n_puts = len(client.put_requests)
        assert n_puts == 6  # two 400 KB records per ~1 MiB flush
        assert len(events) == 3 * n_puts
        for i in range(n_puts):
            (e1, key), (e2, charged), (e3, sent) = events[3 * i:3 * i + 3]
            assert (e1, e2, e3) == ("route", "charge", "put")
            assert charged == sent == key
        for req in client.put_requests:
            rec = req["Records"][0]
            assert {u.explicit_hash_key for u in deaggregate(rec["Data"])} == {
                rec["ExplicitHashKey"]
            }
        got = [u.data for wire in client.received for u in deaggregate(wire)]
        assert got == payloads

    def test_large_payloads_follow_the_draws_without_a_limiter(self):
        """Without a limiter the overflow path keys each flush by one
        seeded draw too: the carried record opens the next batch under that
        batch's draw, so the put keys are the router's draws in order, one
        per flush, with every user record under its put's key. On 8 shards
        the first four seed-42 draws all differ, so a carried record that
        kept the previous flush's key would show."""
        client = FakeKinesisClient(num_shards=8)
        w = KinesisStreamWriter("s", client, refresh_every_flushes=None)
        expected = ShardRouter(w.router.midpoints, seed=42)
        payloads = [i.to_bytes(4, "big") * 100_000 for i in range(8)]
        assert w.write(iter(payloads)) == 8
        assert len(client.put_requests) == 4  # two 400 KB records per flush
        draws = [expected.next_hash_key() for _ in range(4)]
        assert len(set(draws)) == 4
        keys = []
        for req in client.put_requests:
            rec = req["Records"][0]
            assert {u.explicit_hash_key for u in deaggregate(rec["Data"])} == {
                rec["ExplicitHashKey"]
            }
            keys.append(rec["ExplicitHashKey"])
        assert keys == draws
        got = [u.data for wire in client.received for u in deaggregate(wire)]
        assert got == payloads

    def test_writers_sharing_a_limiter_spread_evenly(self):
        """48 one-flush writers (one per Spark task) share one limiter over
        4 shards, interleaved on one thread and virtual time: every shard
        takes its share of the flushes, and the makespan is the paced
        drain of everything past the burst plus at most one flush."""
        from collections import Counter

        vc = VirtualClock()
        rate = 500_000.0
        lim = ShardRateLimiter(
            bytes_per_sec=rate, puts_per_sec=1000.0, burst_seconds=1.0,
            clock=vc.clock, sleep=vc.sleep,
        )
        client = FakeKinesisClient(num_shards=4)
        writers = [
            KinesisStreamWriter(
                "s", client, sleep=vc.sleep, clock=vc.clock, rate_limiter=lim,
                routing_seed=i, refresh_every_flushes=None,
            )
            for i in range(48)
        ]
        for w in writers:
            assert w.write([b"w" * 1000] * 250) == 250  # one ~250 KB flush
        assert len(client.put_requests) == 48
        per_shard = Counter(
            r["Records"][0]["ExplicitHashKey"] for r in client.put_requests
        )
        assert len(per_shard) == 4
        assert max(per_shard.values()) - min(per_shard.values()) <= 1, per_shard
        sizes = [len(d) for d in client.received]
        bound = (sum(sizes) - 4 * rate) / (4 * rate) + max(sizes) / rate
        assert vc.now <= bound, (vc.now, bound)


class TestThreadSafety:
    """r12 advice: one limiter instance is shared process-wide across
    concurrent writer threads, so bucket bookkeeping must be atomic."""

    def test_concurrent_acquires_never_lose_deductions(self):
        import threading

        # frozen clock -> zero refill; every deduction must land
        rl = ShardRateLimiter(
            bytes_per_sec=1e12, puts_per_sec=1e12, burst_seconds=1.0,
            clock=lambda: 0.0, sleep=lambda s: None,
        )
        n_threads, n_calls, cost = 8, 2_000, 3
        barrier = threading.Barrier(n_threads)

        def worker():
            barrier.wait()
            for _ in range(n_calls):
                rl.acquire("s0", cost, 1)

        threads = [threading.Thread(target=worker) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        state = rl._buckets["s0"]
        assert state[0] == 1e12 - n_threads * n_calls * cost
        assert state[1] == 1e12 - n_threads * n_calls

    def test_concurrent_acquire_and_richest_key(self):
        """richest_key refills under the same lock; racing it against
        acquire must neither corrupt buckets nor raise."""
        import threading

        rl = ShardRateLimiter(
            bytes_per_sec=1e9, puts_per_sec=1e9, burst_seconds=1.0,
            clock=lambda: 0.0, sleep=lambda s: None,
        )
        stop = threading.Event()
        keys = ["a", "b", "c"]

        def reader():
            while not stop.is_set():
                assert rl.richest_key(keys) in keys

        r = threading.Thread(target=reader)
        r.start()
        try:
            for i in range(5_000):
                rl.acquire(keys[i % 3], 10, 1)
        finally:
            stop.set()
            r.join()
        total = sum(rl._buckets[k][0] for k in keys)
        assert total == 3 * 1e9 - 5_000 * 10


class TestRichestKeyPutHeadroom:
    def test_put_bound_workload_routes_by_put_budget(self):
        """r12 advice: ranking by raw byte tokens alone sends put-bound
        traffic to a shard whose put bucket is in debt. Headroom is
        min(bytes, puts) normalized to seconds."""
        vc = VirtualClock()
        rl = make_limiter(vc, bytes_per_sec=1000.0, puts_per_sec=10.0)
        # a: drain puts deep into debt with tiny records (bytes nearly full)
        for _ in range(30):
            rl.acquire("a", 1)
        # b: drain most of the BYTE budget but leave puts alone
        rl.acquire("b", 900)
        # raw byte ranking would say a (999+ tokens) > b (100 tokens);
        # put headroom says a is seconds in debt while b can absorb puts
        assert rl.richest_key(["a", "b"]) == "b"

    def test_byte_bound_ranking_preserved(self):
        vc = VirtualClock()
        rl = make_limiter(vc)
        rl.acquire("a", 800)
        rl.acquire("b", 200)
        # puts equally touched; byte headroom decides: b (800) > a (200)
        assert rl.richest_key(["a", "b"]) == "b"

"""Kinesis-style sink: size-bounded batching, shard-aware routing, retry/replay.

Capability parity targets (implementation original, Spark-first):
  - soft flush caps                 /root/reference KinesisWriter.scala:27-35,151-180
  - linear back-off retry (30x)     /root/reference KinesisWriter.scala:24,82-93
  - replay-from-raw on failure      /root/reference KinesisWriter.scala:215-226
  - shard discovery + midpoints     /root/reference KinesisWriter.scala:46-80
  - seeded random routing per flush /root/reference KinesisWriter.scala:37-43,184
  - returned user-record count      /root/reference KinesisWriter.scala:115,192

Cluster model: one :class:`KinesisStreamWriter` per Spark partition, fed
the partition's Arrow record batches by :func:`write_partition` from both
Spark fronts: :func:`write_dataframe` (batch, ``mapInArrow``) and
``writeStream.format("kinesis")`` (streaming, one task per partition per
micro-batch). Each partition batches independently to ~1 MiB aggregated
records. With a rate limiter attached, each flush is routed when it is
sent, to the open shard with the most limiter budget, and a rejected put
other than a throughput error returns its tokens; without one, each flush
goes to the reference's seeded-random open shard. Either way N executors
saturate all shards without coordination. No driver-side collect anywhere.
"""

from __future__ import annotations

import random
import threading
import time
from collections.abc import Callable, Iterable, Iterator

from .kpl.aggregator import AggRecordBuilder, RecordAggregator
from .kpl.fastpath import FastAggRecord, FastBatcher

#: Flush once the aggregated record reaches this size (empirical safety margin
#: below the 1 MiB protocol cap — consumers misbehave near the limit).
SOFT_MAX_SIZE = 1_000_000

#: At the soft cap, a record larger than this flushes the batch *first*
#: rather than risk overshooting the protocol cap.
MAX_LAST_RECORD_SIZE = 100_000

#: Give up after this many retries of one flush.
MAX_RETRIES = 30

#: Default partition key (routing is done via explicit hash keys).
DEFAULT_PARTITION_KEY = "a"

#: Error substrings that indicate the shard map is stale because of a
#: RESHARD (the shard we routed to closed or is being mutated): these
#: trigger a shard-map re-discovery before the retry re-routes. Throttling
#: errors (ProvisionedThroughputExceeded / LimitExceeded) are deliberately
#: NOT here: they usually mean overload, not reshard, and ListShards is
#: itself rate-limited per stream — refreshing on every throttled retry
#: across hundreds of executors would cascade the throttling into
#: discovery. A reshard that only ever surfaces as reduced capacity (no
#: error) is covered by the periodic refresh cadence below.
RESHARD_ERROR_MARKERS = (
    "ResourceInUse",
    "ShardClosed",
)

#: Error substrings of a put the service refused for throughput: the one
#: rejection that keeps its rate-limiter charge, so the limiter stays
#: cautious where it let too much through. Any other failed put spent no
#: shard budget and returns its tokens.
THROTTLE_ERROR_MARKERS = (
    "ProvisionedThroughputExceeded",
    "LimitExceeded",
)

#: Error substrings no retry can fix (stream gone, no permission, malformed
#: request): puts and discovery raise at once instead of sleeping through up
#: to 930 s of back-off. Not reshard markers: a refresh would fail as well.
FATAL_ERROR_MARKERS = (
    "ResourceNotFoundException",
    "AccessDeniedException",
    "ValidationException",
    "InvalidArgumentException",
)

#: Periodic shard-map re-discovery cadence (flushes between refreshes),
#: ON by default: a silent split — a capacity change that never raises —
#: would otherwise halve effective throughput until an error or restart.
#: At ~1 MiB per flush this is one ListShards sweep per ~64 MiB shipped,
#: far inside the API budget even fleet-wide.
DEFAULT_REFRESH_EVERY_FLUSHES = 64

#: Minimum seconds between *error-triggered* refreshes: a retry storm from
#: one stuck shard must not turn into a ListShards storm.
MIN_ERROR_REFRESH_INTERVAL_S = 5.0


def retry_delay_seconds(fail_count: int) -> int:
    """Linear back-off schedule: 2, 4, 6, ... seconds."""
    return (fail_count + 1) * 2


def _names_any(exc: Exception, markers: tuple[str, ...]) -> bool:
    msg = str(exc)
    return any(marker in msg for marker in markers)


# ---------------------------------------------------------------------------
# Shard discovery & routing
# ---------------------------------------------------------------------------

def list_shards(client, stream_name: str) -> list[dict]:
    """Every shard of the stream with its reshard metadata (ParentShardId,
    AdjacentParentShardId, SequenceNumberRange), paging ListShards like the
    reference walks describeStream (KinesisWriter.scala:46-64). A follow-up
    page passes ``NextToken`` alone: ListShards rejects it next to
    ``StreamName``."""
    out: list[dict] = []
    token = None
    while True:
        resp = (
            client.list_shards(NextToken=token)
            if token
            else client.list_shards(StreamName=stream_name)
        )
        out.extend(resp["Shards"])
        token = resp.get("NextToken")
        if not token:
            return out


def open_shard_midpoints(client, stream_name: str) -> list[str]:
    """Hash-range midpoint of every *open* shard, as decimal strings.

    A shard is open while it has no ending sequence number. The midpoint
    ``start + (end - start) // 2`` is a valid explicit hash key guaranteed to
    land inside that shard.
    """
    midpoints = []
    for shard in list_shards(client, stream_name):
        if shard.get("SequenceNumberRange", {}).get("EndingSequenceNumber"):
            continue
        lo = int(shard["HashKeyRange"]["StartingHashKey"])
        hi = int(shard["HashKeyRange"]["EndingHashKey"])
        midpoints.append(str(lo + (hi - lo) // 2))
    if not midpoints:
        raise RuntimeError(f"stream {stream_name!r} has no open shards")
    return midpoints


class ShardRouter:
    """Uniform random pick over open-shard midpoints, deterministically seeded."""

    def __init__(self, midpoints: list[str], seed: int = 42) -> None:
        self._midpoints = midpoints
        self._rng = random.Random(seed)

    def next_hash_key(self) -> str:
        return self._midpoints[self._rng.randrange(len(self._midpoints))]

    @property
    def midpoints(self) -> list[str]:
        return list(self._midpoints)

    def update_midpoints(self, midpoints: list[str]) -> None:
        """Swap in a fresh open-shard map (post-reshard) WITHOUT resetting
        the seeded RNG — the draw sequence stays deterministic, only the
        target set changes."""
        if midpoints:
            self._midpoints = midpoints


class ShardRateLimiter:
    """Proactive per-shard token bucket: Kinesis ingest is capped at 1 MiB/s
    and 1 000 records/s per shard, and blowing past the cap costs a full
    PutRecords round trip plus a back-off cycle per overage (the reactive
    path above). The limiter spends (bytes, puts) tokens BEFORE each send,
    sleeping just long enough to stay inside the budget — the producer-side
    dual of the reference's reactive linear back-off
    (KinesisWriter.scala:82-93), and the behavior the real KPL's RateLimit
    setting provides.

    Buckets are keyed by the routing explicit-hash-key (one bucket per
    shard midpoint). Each writer instance assumes it owns the configured
    per-shard budget: with W concurrent writers per stream, configure
    ``bytes_per_sec`` / ``puts_per_sec`` as the shard limit divided by the
    expected writers-per-shard (the same division the KPL applies per
    producer). Clock and sleep are injectable so tests run on virtual time.
    """

    def __init__(
        self,
        bytes_per_sec: float = 1_048_576.0,
        puts_per_sec: float = 1000.0,
        burst_seconds: float = 1.0,
        clock: Callable[[], float] = time.monotonic,
        sleep: Callable[[float], None] = time.sleep,
    ) -> None:
        self.bytes_per_sec = float(bytes_per_sec)
        self.puts_per_sec = float(puts_per_sec)
        self.burst_seconds = float(burst_seconds)
        # a zero rate divides by zero inside acquire; a negative one, nan or
        # inf makes every acquire return at once, which switches pacing off
        for key in ("bytes_per_sec", "puts_per_sec", "burst_seconds"):
            value = getattr(self, key)
            if not (0 < value < float("inf")):
                raise ValueError(f"{key} must be > 0 and finite (got {value!r})")
        self._clock = clock
        self._sleep = sleep
        # key -> [bytes_tokens, put_tokens, last_refill_ts]
        self._buckets: dict[str, list[float]] = {}
        # One limiter instance is shared process-wide across concurrent
        # writer threads (the streaming binding hands out a singleton), so
        # bucket creation / refill / deduction are read-modify-writes that
        # must not interleave — an unsynchronized pair of acquires can lose
        # a deduction and over-admit. The lock guards bookkeeping only; the
        # pacing sleep happens OUTSIDE it so one throttled shard never
        # blocks another shard's acquire.
        self._lock = threading.Lock()

    def _refill(self, state: list[float], now: float) -> None:
        dt = max(0.0, now - state[2])
        state[0] = min(self.bytes_per_sec * self.burst_seconds, state[0] + dt * self.bytes_per_sec)
        state[1] = min(self.puts_per_sec * self.burst_seconds, state[1] + dt * self.puts_per_sec)
        state[2] = now

    def acquire(self, shard_key: str, n_bytes: int, n_puts: int = 1) -> float:
        """Block until the shard's buckets afford (n_bytes, n_puts); returns
        the seconds slept. Costs larger than the burst capacity are allowed
        (the bucket goes into debt and the elapsed time pays it off), so an
        oversized aggregated record is delayed, never deadlocked.

        Deduct-then-sleep: the cost is charged FIRST (balances may go
        negative), then the call sleeps exactly the deficit. No refill
        happens after the in-call sleep — the next acquire's refill credits
        the slept wall-clock time — so the burst cap only ever discards
        *positive* hoarding above the burst, never tokens owed to a debt.
        (The earlier refill-after-sleep variant re-capped at burst before
        subtracting, double-charging any cost above burst capacity and
        halving sustained throughput for oversized records.)

        A negative cost is a refund (a put the service rejected without
        spending budget on it): it credits the buckets, capped at the
        burst, never sleeps and returns 0."""
        with self._lock:
            state = self._buckets.setdefault(
                shard_key,
                [
                    self.bytes_per_sec * self.burst_seconds,
                    self.puts_per_sec * self.burst_seconds,
                    self._clock(),
                ],
            )
            self._refill(state, self._clock())
            state[0] -= n_bytes
            state[1] -= n_puts
            if n_bytes < 0 or n_puts < 0:
                state[0] = min(state[0], self.bytes_per_sec * self.burst_seconds)
                state[1] = min(state[1], self.puts_per_sec * self.burst_seconds)
                return 0.0
            wait = max(
                0.0, -state[0] / self.bytes_per_sec, -state[1] / self.puts_per_sec
            )
        if wait > 0.0:
            self._sleep(wait)
        return wait

    def richest_key(self, keys: list[str]) -> str:
        """The key with the most *seconds of headroom* right now (ties
        broken by list order; unseen keys count as full). Headroom is the
        MINIMUM of the byte and put buckets, each normalized to seconds at
        its own rate — ranking by raw byte tokens alone would, on put-bound
        workloads (many small aggregated records), route to a shard whose
        put bucket is in deep debt while another shard has put budget to
        spare, forcing an avoidable acquire() sleep. Budget-aware routing:
        uniform random routing walks into depleted buckets while refilled
        ones idle at their burst cap, and the discarded refill is
        unrecoverable — measured at 0.61x of the service cap in the r12
        throttling soak vs ~0.9x with this selector."""
        with self._lock:
            now = self._clock()
            best_key, best_headroom = keys[0], float("-inf")
            for key in keys:
                state = self._buckets.get(key)
                if state is None:
                    headroom = self.burst_seconds  # both buckets full
                else:
                    self._refill(state, now)
                    headroom = min(
                        state[0] / self.bytes_per_sec, state[1] / self.puts_per_sec
                    )
                if headroom > best_headroom:
                    best_key, best_headroom = key, headroom
            return best_key


# ---------------------------------------------------------------------------
# Batching generator (pure, Spark-agnostic)
# ---------------------------------------------------------------------------

def batch_records(
    records: Iterable[tuple[str, str | None, bytes]],
    soft_max_size: int = SOFT_MAX_SIZE,
    max_last_record_size: int = MAX_LAST_RECORD_SIZE,
) -> Iterator[AggRecordBuilder]:
    """Greedy size-bounded coalescing of (pk, ehk, data) into aggregated records.

    Flush policy:
      * protocol-level: the 1 MiB cap always flushes (AggRecordBuilder refuses);
      * at/above ``soft_max_size``: an incoming record over
        ``max_last_record_size`` flushes *before* being added, anything smaller
        is added and the batch flushes immediately after.
    """
    agg = RecordAggregator()
    for pk, ehk, data in records:
        at_soft_cap = agg.size_bytes >= soft_max_size
        if at_soft_cap and len(data) > max_last_record_size:
            completed = agg.clear_and_get()
            if completed is not None:
                yield completed
            overflow = agg.add_user_record(pk, data, ehk)
            if overflow is not None:  # defensive; fresh builder should fit it
                yield overflow
        elif at_soft_cap:
            overflow = agg.add_user_record(pk, data, ehk)
            if overflow is not None:
                yield overflow
            else:
                completed = agg.clear_and_get()
                if completed is not None:
                    yield completed
        else:
            overflow = agg.add_user_record(pk, data, ehk)
            if overflow is not None:
                yield overflow
    tail = agg.clear_and_get()
    if tail is not None:
        yield tail


def rekeyed(
    agg: AggRecordBuilder | FastAggRecord, ehk: str
) -> AggRecordBuilder | FastAggRecord:
    """``agg`` with every user record keyed ``ehk``. A single-key fast
    record swaps its one key-table entry; anything else (a carry record
    holding two keys, a rebuilt retry) is rebuilt through AggRecordBuilder.
    When ``ehk`` would push the record past the 1 MiB protocol cap, ``agg``
    comes back as it is: it still fits under its own key."""
    if isinstance(agg, FastAggRecord):
        fast = agg.with_explicit_hash_key(ehk)
        if fast is not None:
            return fast
    rebuilt = AggRecordBuilder()
    for pk, _old_ehk, data in agg.raw_records():
        if not rebuilt.add_user_record(pk, data, ehk):
            return agg
    return rebuilt


# ---------------------------------------------------------------------------
# The writer (per-partition worker)
# ---------------------------------------------------------------------------

class KinesisStreamWriter:
    """Writes an iterator of byte payloads to a Kinesis-API-shaped client as
    KPL aggregated records, with at-least-once retry/replay semantics.
    """

    def __init__(
        self,
        stream_name: str,
        client,
        max_retries: int = MAX_RETRIES,
        sleep: Callable[[float], None] = time.sleep,
        routing_seed: int = 42,
        rate_limiter: ShardRateLimiter | None = None,
        refresh_every_flushes: int | None = DEFAULT_REFRESH_EVERY_FLUSHES,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.stream_name = stream_name
        self.client = client
        self.max_retries = max_retries
        self._sleep = sleep
        #: with a limiter, every flush and retry is routed when it is sent,
        #: to the shard whose bucket is fullest: random routing pays
        #: depleted buckets' deficits while refilled ones idle at their
        #: burst cap (throttling soak: 0.61x of the service cap vs ~0.9x).
        #: A rejected put other than a throughput error returns its tokens.
        #: Without one, the reference's seeded-random draw sequence stays
        #: byte-reproducible.
        self.rate_limiter = rate_limiter
        #: periodic re-discovery cadence (None disables): a reshard that
        #: never surfaces as an error — e.g. a split that merely halves a
        #: shard's capacity — is picked up within N flushes
        self.refresh_every_flushes = refresh_every_flushes
        self._clock = clock
        self._flushes_since_discovery = 0
        #: -inf so the FIRST reshard-shaped error always refreshes; the
        #: cooldown only collapses the follow-up retries of a storm
        self._last_error_refresh = float("-inf")
        midpoints = self._with_retry(lambda: open_shard_midpoints(client, stream_name))
        self.router = ShardRouter(midpoints, seed=routing_seed)

    def refresh_shard_map(self) -> None:
        """Re-discover open shards and swap the router's midpoint set.

        The reference fetches the shard map once per writer
        (KinesisWriter.scala:46-64) — fine for its bounded batch jobs, but
        a long-running streaming sink writing through a split/merge would
        keep routing to stale midpoints (parents' capacity is gone after a
        reshard, so throughput silently halves). Mirrors the streaming
        source's reshard handling (sources/kinesis_stream.py): only OPEN
        shards yield midpoints, so parents drop out as soon as they close.
        Discovery failures log a warning and keep the previous map — stale
        routing still lands (children cover the parent's hash range); a
        hard failure here would lose the batch for a recoverable condition.
        """
        try:
            self.router.update_midpoints(
                open_shard_midpoints(self.client, self.stream_name)
            )
        except Exception as exc:
            import logging  # failure path only: importing it costs a cold writer ~9 ms
            logging.getLogger(__name__).warning(
                "shard-map refresh for stream %r failed, keeping the previous "
                "map: %s", self.stream_name, exc,
            )
        self._flushes_since_discovery = 0

    def _maybe_refresh_on_error(self, exc: Exception) -> None:
        if not _names_any(exc, RESHARD_ERROR_MARKERS):
            return
        now = self._clock()
        if now - self._last_error_refresh < MIN_ERROR_REFRESH_INTERVAL_S:
            return  # a retry storm must not become a ListShards storm
        self._last_error_refresh = now
        self.refresh_shard_map()

    # -- retry plumbing -----------------------------------------------------

    def _with_retry(self, action: Callable[[], object],
                    on_retry: Callable[[Exception], None] | None = None):
        """Run ``action`` under the reference's linear back-off. A fatal
        error (:data:`FATAL_ERROR_MARKERS`) or one past ``max_retries``
        raises; any other sleeps, calls ``on_retry(exc)`` and tries again."""
        fail_count = 0
        while True:
            try:
                return action()
            except Exception as exc:
                if fail_count >= self.max_retries or _names_any(exc, FATAL_ERROR_MARKERS):
                    raise
                self._sleep(retry_delay_seconds(fail_count))
                fail_count += 1
                if on_retry is not None:
                    on_retry(exc)

    def _next_routing_key(self) -> str:
        """The seeded draw: the key a flush is batched under (and, without
        a limiter, sent under)."""
        return self.router.next_hash_key()

    # -- send path ----------------------------------------------------------

    def _put_aggregated(self, agg: AggRecordBuilder | FastAggRecord) -> None:
        limiter = self.rate_limiter
        if limiter is None:
            return self._put_records(agg)
        # route when sent: choose the fullest bucket and charge it back to
        # back, so writers sharing the limiter see each other's charges, and
        # the proactive budget (not the API error path) paces an overload.
        # The charge is the size under the batching key; the chosen key's
        # length can move it by a few bytes.
        n_bytes = agg.size_bytes
        key = limiter.richest_key(self.router.midpoints)
        limiter.acquire(key, n_bytes)
        try:
            self._put_records(rekeyed(agg, key))
        except Exception as exc:
            if not _names_any(exc, THROTTLE_ERROR_MARKERS):
                # the service spent no shard budget on this put
                limiter.acquire(key, -n_bytes, -1)
            raise

    def _put_records(self, agg: AggRecordBuilder | FastAggRecord) -> None:
        response = self.client.put_records(
            StreamName=self.stream_name,
            Records=[
                {
                    "Data": agg.to_bytes(),
                    "PartitionKey": agg.partition_key,
                    "ExplicitHashKey": agg.explicit_hash_key,
                }
            ],
        )
        if response.get("FailedRecordCount", 0) > 0:
            errors = [
                (r.get("ErrorCode"), r.get("ErrorMessage"))
                for r in response.get("Records", [])
                if r.get("ErrorCode")
            ]
            raise RuntimeError(f"put_records partial failure: {errors}")

    def send(self, agg: AggRecordBuilder | FastAggRecord) -> int:
        """Send one aggregated record; on failure resend the retained raw
        batch under a fresh hash key (back-off applies): a writer with a
        limiter routes the retry when it is sent, like any flush; one
        without redraws from its router. Returns the number of user
        records delivered.
        """
        current = agg

        def reroute(exc: Exception) -> None:
            nonlocal current
            # a reshard-shaped error refreshes the shard map BEFORE the
            # redraw, so the retry routes to a live child shard instead
            # of hammering the closed/overloaded parent midpoint
            self._maybe_refresh_on_error(exc)
            if self.rate_limiter is None:
                current = rekeyed(current, self._next_routing_key())

        self._with_retry(lambda: self._put_aggregated(current), reroute)
        return current.num_user_records

    def write(self, payloads: Iterable[bytes]) -> int:
        """Batch + route + send every payload; returns the user-record count.

        Encoding goes through the fast fixed-PK path
        (:class:`..kpl.fastpath.FastBatcher`) — byte-identical wire output
        to the :func:`batch_records` slow path (property-pinned in
        tests/test_kpl_fastpath.py), ~5x the encode throughput at ~100 B
        payloads (artifacts/sink_percore_attrib.json). Re-keying a flush
        for its send or its retry goes through :func:`rekeyed`.
        """
        # The routing EHK is redrawn after every flush; the batcher reads
        # the current draw through a mutable cell at record-pull time, so
        # in-flight batching picks it up exactly like the generator-based
        # slow path did. With a limiter the draw is provisional: the flush
        # is re-keyed when it is sent.
        cell = {"ehk": self._next_routing_key()}
        batcher = FastBatcher(
            DEFAULT_PARTITION_KEY, SOFT_MAX_SIZE, MAX_LAST_RECORD_SIZE
        )
        count = 0
        for agg in batcher.flushes(payloads, lambda: cell["ehk"]):
            count += self.send(agg)
            self._flushes_since_discovery += 1
            if (
                self.refresh_every_flushes is not None
                and self._flushes_since_discovery >= self.refresh_every_flushes
            ):
                self.refresh_shard_map()
            cell["ehk"] = self._next_routing_key()
        return count


# ---------------------------------------------------------------------------
# Fake client (the injectable test seam, mirroring the reference's)
# ---------------------------------------------------------------------------

class FakeKinesisClient:
    """Offline stand-in for the Kinesis API, and the one in-memory shard
    model every stand-in builds on: an even split of the 128-bit hash
    space, ListShards paged one shard per page (so every caller exercises
    pagination), split and merge reshards, and routing of an explicit hash
    key to the open shard covering it. Captures requests and supports
    scripted failures.
    """

    def __init__(self, num_shards: int = 4, fail_first_n_puts: int = 0, throttle_every: int = 0) -> None:
        self.fail_first_n_puts = fail_first_n_puts
        self.throttle_every = throttle_every
        self.fail_next_put_with: str | None = None
        self.put_requests: list[dict] = []
        self.received: list[bytes] = []
        self._puts_seen = 0
        self.shards: list[dict] = []
        space = 1 << 128
        for i in range(num_shards):
            self._add_shard(i * space // num_shards, (i + 1) * space // num_shards - 1)

    # -- shard model ----------------------------------------------------------

    def _add_shard(self, lo: int, hi: int, **parents: str) -> None:
        """Open a shard over hash keys ``[lo, hi]``; ``parents`` carries a
        child's ``ParentShardId`` (and a merge child's
        ``AdjacentParentShardId``)."""
        self.shards.append(
            {
                "ShardId": f"shardId-{len(self.shards):012d}",
                **parents,
                "HashKeyRange": {"StartingHashKey": str(lo), "EndingHashKey": str(hi)},
                "SequenceNumberRange": {"StartingSequenceNumber": "0"},
            }
        )

    def _close(self, shard: dict) -> None:
        shard["SequenceNumberRange"]["EndingSequenceNumber"] = str(len(self.received))

    def _open_shards(self) -> list[dict]:
        """Shards without an EndingSequenceNumber, in listing order."""
        return [
            s for s in self.shards
            if not s["SequenceNumberRange"].get("EndingSequenceNumber")
        ]

    def _shard_for(self, ehk: str | None) -> str:
        """Route like the service: to the OPEN shard covering ``ehk``, so a
        key drawn from a closed parent's midpoint lands in the child that
        now covers it."""
        v = int(ehk or "0")
        open_shards = self._open_shards()
        for s in open_shards:
            rng = s["HashKeyRange"]
            if int(rng["StartingHashKey"]) <= v <= int(rng["EndingHashKey"]):
                return s["ShardId"]
        return open_shards[0]["ShardId"]

    def split_all_shards(self) -> None:
        """Simulate a stream-wide reshard: every open shard closes (gains an
        EndingSequenceNumber) and two children split its hash range — the
        Kinesis UpdateShardCount doubling. Parents stay listed (as the real
        API keeps them for their retention window); only children are open.
        """
        for shard in self._open_shards():
            self._close(shard)
            lo = int(shard["HashKeyRange"]["StartingHashKey"])
            hi = int(shard["HashKeyRange"]["EndingHashKey"])
            mid = lo + (hi - lo) // 2
            self._add_shard(lo, mid, ParentShardId=shard["ShardId"])
            self._add_shard(mid + 1, hi, ParentShardId=shard["ShardId"])
        self._resharded()

    def merge_adjacent_shards(self) -> None:
        """Close open shards pairwise (adjacent in hash space) and open ONE
        child spanning each pair's combined range — MergeShards semantics:
        both parents stay listed with an EndingSequenceNumber and the child
        carries ``ParentShardId`` + ``AdjacentParentShardId``, so consumers
        must drain BOTH parents before admitting the child."""
        open_shards = sorted(
            self._open_shards(),
            key=lambda s: int(s["HashKeyRange"]["StartingHashKey"]),
        )
        for a, b in zip(open_shards[::2], open_shards[1::2]):
            self._close(a)
            self._close(b)
            self._add_shard(
                int(a["HashKeyRange"]["StartingHashKey"]),
                int(b["HashKeyRange"]["EndingHashKey"]),
                ParentShardId=a["ShardId"],
                AdjacentParentShardId=b["ShardId"],
            )
        self._resharded()

    def _resharded(self) -> None:
        """Runs after every split or merge; a subclass that keeps state per
        shard outside ``self.shards`` extends it."""

    # -- Kinesis API ----------------------------------------------------------

    def list_shards(self, StreamName: str | None = None, NextToken: str | None = None, **_):
        stream, _sep, page = (NextToken or f"{StreamName}/0").rpartition("/")
        i = int(page)
        resp: dict = {"Shards": self.shards[i : i + 1]}
        if i + 1 < len(self.shards):
            resp["NextToken"] = f"{stream}/{i + 1}"
        return resp

    def put_records(self, StreamName: str, Records: list[dict]):
        self._puts_seen += 1
        self.put_requests.append({"StreamName": StreamName, "Records": Records})
        if self.fail_next_put_with is not None:
            msg, self.fail_next_put_with = self.fail_next_put_with, None
            raise RuntimeError(msg)
        if self._puts_seen <= self.fail_first_n_puts:
            return {
                "FailedRecordCount": len(Records),
                "Records": [
                    {"ErrorCode": "ProvisionedThroughputExceededException", "ErrorMessage": "throttled"}
                    for _ in Records
                ],
            }
        if self.throttle_every and self._puts_seen % self.throttle_every == 0:
            raise RuntimeError("LimitExceededException: simulated")
        for rec in Records:
            self.received.append(rec["Data"])
        return {
            "FailedRecordCount": 0,
            "Records": [{"SequenceNumber": str(len(self.received)), "ShardId": "shardId-0"} for _ in Records],
        }


class ThrottlingKinesisClient(FakeKinesisClient):
    """Capture client that ENFORCES the Kinesis service limits: every shard
    has a token bucket of ``bytes_per_sec_per_shard`` / ``puts_per_sec_per_
    shard`` (the real 1 MiB/s / 1000 puts/s caps by default); a put that
    overdraws its shard's bucket fails with the service's partial-failure
    shape (``ProvisionedThroughputExceededException`` in ``Records``) and
    spends nothing. Records are routed by explicit hash key over the
    synthetic shard map, so per-shard budgets bite exactly like the
    service's. The injectable ``clock`` keeps unit tests on virtual time;
    the throttling soak (bench_stream.py) runs it on the real clock to
    measure the reference's back-off envelope (KinesisWriter.scala:82-93)
    under sustained pressure.
    """

    def __init__(
        self,
        num_shards: int = 4,
        bytes_per_sec_per_shard: float = 1_048_576.0,
        puts_per_sec_per_shard: float = 1000.0,
        burst_seconds: float = 1.0,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        super().__init__(num_shards=num_shards)
        self.bytes_per_sec = float(bytes_per_sec_per_shard)
        self.puts_per_sec = float(puts_per_sec_per_shard)
        self.burst = float(burst_seconds)
        self._clock = clock
        # shard_id -> [byte_tokens, put_tokens, last_refill]
        self._buckets: dict[str, list[float]] = {}
        self.throttle_errors = 0
        self.arrivals: list[tuple[float, int]] = []  # (ts, n_bytes) per accepted put
        # the throttling soak drives one shared client from N concurrent
        # writers (the per-partition-task shape); bucket read-modify-write
        # must be atomic under that
        self._lock = threading.Lock()

    def put_records(self, StreamName: str, Records: list[dict]):
        with self._lock:
            return self._put_records_locked(StreamName, Records)

    def _put_records_locked(self, StreamName: str, Records: list[dict]):
        now = self._clock()
        results = []
        failed = 0
        for rec in Records:
            shard = self._shard_for(rec.get("ExplicitHashKey"))
            b = self._buckets.setdefault(
                shard,
                [self.bytes_per_sec * self.burst, self.puts_per_sec * self.burst, now],
            )
            dt = max(0.0, now - b[2])
            b[0] = min(self.bytes_per_sec * self.burst, b[0] + dt * self.bytes_per_sec)
            b[1] = min(self.puts_per_sec * self.burst, b[1] + dt * self.puts_per_sec)
            b[2] = now
            n_bytes = len(rec["Data"])
            if b[0] < n_bytes or b[1] < 1:
                failed += 1
                self.throttle_errors += 1
                results.append(
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": (
                            f"Rate exceeded for shard {shard} in stream "
                            f"{StreamName} under account 000000000000."
                        ),
                    }
                )
                continue
            b[0] -= n_bytes
            b[1] -= 1
            self.received.append(rec["Data"])
            self.arrivals.append((now, n_bytes))
            results.append(
                {"SequenceNumber": str(len(self.received)), "ShardId": shard}
            )
        return {"FailedRecordCount": failed, "Records": results}


def boto3_client_factory(region_name: str | None = None):
    """A real boto3 Kinesis client, the default ``client_factory`` (gated
    import: the engine and its tests run fully offline on the stand-ins)."""
    try:
        import boto3  # noqa: PLC0415
    except ImportError as exc:  # pragma: no cover - boto3 absent in CI image
        raise RuntimeError(
            "boto3 is not installed; pass an explicit client_factory "
            "(e.g. lambda: FakeKinesisClient(), or "
            "'kinesis_writer_spark.sources.kinesis_stream:capture_client_factory' "
            "with client_kwargs={'capture_dir': ...} for offline replay)"
        ) from exc
    return boto3.client("kinesis", region_name=region_name)


# ---------------------------------------------------------------------------
# Spark fronts
# ---------------------------------------------------------------------------

def write_partition(
    batches: Iterable, data_col: str, make_writer: Callable[[], KinesisStreamWriter]
) -> int:
    """Write one Spark partition: the ``data_col`` payloads of its Arrow
    record batches, in order, through one writer from ``make_writer``.
    Returns the user-record count. A partition without rows returns 0
    before ``make_writer`` runs: no client, no shard discovery."""
    batches = iter(batches)
    first = next((batch for batch in batches if batch.num_rows), None)
    if first is None:
        return 0

    def payloads() -> Iterator[bytes]:
        yield from first.column(data_col).to_pylist()
        for batch in batches:
            yield from batch.column(data_col).to_pylist()

    return make_writer().write(payloads())


def write_dataframe(
    df,
    stream_name: str,
    client_factory: Callable[[], object],
    data_col: str = "data",
    max_retries: int = MAX_RETRIES,
    sleep: Callable[[float], None] = time.sleep,
) -> int:
    """Write a DataFrame's binary column to the stream, one independent
    batcher per partition. Returns the total user-record count.

    Each flush follows the reference's seeded-random draw; for paced,
    budget-routed writes use the streaming sink's ``rate_limit_*`` options,
    which share one :class:`ShardRateLimiter` per process.

    At 100 TB this is the whole design: partitions batch and ship in parallel,
    no shuffle and no driver collect. Only ``data_col`` is shipped, as Arrow
    record batches (``mapInArrow``), because building and pickling a Row per
    record, not the KPL codec, bounds a row-at-a-time sink
    (artifacts/bench_stream_soak.json). The count comes back as the job's
    output: an accumulator is only best-effort under stage retries and
    speculative execution.
    """

    def make_writer() -> KinesisStreamWriter:
        return KinesisStreamWriter(
            stream_name, client_factory(), max_retries=max_retries, sleep=sleep
        )

    def handle_batches(batches):
        import pyarrow as pa

        n = write_partition(batches, data_col, make_writer)
        yield pa.record_batch([pa.array([n], pa.int64())], names=["n"])

    from pyspark.sql import functions as F

    counts = df.select(data_col).mapInArrow(handle_batches, "n bigint")
    return int(counts.agg(F.sum("n")).first()[0] or 0)

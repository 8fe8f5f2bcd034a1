"""The KPL sink and source plane: the spark workload's roundtrip block and
the sink_throttled workload.

sink_throttled runs off Spark: ``nproc`` threads take partitions from a
queue, each writing one through a fresh ``KinesisStreamWriter`` (as one
Spark task would) into a shared throttling service stand-in, paced by one
shared ``ShardRateLimiter``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from . import harness, params, standin

STREAM = "perfbench"
MIB = 1_048_576.0


def _payloads(rng: np.random.Generator, sizes: np.ndarray) -> list[bytes]:
    """Distinct payloads: an 8-byte index, then seeded random bytes."""
    blob = rng.bytes(int(sizes.sum()))
    out, pos = [], 0
    for i, n in enumerate(sizes.tolist()):
        out.append(i.to_bytes(8, "big") + blob[pos:pos + n - 8])
        pos += n - 8
    return out


def _check(expected: list[bytes], got: list[bytes]) -> tuple[int, int]:
    """(lost or corrupt payloads, duplicate deliveries)."""
    want = set(expected)
    seen: set[bytes] = set()
    dups = 0
    for p in got:
        if p in seen:
            dups += 1
        seen.add(p)
    return len(want - seen), dups


def _progress_ms(query, prefix: str) -> dict[str, float]:
    keys = {"addBatch": "add_batch_ms", "latestOffset": "latest_offset_ms",
            "queryPlanning": "query_planning_ms", "walCommit": "wal_commit_ms"}
    out = {f"{prefix}.{v}": 0.0 for v in keys.values()}
    for p in query.recentProgress:
        for k, v in keys.items():
            out[f"{prefix}.{v}"] += float((p.get("durationMs") or {}).get(k, 0))
    return out


def _capture_frames(capture: str) -> list[bytes]:
    from kinesis_writer_spark.sources.kpl_datasource import read_wire_file

    frames = []
    for shard in sorted(os.listdir(capture)):
        shard_dir = os.path.join(capture, shard)
        if os.path.isdir(shard_dir):
            for name in sorted(os.listdir(shard_dir)):
                frames.extend(read_wire_file(os.path.join(shard_dir, name)))
    return frames


class Roundtrip:
    """The Kinesis block of the spark workload.

    Each pass streams the seeded payload files through
    ``writeStream.format("kinesis")`` into capture shards, then reads them
    back with the partitioned ``readStream`` reader and
    ``deaggregate_records`` into parquet (both ``availableNow``).
    """

    def __init__(self, ctx) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.work, self.tracer = ctx.work, ctx.tracer
        self.n = params.TOY_ROUNDTRIP_PAYLOADS if ctx.toy else params.ROUNDTRIP_PAYLOADS
        rng = np.random.default_rng(ctx.seed)
        sizes = rng.integers(params.ROUNDTRIP_MIN_BYTES, params.ROUNDTRIP_MAX_BYTES + 1, self.n)
        self.payloads = _payloads(rng, sizes)
        self.payload_bytes = int(sizes.sum())
        self.src = os.path.join(ctx.work, "payloads")
        os.makedirs(self.src)
        for i in range(params.ROUNDTRIP_FILES):
            part = self.payloads[i::params.ROUNDTRIP_FILES]
            pq.write_table(pa.table({"data": pa.array(part, pa.binary())}),
                           os.path.join(self.src, f"part-{i}.parquet"))
        self.wire_bytes = self.dups = 0
        #: (produce seconds, consume seconds) per timed pass, untraced and traced
        self.phases: dict[bool, list[tuple[float, float]]] = {False: [], True: []}

    def _pass(self, spark, i: int, traced: bool) -> dict:
        base = os.path.join(self.work, f"roundtrip{i}")
        capture, out = os.path.join(base, "capture"), os.path.join(base, "out")
        stats = os.path.join(base, "stats")
        sink_kwargs = {"capture_dir": capture, "num_shards": params.ROUNDTRIP_SHARDS}
        read_kwargs = {"capture_dir": capture}
        mod = "kinesis_writer_spark.sources.kinesis_stream"
        if traced:
            sink_factory = "perfbench.standin:traced_capture_sink_factory"
            read_factory = "perfbench.standin:traced_capture_replay_factory"
            sink_kwargs["stats_dir"] = read_kwargs["stats_dir"] = stats
        else:
            sink_factory = f"{mod}:capture_sink_client_factory"
            read_factory = f"{mod}:capture_client_factory"
        from kinesis_writer_spark.sources.kpl_stream import deaggregate_records

        t0 = time.monotonic()
        produce = (
            spark.readStream.schema("data binary").parquet(self.src)
            .writeStream.format("kinesis")
            .option("stream_name", STREAM)
            .option("client_factory", sink_factory)
            .option("client_kwargs", json.dumps(sink_kwargs))
            .option("checkpointLocation", os.path.join(base, "ckpt_produce"))
            .trigger(availableNow=True)
            .start()
        )
        produce.awaitTermination()
        t1 = time.monotonic()
        raw = (
            spark.readStream.format("kinesis")
            .option("stream_name", STREAM)
            .option("reader", "partitioned")
            .option("client_factory", read_factory)
            .option("client_kwargs", json.dumps(read_kwargs))
            .load()
        )
        consume = (
            deaggregate_records(raw, wire_col="data").select("data")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(base, "ckpt_consume"))
            .trigger(availableNow=True)
            .start()
        )
        consume.awaitTermination()
        t2 = time.monotonic()
        res = {"produce_s": t1 - t0, "consume_s": t2 - t1, "base": base, "out": out,
               "capture": capture}
        if traced:
            tracer = self.tracer
            for key, value in standin.read_stats(stats).items():
                tracer.add(key, value)
            for key, value in {**_progress_ms(produce, "streaming.produce"),
                               **_progress_ms(consume, "streaming.consume")}.items():
                tracer.add(key, value)
            frames = _capture_frames(capture)
            tracer.add("kpl.aggregated_records", len(frames))
            tracer.add("kpl.user_records_per_aggregate", self.n / max(1, len(frames)))
        return res

    def check(self, spark) -> int:
        """One untimed pass (it pays the first Python workers, codegen and
        JIT of the streaming path): every payload must come back exactly
        once. Returns the payloads lost or corrupt."""
        import pyarrow.parquet as pq

        res = self._pass(spark, 0, traced=False)
        got = pq.read_table(res["out"], columns=["data"]).column("data").to_pylist()
        lost, self.dups = _check(self.payloads, got)
        self.wire_bytes = sum(len(f) for f in _capture_frames(res["capture"]))
        shutil.rmtree(res["base"])
        harness.log(f"roundtrip check done: {lost} lost, {self.dups} duplicated")
        return lost

    def run_pass(self, spark, i: int, traced: bool, timed: bool) -> None:
        res = self._pass(spark, i, traced)
        shutil.rmtree(res["base"])
        if timed:
            self.phases[traced].append((res["produce_s"], res["consume_s"]))

    def wall(self, traced: bool = False) -> float:
        """The median produce time plus the median consume time."""
        passes = self.phases[traced]
        return sum(harness.median([p[i] for p in passes]) for i in (0, 1)) if passes else 0.0

    def detail(self) -> dict:
        produce = [p for p, _ in self.phases[False]]
        consume = [c for _, c in self.phases[False]]
        return {
            "roundtrip_wall_s": (self.wall(), "s"),
            "produce_records_per_s": (self.n / harness.median(produce), "1/s"),
            "consume_records_per_s": (self.n / harness.median(consume), "1/s"),
            "wire_bytes_per_payload_byte": (self.wire_bytes / self.payload_bytes, "ratio"),
            "dup_rate": (self.dups / self.n, "ratio"),
        }


_SETUP_PROBE = """
import time
t0 = time.perf_counter()
from kinesis_writer_spark.sink import KinesisStreamWriter, ShardRateLimiter, ThrottlingKinesisClient
client = ThrottlingKinesisClient(num_shards={shards})
limiter = ShardRateLimiter(bytes_per_sec={bps}, puts_per_sec={pps}, burst_seconds=1.1)
KinesisStreamWriter("{stream}", client, rate_limiter=limiter)
print(time.perf_counter() - t0)
"""


class _RecordingLimiter:
    """Forwards to the shared limiter; sums the seconds ``acquire`` slept."""

    def __init__(self, inner, tracer) -> None:
        self._inner, self._tracer = inner, tracer

    def acquire(self, shard_key: str, n_bytes: int, n_puts: int = 1) -> float:
        waited = self._inner.acquire(shard_key, n_bytes, n_puts)
        self._tracer.add("sink.limiter_wait_s", waited)
        return waited

    def richest_key(self, keys):
        return self._inner.richest_key(keys)


def run_throttled(ctx) -> dict:
    from kinesis_writer_spark.kpl.deaggregator import deaggregate
    from kinesis_writer_spark.sink import KinesisStreamWriter, ShardRateLimiter

    total = params.TOY_THROTTLED_BYTES if ctx.toy else params.THROTTLED_BYTES
    size = params.THROTTLED_PAYLOAD_BYTES
    n = total // size
    shards = params.THROTTLED_SHARDS
    bps = params.THROTTLED_LIMITER_SHARE * MIB
    pps = params.THROTTLED_LIMITER_SHARE * 1000.0
    rng = np.random.default_rng(ctx.seed)
    payloads = _payloads(rng, np.full(n, size))
    parts = [payloads[p::params.THROTTLED_PARTITIONS] for p in range(params.THROTTLED_PARTITIONS)]
    tracer = ctx.tracer
    workers = harness.cpu_count()

    probe = _SETUP_PROBE.format(shards=shards, bps=bps, pps=pps, stream=STREAM)
    setups = []

    def time_setups() -> None:
        for _ in range(params.THROTTLED_SETUP_CHUNK):
            proc = subprocess.run([sys.executable, "-c", probe], capture_output=True,
                                  text=True, check=True, timeout=60)
            setups.append(float(proc.stdout.strip().splitlines()[-1]))
        ctx.rss.take_peak()  # the probe interpreters are not a pass's memory

    def one_pass(traced: bool) -> dict:
        service = standin.FlakyThrottlingClient(set(params.THROTTLED_ERROR_CALLS),
                                                num_shards=shards)
        limiter = ShardRateLimiter(bytes_per_sec=bps, puts_per_sec=pps, burst_seconds=1.1)
        client = standin.CountingClient(service) if traced else service
        sleep = time.sleep
        if traced:
            limiter = _RecordingLimiter(limiter, tracer)

            def sleep(seconds: float) -> None:
                tracer.add("sink.retries", 1)
                tracer.add("sink.backoff_s", seconds)
                time.sleep(seconds)

        def write_partition(p: int) -> int:
            writer = KinesisStreamWriter(STREAM, client, rate_limiter=limiter, sleep=sleep,
                                         routing_seed=params.THROTTLED_ROUTING_SEED + p)
            t0 = time.monotonic()
            try:
                return writer.write(iter(parts[p]))
            except Exception as exc:
                harness.log(f"writer {p} raised {type(exc).__name__}: {exc}")
                return -1
            finally:
                if traced:
                    tracer.add("sink.write_s", time.monotonic() - t0)

        t0 = time.monotonic()
        with ThreadPoolExecutor(max_workers=workers) as pool:
            written = list(pool.map(write_partition, range(len(parts))))
        wall = time.monotonic() - t0
        lost = sum(len(parts[p]) for p, w in enumerate(written) if w < 0)
        res = {"wall": wall, "service": service, "raised_payloads": lost, "layers": {}}
        if traced:
            layers = tracer.end_pass()
            layers.update(client.stats)
            layers["sink.throttle_errors"] = service.throttle_errors
            layers["kpl.aggregated_records"] = len(service.received)
            layers["kpl.user_records_per_aggregate"] = n / max(1, len(service.received))
            layers["kpl.encode_s"] = layers.get("sink.write_s", 0.0) - sum(
                layers.get(k, 0.0) for k in
                ("kinesis_api.put_s", "sink.limiter_wait_s", "sink.backoff_s"))
            res["layers"] = layers
        return res

    walls, traced_walls, layers, pass_peaks = [], [], [], []
    attempted = failed = dups = wire_bytes = 0
    time_setups()
    t_start = time.monotonic()
    pass_no = 0
    while (time.monotonic() - t_start < ctx.seconds
           or len(walls) < params.THROTTLED_MIN_PASSES
           or (tracer.enabled and len(traced_walls) < params.THROTTLED_MIN_PASSES)):
        traced = tracer.enabled and pass_no % 2 == 1
        res = one_pass(traced)
        peak = ctx.rss.take_peak()
        attempted += n
        if pass_no == 0:  # correctness, once per process, after the timed pass
            got = [r.data for w in res["service"].received for r in deaggregate(w)]
            lost, dups = _check(payloads, got)
            failed += lost
            wire_bytes = sum(len(w) for w in res["service"].received)
            ctx.rss.take_peak()
        else:
            failed += res["raised_payloads"]
        if traced:
            traced_walls.append(res["wall"])
            layers.append(res["layers"])
        else:
            walls.append(res["wall"])
            pass_peaks.append(peak)
        harness.log(f"pass {pass_no}: {res['wall']:.3f}s")
        pass_no += 1
        time_setups()

    return {
        "setups": setups,
        "wall": harness.median(walls),
        "traced_wall": harness.median(traced_walls),
        "layers": layers,
        "pass_peaks": pass_peaks,
        "setup_layers": [],
        "attempted": attempted,
        "failed": failed,
        "dups": dups,
        "detail": {
            "cap_utilization": (wire_bytes / harness.median(walls) / (shards * MIB), "ratio"),
            "wire_bytes_per_payload_byte": (wire_bytes / (n * size), "ratio"),
            "dup_rate": (dups / n, "ratio"),
            "error_rate": (failed / attempted, "ratio"),
        },
    }

"""Streaming-plane soak bench (r10 verdict task #1): the last unmeasured
axis. Five phases, one calib-bracketed artifact
(artifacts/bench_stream_soak.json):

(a) **sink soak** — replay an sf1+-sized event stream (sf0.1 events
    replicated with shifted ids) through the packaged streaming sink:
    ``readStream`` -> ``writeStream.format("kinesis")`` (one KPL batcher
    per partition, random-shard routing, ``sink.FakeKinesisClient`` with a
    many-shard map in each task). Records sustained user-records/s and
    payload MB/s per micro-batch (rows and ``addBatch`` time from the
    query's progress) and over the batches after the first (which also
    starts the Python workers), compared against (i) the single-core
    pure-codec ceiling from bench_kpl.py and (ii) the Kinesis ingress
    limit of the synthetic shard map (shards x 1 MiB/s) — the reference's
    stated goal is that the SERVICE limit, not the producer, is the
    bottleneck (build.sbt:21 "maximum throughput possible"), so the soak
    passes when aggregate MB/s >> the shard map's ingress bound.

(b) **stateful batcher soak** — the KPL batcher as a stateful streaming
    operator (streaming/stateful_v2.py, applyInPandasWithState binding)
    at >=128k distinct keys across many micro-batches, recording the
    state store's ``numRowsTotal`` and size per batch. The flush
    invariant bounds per-key state below the soft cap, so total state
    must plateau at <= keys x (soft_max + per-key overhead) REGARDLESS
    of stream length — the artifact records the plateau.

(c) **checkpoint-resume mid-soak at volume** — a multi-million-record
    keyed stream through the batcher with a file-sink + checkpoint; the
    query is STOPPED mid-soak (not at a batch boundary of our choosing)
    and restarted; after drain, every output wire batch is deaggregated
    DISTRIBUTED-side and each input record id must appear EXACTLY once
    (a final soft_max-sized sentinel per key forces all tails to flush,
    so the check is total, not prefix-modulo-tail).

(d) **stream-stream interval join** — `interval_join_streams` at volume
    (two watermarked sides, 30-min event-time interval), recording join
    state rows per micro-batch: the watermark must EVICT, so state
    plateaus at the buffered-hours bound instead of growing with the
    stream — the feasibility condition for stream-stream joins at
    100 TB/day.

(e) **kinesis source backlog drain** — a deep multi-shard backlog read
    TRIM_HORIZON -> tip with the stream reader and deaggregated,
    measuring sustained drain records/s + MB/s vs the per-shard read cap
    (2 MB/s/shard): a lagging consumer must out-drain the producers.

r12 phases (verdict tasks #2/#3/#6):

(f) **reshard chaos at volume** — a SPLIT and a MERGE fire mid-stream at
    2M records; the sink writes through them (periodic refresh re-routes)
    and the partitioned source drains the whole topology in capped
    micro-batches. Asserts exactly-once, SHARD_END drain of every closed
    shard, and zero violations of the KCL parent-before-child admission
    rule reconstructed from committed checkpoint offsets.

(g) **dropDuplicatesWithinWatermark state plateau** — 2x-duplicated ids,
    2 h watermark: state locks at the trigger+watermark horizon
    (independent of stream length), eviction active, every id emitted
    exactly once.

(h) **session_window state plateau** — multi-event per-user-hour bursts
    (session MERGING exercised): state plateaus at the same horizon,
    closed sessions flush exactly once with the exact event count.

(i) **sustained-throttling envelope** — ThrottlingKinesisClient enforces
    the real per-shard service budgets; reactive back-off alone vs the
    shared proactive ShardRateLimiter (budget-routed), both at ~15x
    offered overload: degrade-to-sustainable-rate, zero loss, bounded
    retries.

Run:  PYTHONPATH=/root/repo python bench_stream.py [--replicas 100]
          [--keys 131072] [--resume-rows 2000000] [--out bench_stream_soak.json]

Reference behavior being scaled: KinesisWriter.scala:147-197's producer
loop as a streaming sink; MyAggregator.scala:10-15's replay-from-raw state.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

ART = os.path.join(os.path.dirname(os.path.abspath(__file__)), "artifacts")
EVENTS_SRC = "/root/testdata/sf0.1"
FIX_ROOT = "/tmp/stream_soak_r11"


# ---------------------------------------------------------------------------
# fixtures (all built as DataFrame writes — nothing driver-side)
# ---------------------------------------------------------------------------

def build_sink_fixture(spark, replicas: int, n_files: int) -> str:
    """sf0.1 events x replicas with shifted event ids, JSON-serialized to a
    binary ``data`` column up front so the soak measures the SINK, not
    to_json. ~100 B/payload (sf0.1: 9,960,748 B over 100,000 payloads)."""
    dst = f"{FIX_ROOT}/events_x{replicas}_f{n_files}"
    if os.path.exists(os.path.join(dst, "_SUCCESS")):
        return dst
    from kinesis_writer_spark import io as kio

    ev = kio.load(spark, EVENTS_SRC, "events")
    n = ev.count()
    rep = spark.range(replicas).select(F.col("id").alias("r"))
    (
        ev.crossJoin(rep)
        .select(
            (F.col("event_id") + F.col("r") * n).alias("event_id"),
            "ts", "user_id", "event_type", "value",
        )
        .select(
            F.col("user_id").cast("string").alias("pk"),
            F.to_json(F.struct("event_id", "ts", "user_id", "event_type", "value"))
            .cast("binary")
            .alias("data"),
        )
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(dst)
    )
    return dst


def build_keyed_fixture(spark, dst: str, n_files: int, rows_per_file: int,
                        n_keys: int, payload_pad: int = 96) -> str:
    """(pk, data) stream files; every record carries a globally unique id
    inside its payload so exactly-once is checkable after deaggregation."""
    if os.path.exists(os.path.join(dst, "_SUCCESS")):
        return dst
    total = n_files * rows_per_file
    # contiguous id blocks per file, ids cycling over keys WITHIN each
    # block: every key appears in every micro-batch (the per-key state is
    # read+rewritten each batch — the soak regime), and each record id is
    # globally unique
    (
        spark.range(total)
        .select(
            (F.col("id") / rows_per_file).cast("long").alias("f"),
            F.format_string(f"k%0{len(str(n_keys))}d", (F.col("id") % n_keys)).alias("pk"),
            F.encode(
                F.concat(
                    F.format_string("rec-%012d|", F.col("id")),
                    F.lit("x" * payload_pad),
                ),
                "UTF-8",
            ).alias("data"),
        )
        .repartitionByRange(n_files, "f")
        .sortWithinPartitions("f")
        .drop("f")
        .write.mode("overwrite")
        .parquet(dst)
    )
    return dst


def build_sentinel_file(spark, stream_dir: str, n_keys: int, soft_max: int) -> None:
    """One soft_max-sized payload per key, appended as the stream's final
    file(s): adding it crosses the soft cap, so every key's tail flushes
    and the exactly-once check covers EVERY record."""
    (
        spark.range(n_keys)
        .select(
            F.format_string(f"k%0{len(str(n_keys))}d", F.col("id")).alias("pk"),
            F.encode(
                F.concat(
                    F.format_string("sent-%012d|", F.col("id")),
                    F.lit("z" * soft_max),
                ),
                "UTF-8",
            ).alias("data"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(stream_dir)
    )


def _ckpt_batch_ids(ckpt: str, sub: str) -> list[int]:
    d = os.path.join(ckpt, sub)
    if not os.path.isdir(d):
        return []
    return sorted(int(f) for f in os.listdir(d) if f.isdigit())


def _ckpt_offset_of(ckpt: str, batch_id: int) -> dict:
    lines = open(os.path.join(ckpt, "offsets", str(batch_id))).read().splitlines()
    return json.loads(lines[2]) if len(lines) >= 3 else {}


def _stop_when_drained(q, ckpt: str, expected_seq: dict,
                       done_shards=(), timeout_s: float = 600.0) -> None:
    """Poll a running streaming query's checkpoint until the latest
    COMMITTED offsets reach every shard's tail sequence number (and every
    ``done_shards`` entry flips done), then stop it. This is the capped
    backlog-drain pattern: availableNow cannot drive a capped drain (its
    one-shot latestOffset snapshot IS capped — see the reader docstring).
    Promoted to the package as streaming.drain_backlog (r13 verdict task
    #1); this shim keeps the soaks' no-raise-on-timeout behavior (every
    soak asserts drained_all on its own output afterwards)."""
    from kinesis_writer_spark.streaming import drain_backlog

    drain_backlog(q, ckpt, expected_seq, done_shards=done_shards,
                  timeout_s=timeout_s, raise_on_timeout=False)


def _keyed_stream(spark, path: str, max_files: int):
    return (
        spark.readStream.schema("pk string, data binary")
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# phase (a): sink throughput soak
# ---------------------------------------------------------------------------

def sink_soak(spark, replicas: int, n_files: int, files_per_trigger: int,
              shards: int) -> dict:
    """Stream the sink fixture through ``writeStream.format("kinesis")``.

    The first micro-batch also starts the query's Python workers, so its
    ``addBatch`` time is reported on its own (``first_batch_secs``), and the
    sustained and per-core figures cover the later batches only. They are
    None when a single batch ran. ``batches`` lists every batch."""
    from kinesis_writer_spark.sources import kinesis_stream

    kinesis_stream.register(spark)
    src = build_sink_fixture(spark, replicas, n_files)
    # progress reports rows, not bytes: a batch's payload bytes are its rows
    # times the fixture's mean payload size
    rows, nbytes = spark.read.parquet(src).agg(
        F.count("*"), F.sum(F.length("data"))
    ).first()
    mean_bytes = (nbytes or 0) / rows if rows else 0.0
    q = (
        _keyed_stream(spark, src, files_per_trigger)
        .select("data")
        .writeStream.format("kinesis")
        .option("stream_name", "soak")
        .option("client_factory", "kinesis_writer_spark.sink:FakeKinesisClient")
        .option("client_kwargs", json.dumps({"num_shards": shards}))
        .option("checkpointLocation", f"{FIX_ROOT}/ckpt_sink_{replicas}_{time.time_ns()}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # input parallelism of each micro-batch: the sink runs one batcher per
    # partition, so fewer partitions than cores leaves cores idle — a
    # trigger-sizing property of the harness, not sink capability (the
    # per-core figure divides by ALL cores; the per_active_core rollup
    # divides by what the trigger actually lit). Streaming runs each
    # micro-batch's one write job in the job group of the query's runId.
    tracker = spark.sparkContext.statusTracker()
    tasks = [
        sum(tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds)
        for j in sorted(tracker.getJobIdsForGroup(str(q.runId)))
    ]
    progress = [p for p in q.recentProgress if p["numInputRows"]]
    if len(tasks) != len(progress):
        tasks = [None] * len(progress)
    batches: list[dict] = []
    for p, n_parts in zip(progress, tasks):
        n = p["numInputRows"]
        dt = p["durationMs"]["addBatch"] / 1000
        payload = round(n * mean_bytes)
        batches.append(
            {"epoch": p["batchId"], "records": n, "payload_bytes": payload,
             "secs": round(dt, 3), "partitions": n_parts,
             "recs_per_sec": round(n / dt) if dt > 0 else None,
             "mb_per_sec": round(payload / dt / 1e6, 1) if dt > 0 else None}
        )
    warm = batches[1:]
    total_recs = sum(b["records"] for b in batches)
    total_bytes = sum(b["payload_bytes"] for b in batches)
    warm_recs = sum(b["records"] for b in warm)
    warm_secs = sum(b["secs"] for b in warm)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    kpl = {}
    try:
        with open(os.path.join(ART, "bench_kpl.json")) as f:
            kpl = json.load(f)
    except Exception:
        pass
    mb_s = round(sum(b["payload_bytes"] for b in warm) / warm_secs / 1e6, 1) if warm_secs else None
    return {
        "replicas": replicas,
        "n_micro_batches": len(batches),
        "shards": shards,
        "total_records": total_recs,
        "total_payload_mb": round(total_bytes / 1e6, 1),
        "first_batch_secs": batches[0]["secs"] if batches else None,
        "sustained_secs": round(warm_secs, 2) if warm_secs else None,
        "sustained_recs_per_sec": round(warm_recs / warm_secs) if warm_secs else None,
        "sustained_mb_per_sec": mb_s,
        "per_core_recs_per_sec": round(warm_recs / warm_secs / cpus) if warm_secs else None,
        # divides by the cores the trigger actually engaged (min(partitions,
        # cpus) per batch) — the sink-capability number; the plain per-core
        # figure above charges idle cores to the sink when the trigger is
        # smaller than the host
        "per_active_core_recs_per_sec": (
            round(
                warm_recs
                / sum(
                    b["secs"] * min(b.get("partitions") or cpus, cpus)
                    for b in warm
                )
            )
            if warm_secs
            else None
        ),
        # the soak's pass criterion: producer >> service ingress limit
        "shard_ingress_limit_mb_per_sec": shards * 1.0,
        "x_shard_ingress_limit": round(mb_s / shards, 1) if mb_s else None,
        "bench_kpl_single_core_recs_per_sec": (kpl.get("cases") or [{}])[0].get(
            "encode_recs_per_sec"
        ),
        "batches": batches,
    }


# ---------------------------------------------------------------------------
# phase (b): stateful batcher state-growth soak
# ---------------------------------------------------------------------------

def _binding(name: str):
    """legacy = applyInPandasWithState (HDFS-backed store); tws =
    transformWithStateInPandas (RocksDB store — the provider a 100 TB
    deployment would run, disk-backed with changelog checkpointing)."""
    from kinesis_writer_spark.streaming import stateful_v2

    if name == "tws":
        if not stateful_v2.TWS_AVAILABLE:
            raise RuntimeError("tws binding requires protobuf (TWS_AVAILABLE=False)")
        return stateful_v2.kpl_batch_stream
    return stateful_v2.kpl_batch_stream_legacy


def state_soak(spark, n_keys: int, n_files: int, rows_per_file: int,
               soft_max: int, binding: str = "legacy") -> dict:
    src = build_keyed_fixture(
        spark, f"{FIX_ROOT}/keyed_{n_keys}_{n_files}x{rows_per_file}",
        n_files, rows_per_file, n_keys,
    )
    out = f"{FIX_ROOT}/state_out_{time.time_ns()}"
    q = (
        _binding(binding)(_keyed_stream(spark, src, 1), soft_max_bytes=soft_max)
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", f"{FIX_ROOT}/ckpt_state_{time.time_ns()}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = []
    for p in q.recentProgress:
        ops = p.get("stateOperators") or [{}]
        cm = ops[0].get("customMetrics") or {}
        progress.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
                "state_rows": ops[0].get("numRowsTotal"),
                "state_mem_bytes": ops[0].get("memoryUsedBytes"),
                # HDFS provider reports committed-version bytes; RocksDB
                # (tws binding) reports SST file bytes instead
                "state_bytes_current": (
                    cm.get("stateOnCurrentVersionSizeBytes")
                    if cm.get("stateOnCurrentVersionSizeBytes") is not None
                    else cm.get("rocksdbTotalSstFilesBytes")
                ),
            }
        )
    measured = [p for p in progress if p["numInputRows"]]
    peak_rows = max((p["state_rows"] or 0) for p in measured) if measured else 0
    peak_bytes = max((p["state_bytes_current"] or p["state_mem_bytes"] or 0)
                     for p in measured) if measured else 0
    completed = spark.read.parquet(out).count()
    # tws keeps TWO state variables per key (tail ListState + seq
    # ValueState), each its own column family: numRowsTotal counts both,
    # and RocksDB carries more per-key metadata than the HDFS map store
    state_vars = 2 if binding == "tws" else 1
    per_key_overhead = 1600 if binding == "tws" else 512
    return {
        "binding": binding,
        "state_vars_per_key": state_vars,
        "n_keys": n_keys,
        "n_micro_batches": len(measured),
        "rows_per_batch": rows_per_file,
        "soft_max_bytes": soft_max,
        "completed_wire_batches": completed,
        "peak_state_rows": peak_rows,
        "state_rows_bounded_by_keys": peak_rows <= n_keys * state_vars,
        "peak_state_bytes": int(peak_bytes),
        # flush invariant: tail < soft_max framed bytes per key; per-key
        # bookkeeping allowance on top (column families + store metadata)
        "state_bound_bytes": n_keys * (soft_max + per_key_overhead),
        "state_bytes_bounded": bool(
            peak_bytes <= n_keys * (soft_max + per_key_overhead)
        ),
        "per_batch": measured,
    }


# ---------------------------------------------------------------------------
# phase (d): stream-stream interval join — watermark eviction bounds state
# ---------------------------------------------------------------------------

def build_timed_fixture(spark, dst: str, n_files: int, rows_per_file: int,
                        n_keys: int, id_offset: int = 0) -> str:
    """Event-time-ordered stream files: file f covers hour f, written
    SEQUENTIALLY so the file source's mod-time order advances event time
    monotonically and the watermark actually moves every micro-batch."""
    if os.path.exists(os.path.join(dst, "_FIXTURE_DONE")):
        return dst
    for f in range(n_files):
        (
            spark.range(f * rows_per_file, (f + 1) * rows_per_file)
            .select(
                F.timestamp_seconds(
                    F.lit(f * 3600) + (F.col("id") % rows_per_file) * (3600.0 / rows_per_file)
                ).alias("ts"),
                (F.col("id") % n_keys).alias("user_id"),
                (F.col("id") + id_offset).alias("event_id"),
            )
            .coalesce(4)
            .write.mode("append")
            .parquet(dst)
        )
        time.sleep(0.05)  # distinct mod-times -> deterministic file order
    open(os.path.join(dst, "_FIXTURE_DONE"), "w").close()
    return dst


def join_soak(spark, n_keys: int, n_files: int, rows_per_file: int) -> dict:
    """interval_join_streams at volume: both sides watermarked (2 h) with a
    30-min event-time interval, so Spark EVICTS join state as the watermark
    passes — per-batch state rows must PLATEAU (bounded by the hours the
    watermark+interval keeps buffered), not grow with stream length. The
    100 TB claim for stream-stream joins is exactly this plateau."""
    from kinesis_writer_spark.streaming.windows import interval_join_streams

    base = f"{FIX_ROOT}/joinfix_{n_keys}_{n_files}x{rows_per_file}"
    left_dir = build_timed_fixture(spark, base + "_L", n_files, rows_per_file, n_keys)
    right_dir = build_timed_fixture(
        spark, base + "_R", n_files, rows_per_file, n_keys, id_offset=10**12
    )
    schema = "ts timestamp, user_id bigint, event_id bigint"

    def src(path):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)  # one hour-file per side per batch
            .parquet(path)
        )

    out = f"{FIX_ROOT}/join_out_{time.time_ns()}"
    q = (
        interval_join_streams(src(left_dir), src(right_dir))
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", f"{FIX_ROOT}/ckpt_join_{time.time_ns()}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    per_batch = []
    for p in q.recentProgress:
        ops = p.get("stateOperators") or [{}]
        per_batch.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
                "state_rows": ops[0].get("numRowsTotal"),
                "state_rows_removed": ops[0].get("numRowsRemoved"),
                "watermark": p.get("eventTime", {}).get("watermark"),
            }
        )
    measured = [p for p in per_batch if p["numInputRows"]]
    peak = max((p["state_rows"] or 0) for p in measured) if measured else 0
    total_in = 2 * n_files * rows_per_file
    # watermark 2 h + interval 0.5 h -> <= ~3.5 buffered hours per side;
    # generous bound at 5 hour-files per side
    bound = 2 * rows_per_file * 5
    evicted = sum((p["state_rows_removed"] or 0) for p in measured)
    joined = spark.read.parquet(out).count()
    return {
        "n_keys": n_keys,
        "n_files_per_side": n_files,
        "rows_per_file": rows_per_file,
        "total_input_rows": total_in,
        "joined_rows": joined,
        "n_micro_batches": len(measured),
        "peak_state_rows": peak,
        "state_bound_rows": bound,
        "state_bounded": bool(peak <= bound),
        "rows_evicted": evicted,
        "eviction_active": bool(evicted > 0),
        "per_batch": measured,
    }


# ---------------------------------------------------------------------------
# phase (i): sustained-throttling degradation envelope (r12 verdict task #6)
# ---------------------------------------------------------------------------

def throttle_soak(total_mb: int = 60, shards: int = 4,
                  payload_bytes: int = 512) -> dict:
    """Sustained ``ProvisionedThroughputExceeded`` pressure on the REAL
    clock: the ThrottlingKinesisClient enforces the service's per-shard
    1 MiB/s budget (token buckets, real partial-failure shapes) while the
    writer offers load ~50x over it. Two legs:

      reactive   — no proactive limiter: only the reference's linear
                   back-off + re-route envelope (KinesisWriter.scala:82-93)
                   paces the writer;
      proactive  — ShardRateLimiter at 90% of the service budget: the
                   writer pre-paces and routes each flush to the fullest
                   bucket, so throttle errors should ~vanish.

    Pass criteria recorded in the artifact: throughput DEGRADES to the
    configured cap (not collapse, not overrun), zero record loss (every
    payload delivered exactly once), retries bounded (the writer never
    exhausts its 30-retry budget — completion proves it). Runs off-Spark
    on purpose: the envelope is per-writer behavior and the assertion
    needs same-process client introspection; the identical per-partition
    writer is what every Spark task runs (sink soak covers that path).
    """
    from kinesis_writer_spark.kpl.deaggregator import deaggregate
    from kinesis_writer_spark.sink import (
        KinesisStreamWriter,
        ShardRateLimiter,
        ThrottlingKinesisClient,
    )

    n_records = total_mb * 1_000_000 // payload_bytes
    payloads = [
        (b"%012d|" % i) + b"t" * (payload_bytes - 13) for i in range(n_records)
    ]
    cap_mb_per_sec = shards * 1.048576

    n_writers = 4  # the per-partition-task shape: concurrent writers
    # share the stream, so one writer's back-off sleep never idles the
    # OTHER shards' budgets (a single serial writer measures ~0.25x cap
    # for exactly that reason — measured in the r12 smoke artifact)

    def leg(use_limiter: bool) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        client = ThrottlingKinesisClient(num_shards=shards)
        # ONE limiter shared by all writers in the process at the FULL
        # per-shard service budget — the streaming sink's own configuration
        # (kinesis_stream._shared_sink_limiter). Per-writer divided budgets
        # measure ~0.27x cap instead: random routing leaves each writer's
        # per-shard sub-bucket idling at its burst cap between draws, and
        # the wasted refill is unrecoverable (r12 smoke artifacts).
        shared_limiter = (
            # 90% of the service budget: the limiter's clock and the
            # service's refill windows are not phase-aligned, so pacing AT
            # the budget still trips occasional rejections whose 2 s
            # back-off costs far more than the 10% margin (measured: at
            # 100% the leg lands at 0.45x cap from 7 rejection back-offs)
            ShardRateLimiter(
                bytes_per_sec=0.9 * 1_048_576.0, puts_per_sec=900.0,
                burst_seconds=1.1,  # capacity >= one ~1 MB flush
            )
            if use_limiter
            else None
        )

        def run_writer(i: int) -> int:
            writer = KinesisStreamWriter(
                "throttle-soak", client, rate_limiter=shared_limiter,
                routing_seed=42 + i,
            )
            return writer.write(iter(payloads[i::n_writers]))

        t0 = time.monotonic()
        with ThreadPoolExecutor(max_workers=n_writers) as pool:
            n = sum(pool.map(run_writer, range(n_writers)))
        dt = time.monotonic() - t0
        delivered = sum(len(w) for w in client.received)
        # per-second delivered-bytes timeline: shows smooth degradation
        # to the cap, not stall/collapse oscillation
        buckets: dict[int, int] = {}
        for ts, nb in client.arrivals:
            buckets[int(ts - t0)] = buckets.get(int(ts - t0), 0) + nb
        timeline = [round(buckets.get(s, 0) / 1e6, 2)
                    for s in range(int(dt) + 1)]
        n_out = sum(len(deaggregate(w)) for w in client.received)
        mb_s = delivered / dt / 1e6 if dt else None
        # the most the service can accept in dt: every shard refills at
        # its cap and starts with a full burst bucket, which budget routing
        # spends at once (cap x secs + shards x burst bytes)
        cap_bytes = shards * client.bytes_per_sec * dt
        max_bytes = cap_bytes + shards * client.bytes_per_sec * client.burst
        # no-stall check: worst 5-second sliding window over the middle
        # 80% of the run — collapse looks like a window near zero, steady
        # degradation does not
        mid = timeline[max(1, len(timeline) // 10):
                       len(timeline) - max(1, len(timeline) // 10)]
        worst5 = (
            min(sum(mid[i:i + 5]) / 5 for i in range(max(1, len(mid) - 4)))
            if len(mid) >= 5 else None
        )
        return {
            "concurrent_writers": n_writers,
            "records": n,
            "records_delivered": n_out,
            "zero_loss": n == n_out == n_records,
            "wire_mb": round(delivered / 1e6, 1),
            "secs": round(dt, 2),
            "mb_per_sec": round(mb_s, 2) if mb_s else None,
            "x_configured_cap": round(mb_s / cap_mb_per_sec, 2) if mb_s else None,
            "x_physical_max": round(max_bytes / cap_bytes, 3) if dt else None,
            "within_physical_max": delivered <= max_bytes,
            "throttle_errors": client.throttle_errors,
            "retries_bounded": True,  # completion == never hit the 30-cap
            "worst_5s_window_mb_per_sec": round(worst5, 2) if worst5 is not None else None,
            "mb_per_sec_timeline": timeline,
        }

    reactive = leg(use_limiter=False)
    proactive = leg(use_limiter=True)
    return {
        "op": "sustained ProvisionedThroughputExceeded",
        "shards": shards,
        "configured_cap_mb_per_sec": round(cap_mb_per_sec, 2),
        "offered_mb": total_mb,
        "payload_bytes": payload_bytes,
        "reactive_backoff_only": reactive,
        "proactive_rate_limiter": proactive,
        # reactive back-off alone sustains a STABLE ~0.3x of the cap
        # (each 2 s linear back-off overshoots the ~1 s actual deficit);
        # the proactive limiter with budget routing reaches ~0.9x with
        # ZERO service rejections — the residual below 1.0x is the 10%
        # pacing margin plus burst-cap quantization (one ~1 MB put is a
        # full shard-second of budget; the service's own
        # 1 MiB-put-vs-1 MiB/s granularity, not a stall).
        # The bands assert that shape: degradation to a sustainable rate,
        # zero loss, never collapse. The upper band is the service's own
        # maximum for the run (x_physical_max): a short run can read above
        # 1.0x of the cap because every shard starts with a full burst.
        "degrades_to_cap_not_collapse": bool(
            reactive["x_configured_cap"] and 0.2 <= reactive["x_configured_cap"]
            and proactive["x_configured_cap"] and 0.55 <= proactive["x_configured_cap"]
            and reactive["within_physical_max"] and proactive["within_physical_max"]
        ),
    }


# ---------------------------------------------------------------------------
# phase (j): reshard x rate limiter x budget routing, combined (r13 task #3)
# ---------------------------------------------------------------------------

def reshard_throttle_soak(total_records: int = 1_000_000, shards: int = 4,
                          payload_bytes: int = 256) -> dict:
    """The three r12 features SOAKED TOGETHER, which r12 only proved
    separately: budget routing through the shared ShardRateLimiter +
    a SPLIT and a MERGE firing mid-stream with >=1M records in flight,
    against a service client that both enforces per-shard budgets AND
    reshards (children get fresh service buckets; capacity doubles after
    the split, halves back after the merge).

    Asserts, per the r12 verdict's ask:
      - zero loss / zero dup (every unique record id delivered exactly once);
      - cap utilization HOLDS across both topology changes (per-epoch
        delivered MB/s vs that epoch's open-shard service cap, head-trimmed
        past the shard-map refresh transient);
      - recycled midpoint buckets grant at most ONE BURST of slack per
        recycle (kinesis_stream.py's _SINK_LIMITERS claim): the limiter
        ends the run with exactly initial+split-children bucket keys —
        merge children span the pre-split hash ranges, so their midpoints
        REUSE the initial buckets — and total delivered bytes stay within
        the time-integrated paced budget plus that bounded slack.
    """
    from concurrent.futures import ThreadPoolExecutor

    from kinesis_writer_spark.kpl.deaggregator import deaggregate
    from kinesis_writer_spark.sink import (
        KinesisStreamWriter,
        ShardRateLimiter,
        ThrottlingKinesisClient,
        open_shard_midpoints,
    )

    class ReshardingThrottlingClient(ThrottlingKinesisClient):
        """ThrottlingKinesisClient + scripted mid-stream SPLIT/MERGE. The
        shared shard model routes over OPEN shards only (the service's
        behavior: a put routed by a stale parent midpoint lands in the
        covering child), so closed parents stop spending budget the
        moment they close."""

        def __init__(self, split_after_puts: int, merge_after_puts: int,
                     **kw) -> None:
            super().__init__(**kw)
            self.split_after_puts = split_after_puts
            self.merge_after_puts = merge_after_puts
            self.topology_events: list[tuple[float, str, int]] = []

        def put_records(self, StreamName: str, Records: list[dict]):
            with self._lock:
                self._puts_seen += 1
                if self.split_after_puts and self._puts_seen > self.split_after_puts:
                    self.split_all_shards()
                    self.split_after_puts = 0
                    self.topology_events.append(
                        (self._clock(), "split", len(self._open_shards()))
                    )
                if self.merge_after_puts and self._puts_seen > self.merge_after_puts:
                    self.merge_adjacent_shards()
                    self.merge_after_puts = 0
                    self.topology_events.append(
                        (self._clock(), "merge", len(self._open_shards()))
                    )
                return self._put_records_locked(StreamName, Records)

    n_records = total_records
    payloads = [
        (b"%012d|" % i) + b"t" * (payload_bytes - 13) for i in range(n_records)
    ]
    # ~(payload+5B frame)/record against ~1MB flushes -> est total puts;
    # split at ~1/3, merge back at ~2/3 of the stream
    est_puts = max(n_records * (payload_bytes + 9) // 1_000_000, 9)
    split_at, merge_at = est_puts // 3, (2 * est_puts) // 3

    client = ReshardingThrottlingClient(
        split_after_puts=split_at, merge_after_puts=merge_at,
        num_shards=shards,
    )
    paced_fraction = 0.9  # same margin rationale as throttle_soak
    burst_s = 1.1
    limiter = ShardRateLimiter(
        bytes_per_sec=paced_fraction * 1_048_576.0, puts_per_sec=900.0,
        burst_seconds=burst_s,
    )
    initial_midpoints = set(open_shard_midpoints(client, "reshard-throttle"))

    n_writers = 4

    def run_writer(i: int) -> int:
        writer = KinesisStreamWriter(
            "reshard-throttle", client, rate_limiter=limiter,
            routing_seed=42 + i,
            refresh_every_flushes=2,  # ~2s topology pickup at this pace
        )
        return writer.write(iter(payloads[i::n_writers]))

    t0 = time.monotonic()
    with ThreadPoolExecutor(max_workers=n_writers) as pool:
        n = sum(pool.map(run_writer, range(n_writers)))
    dt = time.monotonic() - t0

    # -- exactly-once -------------------------------------------------------
    seen: dict[bytes, int] = {}
    for wire in client.received:
        for rec in deaggregate(wire):
            rid = bytes(rec.data[:12])
            seen[rid] = seen.get(rid, 0) + 1
    distinct = len(seen)
    total = sum(seen.values())
    max_per_id = max(seen.values()) if seen else 0

    # -- per-epoch utilization vs the OPEN-shard service cap ----------------
    boundaries = [t0] + [ts for ts, _, _ in client.topology_events] + [t0 + dt]
    open_counts = [shards] + [n_open for _, _, n_open in client.topology_events]
    epochs = []
    head_trim_s = 4.0  # past the refresh_every_flushes=2 re-discovery lag
    for idx in range(len(boundaries) - 1):
        lo, hi = boundaries[idx], boundaries[idx + 1]
        lo_t = min(lo + head_trim_s, hi)
        got = sum(nb for ts, nb in client.arrivals if lo_t <= ts < hi)
        dur = hi - lo_t
        cap = open_counts[idx] * 1.048576e6
        epochs.append({
            "open_shards": open_counts[idx],
            "secs": round(hi - lo, 2),
            "measured_secs": round(dur, 2),
            "mb_per_sec": round(got / dur / 1e6, 2) if dur > 0.5 else None,
            "x_service_cap": round(got / dur / cap, 3) if dur > 0.5 else None,
        })

    # -- bounded bucket-recycle slack ---------------------------------------
    bucket_keys = set(limiter._buckets)
    split_child_keys = bucket_keys - initial_midpoints
    burst_bytes = paced_fraction * 1_048_576.0 * burst_s
    # time-integrated paced budget: 0.9 x 1MiB/s per open shard per second
    paced_budget = sum(
        open_counts[i] * paced_fraction * 1_048_576.0
        * (boundaries[i + 1] - boundaries[i])
        for i in range(len(boundaries) - 1)
    )
    delivered_bytes = sum(nb for _, nb in client.arrivals)
    # slack sources: one burst per bucket CREATION (initial 4 + 8 split
    # children) + one per RECYCLE (the 4 initial buckets idle through the
    # split epoch, refill to cap, and are reused by the merge children)
    slack_allowance = (len(bucket_keys) + shards) * burst_bytes
    overage = delivered_bytes - paced_budget

    return {
        "op": "SPLIT+MERGE under service throttling with shared limiter + budget routing",
        "records": n_records,
        "payload_bytes": payload_bytes,
        "shards_initial": shards,
        "est_puts": est_puts,
        "split_after_puts": split_at,
        "merge_after_puts": merge_at,
        "topology_events": [
            {"t_rel_s": round(ts - t0, 2), "kind": kind, "open_shards": n_open}
            for ts, kind, n_open in client.topology_events
        ],
        "secs": round(dt, 2),
        "written": n,
        "distinct_ids": distinct,
        "total_ids": total,
        "max_occurrences_per_id": max_per_id,
        "exactly_once": distinct == total == n_records and max_per_id == 1,
        "throttle_errors": client.throttle_errors,
        "epochs": epochs,
        # an epoch shorter than head_trim + 0.5s has no measurable window
        # (x_service_cap None) — skip it rather than flag a spurious
        # failure, but require at least one measured epoch
        "utilization_holds": any(
            e["x_service_cap"] is not None for e in epochs
        ) and all(
            e["x_service_cap"] >= 0.8
            for e in epochs if e["x_service_cap"] is not None
        ),
        "epochs_measured": sum(
            1 for e in epochs if e["x_service_cap"] is not None
        ),
        "limiter_bucket_keys": len(bucket_keys),
        "split_child_buckets": len(split_child_keys),
        "merge_children_reuse_initial_buckets": len(bucket_keys) == shards * 3,
        "delivered_mb": round(delivered_bytes / 1e6, 1),
        "paced_budget_mb": round(paced_budget / 1e6, 1),
        "overage_mb": round(overage / 1e6, 2),
        "slack_allowance_mb": round(slack_allowance / 1e6, 2),
        "bucket_slack_bounded": overage <= slack_allowance,
    }


# ---------------------------------------------------------------------------
# phases (g,h): the two stateful ops r11 left unit-only (r12 verdict task #3)
# ---------------------------------------------------------------------------

def _state_progress(q) -> list[dict]:
    per_batch = []
    for p in q.recentProgress:
        ops = p.get("stateOperators") or [{}]
        per_batch.append(
            {
                "batchId": p.get("batchId"),
                "numInputRows": p.get("numInputRows"),
                "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
                "state_rows": ops[0].get("numRowsTotal"),
                "state_rows_removed": ops[0].get("numRowsRemoved"),
                "watermark": p.get("eventTime", {}).get("watermark"),
            }
        )
    return [p for p in per_batch if p["numInputRows"]]


def dedup_soak(spark, n_keys: int, n_files: int, rows_per_file: int) -> dict:
    """``dropDuplicatesWithinWatermark`` at volume: every event id arrives
    TWICE inside the same hour-file (dup rate 2x), watermark 2 h. State
    holds one row per distinct id still inside the watermark horizon, so
    per-batch state must PLATEAU at ~buffered-hours x distinct-per-hour
    and EVICT as the watermark passes — never grow with stream length —
    while the output carries each id exactly once."""
    dst = f"{FIX_ROOT}/dedupfix_{n_keys}_{n_files}x{rows_per_file}"
    distinct_per_file = rows_per_file // 2
    if not os.path.exists(os.path.join(dst, "_FIXTURE_DONE")):
        for f in range(n_files):
            base = f * distinct_per_file
            (
                spark.range(f * rows_per_file, (f + 1) * rows_per_file)
                .select(
                    F.timestamp_seconds(
                        F.lit(f * 3600)
                        + (F.col("id") % rows_per_file) * (3600.0 / rows_per_file)
                    ).alias("ts"),
                    (F.col("id") % n_keys).alias("user_id"),
                    # ids 2x-duplicated WITHIN the file: both copies land
                    # inside the same watermark window, so exactly one
                    # survives regardless of batch boundaries
                    (F.lit(base) + (F.col("id") % rows_per_file) % distinct_per_file)
                    .alias("event_id"),
                )
                .coalesce(4)
                .write.mode("append")
                .parquet(dst)
            )
            time.sleep(0.05)
        open(os.path.join(dst, "_FIXTURE_DONE"), "w").close()

    from kinesis_writer_spark.streaming.windows import dedup_stream_within_watermark

    files_per_trigger = 2
    stream = (
        spark.readStream.schema("ts timestamp, user_id bigint, event_id bigint")
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(dst)
    )
    out = f"{FIX_ROOT}/dedup_out_{time.time_ns()}"
    q = (
        dedup_stream_within_watermark(stream, watermark="2 hours")
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", f"{FIX_ROOT}/ckpt_dedup_{time.time_ns()}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    measured = _state_progress(q)
    peak = max((p["state_rows"] or 0) for p in measured) if measured else 0
    evicted = sum((p["state_rows_removed"] or 0) for p in measured)
    got = spark.read.parquet(out)
    n_out = got.count()
    n_distinct_out = got.select("event_id").distinct().count()
    total_in = n_files * rows_per_file
    total_distinct = n_files * distinct_per_file
    # state horizon = the hours one trigger ingests + the 2 h watermark lag
    # (applied at the NEXT batch) + 1 h slack — independent of n_files,
    # which is the claim: state tracks the horizon, not the stream length
    bound = (files_per_trigger + 3) * distinct_per_file
    return {
        "op": "dropDuplicatesWithinWatermark",
        "n_files": n_files,
        "rows_per_file": rows_per_file,
        "total_input_rows": total_in,
        "total_distinct_ids": total_distinct,
        "output_rows": n_out,
        "output_distinct_ids": n_distinct_out,
        "each_id_exactly_once": n_out == total_distinct == n_distinct_out,
        "n_micro_batches": len(measured),
        "peak_state_rows": peak,
        "state_bound_rows": bound,
        "state_bounded": bool(peak <= bound),
        "rows_evicted": evicted,
        "eviction_active": bool(evicted > 0),
        "per_batch": measured,
    }


def session_soak(spark, n_keys: int, n_files: int, rows_per_file: int) -> dict:
    """``session_window`` aggregation at volume: each user emits a burst in
    the first half of every hour (events chained well inside the 10-min
    gap), then 30 minutes of silence (> gap) — one multi-event session per
    user per hour, so the soak exercises session MERGING, not just
    single-event windows. State
    holds only sessions the 2 h watermark has not yet closed, so per-batch
    state must PLATEAU at ~buffered-hours x active-users and closed
    sessions must flush append-side exactly once per (user, hour)."""
    dst = f"{FIX_ROOT}/sessfix_{n_keys}_{n_files}x{rows_per_file}"
    if not os.path.exists(os.path.join(dst, "_FIXTURE_DONE")):
        for f in range(n_files):
            (
                spark.range(f * rows_per_file, (f + 1) * rows_per_file)
                .select(
                    F.timestamp_seconds(
                        F.lit(f * 3600)
                        + (F.col("id") % rows_per_file) * (1800.0 / rows_per_file)
                    ).alias("ts"),
                    (F.col("id") % n_keys).alias("user_id"),
                    (F.col("id") % 100).cast("double").alias("value"),
                )
                .coalesce(4)
                .write.mode("append")
                .parquet(dst)
            )
            time.sleep(0.05)
        open(os.path.join(dst, "_FIXTURE_DONE"), "w").close()

    from kinesis_writer_spark.streaming.windows import session_values

    files_per_trigger = 2
    stream = (
        spark.readStream.schema("ts timestamp, user_id bigint, value double")
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(dst)
    )
    out = f"{FIX_ROOT}/sess_out_{time.time_ns()}"
    q = (
        session_values(stream, gap="10 minutes", watermark="2 hours")
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", f"{FIX_ROOT}/ckpt_sess_{time.time_ns()}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    measured = _state_progress(q)
    peak = max((p["state_rows"] or 0) for p in measured) if measured else 0
    evicted = sum((p["state_rows_removed"] or 0) for p in measured)
    got = spark.read.parquet(out)
    n_out = got.count()
    n_sessions_distinct = got.select("session_start", "user_id").distinct().count()
    events_per_session = rows_per_file // n_keys
    shape = got.agg(
        F.min("n_events").alias("lo"), F.max("n_events").alias("hi")
    ).first()
    sessions_well_formed = (
        shape["lo"] == shape["hi"] == events_per_session if n_out else False
    )
    # append mode emits only watermark-CLOSED sessions; the last ~2-3
    # hour-sessions stay buffered at end-of-input
    min_closed = n_keys * max(0, n_files - 4)
    bound = (files_per_trigger + 3) * n_keys
    return {
        "op": "session_window aggregation",
        "n_keys": n_keys,
        "n_files": n_files,
        "rows_per_file": rows_per_file,
        "total_input_rows": n_files * rows_per_file,
        "sessions_emitted": n_out,
        "sessions_distinct": n_sessions_distinct,
        "sessions_emitted_once": n_out == n_sessions_distinct,
        "events_per_session_expected": events_per_session,
        "events_per_session_min_max": [shape["lo"], shape["hi"]],
        "sessions_well_formed": sessions_well_formed,
        "min_closed_sessions_expected": min_closed,
        "closed_sessions_ok": n_out >= min_closed,
        "n_micro_batches": len(measured),
        "peak_state_rows": peak,
        "state_bound_rows": bound,
        "state_bounded": bool(peak <= bound),
        "rows_evicted": evicted,
        "eviction_active": bool(evicted > 0),
        "per_batch": measured,
    }


# ---------------------------------------------------------------------------
# phase (e): kinesis source — backlog drain at volume
# ---------------------------------------------------------------------------

def source_soak(spark, shards: int, total_records: int,
                max_frames_per_batch: int | None = None) -> dict:
    """Deep-backlog drain through the kinesis streaming SOURCE: a capture
    stream holding ``total_records`` aggregated user records across
    ``shards`` shards is read TRIM_HORIZON -> tip with the partitioned
    reader (one input partition per shard slice, executor-side polling)
    and deaggregated; measures sustained drain records/s + MB/s — the
    consumer-side twin of the sink soak, and the 'backlog-drain behavior'
    axis: a lagging consumer must drain faster than producers write or it
    never catches up. Fixture built THROUGH the kinesis streaming sink
    (distributed KPL aggregation into the capture layout)."""
    import json as _json

    from kinesis_writer_spark.sources import kinesis_stream
    from kinesis_writer_spark.sources.kpl_stream import deaggregate_records

    capture = f"{FIX_ROOT}/capture_{shards}x{total_records}"
    if not os.path.exists(os.path.join(capture, "_FIXTURE_DONE")):
        src = build_keyed_fixture(
            spark, f"{FIX_ROOT}/srcfix_{total_records}", 8,
            total_records // 8, 65536,
        )
        kinesis_stream.register(spark)
        q = (
            _keyed_stream(spark, src, 8)
            .writeStream.format("kinesis")
            .option("stream_name", "soak-src")
            .option(
                "client_factory",
                "kinesis_writer_spark.sources.kinesis_stream:capture_sink_client_factory",
            )
            .option("client_kwargs", _json.dumps(
                {"capture_dir": capture, "num_shards": shards}))
            .option("checkpointLocation", f"{FIX_ROOT}/ckpt_srcfix_{time.time_ns()}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        open(os.path.join(capture, "_FIXTURE_DONE"), "w").close()

    kinesis_stream.register(spark)
    reader = (
        spark.readStream.format("kinesis")
        .option("stream_name", "soak-src")
        .option(
            "client_factory",
            "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
        )
        .option("client_kwargs", _json.dumps({"capture_dir": capture}))
    )
    if max_frames_per_batch is not None:
        # bounded micro-batches: the decade point uses this so per-batch
        # trigger times are observable (flat trigger_ms across the drain
        # == no state growth in the reader), not one availableNow mega-batch
        reader = reader.option("max_records_per_batch", str(max_frames_per_batch))
    raw = reader.load()
    out = f"{FIX_ROOT}/source_out_{time.time_ns()}"
    ckpt = f"{FIX_ROOT}/ckpt_srcdrain_{time.time_ns()}"
    t0 = time.monotonic()
    sink = (
        deaggregate_records(raw, wire_col="data", strict=False)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
    )
    if max_frames_per_batch is None:
        # uncapped: availableNow's one-shot latestOffset snapshot IS the tip
        q = sink.trigger(availableNow=True).start()
        q.awaitTermination()
    else:
        # capped: availableNow would stop at ONE capped latestOffset snapshot
        # (see KinesisPartitionedStreamReader docstring) — run continuous
        # micro-batches and stop once the checkpoint's committed offsets
        # reach every shard's tail frame
        from kinesis_writer_spark.streaming import capture_tail_offsets

        expected_seq = capture_tail_offsets(capture)
        q = sink.start()
        _stop_when_drained(q, ckpt, expected_seq, timeout_s=1800)
    dt = time.monotonic() - t0
    per_batch = [
        {"batchId": p.get("batchId"), "wire_rows_in": p.get("numInputRows"),
         "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution")}
        for p in q.recentProgress if p.get("numInputRows")
    ]
    drained = spark.read.parquet(out)
    agg = drained.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("data")).alias("b")
    ).first()
    n, nbytes = int(agg["n"] or 0), int(agg["b"] or 0)
    kpl = {}
    try:
        with open(os.path.join(ART, "bench_kpl.json")) as f:
            kpl = json.load(f)
    except Exception:
        pass
    return {
        "shards": shards,
        "expected_records": total_records,
        "drained_records": n,
        "drained_all": n == total_records,
        "payload_mb": round(nbytes / 1e6, 1),
        "drain_secs": round(dt, 2),
        "drain_recs_per_sec": round(n / dt) if dt > 0 else None,
        "drain_mb_per_sec": round(nbytes / dt / 1e6, 1) if dt > 0 else None,
        "bench_kpl_single_core_decode_recs_per_sec": (kpl.get("cases") or [{}])[0].get(
            "decode_recs_per_sec"
        ),
        "n_micro_batches": len(per_batch),
        "per_batch": per_batch,
    }


# ---------------------------------------------------------------------------
# phase (f): reshard chaos at soak volume (r12 verdict task #2)
# ---------------------------------------------------------------------------

def reshard_soak(spark, shards: int, total_records: int,
                 max_frames_per_batch: int = 8) -> dict:
    """A SPLIT and a MERGE fire mid-stream with >=1M records in flight,
    then the partitioned source drains the whole resharded history:

      - sink side: one chaos CaptureSinkClient (stream coalesced to one
        partition so the topology is coherent) splits every open shard at
        ~1/3 of the put volume and merges the split children pairwise at
        ~2/3; the writer's periodic shard-map refresh must re-route so
        post-reshard traffic lands in live children, not closed parents.
      - source side: the stream reader drains TRIM_HORIZON -> tip
        through the persisted topology (_topology.json — no hand-wired
        parent map), capped per micro-batch so admission ordering is
        observable across batches.

    Asserts: exactly-once delivery (every unique record id exactly once,
    none missing), every closed shard drained to SHARD_END, and the KCL
    rule — no child shard consumed in any micro-batch that does not
    already have ALL its parents marked done by that batch's end offset.
    The fixture-scale twin is tests/test_kinesis_stream_source.py
    (TestReshardChaosEndToEnd / TestMergeTopology); this runs it at soak
    volume with both topology mutations in one stream history.
    """
    import json as _json

    from kinesis_writer_spark.sources import kinesis_stream
    from kinesis_writer_spark.sources.kpl_stream import deaggregate_records

    n_files = 8
    src = build_keyed_fixture(
        spark, f"{FIX_ROOT}/reshardfix_{total_records}", n_files,
        total_records // n_files, 65536,
    )
    capture = f"{FIX_ROOT}/reshard_capture_{time.time_ns()}"
    kinesis_stream.register(spark)

    # ~109 B payloads against ~1 MB flushes -> estimate total puts, fire
    # the split at ~1/3 and the merge at ~2/3 of the stream
    est_puts = max(total_records * 112 // 1_000_000, 9)
    split_at, merge_at = est_puts // 3, (2 * est_puts) // 3
    t0 = time.monotonic()
    q = (
        _keyed_stream(spark, src, n_files)
        .repartition(1)  # one writer client => one coherent chaos topology
        .writeStream.format("kinesis")
        .option("stream_name", "reshard-soak")
        .option(
            "client_factory",
            "kinesis_writer_spark.sources.kinesis_stream:capture_sink_client_factory",
        )
        .option("client_kwargs", _json.dumps({
            "capture_dir": capture, "num_shards": shards,
            "split_after_puts": split_at, "merge_after_puts": merge_at,
        }))
        .option("shard_map_refresh_flushes", "8")
        .option("checkpointLocation", f"{FIX_ROOT}/ckpt_reshard_w_{time.time_ns()}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    write_secs = time.monotonic() - t0

    with open(os.path.join(capture, "_topology.json")) as f:
        topo = _json.load(f)
    parents_of = {
        c: (p if isinstance(p, list) else [p])
        for c, p in topo["parents"].items()
    }
    split_children = [c for c, ps in parents_of.items() if len(ps) == 1]
    merge_children = [c for c, ps in parents_of.items() if len(ps) == 2]

    def _shard_frames(sid: str) -> int:
        d = os.path.join(capture, sid)
        return len(os.listdir(d)) if os.path.isdir(d) else 0

    traffic = {sid: _shard_frames(sid) for sid in sorted(
        set(topo["closed"]) | set(parents_of) | {
            f"shardId-{i:012d}" for i in range(shards)}
    )}

    # -- drain through the resharded topology ------------------------------
    # continuous micro-batches with a per-shard admission cap (NOT
    # availableNow: its single multi-pass latestOffset walks the whole
    # split tree in one batch, which is correct but leaves nothing for the
    # cross-batch admission assertion to observe)
    raw = (
        spark.readStream.format("kinesis")
        .option("stream_name", "reshard-soak")
        .option("max_records_per_batch", str(max_frames_per_batch))
        .option(
            "client_factory",
            "kinesis_writer_spark.sources.kinesis_stream:capture_client_factory",
        )
        .option("client_kwargs", _json.dumps({"capture_dir": capture}))
        .load()
    )
    out = f"{FIX_ROOT}/reshard_out_{time.time_ns()}"
    ckpt = f"{FIX_ROOT}/ckpt_reshard_r_{time.time_ns()}"
    expected_seq = {
        sid: str(n - 1) for sid, n in traffic.items() if n > 0
    }

    t0 = time.monotonic()
    q2 = (
        deaggregate_records(raw, wire_col="data", strict=False)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    _stop_when_drained(q2, ckpt, expected_seq,
                       done_shards=topo["closed"], timeout_s=600)
    drain_secs = time.monotonic() - t0

    # committed per-batch offsets, straight from the checkpoint (the
    # recentProgress ring buffer is bounded and its offset fields are not
    # guaranteed JSON for Python data sources)
    batch_offsets: list[tuple[int, dict]] = [
        (b, _ckpt_offset_of(ckpt, b)) for b in _ckpt_batch_ids(ckpt, "commits")
    ]

    # -- exactly-once at volume (distributed id explode, no driver funnel) -
    drained = spark.read.parquet(out)

    def explode_ids(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            yield pd.DataFrame({
                "rid": [bytes(d[:17]).decode("utf-8", "replace")
                        for d in pdf["data"].to_numpy()]
            })

    stats = (
        drained.select("data").mapInPandas(explode_ids, "rid string")
        .groupBy("rid").count()
        .agg(
            F.count(F.lit(1)).alias("distinct_ids"),
            F.sum("count").alias("total_ids"),
            F.max("count").alias("max_per_id"),
        )
        .first()
    )

    # -- KCL admission ordering, reconstructed from committed offsets ------
    def _seq(off: dict, sid: str):
        v = off.get(sid)
        return (v or {}).get("seq") if isinstance(v, dict) else v

    violations = []
    batches_with_child_rows = 0
    prev: dict = {}  # batch 0's start = initialOffset (nothing consumed)
    for batch_id, end in batch_offsets:
        for child, ps in parents_of.items():
            if _seq(prev, child) == _seq(end, child):
                continue  # no child rows consumed in this batch
            batches_with_child_rows += 1
            for parent in ps:
                pv = end.get(parent)
                pdone = bool(pv.get("done")) if isinstance(pv, dict) else False
                if not pdone:
                    violations.append(
                        {"batchId": batch_id, "child": child,
                         "parent_not_done": parent}
                    )
        prev = end

    closed_set = set(topo["closed"])
    final_end = batch_offsets[-1][1] if batch_offsets else {}
    closed_done = all(
        isinstance(final_end.get(sid), dict) and final_end[sid].get("done")
        for sid in closed_set
    )

    return {
        "shards_initial": shards,
        "total_records": total_records,
        "est_puts": est_puts,
        "split_after_puts": split_at,
        "merge_after_puts": merge_at,
        "n_split_children": len(split_children),
        "n_merge_children": len(merge_children),
        "split_children_with_traffic": sum(
            1 for c in split_children if traffic.get(c, 0) > 0),
        "merge_children_with_traffic": sum(
            1 for c in merge_children if traffic.get(c, 0) > 0),
        "frames_per_shard": traffic,
        "write_secs": round(write_secs, 2),
        "drain_secs": round(drain_secs, 2),
        "drain_recs_per_sec": round(total_records / drain_secs) if drain_secs else None,
        "n_micro_batches": len(batch_offsets),
        "distinct_ids": int(stats["distinct_ids"] or 0),
        "total_ids": int(stats["total_ids"] or 0),
        "max_occurrences_per_id": int(stats["max_per_id"] or 0),
        "exactly_once": (
            int(stats["distinct_ids"] or 0) == total_records
            and int(stats["total_ids"] or 0) == total_records
            and int(stats["max_per_id"] or 0) == 1
        ),
        "child_batches_checked": batches_with_child_rows,
        "admission_violations": violations,
        "admission_order_clean": not violations,
        "all_closed_shards_drained": closed_done,
    }


# ---------------------------------------------------------------------------
# phase (c): checkpoint-resume mid-soak, exactly-once at volume
# ---------------------------------------------------------------------------

def resume_soak(spark, n_keys: int, n_files: int, rows_per_file: int,
                soft_max: int) -> dict:
    from kinesis_writer_spark.streaming.stateful_v2 import kpl_batch_stream_legacy

    stream_dir = f"{FIX_ROOT}/resume_{n_keys}_{n_files}x{rows_per_file}_{time.time_ns()}"
    build_keyed_fixture(spark, stream_dir, n_files, rows_per_file, n_keys)
    build_sentinel_file(spark, stream_dir, n_keys, soft_max)
    out = f"{FIX_ROOT}/resume_out_{time.time_ns()}"
    ckpt = f"{FIX_ROOT}/ckpt_resume_{time.time_ns()}"

    def start(trigger_available_now: bool):
        writer = (
            kpl_batch_stream_legacy(_keyed_stream(spark, stream_dir, 1), soft_max_bytes=soft_max)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # leg 1: continuous micro-batches; stop MID-SOAK once ~half the files
    # have been committed (not a cooperative end-of-input shutdown)
    q = start(trigger_available_now=False)
    half = (n_files + 1) // 2
    t0 = time.monotonic()
    committed = 0
    while committed < half and time.monotonic() - t0 < 600:
        time.sleep(0.5)
        committed = sum(1 for p in q.recentProgress if p.get("numInputRows"))
    q.stop()
    q.awaitTermination()
    leg1_batches = committed

    # leg 2: resume from the checkpoint, drain everything incl. sentinel
    q2 = start(trigger_available_now=True)
    q2.awaitTermination()

    # exactly-once check, DISTRIBUTED (no driver funnel): deaggregate every
    # output wire batch executor-side, extract the unique record ids,
    # assert each appears exactly once and none is missing.
    wires = spark.read.parquet(out)

    def explode_ids(pdf_iter):
        import pandas as pd

        from kinesis_writer_spark.kpl.deaggregator import deaggregate

        for pdf in pdf_iter:
            ids = []
            for wire in pdf["wire"]:
                for rec in deaggregate(bytes(wire)):
                    ids.append(bytes(rec.data[:17]).decode("utf-8", "replace"))
            yield pd.DataFrame({"rid": ids})

    ids = wires.mapInPandas(explode_ids, "rid string")
    stats = ids.groupBy("rid").count()
    n_total = n_files * rows_per_file + n_keys  # records + sentinels
    agg = stats.agg(
        F.count(F.lit(1)).alias("distinct_ids"),
        F.sum("count").alias("total_ids"),
        F.max("count").alias("max_per_id"),
    ).first()
    return {
        "n_keys": n_keys,
        "input_records": n_files * rows_per_file,
        "sentinel_records": n_keys,
        "leg1_committed_batches": leg1_batches,
        "decoded_total": int(agg["total_ids"] or 0),
        "decoded_distinct": int(agg["distinct_ids"] or 0),
        "max_occurrences_per_id": int(agg["max_per_id"] or 0),
        "expected": n_total,
        "exactly_once": bool(
            agg["total_ids"] == n_total
            and agg["distinct_ids"] == n_total
            and agg["max_per_id"] == 1
        ),
    }


# ---------------------------------------------------------------------------

def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--replicas", type=int, default=100,
                    help="events replication for the sink soak (100 = sf10, 10M records)")
    ap.add_argument("--files", type=int, default=64)
    ap.add_argument("--files-per-trigger", type=int, default=4)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--keys", type=int, default=131_072)
    ap.add_argument("--state-batches", type=int, default=8)
    ap.add_argument("--state-rows-per-batch", type=int, default=524_288)
    ap.add_argument("--state-soft-max", type=int, default=1024)
    ap.add_argument("--binding", default="legacy", choices=["legacy", "tws"],
                    help="stateful batcher API for the state phase: legacy="
                    "applyInPandasWithState (HDFS store), tws="
                    "transformWithStateInPandas (RocksDB store)")
    ap.add_argument("--source-shards", type=int, default=16)
    ap.add_argument("--source-records", type=int, default=4_000_000)
    ap.add_argument("--join-keys", type=int, default=10_000)
    ap.add_argument("--join-files", type=int, default=12)
    ap.add_argument("--join-rows-per-file", type=int, default=200_000)
    ap.add_argument("--throttle-mb", type=int, default=60)
    ap.add_argument("--dedup-files", type=int, default=12)
    ap.add_argument("--dedup-rows-per-file", type=int, default=400_000)
    ap.add_argument("--session-keys", type=int, default=20_000)
    ap.add_argument("--session-files", type=int, default=12)
    ap.add_argument("--session-rows-per-file", type=int, default=200_000)
    ap.add_argument("--reshard-shards", type=int, default=4,
                    help="initial shards for the reshard chaos soak (splits "
                    "to 2x at ~1/3 volume, merges pairwise at ~2/3)")
    ap.add_argument("--reshard-records", type=int, default=2_000_000)
    ap.add_argument("--resume-keys", type=int, default=4096)
    ap.add_argument("--resume-files", type=int, default=16)
    ap.add_argument("--resume-rows", type=int, default=2_000_000)
    ap.add_argument("--resume-soft-max", type=int, default=16_384)
    ap.add_argument("--reshard-throttle-records", type=int, default=1_000_000)
    ap.add_argument("--skip", default="",
                    help="comma list: sink,state,source,join,resume,reshard,"
                    "dedup,session,throttle,reshardthrottle")
    ap.add_argument("--out", default="bench_stream_soak.json")
    args = ap.parse_args(argv)
    skip = set(args.skip.split(","))

    from kinesis_writer_spark.calibration import (
        _probe_once,
        adjudicate_epoch,
        calib_gate,
        calibrate,
    )
    # the protobuf fallback (tws binding) must engage BEFORE the session
    # exists so the JVM-spawned streaming Python runners inherit PYTHONPATH
    from kinesis_writer_spark.session import get_spark
    from kinesis_writer_spark.streaming import stateful_v2  # noqa: F401

    spark = get_spark("bench_stream")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(FIX_ROOT, exist_ok=True)

    cgate = calib_gate(spark, max_wait_s=float(os.environ.get("SPARK_GRAFT_CALIB_GATE_S", "600")))
    calib = calibrate(spark)
    out: dict = {
        "metric": "stream_soak",
        "calibration": calib,
        "calib_gate": cgate,
        "phases": {},
        "paired_calib_shots": {},
    }
    try:
        if "sink" not in skip:
            shot = _probe_once(spark)
            out["phases"]["sink"] = sink_soak(
                spark, args.replicas, args.files, args.files_per_trigger, args.shards
            )
            out["paired_calib_shots"]["sink"] = [shot, _probe_once(spark)]
        if "state" not in skip:
            shot = _probe_once(spark)
            out["phases"]["state"] = state_soak(
                spark, args.keys, args.state_batches,
                args.state_rows_per_batch, args.state_soft_max,
                binding=args.binding,
            )
            out["paired_calib_shots"]["state"] = [shot, _probe_once(spark)]
        if "source" not in skip:
            shot = _probe_once(spark)
            out["phases"]["source"] = source_soak(
                spark, args.source_shards, args.source_records
            )
            out["paired_calib_shots"]["source"] = [shot, _probe_once(spark)]
        if "join" not in skip:
            shot = _probe_once(spark)
            out["phases"]["join"] = join_soak(
                spark, args.join_keys, args.join_files, args.join_rows_per_file
            )
            out["paired_calib_shots"]["join"] = [shot, _probe_once(spark)]
        if "resume" not in skip:
            shot = _probe_once(spark)
            rows_per_file = args.resume_rows // args.resume_files
            out["phases"]["resume"] = resume_soak(
                spark, args.resume_keys, args.resume_files,
                rows_per_file, args.resume_soft_max,
            )
            out["paired_calib_shots"]["resume"] = [shot, _probe_once(spark)]
        if "reshard" not in skip:
            shot = _probe_once(spark)
            out["phases"]["reshard"] = reshard_soak(
                spark, args.reshard_shards, args.reshard_records
            )
            out["paired_calib_shots"]["reshard"] = [shot, _probe_once(spark)]
        if "dedup" not in skip:
            shot = _probe_once(spark)
            out["phases"]["dedup"] = dedup_soak(
                spark, 1 << 20, args.dedup_files, args.dedup_rows_per_file
            )
            out["paired_calib_shots"]["dedup"] = [shot, _probe_once(spark)]
        if "session" not in skip:
            shot = _probe_once(spark)
            out["phases"]["session"] = session_soak(
                spark, args.session_keys, args.session_files,
                args.session_rows_per_file,
            )
            out["paired_calib_shots"]["session"] = [shot, _probe_once(spark)]
        if "throttle" not in skip:
            # off-Spark by design (see throttle_soak docstring); still
            # calib-bracketed so the wall-clock legs are epoch-readable
            shot = _probe_once(spark)
            out["phases"]["throttle"] = throttle_soak(args.throttle_mb)
            out["paired_calib_shots"]["throttle"] = [shot, _probe_once(spark)]
        if "reshardthrottle" not in skip:
            # off-Spark like throttle_soak: the assertions need same-process
            # limiter/client introspection across the topology change
            shot = _probe_once(spark)
            out["phases"]["reshard_throttle"] = reshard_throttle_soak(
                args.reshard_throttle_records
            )
            out["paired_calib_shots"]["reshard_throttle"] = [shot, _probe_once(spark)]
    finally:
        calib_end = calibrate(spark)
        out["calibration_end"] = calib_end
        out["epoch"] = adjudicate_epoch(calib, calib_end, cgate)
        os.makedirs(ART, exist_ok=True)
        with open(os.path.join(ART, args.out), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        compact = {
            k: {kk: vv for kk, vv in v.items() if not isinstance(vv, list)}
            for k, v in out["phases"].items()
        }
        print(json.dumps({"metric": "stream_soak", "phases": compact,
                          "epoch": out["epoch"].get("verdict")}))


if __name__ == "__main__":
    main()

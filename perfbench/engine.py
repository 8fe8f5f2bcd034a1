"""The spark workload: the query engine and the Kinesis streaming plane on one
local Spark session.

One closed loop on the driver thread runs, each pass, the query block
(queries.py) and then the roundtrip block (kinesis.py). Both blocks share one
JVM, so a run pays one JVM launch and one cold correctness pass; untimed
warm-up passes then carry the JIT past the steep part of its warm-up before
any pass is timed (params.WARMUP_PASSES).
"""

from __future__ import annotations

import os
import time

from . import harness, kinesis, params, queries, tables


def run(ctx) -> dict:
    sf = params.TOY_TABLE_SF if ctx.toy else params.TABLE_SF
    sf_dir = tables.write(sf, params.TABLE_SEED, os.path.join(ctx.work, "tables"))
    roundtrip = kinesis.Roundtrip(ctx)
    harness.log(f"inputs written (sf{sf} tables, {roundtrip.n} payloads)")
    tracer = ctx.tracer

    from kinesis_writer_spark.session import get_spark
    from kinesis_writer_spark.sources import kinesis_stream

    # one cold set-up: it launches this process's JVM (see params.py)
    t0 = time.monotonic()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    queries.load_tables(spark, tracer, sf_dir)
    kinesis_stream.register(spark)
    setup = time.monotonic() - t0
    setup_layers = [tracer.end_pass()]
    harness.log(f"set-up done: {setup:.3f}s")

    block = queries.QueryBlock(spark, sf_dir, ctx.seed, tracer)
    attempted, failed = block.check()
    harness.log(f"query check done: {failed} of {attempted} failed")
    lost = roundtrip.check(spark)
    attempted += roundtrip.n
    failed += lost

    # untimed warm-up; the query block's JIT curve is the longer one
    query_warmup, roundtrip_warmup = params.TOY_WARMUP_PASSES if ctx.toy else params.WARMUP_PASSES
    pass_no = 0
    for pass_no in range(1, max(query_warmup, roundtrip_warmup) + 1):
        t0 = time.monotonic()
        if pass_no <= query_warmup:
            tried, bad = block.run_pass(pass_no, traced=False, timed=False)
            attempted, failed = attempted + tried, failed + bad
        if pass_no <= roundtrip_warmup:
            roundtrip.run_pass(spark, pass_no, traced=False, timed=False)
        harness.log(f"warm-up pass {pass_no}: {time.monotonic() - t0:.3f}s")
    ctx.rss.take_peak()

    pass_peaks, layers = [], []
    untraced = 0
    pass_no += 1
    t_start = time.monotonic()
    while (time.monotonic() - t_start < ctx.seconds
           or untraced < params.MIN_PASSES
           or (tracer.enabled and len(layers) < params.MIN_PASSES)):
        traced = tracer.enabled and pass_no % 2 == 0
        t0 = time.monotonic()
        tried, bad = block.run_pass(pass_no, traced, timed=True)
        attempted, failed = attempted + tried, failed + bad
        roundtrip.run_pass(spark, pass_no, traced, timed=True)
        wall = time.monotonic() - t0
        peak = ctx.rss.take_peak()
        if traced:
            layers.append(tracer.end_pass())
        else:
            untraced += 1
            pass_peaks.append(peak)
        harness.log(f"pass {pass_no} ({'traced' if traced else 'untraced'}): {wall:.3f}s")
        pass_no += 1

    spark.stop()
    block.log_medians()
    return {
        "setups": [setup],
        "wall": block.wall() + roundtrip.wall(),
        "traced_wall": block.wall(traced=True) + roundtrip.wall(traced=True),
        "layers": layers,
        "pass_peaks": pass_peaks,
        "setup_layers": setup_layers,
        "attempted": attempted,
        "failed": failed,
        "dups": roundtrip.dups,
        "detail": {
            **block.detail(),
            **roundtrip.detail(),
            "error_rate": (failed / attempted, "ratio"),
        },
    }

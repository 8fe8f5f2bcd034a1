"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--toy]

Runs one workload (see perfbench/README.md) in this process and prints, as
its last stdout line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``). The line before it carries the workload's own
named figures (``detail``). ``--toy`` shrinks every input for a smoke run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, params  # noqa: E402

WORKLOADS = ("spark", "sink_throttled")

END_TO_END = {"setup_s": "s", "wall_s": "s"}

#: Query-side layers also reported per block of the query block, so a
#: change can be placed in the overhead-bound or the execution-bound block.
_BLOCK_LAYERS = {
    "registry.construct_s": "s",
    "spark.catalyst_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
}
_STREAM_MS = ("add_batch_ms", "latest_offset_ms", "query_planning_ms", "wal_commit_ms")
PER_LAYER = {
    "session.get_spark_s": "s",
    "io.load_s": "s",
    "registry.construct_s": "s",
    "spark.catalyst_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.persisted_rdds": "count",
    **{f"{block}.{key}": unit for block in ("short", "heavy")
       for key, unit in _BLOCK_LAYERS.items()},
    "memo.caches_cleared": "count",
    **{f"query.{name}.s": "s" for name in params.QUERIES_HEAVY},
    "kinesis_api.put_calls": "count",
    "kinesis_api.put_s": "s",
    "kinesis_api.get_records_calls": "count",
    "kinesis_api.get_records_s": "s",
    "kinesis_api.describe_calls": "count",
    "kpl.aggregated_records": "count",
    "kpl.user_records_per_aggregate": "ratio",
    "kpl.encode_s": "s",
    **{f"streaming.produce.{k}": "ms" for k in _STREAM_MS},
    **{f"streaming.consume.{k}": "ms" for k in _STREAM_MS},
    "sink.write_s": "s",
    "sink.limiter_wait_s": "s",
    "sink.backoff_s": "s",
    "sink.retries": "count",
    "sink.throttle_errors": "count",
    "trace.overhead_s": "s",
}


class Context:
    def __init__(self, args, work: str, rss: harness.RssSampler) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.toy = args.toy
        self.work = work
        self.tracer = harness.Tracer(bool(args.trace))
        self.rss = rss


def _run_workload(name: str, ctx: Context) -> dict:
    if name == "spark":
        from perfbench import engine

        return engine.run(ctx)
    from perfbench import kinesis

    return kinesis.run_throttled(ctx)


def _per_layer(res: dict) -> dict[str, float]:
    """Median over traced passes (and over set-ups for set-up layers); a
    layer the workload never calls reads 0."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    for group in (res["setup_layers"], res["layers"]):
        for key in {k for d in group for k in d} & out.keys():
            out[key] = harness.median([d.get(key, 0.0) for d in group])
    out["trace.overhead_s"] = res["traced_wall"] - res["wall"]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny inputs, for the self-check")
    args = ap.parse_args(argv)

    import kinesis_writer_spark  # noqa: F401  (fail before any work when absent)

    harness.remove_stale_work()
    work = os.path.join(harness.WORK_ROOT, f"run-{os.getpid()}")
    harness.pin_env(work)

    try:
        with harness.RssSampler() as rss:
            ctx = Context(args, work, rss)
            res = _run_workload(args.workload, ctx)
    finally:
        harness.shutdown_jvm()
        os.chdir(harness.ROOT)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = _per_layer(res)
        units = PER_LAYER
    else:
        values = {"setup_s": harness.median(res["setups"]), "wall_s": res["wall"]}
        units = END_TO_END
    detail = {k: {"value": v, "unit": u} for k, (v, u) in res["detail"].items()}
    detail["peak_rss_mb"] = {"value": harness.median(res["pass_peaks"]) / 1e6, "unit": "MB"}
    print(json.dumps({"workload": args.workload, "detail": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0 and res["dups"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Toy-size self-check of the benchmark.

    python3 perfbench/selfcheck.py

Runs every workload with ``--toy`` (sf0.001 tables, a few thousand payloads)
untraced and traced, and asserts that each run is correct and prints exactly
the metrics BENCHMARK.json names, each with its unit, plus the workload's
named detail figures.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DETAIL = {
    "spark": {
        "short_wall_s": "s", "heavy_wall_s": "s", "query_p50_s": "s",
        "roundtrip_wall_s": "s", "produce_records_per_s": "1/s",
        "consume_records_per_s": "1/s", "wire_bytes_per_payload_byte": "ratio",
        "dup_rate": "ratio", "error_rate": "ratio", "peak_rss_mb": "MB",
    },
    "sink_throttled": {
        "cap_utilization": "ratio", "wire_bytes_per_payload_byte": "ratio",
        "dup_rate": "ratio", "error_rate": "ratio", "peak_rss_mb": "MB",
    },
}


def _check_metrics(got: dict, declared: list[dict], where: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    units = {k: v["unit"] for k, v in got.items()}
    if units != want:
        raise SystemExit(f"{where}: metrics {units} != declared {want}")
    for name, metric in got.items():
        if not isinstance(metric["value"], (int, float)):
            raise SystemExit(f"{where}: {name} is not a number")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for workload in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            where = f"{workload} --trace {trace}"
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            if proc.returncode != 0:
                raise SystemExit(f"{where}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            *_, detail_line, result_line = proc.stdout.strip().splitlines()
            result, detail = json.loads(result_line), json.loads(detail_line)["detail"]
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                raise SystemExit(f"{where}: incorrect run {result_line}")
            _check_metrics(result["metrics"], bench["per_layer" if trace else "end_to_end"], where)
            if {k: v["unit"] for k, v in detail.items()} != DETAIL[workload]:
                raise SystemExit(f"{where}: detail {detail}")
            print(f"ok  {where}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

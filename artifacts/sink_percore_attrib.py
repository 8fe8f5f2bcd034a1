"""Attribute the sink's per-core gap: soak sink phase 37,185 recs/s/core vs
the pure codec's 184k/core at ~100 B payloads (r11 verdict task #1).

Measures the SAME work layer by layer, single-threaded, off-Spark, so each
increment isolates one suspect from the verdict list (pandas Series
iteration, per-element bytes() coercion, send/client overhead, MD5 share):

  L0  codec, repeated identical tuple      (= bench_kpl.py methodology)
  L1  codec, distinct bytes payloads       (allocation / cache effect)
  L2  writer.write(list) + FakeKinesisClient (send path, router, discovery)
  L3  L2 fed from pandas Series chunks as mapInPandas delivers them
      (the exact handle_batches iteration shape, incl. type coercion guard)
  L4  the fast fixed-key encode path (sink.write fast path), list input
  L5  L4 fed from pandas chunks via numpy object arrays

plus component shares measured directly (MD5 trailer, to_bytes serialize,
flush-boundary metering) rather than guessed. Writes
artifacts/sink_percore_attrib.json; SCALE.md carries the table.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kinesis_writer_spark.sink import (  # noqa: E402
    FakeKinesisClient,
    KinesisStreamWriter,
    batch_records,
)

EHK = "170141183460469231731687303715884105727"
PAYLOAD_BYTES = 100
N = 500_000
CHUNK = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch default


def _rate(n: int, dt: float) -> int:
    return round(n / dt) if dt > 0 else -1


def distinct_payloads(n: int, size: int) -> list[bytes]:
    # distinct objects with varied content, like real JSON payloads
    return [(b"%012d|" % i) + b"x" * (size - 13) for i in range(n)]


def l0_codec_repeated() -> dict:
    payload = b"x" * PAYLOAD_BYTES
    recs = [("a", EHK, payload)] * N
    t0 = time.monotonic()
    blobs = [agg.to_bytes() for agg in batch_records(iter(recs))]
    dt = time.monotonic() - t0
    return {"layer": "L0 codec repeated-tuple (bench_kpl)", "recs_per_sec": _rate(N, dt), "n_flushes": len(blobs)}


def l1_codec_distinct(payloads: list[bytes]) -> dict:
    recs = [("a", EHK, p) for p in payloads]
    t0 = time.monotonic()
    blobs = [agg.to_bytes() for agg in batch_records(iter(recs))]
    dt = time.monotonic() - t0
    return {"layer": "L1 codec distinct payloads", "recs_per_sec": _rate(N, dt), "n_flushes": len(blobs)}


def _writer() -> KinesisStreamWriter:
    return KinesisStreamWriter("attrib", FakeKinesisClient(num_shards=64))


def l2_writer_list(payloads: list[bytes]) -> dict:
    w = _writer()
    t0 = time.monotonic()
    n = w.write(iter(payloads))
    dt = time.monotonic() - t0
    assert n == N, n
    return {"layer": "L2 writer.write + send/FakeClient", "recs_per_sec": _rate(N, dt)}


def _pandas_chunks(payloads: list[bytes]):
    import pandas as pd

    return [
        pd.DataFrame({"data": payloads[i : i + CHUNK]})
        for i in range(0, len(payloads), CHUNK)
    ]


def l3_writer_pandas(chunks) -> dict:
    """The exact current handle_batches iteration: pandas Series __iter__
    plus the per-element coercion guard."""
    w = _writer()

    def payload_iter():
        for pdf in chunks:
            for data in pdf["data"]:
                yield data if type(data) is bytes else bytes(data)

    t0 = time.monotonic()
    n = w.write(payload_iter())
    dt = time.monotonic() - t0
    assert n == N, n
    return {"layer": "L3 L2 + pandas Series iteration (r11 handle_batches)", "recs_per_sec": _rate(N, dt)}


def l4_fast_list(payloads: list[bytes]) -> dict:
    w = _writer()
    t0 = time.monotonic()
    n = w.write(payloads)
    dt = time.monotonic() - t0
    assert n == N, n
    return {"layer": "L4 fast fixed-key path, list input", "recs_per_sec": _rate(N, dt)}


def l5_fast_pandas(chunks) -> dict:
    w = _writer()

    def payload_iter():
        for pdf in chunks:
            yield from pdf["data"].to_numpy()

    t0 = time.monotonic()
    n = w.write(payload_iter())
    dt = time.monotonic() - t0
    assert n == N, n
    return {"layer": "L5 fast path + numpy column iteration", "recs_per_sec": _rate(N, dt)}


def component_shares(payloads: list[bytes]) -> dict:
    """Direct measurement of the codec's internal shares at this payload
    size: flush metering (add_user_record bookkeeping), serialization
    (to_body), and the MD5 trailer."""
    aggs = list(batch_records(("a", EHK, p) for p in payloads))
    t0 = time.monotonic()
    bodies = [a.to_body() for a in aggs]
    t_body = time.monotonic() - t0
    t0 = time.monotonic()
    for b in bodies:
        hashlib.md5(b).digest()
    t_md5 = time.monotonic() - t0
    t0 = time.monotonic()
    sink = 0
    for a in aggs:
        for _pk, _ehk, d in a.raw_records():
            sink += len(d)
    t_iter = time.monotonic() - t0
    return {
        "n_flushes": len(aggs),
        "to_body_secs_per_1e6recs": round(t_body / N * 1e6, 3),
        "md5_secs_per_1e6recs": round(t_md5 / N * 1e6, 3),
        "md5_mb_per_sec": round(sum(len(b) for b in bodies) / t_md5 / 1e6, 1),
        "_raw_iter_secs": round(t_iter, 3),
    }


def pandas_iteration_cost(payloads: list[bytes], chunks) -> dict:
    """Iteration-only cost of the three column access idioms (no codec)."""
    t0 = time.monotonic()
    s = 0
    for p in payloads:
        s += len(p)
    t_list = time.monotonic() - t0
    t0 = time.monotonic()
    s = 0
    for pdf in chunks:
        for data in pdf["data"]:
            d = data if type(data) is bytes else bytes(data)
            s += len(d)
    t_series = time.monotonic() - t0
    t0 = time.monotonic()
    s = 0
    for pdf in chunks:
        for data in pdf["data"].to_numpy():
            s += len(data)
    t_numpy = time.monotonic() - t0
    return {
        "list_iter_us_per_rec": round(t_list / N * 1e6, 3),
        "series_iter_us_per_rec": round(t_series / N * 1e6, 3),
        "numpy_iter_us_per_rec": round(t_numpy / N * 1e6, 3),
    }


def main() -> None:
    payloads = distinct_payloads(N, PAYLOAD_BYTES)
    chunks = _pandas_chunks(payloads)
    out = {
        "metric": "sink_percore_attrib",
        "payload_bytes": PAYLOAD_BYTES,
        "n_records": N,
        "chunk_rows": CHUNK,
        "layers": [],
    }
    for fn in (l0_codec_repeated,):
        out["layers"].append(fn())
    out["layers"].append(l1_codec_distinct(payloads))
    out["layers"].append(l2_writer_list(payloads))
    out["layers"].append(l3_writer_pandas(chunks))
    out["layers"].append(l4_fast_list(payloads))
    out["layers"].append(l5_fast_pandas(chunks))
    out["components"] = component_shares(payloads)
    out["iteration"] = pandas_iteration_cost(payloads, chunks)
    art = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(art, "sink_percore_attrib.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()

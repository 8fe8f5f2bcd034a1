"""Stand-ins for the AWS Kinesis API, and the counting proxy that measures
every call the engine makes through them.

The engine takes its Kinesis client by injection (a ``client`` argument, or a
``client_factory`` option naming ``module:callable``), so the stand-in is the
one place where API calls can be counted without touching the engine. Spark
builds streaming clients inside Python workers, so traced factories append
one JSON line per call to a file under ``stats_dir``; ``read_stats`` sums them.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

from kinesis_writer_spark.sink import ThrottlingKinesisClient
from kinesis_writer_spark.sources.kinesis_stream import (
    CaptureReplayClient,
    CaptureSinkClient,
)

#: API method -> per-layer metric prefix.
COUNTED = {
    "put_records": "kinesis_api.put",
    "get_records": "kinesis_api.get_records",
    "describe_stream": "kinesis_api.describe",
}


class CountingClient:
    """Forwards every attribute to ``inner``; times the Kinesis API calls.

    With ``stats_dir`` each call is appended to this client's own file (the
    client may live in a Spark Python worker); without it the totals stay in
    ``self.stats``.
    """

    def __init__(self, inner, stats_dir: str | None = None) -> None:
        self._inner = inner
        self._lock = threading.Lock()
        self.stats: dict[str, float] = {}
        self._path = None
        if stats_dir is not None:
            os.makedirs(stats_dir, exist_ok=True)
            self._path = os.path.join(stats_dir, f"{os.getpid()}-{uuid.uuid4().hex}.jsonl")

    def __getattr__(self, name: str):
        attr = getattr(self._inner, name)
        prefix = COUNTED.get(name)
        if prefix is None:
            return attr

        def timed(*args, **kwargs):
            t0 = time.monotonic()
            try:
                return attr(*args, **kwargs)
            finally:
                self._record(prefix, time.monotonic() - t0)

        return timed

    def _record(self, prefix: str, seconds: float) -> None:
        if self._path is not None:
            with self._lock, open(self._path, "a") as f:
                f.write(json.dumps({"m": prefix, "s": seconds}) + "\n")
            return
        with self._lock:
            self.stats[prefix + "_calls"] = self.stats.get(prefix + "_calls", 0) + 1
            self.stats[prefix + "_s"] = self.stats.get(prefix + "_s", 0.0) + seconds


def read_stats(stats_dir: str) -> dict[str, float]:
    """Sum the per-call lines every traced client wrote under ``stats_dir``."""
    out: dict[str, float] = {}
    if not os.path.isdir(stats_dir):
        return out
    for name in os.listdir(stats_dir):
        with open(os.path.join(stats_dir, name)) as f:
            for line in f:
                rec = json.loads(line)
                out[rec["m"] + "_calls"] = out.get(rec["m"] + "_calls", 0) + 1
                out[rec["m"] + "_s"] = out.get(rec["m"] + "_s", 0.0) + rec["s"]
    return out


def traced_capture_sink_factory(stats_dir: str, **kwargs):
    """``client_factory`` for ``writeStream.format("kinesis")``, traced."""
    return CountingClient(CaptureSinkClient(**kwargs), stats_dir)


def traced_capture_replay_factory(stats_dir: str, **kwargs):
    """``client_factory`` for ``readStream.format("kinesis")``, traced."""
    return CountingClient(CaptureReplayClient(**kwargs), stats_dir)


class FlakyThrottlingClient(ThrottlingKinesisClient):
    """The throttling service stand-in, plus transient ``ResourceInUse``
    errors raised on scheduled ``put_records`` calls (0-based call index
    across every writer sharing the client)."""

    def __init__(self, fail_calls: set[int], **kwargs) -> None:
        super().__init__(**kwargs)
        self._fail_calls = set(fail_calls)
        self._calls = 0
        self._call_lock = threading.Lock()

    def put_records(self, StreamName: str, Records: list[dict]):
        with self._call_lock:
            call, self._calls = self._calls, self._calls + 1
        if call in self._fail_calls:
            raise RuntimeError(
                f"ResourceInUseException: stream {StreamName} is being updated"
            )
        return super().put_records(StreamName, Records)

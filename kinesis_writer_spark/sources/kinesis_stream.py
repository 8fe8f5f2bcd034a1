"""Kinesis Structured Streaming source: ``spark.readStream.format("kinesis")``.

The reference library is producer-only — KinesisWriter.scala:46-64 walks the
shard map (``describeStream`` pagination) and :199-228 ships aggregated
records; the consumer half of that contract is the public boto3/KCL surface:

    ``list_shards`` → ``get_shard_iterator`` → ``get_records`` (poll loop)

This module packages that loop as a Spark 4 Python streaming data source so
a stream lands in Structured Streaming as a normal unbounded DataFrame:

    spark.readStream.format("kinesis")
         .option("stream_name", "events")
         .option("client_factory", "my.module:make_client")   # boto3 by default
         .load()
         → shard_id, sequence_number, partition_key, data, arrival_ts

and composes with the rest of the engine: KPL deaggregation
(:func:`..sources.kpl_stream.deaggregate_records` explodes aggregated
payloads), watermarked windows, and the stateful operators.

Each micro-batch plans one input partition per shard slice, and every
executor task polls its own shard, so ingest parallelism equals the shard
count and no record bytes pass through the driver (see
:class:`KinesisPartitionedStreamReader` for its ``latestOffset`` contract).

Offsets are ``{shard_id: {"seq": last_consumed_sequence_number, "done":
reached_shard_end}}`` dicts — the exact checkpoint shape a KCL lease table
keeps. Sequence numbers are treated as OPAQUE per-shard-ordered strings
(the real Kinesis contract): resume is always ``AFTER_SEQUENCE_NUMBER`` with
the stored value, never arithmetic on it, so live boto3 streams work
executor-side. A restarted query resumes from its checkpoint without data
loss (each planned slice replays a committed ``(after seq_a .. through
seq_b]`` range deterministically). Legacy round-2 checkpoints (dense integer
next-index values) are transparently upgraded.

Resharding: closed shards (``SHARD_END`` — ``NextShardIterator == null``, or
``SequenceNumberRange.EndingSequenceNumber`` set, the predicate the reference
inverts to find OPEN shards at KinesisWriter.scala:51) are drained to their
end, marked ``done`` in the offset, and never polled again; child shards are
admitted only once every parent still in the shard map is ``done`` — the KCL
parent-before-child ordering rule.

Offline testing: no AWS access is required anywhere. ``capture_client_factory``
replays a directory of ``.kpl`` container files (one subdirectory per shard —
the layout ``write_wire_dir`` spills) through the same ``get_records`` API
shape, so the full ``readStream → deaggregate → window`` pipeline runs
hermetically in CI; tests/test_kinesis_stream_source.py does exactly that.

The sink side is also native: ``payloads.writeStream.format("kinesis")``
runs the reference's producer loop (KPL aggregation → shard-midpoint
routing → retrying PutRecords) per task; ``CaptureSinkClient`` provides the
offline endpoint, landing records as replayable ``.kpl`` captures.
"""

from __future__ import annotations

import importlib
import json
import logging
import math
import os
import threading
from collections.abc import Iterator
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from ..sink import (
    DEFAULT_REFRESH_EVERY_FLUSHES,
    FakeKinesisClient,
    KinesisStreamWriter,
    ShardRateLimiter,
    boto3_client_factory,
    list_shards,
    write_partition,
)

#: Raw Kinesis record schema (consumer-side; ``data`` may hold a KPL
#: aggregated record — run deaggregate_records downstream to explode it).
KINESIS_SCHEMA = (
    "shard_id string, sequence_number string, partition_key string, "
    "data binary, arrival_ts timestamp"
)

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

#: ``client_factory`` used when the option is absent: a live boto3 client.
DEFAULT_CLIENT_FACTORY = "kinesis_writer_spark.sources.kinesis_stream:boto3_client_factory"


def resolve_factory(spec: str, kwargs_json: str | None):
    """Resolve a ``module:callable`` client-factory spec with JSON kwargs.

    The factory contract: ``factory(**kwargs)`` returns an object with the
    boto3 Kinesis consumer surface (``list_shards``, ``get_shard_iterator``,
    ``get_records``). Factories live behind an import string because data
    source options are strings — and because the reader must be able to
    rebuild its client after a driver restart from checkpointed options.
    """
    mod_name, _, attr = spec.partition(":")
    if not attr:
        raise ValueError(f"client_factory must be 'module:callable', got {spec!r}")
    factory = getattr(importlib.import_module(mod_name), attr)
    kwargs = json.loads(kwargs_json) if kwargs_json else {}
    return factory(**kwargs)


class CaptureReplayClient:
    """Offline Kinesis consumer: replays ``.kpl`` capture files through the
    boto3 ``get_records`` API shape.

    Layout: ``capture_dir/<shard_id>/*.kpl`` — each container file holds
    length-prefixed aggregated-record frames (``write_wire_dir`` output, the
    shape of an S3 firehose capture). Sequence numbers are the 0-based frame
    index within the shard, so offsets are deterministic run to run.
    """

    def __init__(
        self,
        capture_dir: str,
        partition_key: str = "capture",
        opaque: bool = False,
        reshard: dict | None = None,
    ) -> None:
        """``opaque=True`` makes shard-iterator tokens non-JSON strings (the
        real boto3 shape) so readers must treat positions as opaque and go
        through the probe/AFTER_SEQUENCE_NUMBER path. ``reshard`` simulates a
        split/merge topology: ``{"closed": [shard_id, ...], "parents":
        {child_id: parent_id | [parent_id, adjacent_parent_id]}}`` — a
        two-element list models a MERGE child (the real API reports
        ``ParentShardId`` + ``AdjacentParentShardId``); closed shards report
        an ``EndingSequenceNumber`` and hit SHARD_END
        (``NextShardIterator == None``) when drained."""
        import glob as _glob

        self._pk = partition_key
        self._opaque = opaque
        if reshard is None:
            # auto-load the topology the capture sink persisted at reshard
            # time (see CaptureSinkClient._persist_topology): a captured
            # stream replays through its own split/merge history without
            # the caller reconstructing parent/child wiring by hand.
            # An explicit reshard={} still means "flat topology".
            topo = os.path.join(capture_dir, "_topology.json")
            if os.path.exists(topo):
                with open(topo) as f:
                    reshard = json.load(f)
        reshard = reshard or {}
        self._closed = set(reshard.get("closed", ()))
        self._parents = dict(reshard.get("parents", {}))
        # LAZY + SLICED per-shard reads (r13): eager construction loaded the
        # WHOLE capture into every client instance, and each Spark task
        # builds its own client — at a 20M-record / 2.3 GB capture that was
        # 16 tasks x 2.3 GB of redundant parsing per batch, a per-task fixed
        # cost proportional to TOTAL stream size (measured: per-shard drain
        # rate fell 2.4x from the 4M point for no per-shard reason).
        # Discovery stays eager (cheap directory listing); the driver's
        # LATEST probes use seek-based frame counts that never materialize
        # payloads; get_records materializes ONLY the requested slice
        # (files before it are skipped by cached per-file counts, frames
        # before it inside a file by 4-byte prefix seeks) — so a capped
        # micro-batch costs O(cap), not O(shard), per batch.
        self._shard_files: dict[str, list[str]] = {}
        for shard_dir in sorted(_glob.glob(os.path.join(capture_dir, "*"))):
            if os.path.isdir(shard_dir):
                self._shard_files[os.path.basename(shard_dir)] = sorted(
                    _glob.glob(os.path.join(shard_dir, "*.kpl"))
                )
        if not self._shard_files:
            raise FileNotFoundError(f"no <shard>/*.kpl captures under {capture_dir}")
        self._file_counts_cache: dict[str, list[int]] = {}

    def _file_counts(self, sid: str) -> list[int]:
        # KeyError on an unknown shard, like the real API's
        # ResourceNotFoundException — a checkpoint naming a shard whose
        # capture directory vanished must fail loudly, not read as empty
        counts = self._file_counts_cache.get(sid)
        if counts is None:
            from .kpl_datasource import count_wire_frames

            counts = [count_wire_frames(p) for p in self._shard_files[sid]]
            self._file_counts_cache[sid] = counts
        return counts

    def _n_frames(self, sid: str) -> int:
        return sum(self._file_counts(sid))

    def _read_slice(self, sid: str, lo: int, hi: int) -> list[bytes]:
        from .kpl_datasource import read_wire_slice

        out: list[bytes] = []
        base = 0
        for path, cnt in zip(self._shard_files[sid], self._file_counts(sid)):
            if base >= hi:
                break
            if base + cnt > lo:
                out.extend(
                    read_wire_slice(path, max(lo - base, 0), min(hi - base, cnt))
                )
            base += cnt
        return out

    def _tok(self, shard: str, idx: int) -> str:
        if self._opaque:
            return f"opaque-iterator/{shard}/{idx}"  # not JSON — like real boto3
        return json.dumps({"shard": shard, "idx": idx})

    def _untok(self, token: str) -> tuple[str, int]:
        if token.startswith("opaque-iterator/"):
            _, shard, idx = token.rsplit("/", 2)
            return shard, int(idx)
        state = json.loads(token)
        return state["shard"], state["idx"]

    # --- boto3 consumer surface -------------------------------------------
    def list_shards(self, StreamName: str, NextToken: str | None = None, **_):
        shards = []
        for sid in sorted(self._shard_files):
            s: dict = {"ShardId": sid}
            if sid in self._parents:
                p = self._parents[sid]
                if isinstance(p, (list, tuple)):  # merge child: two parents
                    s["ParentShardId"] = p[0]
                    if len(p) > 1:
                        s["AdjacentParentShardId"] = p[1]
                else:
                    s["ParentShardId"] = p
            rng: dict = {"StartingSequenceNumber": "0"}
            if sid in self._closed:
                rng["EndingSequenceNumber"] = str(self._n_frames(sid) - 1)
            s["SequenceNumberRange"] = rng
            shards.append(s)
        return {"Shards": shards}

    def get_shard_iterator(
        self,
        StreamName: str,
        ShardId: str,
        ShardIteratorType: str,
        StartingSequenceNumber: str | None = None,
        **_,
    ):
        if ShardIteratorType == "TRIM_HORIZON":
            idx = 0
        elif ShardIteratorType == "AT_SEQUENCE_NUMBER":
            idx = int(StartingSequenceNumber)
        elif ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            idx = int(StartingSequenceNumber) + 1
        elif ShardIteratorType == "LATEST":
            idx = self._n_frames(ShardId)
        else:
            raise ValueError(f"unsupported iterator type {ShardIteratorType}")
        return {"ShardIterator": self._tok(ShardId, idx)}

    def get_records(self, ShardIterator: str, Limit: int = 10000, **_):
        if Limit > 10000:
            raise ValueError("Limit must be <= 10000 (Kinesis API bound)")
        shard, idx = self._untok(ShardIterator)
        n_frames = self._n_frames(shard)
        batch = self._read_slice(shard, idx, min(idx + Limit, n_frames))
        records = [
            {
                "SequenceNumber": str(idx + i),
                "PartitionKey": self._pk,
                "Data": frame,
                "ApproximateArrivalTimestamp": _EPOCH,
            }
            for i, frame in enumerate(batch)
        ]
        next_idx = idx + len(batch)
        drained = next_idx >= n_frames
        # SHARD_END: a closed (split/merged-away) shard has no next iterator
        # once drained — the consumer-side signal to hand off to children
        next_it = None if (drained and shard in self._closed) else self._tok(shard, next_idx)
        return {
            "Records": records,
            "NextShardIterator": next_it,
            "MillisBehindLatest": 0 if drained else 1,
        }


def capture_client_factory(
    capture_dir: str,
    partition_key: str = "capture",
    opaque: bool = False,
    reshard: dict | None = None,
):
    return CaptureReplayClient(capture_dir, partition_key, opaque, reshard)


class CaptureSinkClient(FakeKinesisClient):
    """Offline Kinesis PRODUCER endpoint on the shared shard model
    (:class:`...sink.FakeKinesisClient`: ListShards discovery, split and
    merge, routing over open shards). ``put_records`` lands every
    aggregated wire record as frames in ``capture_dir/<shard>/*.kpl`` —
    the same layout :class:`CaptureReplayClient` and
    ``spark.read.format("kpl")`` consume, so a streaming write can be
    round-tripped hermetically: writeStream("kinesis") → capture → read →
    deaggregate → original payloads.
    """

    def __init__(
        self,
        capture_dir: str,
        num_shards: int = 1,
        split_after_puts: int = 0,
        merge_after_puts: int = 0,
    ) -> None:
        super().__init__(num_shards=num_shards)
        self._dir = capture_dir
        #: chaos knob: after N successful put_records calls, every open
        #: shard closes and splits into two children — a mid-stream
        #: UpdateShardCount doubling the sink must write through live
        self.split_after_puts = int(split_after_puts)
        #: chaos knob: after N puts, adjacent open-shard pairs each MERGE
        #: into one child spanning both hash ranges (the real MergeShards
        #: topology: child carries ParentShardId + AdjacentParentShardId)
        self.merge_after_puts = int(merge_after_puts)
        self._make_shard_dirs()

    def _make_shard_dirs(self) -> None:
        for s in self.shards:
            os.makedirs(os.path.join(self._dir, s["ShardId"]), exist_ok=True)

    def _resharded(self) -> None:
        self._make_shard_dirs()
        self._persist_topology()

    def _persist_topology(self) -> None:
        """Write the reshard topology to ``<capture_dir>/_topology.json``
        so :class:`CaptureReplayClient` replays the capture through its own
        split/merge history without the caller reconstructing parent/child
        wiring. Written only when a reshard has happened (a flat capture
        needs no file). Chaos knobs assume a single sink client per capture
        dir (coalesce the stream to one partition), so last-write-wins here
        is moot."""
        closed = [
            s["ShardId"]
            for s in self.shards
            if s["SequenceNumberRange"].get("EndingSequenceNumber")
        ]
        parents: dict[str, object] = {}
        for s in self.shards:
            pid = s.get("ParentShardId")
            if not pid:
                continue
            adj = s.get("AdjacentParentShardId")
            parents[s["ShardId"]] = [pid, adj] if adj else pid
        tmp = os.path.join(self._dir, "_topology.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"closed": closed, "parents": parents}, f)
        os.replace(tmp, os.path.join(self._dir, "_topology.json"))

    def put_records(self, StreamName: str, Records: list[dict]):
        import uuid as _uuid

        from .kpl_datasource import write_wire_file

        self._puts_seen += 1
        if self.split_after_puts and self._puts_seen > self.split_after_puts:
            self.split_all_shards()
            self.split_after_puts = 0  # scripted chaos fires once
        if self.merge_after_puts and self._puts_seen > self.merge_after_puts:
            self.merge_adjacent_shards()
            self.merge_after_puts = 0  # scripted chaos fires once

        out = []
        by_shard: dict[str, list[bytes]] = {}
        for rec in Records:
            shard = self._shard_for(rec.get("ExplicitHashKey"))
            by_shard.setdefault(shard, []).append(bytes(rec["Data"]))
            out.append({"SequenceNumber": "0", "ShardId": shard})
        for shard, frames in by_shard.items():
            write_wire_file(
                os.path.join(self._dir, shard, f"part-{_uuid.uuid4().hex}.kpl"), frames
            )
        return {"FailedRecordCount": 0, "Records": out}


def capture_sink_client_factory(
    capture_dir: str,
    num_shards: int = 1,
    split_after_puts: int = 0,
    merge_after_puts: int = 0,
):
    return CaptureSinkClient(
        capture_dir, num_shards, split_after_puts, merge_after_puts
    )


# ---------------------------------------------------------------------------
# Offset plumbing
# ---------------------------------------------------------------------------

_GET_RECORDS_LIMIT = 10_000  # hard Kinesis API bound per GetRecords call


def _norm_off(v) -> dict:
    """Normalize one shard's offset entry to ``{"seq": str|None, "done":
    bool, ["pos": "LATEST"]}``. Accepts the round-2 legacy shape (a dense
    integer "next index to read") so old checkpoints resume cleanly — legacy
    offsets only ever came from the capture client, whose sequence numbers
    ARE the dense indices."""
    if v is None:
        return {"seq": None, "done": False}
    if isinstance(v, dict):
        out = {"seq": v.get("seq"), "done": bool(v.get("done", False))}
        if v.get("pos"):
            out["pos"] = v["pos"]
        return out
    n = int(v)
    return {"seq": str(n - 1) if n > 0 else None, "done": False}


def _seq_ge(a: str | None, b: str | None) -> bool:
    """True iff sequence number ``a`` is at-or-past ``b``. ``None`` means
    "nothing read yet" and sorts below every real sequence number; Kinesis
    sequence numbers are decimal strings ordered numerically (a big-int
    timestamp+subsequence composite), so string-length-then-value compare
    via int() is the documented total order."""
    if b is None:
        return True
    if a is None:
        return False
    return int(a) >= int(b)


def _parents_done(meta: dict, known_ids: set[str], offsets: dict) -> bool:
    """KCL ordering rule: a child shard may be consumed only after every
    parent still present in the shard map is fully drained (``done``). A
    parent that has aged out of the shard map (retention expiry) no longer
    gates its children."""
    for key in ("ParentShardId", "AdjacentParentShardId"):
        pid = meta.get(key)
        if pid and pid in known_ids and not _norm_off(offsets.get(pid)).get("done"):
            return False
    return True


def _open_iterator(client, stream: str, shard_id: str, off: dict) -> str:
    """Shard iterator resuming AFTER the last consumed sequence number —
    never arithmetic on the (opaque) value."""
    if off.get("seq") is not None:
        return client.get_shard_iterator(
            StreamName=stream,
            ShardId=shard_id,
            ShardIteratorType="AFTER_SEQUENCE_NUMBER",
            StartingSequenceNumber=str(off["seq"]),
        )["ShardIterator"]
    pos = "LATEST" if off.get("pos") == "LATEST" else "TRIM_HORIZON"
    return client.get_shard_iterator(
        StreamName=stream, ShardId=shard_id, ShardIteratorType=pos
    )["ShardIterator"]


def _probe_shard(client, stream: str, shard_id: str, off: dict, cap: int) -> dict:
    """Probe one shard forward from its offset: loop ``get_records`` (Limit
    clamped to the 10 000 API bound) until the shard is caught up
    (``MillisBehindLatest == 0``), the admission cap is hit, or SHARD_END.
    Returns the new offset; only the last sequence number is kept and
    payload bytes are dropped page by page (bounded driver memory)."""
    it = _open_iterator(client, stream, shard_id, off)
    n = 0
    last_seq = None
    done = False
    empties = 0
    while True:
        limit = min(_GET_RECORDS_LIMIT, cap - n) if cap else _GET_RECORDS_LIMIT
        resp = client.get_records(ShardIterator=it, Limit=limit)
        recs = resp["Records"]
        n += len(recs)
        if recs:
            last_seq = recs[-1]["SequenceNumber"]
        nxt = resp.get("NextShardIterator")
        if nxt is None:
            done = True  # SHARD_END: closed shard fully drained
            break
        if cap and n >= cap:
            break
        if not recs:
            # a behind iterator may legally return empty pages; bounded retry
            empties += 1
            if resp.get("MillisBehindLatest", 0) == 0 or empties >= 5:
                break
        else:
            empties = 0
        it = nxt
    if last_seq is not None:
        return {"seq": last_seq, "done": done}
    new = dict(off)
    new["done"] = done or off.get("done", False)
    return new


def _read_shard_range(client, stream: str, shard_id: str, start: dict, end_seq: str):
    """Deterministically replay the committed range ``(start.seq ..
    end_seq]``: loop get_records from AFTER the start sequence number and
    stop INCLUSIVELY at end_seq (string equality — the end was an observed
    record's sequence number, never computed). Never trusts a single call to
    return a full page (short reads are legal)."""
    it = _open_iterator(client, stream, shard_id, start)
    while True:
        resp = client.get_records(ShardIterator=it, Limit=_GET_RECORDS_LIMIT)
        for rec in resp["Records"]:
            yield rec
            if rec["SequenceNumber"] == end_seq:
                return
        nxt = resp.get("NextShardIterator")
        if nxt is None:
            return  # SHARD_END before end_seq: range trimmed (retention)
        if not resp["Records"] and resp.get("MillisBehindLatest", 0) == 0:
            return  # drained below the committed end: nothing more to replay
        it = nxt


def _rows_for(shard_id: str, records) -> Iterator[tuple]:
    for rec in records:
        ts = rec.get("ApproximateArrivalTimestamp") or _EPOCH
        if getattr(ts, "tzinfo", None) is not None:
            ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
        yield (
            shard_id,
            rec["SequenceNumber"],
            rec.get("PartitionKey"),
            bytes(rec["Data"]),
            ts,
        )


class _ShardSlice(InputPartition):
    def __init__(self, shard_id: str | None, start: dict | None, end_seq: str | None):
        self.shard_id = shard_id
        self.start = start
        self.end_seq = end_seq


class KinesisPartitionedStreamReader(DataSourceStreamReader):
    """The Kinesis stream reader: each micro-batch plans ONE input partition
    per shard slice, and every executor task polls its own shard over the
    boto3 surface (``get_shard_iterator`` + ``get_records``) directly, so
    ingest parallelism equals the shard count and no record bytes are
    retained on the driver.

    Options: ``stream_name``; ``client_factory`` (``module:callable``, boto3
    by default) and its JSON ``client_kwargs``; ``starting_position``
    (``TRIM_HORIZON`` by default, or ``LATEST``); ``max_records_per_batch``
    (per-shard admission cap, 0 = none). Offsets are ``{shard_id: {"seq",
    "done"}}`` dicts; round-2 integer checkpoints resume too.

    ``starting_position=LATEST`` pins each shard's tip in ``initialOffset``.
    An index-exposing client yields the exact position. A live boto3
    iterator is opaque, so the shard's offset carries a ``"pos": "LATEST"``
    marker until a ``latestOffset`` probe sees a record. No slice starts at
    a marker (its executor would open a fresh LATEST iterator and read past
    the pinned end), so records that land before the first pinned sequence
    number are skipped — the standard "start from latest" contract.

    ``latestOffset`` must pin each shard's batch-end sequence number BEFORE
    executors read (that is what makes a committed batch deterministically
    replayable). Two strategies, picked per shard:

    - index-exposing clients (capture replay, a KCL lease store): the LATEST
      iterator decodes to an exact position — zero data moved.
    - live boto3 (opaque iterators): the driver PROBES the shard — loops
      ``get_records`` from the last checkpoint, keeping only the final
      sequence number and discarding payload bytes — then executors re-read
      the pinned range. One extra pass over new records on the driver's NIC,
      but bounded memory, and the only way to get an exact, replayable bound
      out of an API that exposes no tip position. Cap it with
      ``max_records_per_batch`` (strongly recommended live) — the probe then
      stops at the cap and the stream is consumed in bounded, deterministic
      batches, exactly like Kafka's ``maxOffsetsPerTrigger``.

    CAP x availableNow caveat (measured, Spark 4.1): a Python data source
    only implements ``MicroBatchStream`` — not ``SupportsTriggerAvailableNow``
    — so ``Trigger.AvailableNow`` wraps it in ``AvailableNowDataStreamWrapper``,
    which snapshots ONE ``latestOffset()`` at query start as the terminal
    offset. With an admission cap set, that snapshot is a CAPPED offset:
    the run drains exactly one cap's worth and stops (observed: 16.3M of a
    20M backlog at cap 128 x 16 shards). Use the default processing-time
    trigger and stop on checkpointed offsets for capped backlog drains
    (bench_stream.py's reshard/decade drains show the pattern); reserve
    availableNow for uncapped runs, where the snapshot IS the tip.

    Resharding follows the KCL rule: closed shards (SHARD_END, or
    ``EndingSequenceNumber`` in the shard map — the predicate the reference
    inverts at KinesisWriter.scala:51) drain once and flip ``done``;
    children are planned only after their parents are done, re-checked
    within a single ``latestOffset`` so an availableNow run walks the whole
    split tree parent-first.
    """

    def __init__(self, options) -> None:
        self._stream = options.get("stream_name", "stream")
        self._factory_spec = options.get("client_factory", DEFAULT_CLIENT_FACTORY)
        self._factory_kwargs = options.get("client_kwargs")
        self._starting_position = options.get("starting_position", "TRIM_HORIZON")
        # per-shard per-micro-batch admission cap: bounds batch size (and
        # therefore recovery replay) the way maxOffsetsPerTrigger does for
        # Kafka; 0 = unbounded
        self._max_per_batch = int(options.get("max_records_per_batch", "0"))
        if self._max_per_batch < 0:
            # a negative cap would put every latestOffset behind its start,
            # so each batch would plan empty and the stream would stall
            raise ValueError(
                f"max_records_per_batch must be >= 0, got {self._max_per_batch}"
            )
        if self._max_per_batch > 0:
            # planning-time defense for the cap x availableNow footgun (the
            # reader cannot see the trigger, so warn whenever the cap is
            # on): under Trigger.AvailableNow a Python source's terminal
            # offset is ONE capped latestOffset snapshot, and the run
            # drains exactly one cap's worth per shard while REPORTING
            # SUCCESS (measured 16.3M of 20M). The safe capped-drain
            # recipe is streaming.drain_backlog — default trigger, stop on
            # committed tail offsets.
            logging.getLogger(__name__).warning(
                "kinesis source: max_records_per_batch=%d is set — do NOT "
                "drain a backlog with Trigger.AvailableNow (it snapshots "
                "one CAPPED latestOffset as the terminal offset and stops "
                "after ~%d records/shard, silently truncating the drain). "
                "Use the default trigger with "
                "kinesis_writer_spark.streaming.drain_backlog() to stop at "
                "the true tip.",
                self._max_per_batch,
                self._max_per_batch,
            )
        self._client = None
        self._last_start: dict | None = None

    def _c(self):
        if self._client is None:
            self._client = resolve_factory(self._factory_spec, self._factory_kwargs)
        return self._client

    def _latest_index(self, sid: str) -> int | None:
        """Position of the shard's LATEST iterator if the client exposes one
        (capture replay, a KCL lease store); ``None`` for an opaque live
        boto3 iterator."""
        it = self._c().get_shard_iterator(
            StreamName=self._stream, ShardId=sid, ShardIteratorType="LATEST"
        )["ShardIterator"]
        try:
            return int(json.loads(it).get("idx", 0))
        except (ValueError, TypeError, AttributeError):
            return None

    def initialOffset(self) -> dict:
        metas = list_shards(self._c(), self._stream)
        if self._starting_position == "LATEST":
            start = {m["ShardId"]: self._latest_start(m["ShardId"]) for m in metas}
        else:
            start = {m["ShardId"]: {"seq": None, "done": False} for m in metas}
        self._last_start = start
        return start

    def _latest_start(self, shard_id: str) -> dict:
        """Pin LATEST for one shard: the exact tip if the client exposes it,
        else the LATEST marker (see the class docstring)."""
        idx = self._latest_index(shard_id)
        if idx is None:
            return {"seq": None, "done": False, "pos": "LATEST"}
        return {"seq": str(idx - 1) if idx > 0 else None, "done": False}

    def _tip(self, meta: dict, cur: dict) -> dict:
        """Batch-end offset for one shard: exact position if the client
        exposes one, else a driver-side sequence probe."""
        sid = meta["ShardId"]
        ending = (meta.get("SequenceNumberRange") or {}).get("EndingSequenceNumber")
        # admission cap; latestOffset guarantees _last_start is known by
        # now (fresh queries snap to initialOffset, restarts are taught by
        # partitions()), the guard is defense against future call-order
        # drift — uncapped can never land below a checkpoint, capped could
        cap = self._max_per_batch if self._last_start is not None else 0
        avail = self._latest_index(sid)
        if avail is None:
            # opaque live iterator: probe forward from the checkpoint,
            # keeping only the last sequence number (payloads dropped)
            return _probe_shard(self._c(), self._stream, sid, cur, cap)
        # indexable fast path: offsets are dense, so the admission cap can
        # be applied arithmetically
        floor = int(cur["seq"]) + 1 if cur.get("seq") is not None else 0
        if cap:
            avail = min(avail, floor + cap)
        seq = str(avail - 1) if avail > 0 else None
        done = ending is not None and (seq is None or int(seq) >= int(ending))
        return {"seq": seq, "done": done}

    def latestOffset(self) -> dict:
        if self._last_start is None:
            # Spark 4 plans a FRESH query's first batch by calling
            # latestOffset() BEFORE initialOffset() (measured:
            # tests/test_kinesis_stream_source.py::TestAdmissionCapBatchZero
            # traces the runner call order), while every restart shape
            # re-plans its recovered batch through partitions() first —
            # which teaches us the checkpointed end below. An unknown
            # start here therefore means a fresh query: snap to the
            # initial offset (the TRIM_HORIZON floor, or the pinned LATEST
            # tip) so the admission cap bounds batch 0 too.
            # (Before r12 this case skipped the cap, and a fresh query
            # with a deep backlog planned the WHOLE backlog as one batch
            # — the cap only ever applied from batch 1 on.)
            self._last_start = self.initialOffset()
        metas = list_shards(self._c(), self._stream)
        known = {m["ShardId"] for m in metas}
        start = self._last_start or {}
        end: dict = {}
        pending = {m["ShardId"]: m for m in metas}
        progressed = True
        while pending and progressed:
            progressed = False
            for sid in list(pending):
                cur = _norm_off(end.get(sid, start.get(sid)))
                if cur.get("done"):
                    end[sid] = cur
                    del pending[sid]
                    progressed = True
                    continue
                if not _parents_done(pending[sid], known, {**start, **end}):
                    continue
                end[sid] = self._tip(pending[sid], cur)
                del pending[sid]
                progressed = True
        for sid, m in pending.items():  # blocked behind an un-drained parent
            end[sid] = _norm_off(start.get(sid))
        self._last_start = dict(end)
        return end

    def partitions(self, start: dict, end: dict) -> list[_ShardSlice]:
        # A restarted query re-plans its recovered batch through here
        # before any latestOffset call (measured for both committed and
        # uncommitted tails), so the recovered END is the authoritative
        # floor for the next planning call. Teaching it keeps the
        # admission cap relative to the checkpoint after a restart —
        # a cap computed from an unknown floor could plan an end BELOW
        # the checkpoint, which replays committed records.
        #
        # Defense-in-depth against a future Spark call-order change: the
        # snap-to-TRIM_HORIZON in latestOffset() relies on restarts always
        # re-planning through here first. If a runner ever computed a
        # capped end from the horizon floor while the checkpoint sits
        # further ahead, that end would land BELOW the start Spark hands
        # in. Two clamps make that harmless regardless of call order:
        # (1) an end at-or-below the start plans as EMPTY (never a
        # backwards slice that replays committed records), and (2) the
        # taught _last_start never regresses below the given start.
        taught: dict = {}
        for sid, raw_end in end.items():
            eo = _norm_off(raw_end)
            so = _norm_off(start.get(sid))
            taught[sid] = eo if _seq_ge(eo.get("seq"), so.get("seq")) else so
        for sid in start:  # shards Spark knows that this end omitted
            if sid not in taught:
                taught[sid] = _norm_off(start.get(sid))
        self._last_start = taught
        slices = []
        for sid, raw_end in end.items():
            eo = _norm_off(raw_end)
            so = _norm_off(start.get(sid))
            # one numeric comparison covers both "nothing new" (equal) and
            # the backwards-plan clamp (start past end) — plan only strictly
            # forward slices, and none from a LATEST marker (its executor
            # would open a fresh LATEST iterator past the pinned end)
            if (
                eo["seq"] is not None
                and "pos" not in so
                and not _seq_ge(so.get("seq"), eo.get("seq"))
            ):
                slices.append(_ShardSlice(sid, so, eo["seq"]))
        # Spark requires >= 1 partition per batch; an empty slice yields no rows
        return slices or [_ShardSlice(None, None, None)]

    def read(self, partition: _ShardSlice) -> Iterator[tuple]:
        # executor-side: this task owns one shard slice and opens its own
        # AFTER_SEQUENCE_NUMBER iterator — no record bytes via the driver
        if partition.shard_id is None or partition.end_seq is None:
            return
        client = resolve_factory(self._factory_spec, self._factory_kwargs)
        yield from _rows_for(
            partition.shard_id,
            _read_shard_range(
                client, self._stream, partition.shard_id, partition.start, partition.end_seq
            ),
        )

    def commit(self, end: dict) -> None:
        pass


class KinesisBatchReader(DataSourceReader):
    """Batch read for backfills: ``spark.read.format("kinesis")`` scans every
    shard from TRIM_HORIZON to the current tip, one input partition per
    shard — the bulk-load twin of the stream reader (same client
    contract, same record schema), for rebuilding a table from a stream
    retention window or a capture directory without running a query.
    ``latestOffset``'s parent-first multi-pass means a fully-resharded
    stream backfills in one shot (parents and children in the same scan)."""

    def __init__(self, options) -> None:
        self._options = options

    def partitions(self):
        # a backfill always starts at TRIM_HORIZON, whatever the stream
        # option says
        r = KinesisPartitionedStreamReader(
            {**self._options, "starting_position": "TRIM_HORIZON"}
        )
        start, end = r.initialOffset(), r.latestOffset()
        return r.partitions(start, end)

    def read(self, partition):
        return KinesisPartitionedStreamReader(self._options).read(partition)


class KinesisDataSource(DataSource):
    """``format("kinesis")`` — Kinesis consumer as a streaming source, batch
    backfill reader, and streaming sink."""

    @classmethod
    def name(cls) -> str:
        return "kinesis"

    def schema(self) -> str:
        return KINESIS_SCHEMA

    def reader(self, schema) -> "KinesisBatchReader":
        return KinesisBatchReader(self.options)

    def streamReader(self, schema) -> KinesisPartitionedStreamReader:
        return KinesisPartitionedStreamReader(self.options)

    def streamWriter(self, schema, overwrite: bool) -> "KinesisStreamSinkWriter":
        return KinesisStreamSinkWriter(
            self.options, [f.name for f in schema.fields]
        )


def _parse_positive_rate(options, key: str) -> float | None:
    """Parse a rate option; absent → None (no limit). '0' and negatives are
    config errors — a 0.0-rate token bucket can never refill, so the first
    acquire would divide by zero deep inside a partition write. 'nan' and
    'inf' are errors too: either one makes every acquire return at once,
    which switches pacing off. Fail loud at plan time instead."""
    raw = options.get(key)
    if raw is None:
        return None
    val = float(raw)
    if not (math.isfinite(val) and val > 0):
        raise ValueError(
            f"{key} must be > 0 and finite (got {raw!r}); omit the option for no limit"
        )
    return val


#: One limiter per (stream, budget) per executor PROCESS, so token-bucket
#: debt and burst state persist across the microbatches a reused Python
#: worker executes — without this every write() restarted with full burst
#: tokens and sustained throughput could exceed the budget by
#: burst_seconds of bytes per microbatch per shard. Workers that are
#: recycled do reset their bucket (one burst's worth of slack per recycle);
#: size ``rate_limit_burst_seconds`` with that in mind.
_SINK_LIMITERS: dict[tuple, "object"] = {}

#: Guards the get-or-create below (r13 singleton audit). The registry's
#: whole point is ONE limiter per (stream, budget) per process; an
#: unsynchronized check-then-insert can hand two concurrent writer threads
#: (several sink writers in one process) two DISTINCT
#: limiters for the same key — each tracking its own token buckets, so the
#: pair admits up to 2x the configured budget until one is dropped.
#: Creation is cheap, so the lock covers the whole get-or-create.
#: tests/test_caches.py::test_shared_sink_limiter_concurrent pins this.
_SINK_LIMITERS_LOCK = threading.Lock()


def _shared_sink_limiter(stream: str, bps: float, pps: float, burst: float):
    key = (stream, bps, pps, burst)
    with _SINK_LIMITERS_LOCK:
        limiter = _SINK_LIMITERS.get(key)
        if limiter is None:
            limiter = _SINK_LIMITERS[key] = ShardRateLimiter(
                bytes_per_sec=bps, puts_per_sec=pps, burst_seconds=burst
            )
    return limiter


class KinesisStreamSinkWriter(DataSourceStreamArrowWriter):
    """``payloads.writeStream.format("kinesis")`` — the reference's producer
    loop (KinesisWriter.scala:147-197: aggregate → route → PutRecords with
    linear back-off) as a first-class Structured Streaming sink.

    Each task gets its partition as Arrow record batches and hands them to
    :func:`...sink.write_partition`, the same function ``write_dataframe``
    runs: a non-empty partition builds a client from ``client_factory`` and
    pushes its ``data`` payloads through :class:`...sink.KinesisStreamWriter`
    (exact KPL sizing, shard-midpoint routing, retry ×30, replay-from-raw).
    Delivery is AT-LEAST-ONCE: a retried task re-sends its partition for
    that epoch — the same contract as the reference and every PutRecords
    producer; dedup belongs to the consumer (see deaggregate + q36-style
    dedup-latest).
    """

    def __init__(self, options, field_names: list[str]):
        if "data" not in field_names:
            raise ValueError(f"kinesis sink needs a binary 'data' column, got {field_names}")
        self._stream = options.get("stream_name", "stream")
        self._factory_spec = options.get("client_factory", DEFAULT_CLIENT_FACTORY)
        self._factory_kwargs = options.get("client_kwargs")
        # proactive pacing (sink.ShardRateLimiter): configure the per-WRITER
        # budget, i.e. the shard limit divided by expected writers per shard.
        # Rates parse AND validate at planning time (driver-side) so a bad
        # option fails the query start, not the first executor send. With a
        # limiter attached the writer routes each flush by its budget.
        self._rl_bytes = _parse_positive_rate(options, "rate_limit_bytes_per_sec")
        self._rl_puts = _parse_positive_rate(options, "rate_limit_puts_per_sec")
        self._rl_burst = float(options.get("rate_limit_burst_seconds", "1.0"))
        if not (math.isfinite(self._rl_burst) and self._rl_burst > 0):
            raise ValueError(
                f"rate_limit_burst_seconds must be > 0 and finite, got {self._rl_burst!r}"
            )
        # periodic shard-map re-discovery (long-running sinks survive
        # resharding without a restart): ON by default at the sink module's
        # cadence; '0' disables; error-triggered refresh is always on
        refresh = int(options.get("shard_map_refresh_flushes", DEFAULT_REFRESH_EVERY_FLUSHES))
        if refresh < 0:
            raise ValueError(f"shard_map_refresh_flushes must be >= 0, got {refresh}")
        self._refresh_flushes: int | None = refresh or None

    def write(self, iterator):
        write_partition(iterator, "data", self._make_writer)
        return WriterCommitMessage()

    def _make_writer(self) -> KinesisStreamWriter:
        limiter = None
        if self._rl_bytes is not None or self._rl_puts is not None:
            limiter = _shared_sink_limiter(
                self._stream,
                self._rl_bytes if self._rl_bytes is not None else 1_048_576.0,
                self._rl_puts if self._rl_puts is not None else 1000.0,
                self._rl_burst,
            )
        return KinesisStreamWriter(
            self._stream,
            resolve_factory(self._factory_spec, self._factory_kwargs),
            rate_limiter=limiter,
            refresh_every_flushes=self._refresh_flushes,
        )

    def commit(self, messages, batchId) -> None:
        pass  # offsets commit in the streaming checkpoint

    def abort(self, messages, batchId) -> None:
        pass  # at-least-once: partial sends of an aborted epoch may re-send


def register(spark) -> None:
    """Register on a session: ``spark.readStream.format("kinesis")`` and
    ``df.writeStream.format("kinesis")``.

    On a session ``get_spark`` built this waits for the registration it
    started in the background (and re-raises its error) instead of
    registering again; any other session registers here."""
    from ..session import await_data_sources  # the driver only, not executors

    if not await_data_sources(spark):
        spark.dataSource.register(KinesisDataSource)

"""Custom Python DataSource (Spark 4 API): ``spark.read.format("kpl")``.

Registers the KPL wire format as a first-class Spark source: a directory of
``.kpl`` container files (each a sequence of length-prefixed aggregated
records — the shape of an S3 firehose capture) scans directly into the
deaggregated user-record DataFrame, one input partition per file.

This is the idiomatic Spark 4 packaging of the consumer path in
:mod:`.kpl_stream` (reference contract: awslabs/kinesis-aggregation
deaggregation; wire format per AggRecord.java:61-74 — magic ``F3899AC2`` +
protobuf + MD5 trailer). :func:`.kpl_stream.deaggregate_records` decodes
wire records that are already a DataFrame column (a stream, a parquet
capture); this source gives planners a real scan node over container
files with per-file task parallelism, usable from SQL (``CREATE TABLE ...
USING kpl`` semantics) and `spark.read` alike. Its writer packs payloads
with the same loop as :func:`.kpl_stream.aggregate_payloads`.

Container framing: ``[uint32 BE frame length][frame bytes]`` repeated. The
aggregated record frame itself is self-validating (MD5 trailer), so torn
files fail loudly in the reader.
"""

from __future__ import annotations

import glob as _glob
import os
import struct
import uuid
from collections.abc import Iterator
from dataclasses import dataclass
from itertools import islice, repeat

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)


@dataclass
class SimpleCommitMessage(WriterCommitMessage):
    n_records: int
    n_frames: int
    file: str | None  # container written by this task (None if empty)


#: Commit manifest: readers trust ONLY the files it lists (when present), so
#: containers left behind by failed-and-retried tasks are never scanned.
MANIFEST = "_kpl_manifest.json"

#: DataFrame schema produced by the source.
KPL_SCHEMA = (
    "partition_key string, explicit_hash_key string, data binary, source_file string"
)

_LEN = struct.Struct(">I")


def write_wire_file(path: str, frames: list[bytes]) -> None:
    """Write one ``.kpl`` container: length-prefixed aggregated-record frames."""
    with open(path, "wb") as f:
        for frame in frames:
            f.write(_LEN.pack(len(frame)))
            f.write(frame)


def _walk_frames(path: str, lo: float = 0, hi: float = float("inf")) -> Iterator[bytes | None]:
    """Walk one ``.kpl`` container's frames in order, stopping before frame
    ``hi``: frame ``i >= lo`` comes back as its bytes, an earlier one as
    ``None`` — skipped by seeking past it on its 4-byte length prefix, so
    no payload bytes are read. A torn prefix or frame raises ValueError."""
    with open(path, "rb") as f:
        end = f.seek(0, 2)
        f.seek(0)
        pos = i = 0
        while pos < end and i < hi:
            head = f.read(4)
            if len(head) != 4:
                raise ValueError(f"{path}: torn length prefix")
            (n,) = _LEN.unpack(head)
            pos += 4 + n
            if pos > end:
                raise ValueError(f"{path}: torn frame (want {n} more bytes)")
            if i >= lo:
                frame = f.read(n)
                if len(frame) != n:
                    raise ValueError(f"{path}: torn frame (want {n}, got {len(frame)})")
                yield frame
            else:
                f.seek(pos)
                yield None
            i += 1


def read_wire_file(path: str) -> list[bytes]:
    """Read back every frame of a ``.kpl`` container (validates framing)."""
    return list(_walk_frames(path))


def count_wire_frames(path: str) -> int:
    """Frame count of one ``.kpl`` container WITHOUT materializing payloads:
    read each 4-byte length prefix and seek past the frame. The capture
    replay client's driver-side LATEST probes only need counts (sequence
    numbers are dense frame indices) — seeking keeps that O(frames) prefix
    reads instead of parsing the whole multi-GB capture per planning call."""
    return sum(1 for _ in _walk_frames(path, lo=float("inf")))


def read_wire_slice(path: str, lo: int, hi: int) -> list[bytes]:
    """Frames ``[lo, hi)`` of one ``.kpl`` container, materializing ONLY that
    slice: the first ``lo`` frames are skipped by seeking past their length
    prefixes (4-byte reads, no payload bytes), and reading stops at ``hi``.
    Serving a capped micro-batch this way costs O(cap) payload bytes instead
    of O(shard) — the difference between a drain whose per-batch cost tracks
    the admission cap and one that re-parses the whole shard every batch."""
    return list(islice(_walk_frames(path, lo, hi), lo, None))


def write_wire_dir(wire_df, directory: str, wire_col: str = "wire") -> None:
    """Spill a DataFrame of aggregated wire records into ``.kpl`` container
    files, one file per partition (executor-side, no driver collect)."""
    os.makedirs(directory, exist_ok=True)

    def dump(rows) -> None:
        frames = [bytes(r[wire_col]) for r in rows]
        if frames:
            write_wire_file(
                os.path.join(directory, f"part-{uuid.uuid4().hex}.kpl"), frames
            )

    wire_df.foreachPartition(dump)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class KplDataSource(DataSource):
    """``format("kpl")`` — scan KPL container files as user records, or
    write a DataFrame of payloads back out as aggregated containers."""

    @classmethod
    def name(cls) -> str:
        return "kpl"

    def schema(self) -> str:
        return KPL_SCHEMA

    def reader(self, schema) -> "KplReader":
        return KplReader(self.options)

    def writer(self, schema, overwrite: bool) -> "KplWriter":
        return KplWriter(self.options, [f.name for f in schema.fields], overwrite)


class KplReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("kpl source requires a path: spark.read.format('kpl').load(dir)")
        self.path = path

    def partitions(self):
        if os.path.isdir(self.path):
            manifest = os.path.join(self.path, MANIFEST)
            if os.path.exists(manifest):
                # committed write: scan exactly the committed file set, so
                # orphans from retried task attempts are never read
                import json as _json

                with open(manifest) as f:
                    names = _json.load(f)["files"]
                files = [os.path.join(self.path, n) for n in names]
            else:
                files = sorted(_glob.glob(os.path.join(self.path, "*.kpl")))
        else:
            files = sorted(_glob.glob(self.path))
        if not files:
            raise FileNotFoundError(f"no .kpl files under {self.path}")
        return [_FilePartition(p) for p in files]

    def read(self, partition):
        # runs on executors: decode every frame of this partition's file
        from ..kpl import deaggregator

        for frame in read_wire_file(partition.path):
            for rec in deaggregator.deaggregate(frame):
                yield (rec.partition_key, rec.explicit_hash_key, rec.data, partition.path)


class KplWriter(DataSourceArrowWriter):
    """``df.write.format("kpl").save(dir)`` — the producer half of the
    DataSource: each task aggregates its partition's payloads into ~1 MiB
    KPL wire records (the R3/R16 batching contract,
    RecordAggregator.java:40-75, through :func:`..kpl.aggregator.pack_records`)
    and spills them as ONE ``.kpl`` container per partition. Commit is
    rename-free: task files are uuid-named, so a retried task writes a new
    file and the driver's commit simply reports the set — at 100 TB this is
    the executor-parallel shape of ``write_wire_dir`` with write-path
    planning (mode checks, schema validation) done by Spark.

    Expected input schema: a binary ``data`` column (payloads); optional
    ``partition_key`` string column (defaults to ``"a"`` like the sink's
    static keying). Both arrive as Arrow record batches.
    """

    def __init__(self, options, field_names: list[str], overwrite: bool):
        path = options.get("path")
        if not path:
            raise ValueError("kpl writer requires a path: df.write.format('kpl').save(dir)")
        if "data" not in field_names:
            raise ValueError(f"kpl writer needs a binary 'data' column, got {field_names}")
        self.path = path
        self.has_pk = "partition_key" in field_names
        self.overwrite = overwrite

    def _records(self, batches) -> Iterator[tuple[str, bytes]]:
        for batch in batches:
            data = batch.column("data").to_pylist()
            keys = (
                batch.column("partition_key").to_pylist()
                if self.has_pk
                else repeat("a", len(data))
            )
            yield from zip(keys, data)

    def write(self, iterator):
        from ..kpl.aggregator import pack_records

        os.makedirs(self.path, exist_ok=True)
        n = 0
        frames: list[bytes] = []
        for rec in pack_records(self._records(iterator)):
            n += rec.num_user_records
            frames.append(rec.to_bytes())
        fname = None
        if frames:
            fname = f"part-{uuid.uuid4().hex}.kpl"
            write_wire_file(os.path.join(self.path, fname), frames)
        return SimpleCommitMessage(n_records=n, n_frames=len(frames), file=fname)

    def commit(self, messages):
        # exactly-once across task retries: only the files of SUCCESSFUL task
        # attempts enter the manifest; orphans from retried attempts exist on
        # disk but are never read (the reader trusts the manifest).
        # mode('append') MERGES with a previously committed manifest (a second
        # job must not make earlier containers invisible); mode('overwrite')
        # replaces it and removes the superseded containers from disk.
        import json as _json

        new_files = sorted(m.file for m in messages if m and m.file)
        manifest_path = os.path.join(self.path, MANIFEST)
        prior: list[str] = []
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                prior = _json.load(f).get("files", [])
        if self.overwrite:
            for name in set(prior) - set(new_files):
                try:
                    os.remove(os.path.join(self.path, name))
                except OSError:
                    pass  # already gone; the manifest is the source of truth
            files = new_files
        else:
            files = sorted(set(prior) | set(new_files))
        with open(manifest_path, "w") as f:
            _json.dump({"files": files}, f)

    def abort(self, messages):
        # best-effort cleanup of this attempt's files; no manifest is written,
        # so anything left behind stays invisible to readers
        for m in messages:
            if m and m.file:
                try:
                    os.remove(os.path.join(self.path, m.file))
                except OSError:
                    pass


def register(spark) -> None:
    """Register the source on a session: ``spark.read.format("kpl")`` and
    ``df.write.format("kpl")``.

    On a session ``get_spark`` built this waits for the registration it
    started in the background (and re-raises its error) instead of
    registering again; any other session registers here."""
    from ..session import await_data_sources  # the driver only, not executors

    if not await_data_sources(spark):
        spark.dataSource.register(KplDataSource)

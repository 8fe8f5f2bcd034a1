"""Fast fixed-partition-key KPL aggregation: the sink's hot encode path.

Byte-for-byte equivalent to feeding :func:`...sink.batch_records` with a
constant partition key and the per-flush EHK draw (the only shape
``KinesisStreamWriter.write`` ever produces) — pinned by property tests in
tests/test_kpl_fastpath.py, which compare the exact PutRecords byte stream
against the AggRecordBuilder slow path over adversarial size mixes.

Why it exists (r11 verdict task #1): the measured attribution of the sink's
per-core gap (artifacts/sink_percore_attrib.json) put ~52% of the codec's
per-record cost in ``AggRecordBuilder.to_body`` (per-record function calls
building protobuf fields into a bytearray) and ~45% in per-record size
metering (dict peeks, varint arithmetic, dataclass appends) — while the
suspects named in the verdict (pandas Series iteration, ``bytes()``
coercion, MD5 trailer, capture-client overhead) each measured <5%. With a
constant PK and one EHK per flush, every per-record protobuf prefix is a
pure function of (payload length, ehk index), so it caches: the add loop
becomes two list appends and an integer add, and serialization one
``b"".join``. The MD5 trailer runs at C speed either way (~580 MB/s
measured, ~3% share).

Wire format unchanged (kpl/protocol.py): this is an encoder strategy, not
a protocol change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

from . import protocol as P

#: Per-record protobuf prefix cache for ehk_index == 0 (the steady state:
#: every record of a flush references the single table entry). Key: payload
#: length. Value: (prefix_bytes, body_delta). In practice one entry per
#: distinct payload length seen (collections have a few hundred); bounded
#: so an adversarial stream of ~uniformly random lengths up to 1 MB cannot
#: grow a worker-lifetime dict to ~10^6 entries — past the cap, prefixes
#: are computed inline (the arithmetic is a few microseconds).
#: concurrency (r13 singleton audit): no lock by design. These memos live
#: in executor Python workers (one single-threaded worker per task) and,
#: driver-side, hold immutable bytes values under GIL-atomic get/set — a
#: racing pair of writers at worst computes the same prefix twice and the
#: second insert overwrites with an identical value. Nothing to leak,
#: nothing to corrupt.
_PRE0: dict[int, tuple[bytes, int]] = {}

#: Same, for carry records referencing a non-zero ehk index (at most one
#: per flush boundary — see FastBatcher.flushes).
_PREN: dict[tuple[int, int], tuple[bytes, int]] = {}

_PREFIX_CACHE_MAX = 65_536


def _prefix(ld: int, ehk_idx: int) -> tuple[bytes, int]:
    """(wire prefix, body-size delta) for one record of payload length
    ``ld`` referencing pk index 0 and ehk index ``ehk_idx``. The prefix is
    everything before the raw payload bytes: outer field-3 header, then the
    inner Record message's pk-index, ehk-index and data-length fields."""
    cached = _PRE0.get(ld) if ehk_idx == 0 else _PREN.get((ld, ehk_idx))
    if cached is not None:
        return cached
    inner = (
        P.varint_field(1, 0)
        + P.varint_field(2, ehk_idx)
        + bytes([P.tag_byte(3, P.WIRE_LEN)])
        + P.encode_varint(ld)
    )
    inner_len = len(inner) + ld
    prefix = (
        bytes([P.tag_byte(3, P.WIRE_LEN)]) + P.encode_varint(inner_len) + inner
    )
    entry = (prefix, len(prefix) + ld)
    if ehk_idx == 0:
        if len(_PRE0) < _PREFIX_CACHE_MAX:
            _PRE0[ld] = entry
    elif len(_PREN) < _PREFIX_CACHE_MAX:
        _PREN[(ld, ehk_idx)] = entry
    return entry


class FastAggRecord:
    """A completed aggregated record from the fast path: duck-typed to the
    subset of AggRecordBuilder that :meth:`KinesisStreamWriter.send` and
    its retry/replay path consume (to_bytes / size_bytes / partition_key /
    explicit_hash_key / num_user_records / raw_records)."""

    __slots__ = ("partition_key", "explicit_hash_key", "_payloads", "_ehk_runs", "_wire")

    def __init__(self, partition_key, explicit_hash_key, payloads, ehk_runs, wire):
        self.partition_key = partition_key
        #: first record's EHK — identical to AggRecordBuilder's inheritance
        #: rule (first user record's EHK keys the routing of the whole put)
        self.explicit_hash_key = explicit_hash_key
        self._payloads = payloads
        #: [(ehk, count), ...] run-length per-record EHKs (a flush carries
        #: at most two: a carry record's stale draw + the current draw)
        self._ehk_runs = ehk_runs
        self._wire = wire

    @property
    def num_user_records(self) -> int:
        return len(self._payloads)

    @property
    def size_bytes(self) -> int:
        return len(self._wire)

    def to_bytes(self) -> bytes:
        return self._wire

    def with_explicit_hash_key(self, ehk: str) -> FastAggRecord | None:
        """This record with every user record keyed ``ehk``: byte-identical
        to aggregating the same payloads under ``ehk`` from the start.

        Every user record references ehk-table index 0, so only that one
        table entry changes and the record bodies are reused as they are;
        the cost is one copy and one MD5 of the body. None when the record
        carries two keys (a carry record: the caller rebuilds it). When a
        longer key would push it past the 1 MiB protocol cap, the record
        comes back as it is: it still fits under its own key."""
        if len(self._ehk_runs) != 1:
            return None
        P.validate_explicit_hash_key(ehk)
        old = P.length_delimited(2, self.explicit_hash_key.encode("utf-8"))
        new = P.length_delimited(2, ehk.encode("utf-8"))
        if old == new or len(self._wire) - len(old) + len(new) > P.MAX_BYTES_PER_RECORD:
            return self
        # body = pk-table entry, ehk-table entry, records
        start = len(P.MAGIC) + len(
            P.length_delimited(1, self.partition_key.encode("utf-8"))
        )
        view = memoryview(self._wire)
        head, tail = view[len(P.MAGIC):start], view[start + len(old):-P.DIGEST_SIZE]
        digest = hashlib.md5(head)
        digest.update(new)
        digest.update(tail)
        wire = b"".join((P.MAGIC, head, new, tail, digest.digest()))
        return FastAggRecord(
            self.partition_key, ehk, self._payloads,
            [(ehk, len(self._payloads))], wire,
        )

    def raw_records(self) -> list[tuple[str, str | None, bytes]]:
        out = []
        i = 0
        for ehk, n in self._ehk_runs:
            for d in self._payloads[i : i + n]:
                out.append((self.partition_key, ehk, d))
            i += n
        return out


class FastBatcher:
    """Greedy size-bounded batching over a constant partition key, emitting
    :class:`FastAggRecord`\\ s with wire bytes identical to the
    AggRecordBuilder path. Flush policy replicated from
    ``sink.batch_records`` (soft cap 1 MB flush-after-add, flush-before for
    oversize records at the soft cap, hard 1 MiB protocol-cap overflow) —
    including the EHK draw discipline: the EHK source is consulted at
    record PULL time, so a record that triggers a flush-before carries its
    pre-flush draw into the new batch, exactly as the generator-based slow
    path behaves.
    """

    def __init__(
        self,
        partition_key: str,
        soft_max_size: int,
        max_last_record_size: int,
    ) -> None:
        pk_bytes = P.validate_partition_key(partition_key)
        self._pk = partition_key
        self._pk_entry = P.length_delimited(1, pk_bytes)
        self._soft_max = soft_max_size
        self._max_last = max_last_record_size
        self._ehk_entries: dict[str, bytes] = {}

    def _ehk_entry(self, ehk: str) -> bytes:
        e = self._ehk_entries.get(ehk)
        if e is None:
            P.validate_explicit_hash_key(ehk)
            e = P.length_delimited(2, ehk.encode("utf-8"))
            self._ehk_entries[ehk] = e
        return e

    def flushes(
        self, payloads: Iterable[bytes], ehk_source: Callable[[], str]
    ) -> Iterator[FastAggRecord]:
        """Yield completed aggregated records; ``ehk_source`` is read once
        per incoming record (cheap dict-cell read) so the caller's
        redraw-after-send is observed at the same points as the slow path.

        The hot path (same EHK as the current run, ehk index 0, below the
        soft cap — i.e. every record of a steady small-payload stream) is
        a prefix-cache lookup, two list appends and an integer add; every
        other shape drops to the general path, which replicates
        ``batch_records``'s branch structure verbatim."""
        soft_max, max_last = self._soft_max, self._max_last
        hard_cap = P.MAX_BYTES_PER_RECORD
        frame = P.FRAME_OVERHEAD
        pk, pk_entry = self._pk, self._pk_entry
        max_payload = P.MAX_USER_PAYLOAD
        pre0 = _PRE0

        # current batch state
        hdr: list[bytes] = []  # pk entry + ehk table entries, wire order
        rp: list[bytes] = []  # per-record prefix+payload parts
        recs: list[bytes] = []  # retained raw payloads (replay)
        runs: list[list] = []  # [[ehk, count], ...]
        ehk_idx: dict[str, int] = {}
        body = 0  # == AggRecordBuilder._body_size
        last_ehk: str | None = None  # EHK of the current (tail) run
        last_idx = 0

        def delta_of(ld: int, ehk: str) -> int:
            """Exact body growth of adding (pk, ehk, payload[ld]) — the
            fast twin of AggRecordBuilder._added_body_size (peek: charges
            key-table bytes only for unseen keys, mutates nothing)."""
            d = 0 if recs else len(pk_entry)
            idx = ehk_idx.get(ehk)
            if idx is None:
                idx = len(ehk_idx)
                d += len(self._ehk_entry(ehk))
            return d + _prefix(ld, idx)[1]

        def add(data: bytes, ld: int, ehk: str) -> None:
            nonlocal body, last_ehk, last_idx
            if not recs:
                hdr.append(pk_entry)
                body += len(pk_entry)
            idx = ehk_idx.get(ehk)
            if idx is None:
                idx = len(ehk_idx)
                ehk_idx[ehk] = idx
                e = self._ehk_entry(ehk)
                hdr.append(e)
                body += len(e)
            prefix, d = _prefix(ld, idx)
            rp.append(prefix)
            rp.append(data)
            recs.append(data)
            body += d
            if runs and runs[-1][0] == ehk:
                runs[-1][1] += 1
            else:
                runs.append([ehk, 1])
            last_ehk, last_idx = ehk, idx

        def complete() -> FastAggRecord:
            nonlocal hdr, rp, recs, runs, ehk_idx, body, last_ehk
            wire = P.frame(b"".join(hdr) + b"".join(rp))
            agg = FastAggRecord(
                pk, runs[0][0], recs, [tuple(r) for r in runs], wire
            )
            hdr, rp, recs, runs, ehk_idx, body = [], [], [], [], {}, 0
            last_ehk = None
            return agg

        def check_fits_empty(ld: int, ehk: str) -> None:
            """Slow-path parity: an over-cap record on an EMPTY builder is
            a ValueError from add_user_record, not a silent oversize put."""
            predicted = frame + delta_of(ld, ehk)
            if predicted > hard_cap:
                raise ValueError(
                    "single record can never fit an aggregated record: "
                    f"framed size {predicted}"
                )

        for data in payloads:
            if type(data) is not bytes:
                if data is None:
                    raise ValueError("record data must not be None")
                data = bytes(data)
            ld = len(data)
            ehk = ehk_source()
            # -- hot path -------------------------------------------------
            if (
                recs
                and ehk is last_ehk
                and last_idx == 0
                and frame + body < soft_max
            ):
                entry = pre0.get(ld)
                if entry is None and ld <= max_payload:
                    entry = _prefix(ld, 0)
                if entry is not None and frame + body + entry[1] <= hard_cap:
                    rp.append(entry[0])
                    rp.append(data)
                    recs.append(data)
                    body += entry[1]
                    runs[-1][1] += 1
                    continue
            # -- general path (exact batch_records branch structure) ------
            size = frame + body if recs else 0
            if size >= soft_max and ld > max_last:
                # flush-before: the carry record keeps THIS draw (the
                # redraw lands only after the yield resumes us). The
                # oversize raise comes AFTER this yield — the slow path's
                # validate_data fires inside add_user_record, after
                # batch_records' clear_and_get yield, so an oversize
                # record must not drop the completed flush.
                yield complete()
                if ld > max_payload:
                    raise ValueError(
                        f"record data exceeds {max_payload} bytes: {ld}"
                    )
                check_fits_empty(ld, ehk)
                add(data, ld, ehk)
            elif ld > max_payload:
                # every other branch validates before any flush, exactly
                # where the slow path's add_user_record raises
                raise ValueError(
                    f"record data exceeds {max_payload} bytes: {ld}"
                )
            elif size >= soft_max:
                # add-then-flush, unless the add itself would overflow the
                # protocol cap (then it seeds the next batch instead)
                if frame + body + delta_of(ld, ehk) > hard_cap:
                    yield complete()
                    check_fits_empty(ld, ehk)
                    add(data, ld, ehk)
                else:
                    add(data, ld, ehk)
                    yield complete()
            elif recs and frame + body + delta_of(ld, ehk) > hard_cap:
                yield complete()
                check_fits_empty(ld, ehk)
                add(data, ld, ehk)
            else:
                if not recs:
                    check_fits_empty(ld, ehk)
                add(data, ld, ehk)
        if recs:
            yield complete()

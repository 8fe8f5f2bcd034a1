"""Fast fixed-key KPL aggregation: the sink's hot encode path.

One key per aggregated record: every user record of a flush carries the
writer's constant partition key and the one explicit hash key drawn when
the flush's batch opened (the reference's first-record inheritance, where
the whole put routes by that key). The wire bytes equal aggregating the
same payloads under that key through ``AggRecordBuilder`` with the
:func:`...sink.batch_records` flush policy; tests/test_kpl_fastpath.py
pins the exact PutRecords byte stream against that reference over
adversarial size mixes.

Why it exists: the measured attribution of the sink's per-core cost
(artifacts/sink_percore_attrib.json) put ~52% of the codec's per-record
time in ``AggRecordBuilder.to_body`` (per-record calls building protobuf
fields into a bytearray) and ~45% in per-record size metering (dict peeks,
varint arithmetic). With one partition key and one explicit hash key per
record, every per-record protobuf prefix is a pure function of the payload
length, so it caches: the add loop becomes two list appends and an integer
add, and serialization one ``b"".join``. The MD5 trailer runs at C speed
either way (~580 MB/s measured, ~3% share).

Wire format unchanged (kpl/protocol.py): this is an encoder strategy, not
a protocol change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterable, Iterator

from . import protocol as P

#: Per-record protobuf prefix cache. Key: payload length. Value:
#: (prefix_bytes, body_delta). In practice one entry per distinct payload
#: length seen (collections have a few hundred); bounded so an adversarial
#: stream of ~uniformly random lengths up to 1 MB cannot grow a
#: worker-lifetime dict to ~10^6 entries — past the cap, prefixes are
#: computed inline (the arithmetic is a few microseconds).
#: concurrency (r13 singleton audit): no lock by design. The memo lives in
#: executor Python workers (one single-threaded worker per task) and,
#: driver-side, holds immutable bytes values under GIL-atomic get/set — a
#: racing pair of writers at worst computes the same prefix twice and the
#: second insert overwrites with an identical value. Nothing to leak,
#: nothing to corrupt.
_PREFIXES: dict[int, tuple[bytes, int]] = {}

_PREFIX_CACHE_MAX = 65_536


def _prefix(ld: int) -> tuple[bytes, int]:
    """(wire prefix, body-size delta) for one record of payload length
    ``ld`` referencing key-table index 0 for both keys. The prefix is
    everything before the raw payload bytes: outer field-3 header, then the
    inner Record message's pk-index, ehk-index and data-length fields."""
    cached = _PREFIXES.get(ld)
    if cached is not None:
        return cached
    inner = (
        P.varint_field(1, 0)
        + P.varint_field(2, 0)
        + bytes([P.tag_byte(3, P.WIRE_LEN)])
        + P.encode_varint(ld)
    )
    prefix = (
        bytes([P.tag_byte(3, P.WIRE_LEN)]) + P.encode_varint(len(inner) + ld) + inner
    )
    entry = (prefix, len(prefix) + ld)
    if len(_PREFIXES) < _PREFIX_CACHE_MAX:
        _PREFIXES[ld] = entry
    return entry


class FastAggRecord:
    """A completed aggregated record from the fast path: duck-typed to the
    subset of AggRecordBuilder that :meth:`KinesisStreamWriter.send` and
    its retry path consume (to_bytes / size_bytes / partition_key /
    explicit_hash_key / num_user_records), plus
    :meth:`with_explicit_hash_key` for routing a flush when it is sent.
    :meth:`raw_records` serves the tests that compare the fast path with
    the reference builder."""

    __slots__ = ("partition_key", "explicit_hash_key", "_payloads", "_wire")

    def __init__(self, partition_key, explicit_hash_key, payloads, wire):
        self.partition_key = partition_key
        #: the one key every user record carries, so it routes the put
        self.explicit_hash_key = explicit_hash_key
        self._payloads = payloads
        self._wire = wire

    @property
    def num_user_records(self) -> int:
        return len(self._payloads)

    @property
    def size_bytes(self) -> int:
        return len(self._wire)

    def to_bytes(self) -> bytes:
        return self._wire

    def with_explicit_hash_key(self, ehk: str) -> FastAggRecord:
        """This record with every user record keyed ``ehk``: byte-identical
        to aggregating the same payloads under ``ehk`` from the start.

        Every user record references ehk-table index 0, so only that one
        table entry changes and the record bodies are reused as they are;
        the cost is one copy and one MD5 of the body. When a longer key
        would push the record past the 1 MiB protocol cap, the record comes
        back as it is: it still fits under its own key."""
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
        return FastAggRecord(self.partition_key, ehk, self._payloads, wire)

    def raw_records(self) -> list[tuple[str, str, bytes]]:
        pk, ehk = self.partition_key, self.explicit_hash_key
        return [(pk, ehk, d) for d in self._payloads]


class FastBatcher:
    """Greedy size-bounded batching over a constant partition key, emitting
    :class:`FastAggRecord`\\ s. Flush policy replicated from
    ``sink.batch_records``: soft cap 1 MB flush-after-add, flush-before for
    oversize records at the soft cap, hard 1 MiB protocol-cap overflow.

    Each batch takes one explicit hash key, drawn when its first record is
    added. A record carried over a flush (flush-before or cap overflow)
    opens the next batch, so it takes that batch's fresh draw too.
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

    def flushes(
        self, payloads: Iterable[bytes], key_source: Callable[[], str]
    ) -> Iterator[FastAggRecord]:
        """Yield completed aggregated records. ``key_source`` is called
        once per batch, when its first record is added: that happens after
        the consumer has handled the previous flush, so a writer that
        draws a routing key per call gets a fresh draw per flush.

        The hot path (below the soft cap, the record fits the protocol cap:
        every record of a steady small-payload stream but a batch's first)
        is a prefix-cache lookup, two list appends and an integer add;
        every other shape drops to the general path, which follows
        ``batch_records``'s branch structure."""
        soft_max, max_last = self._soft_max, self._max_last
        hard_cap = P.MAX_BYTES_PER_RECORD
        frame = P.FRAME_OVERHEAD
        pk, pk_entry = self._pk, self._pk_entry
        max_payload = P.MAX_USER_PAYLOAD
        prefixes = _PREFIXES

        # current batch state
        parts: list[bytes] = []  # key tables, then prefix+payload per record
        recs: list[bytes] = []  # retained raw payloads (replay)
        key = ""  # the batch's explicit hash key
        body = 0  # == AggRecordBuilder._body_size

        def add(data: bytes, ld: int) -> None:
            nonlocal key, body
            prefix, d = _prefix(ld)
            if not recs:
                key = key_source()
                P.validate_explicit_hash_key(key)
                head = pk_entry + P.length_delimited(2, key.encode("utf-8"))
                parts.append(head)
                body = len(head)
                # an over-cap record on an EMPTY batch is a ValueError, as
                # from AggRecordBuilder.add_user_record, not an oversize put
                if frame + body + d > hard_cap:
                    raise ValueError(
                        "single record can never fit an aggregated record: "
                        f"framed size {frame + body + d}"
                    )
            parts.append(prefix)
            parts.append(data)
            recs.append(data)
            body += d

        def complete() -> FastAggRecord:
            nonlocal parts, recs
            agg = FastAggRecord(pk, key, recs, P.frame(b"".join(parts)))
            parts, recs = [], []
            return agg

        for data in payloads:
            if type(data) is not bytes:
                if data is None:
                    raise ValueError("record data must not be None")
                data = bytes(data)
            ld = len(data)
            # -- hot path -------------------------------------------------
            if recs and frame + body < soft_max:
                entry = prefixes.get(ld)
                if entry is None and ld <= max_payload:
                    entry = _prefix(ld)
                if entry is not None and frame + body + entry[1] <= hard_cap:
                    parts.append(entry[0])
                    parts.append(data)
                    recs.append(data)
                    body += entry[1]
                    continue
            # -- general path (batch_records's branch structure) ----------
            at_soft_cap = bool(recs) and frame + body >= soft_max
            if at_soft_cap and ld > max_last:
                # flush-before. The oversize raise comes AFTER this yield:
                # batch_records yields the completed batch before
                # add_user_record validates the record, so an oversize
                # record must not drop the completed flush.
                yield complete()
                if ld > max_payload:
                    raise ValueError(
                        f"record data exceeds {max_payload} bytes: {ld}"
                    )
                add(data, ld)
            elif ld > max_payload:
                # every other branch validates before any flush, exactly
                # where add_user_record raises
                raise ValueError(
                    f"record data exceeds {max_payload} bytes: {ld}"
                )
            elif recs and frame + body + _prefix(ld)[1] > hard_cap:
                # protocol-cap overflow: the record opens the next batch
                yield complete()
                add(data, ld)
            else:
                add(data, ld)
                if at_soft_cap:
                    yield complete()
        if recs:
            yield complete()

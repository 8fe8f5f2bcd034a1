"""KPL deaggregator: the consumer-side counterpart of the aggregated-record
codec. Parses framed wire bytes (magic + protobuf + MD5 trailer) back into
user records — the same format KCL deaggregation libraries consume
(public awslabs/kinesis-aggregation wire contract).

Round-trip property with :mod:`.aggregator` is enforced in tests/test_kpl.py.
"""

from __future__ import annotations

import hashlib
from collections import namedtuple

from . import protocol as P


class DeaggregationError(ValueError):
    pass


class UserRecord(namedtuple("UserRecord", "partition_key explicit_hash_key data")):
    """One deaggregated user record: ``partition_key`` (str),
    ``explicit_hash_key`` (str or None) and ``data`` (bytes). Immutable,
    compared by value, hashable."""

    __slots__ = ()


def is_aggregated(wire: bytes) -> bool:
    """True if the payload carries the KPL aggregation magic prefix and a
    plausible frame (callers fall back to treating it as a plain record)."""
    return (
        len(wire) > len(P.MAGIC) + P.DIGEST_SIZE
        and wire[: len(P.MAGIC)] == P.MAGIC
    )


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = value = 0
    while True:
        if pos >= len(buf):
            raise DeaggregationError("truncated varint")
        byte = buf[pos]
        pos += 1
        value |= (byte & 0x7F) << shift
        if not (byte & 0x80):
            return value, pos
        shift += 7
        if shift > 63:
            raise DeaggregationError("varint too long")


def deaggregate(wire: bytes) -> list[UserRecord]:
    """Parse one aggregated record into its user records.

    Validates the magic prefix and the MD5 digest before parsing, exactly as
    conforming consumers do.
    """
    if not is_aggregated(wire):
        raise DeaggregationError("missing KPL aggregation magic prefix")
    body, digest = wire[len(P.MAGIC) : -P.DIGEST_SIZE], wire[-P.DIGEST_SIZE :]
    if hashlib.md5(body).digest() != digest:
        raise DeaggregationError("MD5 digest mismatch")

    pk_table: list[str] = []
    ehk_table: list[str] = []
    raw_records: list[tuple[int, int | None, bytes]] = []

    pos = 0
    while pos < len(body):
        tag = body[pos]
        pos += 1
        field, wire_type = tag >> 3, tag & 7
        if wire_type != P.WIRE_LEN:
            raise DeaggregationError(f"unexpected wire type {wire_type} for field {field}")
        length, pos = _read_varint(body, pos)
        payload = body[pos : pos + length]
        if len(payload) != length:
            raise DeaggregationError("truncated field payload")
        pos += length
        if field == 1:
            try:
                pk_table.append(payload.decode("utf-8"))
            except UnicodeDecodeError as e:
                raise DeaggregationError(f"partition key is not valid UTF-8: {e}") from None
        elif field == 2:
            try:
                ehk_table.append(payload.decode("utf-8"))
            except UnicodeDecodeError as e:
                raise DeaggregationError(f"hash key is not valid UTF-8: {e}") from None
        elif field == 3:
            raw_records.append(_parse_record(payload))
        # unknown fields are skipped, per protobuf convention

    records = []
    for pk_idx, ehk_idx, data in raw_records:
        if pk_idx is None or pk_idx >= len(pk_table):
            raise DeaggregationError(f"partition key index {pk_idx} out of range")
        ehk = None
        if ehk_idx is not None:
            if ehk_idx >= len(ehk_table):
                raise DeaggregationError(f"hash key index {ehk_idx} out of range")
            ehk = ehk_table[ehk_idx]
        records.append(UserRecord(pk_table[pk_idx], ehk, data))
    return records


def _parse_record(payload: bytes) -> tuple[int | None, int | None, bytes]:
    pk_idx: int | None = None
    ehk_idx: int | None = None
    data = b""
    pos = 0
    while pos < len(payload):
        tag = payload[pos]
        pos += 1
        field, wire_type = tag >> 3, tag & 7
        if wire_type == P.WIRE_VARINT:
            value, pos = _read_varint(payload, pos)
            if field == 1:
                pk_idx = value
            elif field == 2:
                ehk_idx = value
        elif wire_type == P.WIRE_LEN:
            length, pos = _read_varint(payload, pos)
            if field == 3:
                data = payload[pos : pos + length]
            pos += length
        else:
            raise DeaggregationError(f"unexpected wire type {wire_type} in record")
    return pk_idx, ehk_idx, data

"""What the producer path loads, and the value contract of the consumer's
``UserRecord``.

A producer often starts in a fresh interpreter (a new Python worker, or an
off-Spark process), so its imports are its cold start: importing the sink
must not pull in pyspark, the stdlib ``dataclasses`` module or the
consumer codec.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

from kinesis_writer_spark.kpl import AggRecordBuilder, UserRecord, deaggregate

REPO_ROOT = Path(__file__).resolve().parent.parent

_PRODUCER = """
import sys
from kinesis_writer_spark.sink import KinesisStreamWriter, ShardRateLimiter, ThrottlingKinesisClient
client = ThrottlingKinesisClient(num_shards=2)
limiter = ShardRateLimiter(bytes_per_sec=1000.0, puts_per_sec=10.0)
KinesisStreamWriter("s", client, rate_limiter=limiter)
print(",".join(m for m in ("pyspark", "dataclasses", "kinesis_writer_spark.kpl.deaggregator")
               if m in sys.modules))
from kinesis_writer_spark.kpl import UserRecord, deaggregate
print(UserRecord.__module__, deaggregate.__module__)
"""


def test_producer_imports_no_consumer_codec_and_no_dataclasses():
    proc = subprocess.run(
        [sys.executable, "-c", _PRODUCER],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        check=True,
        timeout=60,
    )
    loaded, resolved = proc.stdout.splitlines()
    assert loaded == ""
    # the consumer names still resolve from the package on first use
    assert resolved.split() == ["kinesis_writer_spark.kpl.deaggregator"] * 2


def test_unknown_package_attribute_raises():
    import kinesis_writer_spark.kpl as kpl

    with pytest.raises(AttributeError, match="no_such_name"):
        kpl.no_such_name  # noqa: B018


class TestUserRecordContract:
    """What the frozen dataclass used to promise: fields by name, value
    equality, hashing and immutability."""

    def test_fields_by_name_and_value_equality(self):
        b = AggRecordBuilder()
        b.add_user_record("pk", b"one", "42")
        b.add_user_record("pk", b"two")
        first, second = deaggregate(b.to_bytes())
        assert (first.partition_key, first.explicit_hash_key, first.data) == ("pk", "42", b"one")
        assert second.explicit_hash_key is None
        assert first == UserRecord("pk", "42", b"one")
        assert first != UserRecord("pk", "42", b"two")
        by_keyword = UserRecord(partition_key="k", explicit_hash_key=None, data=b"")
        assert by_keyword == UserRecord("k", None, b"")

    def test_hashable_by_value(self):
        a, b = UserRecord("k", None, b"x"), UserRecord("k", None, b"x")
        assert hash(a) == hash(b)
        assert len({a, b, UserRecord("k", "1", b"x")}) == 2

    @pytest.mark.parametrize("field", ["partition_key", "explicit_hash_key", "data"])
    def test_assignment_raises(self, field):
        rec = UserRecord("k", None, b"x")
        with pytest.raises(AttributeError):
            setattr(rec, field, "other")
        with pytest.raises(AttributeError):
            rec.extra = 1

"""boto3 client-factory contract tests (r8 VERDICT task #6).

``sink.boto3_client_factory`` was once covered only by its ImportError
branch; the real-client path had no test pinning that the engine's API
calls are shaped the way botocore validates them. These
tests install a STUB ``boto3`` module (the sandbox has no boto3/AWS) whose
client validates every call against the Kinesis API's parameter contract —
required params, allowed params, value types — exactly the checks
botocore's ParamValidator performs before any network I/O, then delegates
to :class:`FakeKinesisClient` for behavior. Green without boto3 installed;
a drift between the engine's call shapes and the AWS API surfaces here
instead of in production. Mirrors the injectable test seam the reference
itself exposes (KinesisWriter.scala:141).
"""

from __future__ import annotations

import functools
import sys
import types

import pytest

from kinesis_writer_spark.kpl.aggregator import RecordAggregator
from kinesis_writer_spark.sink import (
    FakeKinesisClient,
    KinesisStreamWriter,
    boto3_client_factory,
    open_shard_midpoints,
)
from kinesis_writer_spark.sources.kinesis_stream import (
    CaptureReplayClient,
    KinesisPartitionedStreamReader,
)
from kinesis_writer_spark.sources.kpl_datasource import write_wire_file


class ValidationError(AssertionError):
    """Stands in for botocore.exceptions.ParamValidationError."""


def _check_known(kwargs: dict, allowed: set[str], op: str) -> None:
    unknown = set(kwargs) - allowed
    if unknown:
        raise ValidationError(f"Unknown parameter(s) {unknown} for {op}")


def _check_list_shards(kwargs: dict) -> None:
    """ListShards, for the producer and the consumer alike: a follow-up page
    names only NextToken; the service rejects it next to StreamName
    (InvalidArgumentException)."""
    _check_known(
        kwargs,
        {"StreamName", "NextToken", "ExclusiveStartShardId", "MaxResults",
         "StreamCreationTimestamp", "ShardFilter", "StreamARN"},
        "ListShards",
    )
    token = kwargs.get("NextToken")
    if token is not None:
        if not isinstance(token, str) or not token:
            raise ValidationError("NextToken must be a non-empty str")
        clash = {"StreamName", "ExclusiveStartShardId",
                 "StreamCreationTimestamp", "StreamARN"} & set(kwargs)
        if clash:
            raise ValidationError(
                f"InvalidArgumentException: NextToken with {sorted(clash)}"
            )
    elif not isinstance(kwargs.get("StreamName"), str) or not kwargs["StreamName"]:
        raise ValidationError("ListShards needs StreamName or NextToken")


class _ContractKinesisClient:
    """Validates call shapes per the AWS Kinesis API, then delegates to
    FakeKinesisClient so engine behavior runs end-to-end."""

    def __init__(self, inner: FakeKinesisClient) -> None:
        self._inner = inner
        self.list_calls: list[dict] = []
        self.put_calls: list[dict] = []

    def list_shards(self, **kwargs):
        _check_list_shards(kwargs)
        self.list_calls.append(dict(kwargs))
        return self._inner.list_shards(**kwargs)

    # --- PutRecords: StreamName + Records (1..500); each entry needs
    #     bytes Data + str PartitionKey; ExplicitHashKey optional but must
    #     be a DECIMAL STRING when present (botocore rejects None/int).
    def put_records(self, **kwargs):
        allowed = {"StreamName", "Records"}
        unknown = set(kwargs) - allowed
        if unknown:
            raise ValidationError(f"Unknown parameter(s) {unknown} for PutRecords")
        if not isinstance(kwargs.get("StreamName"), str) or not kwargs["StreamName"]:
            raise ValidationError("PutRecords requires non-empty str StreamName")
        records = kwargs.get("Records")
        if not isinstance(records, list) or not (1 <= len(records) <= 500):
            raise ValidationError("Records must be a list of 1..500 entries")
        for entry in records:
            extra = set(entry) - {"Data", "PartitionKey", "ExplicitHashKey"}
            if extra:
                raise ValidationError(f"Unknown Records entry key(s) {extra}")
            if not isinstance(entry.get("Data"), (bytes, bytearray)):
                raise ValidationError("Records[].Data must be bytes")
            pk = entry.get("PartitionKey")
            if not isinstance(pk, str) or not (1 <= len(pk) <= 256):
                raise ValidationError("Records[].PartitionKey must be str of 1..256")
            if "ExplicitHashKey" in entry:
                ehk = entry["ExplicitHashKey"]
                if not isinstance(ehk, str) or not ehk.isdigit():
                    raise ValidationError(
                        f"Records[].ExplicitHashKey must be a decimal string, got {ehk!r}"
                    )
                if not (0 <= int(ehk) < (1 << 128)):
                    raise ValidationError("ExplicitHashKey outside uint128 range")
        self.put_calls.append(dict(kwargs))
        return self._inner.put_records(
            StreamName=kwargs["StreamName"], Records=records
        )


class _ContractConsumerClient:
    """Validates the consumer surface (ListShards, GetShardIterator,
    GetRecords) per the AWS Kinesis API, pages ListShards one shard at a
    time, then delegates to an opaque CaptureReplayClient."""

    _ITERATOR_TYPES = {
        "AT_SEQUENCE_NUMBER",
        "AFTER_SEQUENCE_NUMBER",
        "TRIM_HORIZON",
        "LATEST",
        "AT_TIMESTAMP",
    }

    def __init__(self, inner: CaptureReplayClient) -> None:
        self._inner = inner
        self.list_calls: list[dict] = []

    def list_shards(self, **kwargs):
        _check_list_shards(kwargs)
        self.list_calls.append(dict(kwargs))
        token = kwargs.get("NextToken")
        stream, page = token.split("/") if token else (kwargs["StreamName"], "0")
        shards = self._inner.list_shards(StreamName=stream)["Shards"]
        i = int(page)
        resp: dict = {"Shards": shards[i : i + 1]}
        if i + 1 < len(shards):
            resp["NextToken"] = f"{stream}/{i + 1}"
        return resp

    def get_shard_iterator(self, **kwargs):
        _check_known(
            kwargs,
            {"StreamName", "ShardId", "ShardIteratorType",
             "StartingSequenceNumber", "Timestamp", "StreamARN"},
            "GetShardIterator",
        )
        for key in ("StreamName", "ShardId"):
            if not isinstance(kwargs.get(key), str) or not kwargs[key]:
                raise ValidationError(f"GetShardIterator requires non-empty str {key}")
        kind = kwargs.get("ShardIteratorType")
        if kind not in self._ITERATOR_TYPES:
            raise ValidationError(f"invalid ShardIteratorType {kind!r}")
        seq = kwargs.get("StartingSequenceNumber")
        if kind in ("AT_SEQUENCE_NUMBER", "AFTER_SEQUENCE_NUMBER"):
            if not isinstance(seq, str) or not seq.isdigit():
                raise ValidationError(f"{kind} needs a decimal-string sequence number")
        elif seq is not None:
            raise ValidationError(f"StartingSequenceNumber is not valid with {kind}")
        return self._inner.get_shard_iterator(**kwargs)

    def get_records(self, **kwargs):
        _check_known(kwargs, {"ShardIterator", "Limit", "StreamARN"}, "GetRecords")
        it = kwargs.get("ShardIterator")
        if not isinstance(it, str) or not (1 <= len(it) <= 512):
            raise ValidationError("ShardIterator must be a str of 1..512")
        limit = kwargs.get("Limit", 10000)
        if not isinstance(limit, int) or not (1 <= limit <= 10000):
            raise ValidationError(f"Limit must be an int in 1..10000, got {limit!r}")
        return self._inner.get_records(**kwargs)


@pytest.fixture()
def boto3_stub(monkeypatch):
    """Install a stub boto3 whose client() records construction args and
    returns a contract-validating Kinesis client."""
    made: list[tuple] = []
    clients: list[_ContractKinesisClient] = []

    stub = types.ModuleType("boto3")

    def client(service_name, region_name=None, **kwargs):
        made.append((service_name, region_name, kwargs))
        c = _ContractKinesisClient(FakeKinesisClient(num_shards=3))
        clients.append(c)
        return c

    stub.client = client
    monkeypatch.setitem(sys.modules, "boto3", stub)
    return made, clients


class TestDefaultClientFactory:
    def test_factory_builds_kinesis_client_with_region(self, boto3_stub):
        made, _ = boto3_stub
        factory = functools.partial(boto3_client_factory, region_name="eu-west-1")
        assert made == []  # lazy: nothing constructed until factory()
        factory()
        assert made == [("kinesis", "eu-west-1", {})]

    def test_factory_default_region_is_none(self, boto3_stub):
        made, _ = boto3_stub
        boto3_client_factory()
        assert made == [("kinesis", None, {})]

    def test_missing_boto3_raises_actionable_error(self, monkeypatch):
        monkeypatch.setitem(sys.modules, "boto3", None)  # import -> ImportError
        with pytest.raises(RuntimeError, match="client_factory"):
            boto3_client_factory()


class TestEngineCallShapes:
    """Drive the real engine paths through the validating client: any
    parameter-shape drift from the AWS API raises ValidationError."""

    def test_shard_discovery_pagination_contract(self, boto3_stub):
        _, clients = boto3_stub
        client = boto3_client_factory("us-east-1")
        mids = open_shard_midpoints(client, "prod-stream")
        assert len(mids) == 3
        # FakeKinesisClient pages one shard at a time: the first call names
        # the stream, every follow-up names only the previous NextToken
        assert clients[0].list_calls == [
            {"StreamName": "prod-stream"},
            {"NextToken": "prod-stream/1"},
            {"NextToken": "prod-stream/2"},
        ]

    def test_write_path_put_records_contract(self, boto3_stub):
        _, clients = boto3_stub
        client = boto3_client_factory("us-east-1")
        writer = KinesisStreamWriter("prod-stream", client, sleep=lambda s: None)
        n = writer.write([f"payload-{i}".encode() for i in range(100)])
        assert n == 100
        puts = clients[0].put_calls
        assert puts, "write() produced no PutRecords calls"
        # delivered payloads survived the validating path byte-for-byte
        assert len(clients[0]._inner.received) == len(puts)


class TestConsumerCallShapes:
    """Drive the stream reader through the validating consumer client, with
    boto3 behind the default client factory."""

    SHARDS = ("shardId-000000000000", "shardId-000000000001", "shardId-000000000002")

    @pytest.fixture()
    def consumer_stub(self, monkeypatch, tmp_path):
        for n, sid in enumerate(self.SHARDS):
            frames = []
            for i in range(n + 2):  # 2, 3, 4 one-record frames
                agg = RecordAggregator()
                agg.add_user_record("pk", f"{sid}-{i}".encode())
                frames.append(agg.clear_and_get().to_bytes())
            (tmp_path / sid).mkdir()
            write_wire_file(str(tmp_path / sid / "part-0.kpl"), frames)
        clients: list[_ContractConsumerClient] = []
        stub = types.ModuleType("boto3")

        def client(service_name, region_name=None, **kwargs):
            c = _ContractConsumerClient(CaptureReplayClient(str(tmp_path), opaque=True))
            clients.append(c)
            return c

        stub.client = client
        monkeypatch.setitem(sys.modules, "boto3", stub)
        return clients

    def test_reader_paginates_and_reads_every_shard(self, consumer_stub):
        r = KinesisPartitionedStreamReader(
            {"stream_name": "events", "client_kwargs": '{"region_name": "us-east-1"}'}
        )
        start = r.initialOffset()
        end = r.latestOffset()
        assert set(start) == set(end) == set(self.SHARDS)
        rows = [t for p in r.partitions(start, end) for t in r.read(p)]
        assert sorted((t[0], t[1]) for t in rows) == sorted(
            (sid, str(i)) for n, sid in enumerate(self.SHARDS) for i in range(n + 2)
        )
        # one page per shard: the first call names the stream, every
        # follow-up names only the previous page's NextToken
        calls = consumer_stub[0].list_calls
        assert calls[:3] == [
            {"StreamName": "events"},
            {"NextToken": "events/1"},
            {"NextToken": "events/2"},
        ]

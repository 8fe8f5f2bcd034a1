"""Format breadth + file-size control: schema-explicit CSV/JSONL ingest
round-trips, corrupt-record handling, and the size-targeted writer that
bounds files per partition (the small-files defense).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from kinesis_writer_spark import io as kio
from tests.conftest import SF_DIR

NATION_DDL = "n_nationkey int, n_name string, n_regionkey int"


@pytest.fixture(scope="module")
def nation(spark):
    return kio.load(spark, SF_DIR, "nation")


class TestCsvJsonl:
    def test_csv_roundtrip(self, spark, nation, tmp_path):
        p = str(tmp_path / "nation_csv")
        nation.coalesce(1).write.option("header", True).csv(p)
        back = kio.read_csv(spark, p, NATION_DDL)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))

    def test_jsonl_roundtrip(self, spark, nation, tmp_path):
        p = str(tmp_path / "nation_jsonl")
        nation.coalesce(1).write.json(p)
        back = kio.read_jsonl(spark, p, NATION_DDL)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))

    def test_corrupt_records_survive_permissive(self, spark, tmp_path):
        p = tmp_path / "bad.jsonl"
        p.write_text('{"n_nationkey": 1, "n_name": "A", "n_regionkey": 0}\n{not json\n')
        ddl = NATION_DDL + ", _corrupt_record string"
        back = kio.read_jsonl(spark, str(p), ddl).cache()
        assert back.count() == 2
        assert back.filter(F.col("_corrupt_record").isNotNull()).count() == 1
        back.unpersist()


class TestSizeTargetedWrite:
    def test_unpartitioned_file_count(self, spark, tmp_path):
        orders = kio.load(spark, SF_DIR, "orders")  # 1500 rows at sf0.001
        p = str(tmp_path / "orders_sized")
        kio.write_table(orders, p, target_rows_per_file=500)
        files = glob.glob(os.path.join(p, "*.parquet"))
        assert len(files) == 3
        assert spark.read.parquet(p).count() == orders.count()

    def test_partitioned_write_bounds_files_and_preserves_rows(self, spark, tmp_path):
        events = kio.load(spark, SF_DIR, "events")
        p = str(tmp_path / "events_by_type")
        kio.write_table(events, p, partition_by=("event_type",), target_rows_per_file=200)
        back = spark.read.parquet(p)
        assert back.count() == events.count()
        # every partition directory exists and holds a bounded file count
        part_dirs = glob.glob(os.path.join(p, "event_type=*"))
        assert part_dirs
        n_files_total = len(glob.glob(os.path.join(p, "event_type=*", "*.parquet")))
        n_target = -(-events.count() // 200)
        assert n_files_total <= n_target * len(part_dirs)

    def test_compaction_reduces_file_count(self, spark, tmp_path):
        orders = kio.load(spark, SF_DIR, "orders")
        p = str(tmp_path / "fragmented")
        orders.repartition(64).write.parquet(p)  # 64 tiny files
        assert len(glob.glob(os.path.join(p, "*.parquet"))) == 64
        kio.compact_table(spark, p, target_rows_per_file=1000)
        files = glob.glob(os.path.join(p, "*.parquet"))
        assert len(files) == 2
        assert spark.read.parquet(p).count() == orders.count()


class TestBinaryFiles:
    """binaryFile source: the raw-media ingest edge for multimodal columns."""

    @pytest.fixture()
    def media_dir(self, tmp_path):
        d = tmp_path / "media"
        (d / "sub").mkdir(parents=True)
        (d / "a.img").write_bytes(b"\x89IMG" + bytes(range(64)))
        (d / "b.img").write_bytes(b"\x89IMG" + bytes(200))
        (d / "sub" / "c.img").write_bytes(b"\x89IMGxy")
        (d / "notes.txt").write_text("not media")
        return str(d)

    def test_glob_and_recursion(self, spark, media_dir):
        df = kio.read_binary_files(spark, media_dir, glob="*.img")
        names = sorted(os.path.basename(r.path) for r in df.select("path").collect())
        assert names == ["a.img", "b.img", "c.img"]  # txt skipped, sub/ found

    def test_max_bytes_prunes_on_metadata(self, spark, media_dir):
        df = kio.read_binary_files(spark, media_dir, glob="*.img", max_bytes=100)
        assert df.count() == 2  # b.img (204 B) pruned
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "length" in plan  # filter on the metadata column, not content

    def test_content_flows_into_decode_stage(self, spark, media_dir):
        from kinesis_writer_spark.operators.multimodal import decode_features

        files = kio.read_binary_files(spark, media_dir, glob="*.img")
        payloads = files.select(
            F.crc32(F.col("path").cast("binary")).alias("doc_id"),
            F.col("content").alias("payload"),
        )
        feats = decode_features(payloads)
        rows = {r.n_bytes: r for r in feats.collect()}
        assert set(rows) == {68, 204, 6}
        assert all(r.first_byte == 0x89 for r in rows.values())
        # head checksum of a.img: 0x89 + ord('I','M','G') + sum(0..11)
        assert rows[68].head_checksum == 0x89 + sum(b"IMG") + sum(range(12))


class TestOrc:
    def test_orc_roundtrip_schema_and_rows(self, spark, nation, tmp_path):
        p = str(tmp_path / "nation_orc")
        kio.write_table(nation, p, format="orc")
        back = kio.read_orc(spark, p)
        assert back.schema == nation.schema
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))

    def test_orc_predicate_pushdown_and_pruning(self, spark, tmp_path):
        orders = kio.load(spark, SF_DIR, "orders")
        p = str(tmp_path / "orders_orc")
        kio.write_table(orders, p, format="orc")
        df = kio.read_orc(spark, p).filter(F.col("o_custkey") == 7).select("o_orderkey")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "o_custkey" in plan
        # pruned scan: only the two referenced columns reach the reader
        assert "o_totalprice" not in plan

    def test_orc_partitioned_write(self, spark, tmp_path):
        events = kio.load(spark, SF_DIR, "events")
        p = str(tmp_path / "events_orc")
        kio.write_table(events, p, partition_by=("event_type",), target_rows_per_file=200, format="orc")
        back = kio.read_orc(spark, p)
        assert back.count() == events.count()


def test_io_load_handle_cache(spark, monkeypatch):
    """r15: io.load memoizes the immutable DataFrame HANDLE per
    (dir, table) — file-listing metadata reuse, the same contract as a
    catalog table's cached relation. No data is held: every execution
    still scans parquet (the oracle sweeps pin output freshness); this
    test pins the reuse, the key separation and that a handle never
    outlives its SparkContext."""
    from kinesis_writer_spark import io as kio
    from kinesis_writer_spark import memo
    from tests.conftest import SF_DIR

    a = kio.load(spark, SF_DIR, "lineitem")
    assert kio.load(spark, SF_DIR, "lineitem") is a
    assert kio.load(spark, SF_DIR, "orders") is not a
    monkeypatch.setattr(memo, "_context", object())  # another context
    b = kio.load(spark, SF_DIR, "lineitem")
    assert b is not a
    assert kio.load(spark, SF_DIR, "lineitem") is b


def test_io_load_runs_no_spark_job(spark, monkeypatch):
    """Opening the ten fixture tables under a fresh handle-cache key is
    driver-side work only: each table is read with its declared schema, so
    no schema-inference job runs (parquet inference runs one per table)."""
    monkeypatch.setattr(kio, "_DF_HANDLE_CACHE", {})
    sc = spark.sparkContext
    group = "io-load-no-job"
    sc.setJobGroup(group, "io.load of every fixture table")
    try:
        for name in kio.TABLES:
            kio.load(spark, SF_DIR, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize(
    "sf_dir", sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")))
)
def test_declared_schemas_match_inferred(spark, sf_dir):
    """The oracle for ``io.SCHEMAS``: each declared schema equals the one
    Spark infers from the parquet footer (names, order, types, nullability),
    and the load still casts ``events.ts`` to the session timestamp."""
    from pyspark.sql.types import StructType

    for name in kio.TABLES:
        inferred = spark.read.parquet(kio.table_path(sf_dir, name)).schema
        assert StructType.fromDDL(kio.SCHEMAS[name]) == inferred, name
    events = spark.read.schema(kio.SCHEMAS["events"]).parquet(kio.table_path(sf_dir, "events"))
    assert dict(events.dtypes)["ts"] == "timestamp_ntz"
    assert dict(kio.load(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"

"""Streaming tests (SURVEY.md §5.5): file-replay of events through windowed
aggregations, watermark late-data handling, stateful dedup, and the
foreachBatch → KPL sink — all drained deterministically with availableNow.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kinesis_writer_spark import io as kio
from kinesis_writer_spark.sink import FakeKinesisClient, write_dataframe
from kinesis_writer_spark.streaming import (
    dedup_stream,
    dedup_stream_within_watermark,
    read_event_stream,
    run_available_now,
    session_values,
    sliding_counts,
    tumbling_counts,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def replay_dir(tmp_path_factory):
    """events split into several parquet files → multiple micro-batches."""
    from kinesis_writer_spark.session import get_spark

    spark = get_spark("tests")
    path = str(tmp_path_factory.mktemp("events_replay"))
    kio.load(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(path)
    return path


def _sorted(rows):
    return sorted(tuple(r) for r in rows)


class TestWindowedStreaming:
    def test_tumbling_stream_equals_batch(self, spark, replay_dir):
        stream = read_event_stream(spark, replay_dir, max_files_per_trigger=2)
        got = run_available_now(tumbling_counts(stream), output_mode="complete")
        batch = kio.load(spark, SF_DIR, "events")
        expected = (
            batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
            .collect()
        )
        assert _sorted(got) == _sorted(expected)

    def test_sliding_stream_equals_batch(self, spark, replay_dir):
        stream = read_event_stream(spark, replay_dir)
        got = run_available_now(sliding_counts(stream), output_mode="complete")
        batch = kio.load(spark, SF_DIR, "events")
        expected = (
            batch.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
            .collect()
        )
        assert _sorted(got) == _sorted(expected)

    def test_session_stream_equals_batch(self, spark, replay_dir):
        stream = read_event_stream(spark, replay_dir)
        got = run_available_now(session_values(stream), output_mode="complete")
        batch = kio.load(spark, SF_DIR, "events")
        expected = (
            batch.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
            .select("user_id", F.col("w.start").alias("session_start"), "n_events", "session_value")
            .collect()
        )
        assert _sorted(got) == _sorted(expected)


class TestStatefulDedup:
    def test_duplicate_event_ids_collapse(self, spark, tmp_path):
        """Replay the same file twice → every event_id duplicated → dedup
        keeps exactly one of each."""
        events = kio.load(spark, SF_DIR, "events")
        p = str(tmp_path / "dup")
        events.coalesce(1).write.mode("overwrite").parquet(p)
        events.coalesce(1).write.mode("append").parquet(p)

        stream = read_event_stream(spark, p)
        got = run_available_now(dedup_stream(stream).select("event_id"))
        n_unique = events.select("event_id").distinct().count()
        assert len(got) == n_unique
        assert len({r.event_id for r in got}) == n_unique

    def test_within_watermark_dedup_bounds_state(self, spark, tmp_path):
        """dropDuplicatesWithinWatermark collapses duplicates arriving inside
        the horizon while keeping only bounded per-key state. Same doubled
        replay as above: every duplicate arrives within the (huge) watermark,
        so the output matches unbounded dedup exactly."""
        events = kio.load(spark, SF_DIR, "events")
        p = str(tmp_path / "dup_wm")
        events.coalesce(1).write.mode("overwrite").parquet(p)
        events.coalesce(1).write.mode("append").parquet(p)

        stream = read_event_stream(spark, p)
        got = run_available_now(
            dedup_stream_within_watermark(stream, watermark="10 days").select("event_id")
        )
        n_unique = events.select("event_id").distinct().count()
        assert len(got) == n_unique
        assert len({r.event_id for r in got}) == n_unique


class TestForeachBatchSink:
    def test_stream_to_kpl_sink_delivers_all_records(self, spark, replay_dir):
        """End to end: parquet replay → payload serialization → foreachBatch →
        per-partition KPL batcher → fake Kinesis client; counts must match."""
        from kinesis_writer_spark.sink import foreach_batch_sink

        stream = read_event_stream(spark, replay_dir, max_files_per_trigger=2)
        payloads = stream.select(F.encode(F.to_json(F.struct("event_id", "value")), "utf-8").alias("data"))

        delivered = {"n": 0}

        def sink(batch_df, epoch_id):
            delivered["n"] += write_dataframe(
                batch_df, "stream-sink", lambda: FakeKinesisClient(num_shards=2), sleep=lambda s: None
            )

        q = payloads.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
        q.awaitTermination()
        total = kio.load(spark, SF_DIR, "events").count()
        assert delivered["n"] == total
        # exercise the packaged adapter too (single batch)
        batch_df = kio.load(spark, SF_DIR, "events").limit(10).select(
            F.encode(F.to_json(F.struct("event_id")), "utf-8").alias("data")
        )
        adapter = foreach_batch_sink("s", lambda: FakeKinesisClient(num_shards=2))
        adapter(batch_df, 0)


class TestStreamStaticJoin:
    def test_enrichment_equals_batch_join(self, spark, replay_dir):
        """Stream-static broadcast enrichment: availableNow replay joined to
        the customer dim must equal the same batch join."""
        from kinesis_writer_spark.streaming import enrich_stream

        customer = kio.load(spark, SF_DIR, "customer")
        stream = read_event_stream(spark, replay_dir, max_files_per_trigger=2)
        enriched = enrich_stream(stream, customer, "user_id", "c_custkey").select(
            "event_id", "user_id", "c_name", "c_mktsegment"
        )
        got = run_available_now(enriched)
        batch = kio.load(spark, SF_DIR, "events")
        expected = batch.join(
            customer, batch.user_id == customer.c_custkey
        ).select("event_id", "user_id", "c_name", "c_mktsegment").collect()
        assert _sorted(got) == _sorted(expected)


class TestStreamingDeaggregation:
    def test_kpl_source_works_on_streams(self, spark, tmp_path):
        """The deaggregating KPL source is a narrow mapInPandas, so the same
        code path runs on a readStream: capture wire records to parquet,
        replay them as a stream, deaggregate, count user records."""
        from kinesis_writer_spark.sources.kpl_stream import (
            aggregate_payloads,
            deaggregate_records,
        )

        events = kio.load(spark, SF_DIR, "events")
        payloads = events.select(
            F.encode(F.to_json(F.struct("event_id", "value")), "utf-8").alias("data")
        ).repartition(4)
        capture = str(tmp_path / "wire_capture")
        aggregate_payloads(payloads).write.mode("overwrite").parquet(capture)

        wire_stream = spark.readStream.schema("wire binary").parquet(capture)
        got = run_available_now(deaggregate_records(wire_stream).select("data"))
        assert len(got) == events.count()


class TestStreamStreamJoin:
    def test_interval_join_equals_batch(self, spark, replay_dir):
        """Stream-stream interval join (clicks-within-window attribution
        shape): view->click pairs per user within 30 minutes must equal the
        same batch join."""
        from kinesis_writer_spark.streaming import interval_join_streams

        views = read_event_stream(spark, replay_dir).filter(F.col("event_type") == "view")
        clicks = read_event_stream(spark, replay_dir).filter(F.col("event_type") == "click")
        got = run_available_now(interval_join_streams(views, clicks))

        batch = kio.load(spark, SF_DIR, "events")
        bv = batch.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("l_key"), F.col("event_id").alias("l_event_id"),
            F.col("ts").alias("l_ts"),
        )
        bc = batch.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("r_key"), F.col("event_id").alias("r_event_id"),
            F.col("ts").alias("r_ts"),
        )
        expected = bv.join(
            bc,
            F.expr("l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL 30 minutes"),
        ).collect()
        assert len(got) == len(expected)
        assert _sorted(got) == _sorted(expected)


class TestIncrementalDedupStream:
    def test_stream_verdicts_equal_batch(self, spark, tmp_path):
        """Streamed micro-batches of 'new' docs produce exactly the batch
        operator's per-doc verdicts against the same static corpus."""
        from kinesis_writer_spark.operators.pipeline_ops_corpus import (
            _INC_MOD,
            incremental_verdicts,
        )
        from kinesis_writer_spark.streaming.incremental import (
            dedup_stream_against_corpus,
        )

        docs = kio.load(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
        incoming = docs.filter(F.col("doc_id") % _INC_MOD == 0)
        corpus = docs.filter(F.col("doc_id") % _INC_MOD != 0)

        # batch reference
        expected = _sorted(incremental_verdicts(incoming, corpus).collect())
        assert expected, "fixture must produce incoming docs"

        # replay the incoming batch as a 3-file stream
        replay = str(tmp_path / "incoming")
        incoming.repartition(3).write.mode("overwrite").parquet(replay)
        stream = (
            spark.readStream.schema(incoming.schema).parquet(replay)
        )
        collected: list = []
        n_batches: list = []

        def sink(verdicts, batch_id):
            collected.extend(verdicts.collect())
            n_batches.append(batch_id)

        q = (
            dedup_stream_against_corpus(stream, corpus, sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        assert _sorted(collected) == expected
        # verdicts include every class the fixture is known to contain
        kinds = {row["verdict"] for row in collected}
        assert "kept" in kinds


class TestIncrementalDedupReleases:
    def test_micro_batches_do_not_accumulate_cached_rdds(self, spark, tmp_path):
        """Each micro-batch releases what it cached (the batch checkpoint
        and the batch side incremental_verdicts persists) once its sink
        returns, so the persisted-RDD count stays flat across batches."""
        from kinesis_writer_spark.operators.pipeline_ops_corpus import _INC_MOD
        from kinesis_writer_spark.streaming.incremental import (
            dedup_stream_against_corpus,
        )

        docs = kio.load(spark, SF_DIR, "documents").select("doc_id", "text", "lang")
        incoming = docs.filter(F.col("doc_id") % _INC_MOD == 0)
        corpus = docs.filter(F.col("doc_id") % _INC_MOD != 0)
        replay = str(tmp_path / "incoming")
        incoming.repartition(4).write.parquet(replay)
        stream = (
            spark.readStream.schema(incoming.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(replay)
        )

        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keys())

        def n_new() -> int:
            return len(set(jsc.getPersistentRDDs().keys()) - before)

        counts: list = []

        def sink(verdicts, batch_id):
            verdicts.collect()
            counts.append(n_new())

        q = (
            dedup_stream_against_corpus(stream, corpus, sink)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        assert len(counts) >= 4, counts
        assert counts == [counts[0]] * len(counts), counts
        assert n_new() == 0


class TestGrowingCorpusDedup:
    def test_cross_batch_duplicate_caught_only_with_growth(self, spark, tmp_path):
        """A duplicate arriving one micro-batch after its original is
        invisible to a static-corpus probe and caught with grow_corpus."""
        import os
        import time

        from pyspark.sql import Row
        from kinesis_writer_spark.streaming.incremental import (
            dedup_stream_against_corpus,
        )

        corpus = spark.createDataFrame(
            [Row(doc_id=1000 + i, text=f"corpus base doc {i} " * 5, lang="en") for i in range(5)]
        )
        novel = "a brand new never seen document body " * 3
        b1 = spark.createDataFrame([Row(doc_id=1, text=novel, lang="en")])
        b2 = spark.createDataFrame([Row(doc_id=2, text=novel, lang="en")])

        replay = str(tmp_path / "stream")
        b1.coalesce(1).write.parquet(replay)
        first_files = {
            fn for fn in os.listdir(replay) if fn.endswith(".parquet")
        }
        b2.coalesce(1).write.mode("append").parquet(replay)
        now = time.time()
        for fn in os.listdir(replay):  # pin file order: batch1 strictly older
            if fn.endswith(".parquet"):
                off = -60 if fn in first_files else 0
                os.utime(os.path.join(replay, fn), (now + off, now + off))

        def run(grow: bool):
            got = {}

            def sink(verdicts, batch_id):
                for r in verdicts.collect():
                    got[r["doc_id"]] = r["verdict"]

            stream = (
                spark.readStream.schema(b1.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(replay)
            )
            q = (
                dedup_stream_against_corpus(stream, corpus, sink, grow_corpus=grow)
                .trigger(availableNow=True)
                .option(
                    "checkpointLocation", str(tmp_path / f"ckpt_{grow}")
                )
                .start()
            )
            q.awaitTermination(120)
            return got

        static = run(grow=False)
        grown = run(grow=True)
        assert static[1] == "kept" and static[2] == "kept"  # the blind spot
        assert grown[1] == "kept" and grown[2] == "exact_dup"  # caught

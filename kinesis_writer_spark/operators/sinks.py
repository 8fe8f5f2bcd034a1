"""The kinesis-writer capability surfaced as plan-level operators: payload
serialization → size-bounded KPL batching, exposed as a DataFrame so the
driver can check it.

Every query here is hash-checked against a DuckDB oracle — including the
greedy varint-exact byte packing (q90), whose oracle folds the batch
boundaries with a recursive CTE. Byte-level wire correctness is additionally
covered by the golden/property unit tests in tests/test_kpl.py and
tests/test_sink.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ._util import tables


#: Greedy KPL packing constants for the q90 oracle: with the single 1-byte
#: partition key ``"a"`` the pk table costs 3 body bytes once per batch, so a
#: batch keeps accepting records while the running delta sum stays within
#: MAX_BYTES_PER_RECORD - FRAME_OVERHEAD - 3.
#:
#: PRECONDITION (single-record-fits): every record's framed delta must be
#: <= _Q90_LIM. The Spark side raises (AggRecordBuilder refuses an
#: oversized record), but the oracle's recursive CTE would instead get a
#: NULL from its correlated MAX (no rn satisfies ``ds - b.ds <= lim``),
#: silently dropping that shard's remaining batches — a confusing hash
#: mismatch rather than an error. The fixture's JSON payloads are ~24 KB
#: after the 20x repeat, ~40x inside the bound; revisit only if the
#: payload synthesis changes.
_Q90_LIM = 1_048_576 - 20 - 3
#: Integer/string-only JSON (no floats: Spark and DuckDB format doubles
#: differently; bigint/string casts are byte-identical in both engines).
_Q90_JSON_SQL = (
    """'{"event_id":' || CAST(event_id AS VARCHAR)"""
    """ || ',"user_id":' || CAST(user_id AS VARCHAR)"""
    """ || ',"event_type":"' || event_type || '"}'"""
)


@register(
    "q90_kpl_batch_stats",
    oracle=f"""
    WITH RECURSIVE payload AS (
        SELECT user_id % 8 AS shard_id, event_id,
               20 * length({_Q90_JSON_SQL}) AS plen
        FROM events
    ),
    sized AS (
        SELECT shard_id, event_id,
               3 + (CASE WHEN plen < 128 THEN 1
                         WHEN plen < 16384 THEN 2 ELSE 3 END) + plen AS inb
        FROM payload
    ),
    delta AS (
        SELECT shard_id, event_id,
               1 + (CASE WHEN inb < 128 THEN 1
                         WHEN inb < 16384 THEN 2 ELSE 3 END) + inb AS d
        FROM sized
    ),
    cum AS (
        SELECT shard_id,
               ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY event_id) AS rn,
               SUM(d) OVER (PARTITION BY shard_id ORDER BY event_id) AS ds
        FROM delta
    ),
    nmax AS (SELECT shard_id, MAX(rn) AS nmax FROM cum GROUP BY shard_id),
    b(shard_id, batch_seq, prev_e, prev_d, e, ds) AS (
        SELECT shard_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM nmax
        UNION ALL
        SELECT b.shard_id, b.batch_seq + 1, b.e, b.ds,
               (SELECT MAX(rn) FROM cum
                 WHERE cum.shard_id = b.shard_id AND rn > b.e
                   AND ds - b.ds <= {_Q90_LIM}),
               (SELECT MAX(ds) FROM cum
                 WHERE cum.shard_id = b.shard_id AND rn > b.e
                   AND ds - b.ds <= {_Q90_LIM})
        FROM b JOIN nmax m ON m.shard_id = b.shard_id
        WHERE b.e < m.nmax
    )
    SELECT shard_id, batch_seq, CAST(e - prev_e AS BIGINT) AS n_records,
           CAST(23 + ds - prev_d AS BIGINT) AS size_bytes
    FROM b WHERE batch_seq >= 1
    """,
)
def q90_kpl_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON payloads → per-SHARD greedy KPL aggregation; one output
    row per ~1 MiB aggregated record: (shard_id, batch_seq, n_records,
    size_bytes).

    Round 5 closed the last rows-only registry entry by making the batching
    boundary SEMANTIC instead of physical: records group by ``user_id % 8``
    (the shard a partition-key router would pick) and each shard's ordered
    payload sequence is packed by the real ``RecordAggregator`` (through
    ``pack_records``, the ``kpl`` writer's loop) inside
    ``applyInPandas``. That is exactly Kinesis's own unit of aggregation —
    KPL batches never span shards — and, unlike hash-partition placement,
    it is reproducible in ANSI SQL: the oracle re-derives every batch
    boundary with varint-exact arithmetic (per-record delta
    ``1 + vs(inner) + inner``, ``inner = 3 + vs(len) + len``) folded
    greedily by a recursive CTE, one iteration per completed batch.

    Scale: one shuffle to co-locate each shard's records; state per group is
    the aggregator's running byte meter. In production the per-shard group
    is a microbatch's worth of records (bounded by the shard's 1 MiB/s
    ingress), not the full corpus; shard count scales the group count.
    """
    import pandas as pd

    from ..kpl.aggregator import pack_records

    (events,) = tables(spark, sf_dir, "events")
    recs = events.select(
        (F.col("user_id") % 8).alias("shard_id"),
        "event_id",
        F.encode(
            # repeat the record 20x so several 1 MiB batches fill even at sf0.001
            F.repeat(
                F.concat(
                    F.lit('{"event_id":'),
                    F.col("event_id").cast("string"),
                    F.lit(',"user_id":'),
                    F.col("user_id").cast("string"),
                    F.lit(',"event_type":"'),
                    F.col("event_type"),
                    F.lit('"}'),
                ),
                20,
            ),
            "utf-8",
        ).alias("data"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        shard = int(pdf["shard_id"].iloc[0])
        out = [
            (shard, seq, rec.num_user_records, rec.size_bytes)
            for seq, rec in enumerate(
                pack_records(("a", bytes(data)) for data in pdf["data"]), 1
            )
        ]
        return pd.DataFrame(
            out, columns=["shard_id", "batch_seq", "n_records", "size_bytes"]
        )

    return recs.groupBy("shard_id").applyInPandas(
        pack, "shard_id bigint, batch_seq bigint, n_records long, size_bytes long"
    )


@register(
    "q92_kpl_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM events
    GROUP BY event_type
    """,
)
def q92_kpl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KPL codec roundtrip, oracle-checked: events → JSON payloads →
    per-partition aggregation into ~1 MiB wire records (magic + protobuf +
    MD5) → deaggregation → JSON decode → per-type aggregate. The result must
    equal a plain SQL aggregate over the source table, proving the wire
    codec is lossless end-to-end *inside* a distributed plan.

    Both codec hops are narrow transforms (``mapInArrow`` packs,
    ``mapInPandas`` unpacks); the only shuffle is the final small groupBy.
    This is the full producer→consumer path of the reference
    (AggRecord.java:61-74 wire format) exercised at plan level.
    """
    import os

    from ..sources.kpl_stream import aggregate_payloads, deaggregate_records

    n_parts = int(os.environ.get("SPARK_GRAFT_KPL_PARTITIONS", "8"))
    (events,) = tables(spark, sf_dir, "events")
    payloads = events.repartition(n_parts, "user_id").select(
        F.encode(F.to_json(F.struct("event_id", "event_type")), "utf-8").alias("data")
    )
    wires = aggregate_payloads(payloads)
    decoded = deaggregate_records(wires).select(
        F.from_json(F.decode("data", "utf-8"), "event_id bigint, event_type string").alias("r")
    )
    return decoded.groupBy(F.col("r.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("r.event_id").alias("min_id"),
        F.max("r.event_id").alias("max_id"),
    )


@register(
    "q91_ehk_derivation",
    oracle="""
    SELECT c_custkey,
           CAST(
             CAST(CAST(('0x' || substr(md5(c_name), 1, 16)) AS UBIGINT) AS UHUGEINT)
               * CAST('18446744073709551616' AS UHUGEINT)
             + CAST(CAST(('0x' || substr(md5(c_name), 17, 16)) AS UBIGINT) AS UHUGEINT)
           AS VARCHAR) AS explicit_hash_key
    FROM customer
    ORDER BY c_custkey
    LIMIT 100
    """,
)
def q91_ehk_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """128-bit MD5 explicit-hash-key derivation (reference
    AggRecord.java:231-243) as an Arrow-batched pandas UDF over customer
    names — decimal strings because 2^128-1 exceeds standard SQL integer
    types. The oracle assembles the identical big-endian integer in
    DuckDB's UHUGEINT from the two 64-bit MD5 halves (high·2⁶⁴ + low), so
    the Python UDF's full 128-bit value is cross-checked end to end.
    """
    from ..functions.hashing import md5_uint128_decimal

    (customer,) = tables(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey", md5_uint128_decimal(F.col("c_name")).alias("explicit_hash_key")
    ).orderBy("c_custkey").limit(100)


_UINT128_MAX_STR = str((1 << 128) - 1)  # 39 digits


@register(
    "q98_validate_records",
    oracle=f"""
    WITH cand AS (
        SELECT c_custkey,
               CASE c_custkey % 5
                    WHEN 1 THEN ''
                    WHEN 2 THEN repeat('k', 300)
                    ELSE c_name END AS pk,
               CASE c_custkey % 5
                    WHEN 3 THEN 'not-a-number'
                    WHEN 4 THEN '340282366920938463463374607431768211456'
                    WHEN 0 THEN CAST(c_custkey AS VARCHAR)
                    ELSE NULL END AS ehk
        FROM customer
    ),
    checked AS (
        SELECT c_custkey,
               CASE
                 WHEN octet_length(CAST(pk AS BLOB)) < 1   THEN 'pk_too_short'
                 WHEN octet_length(CAST(pk AS BLOB)) > 256 THEN 'pk_too_long'
                 WHEN ehk IS NOT NULL AND NOT regexp_matches(ehk, '^[0-9]+$')
                      THEN 'ehk_not_decimal'
                 WHEN ehk IS NOT NULL AND (
                        length(COALESCE(NULLIF(regexp_replace(ehk, '^0+', ''), ''), '0')) > 39
                        OR (length(COALESCE(NULLIF(regexp_replace(ehk, '^0+', ''), ''), '0')) = 39
                            AND COALESCE(NULLIF(regexp_replace(ehk, '^0+', ''), ''), '0')
                                > '{_UINT128_MAX_STR}'))
                      THEN 'ehk_out_of_range'
                 ELSE 'valid'
               END AS reason
        FROM cand
    )
    SELECT reason, COUNT(*) AS n_records, MIN(c_custkey) AS first_key
    FROM checked GROUP BY reason
    """,
)
def q98_validate_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-validation predicates (reference AggRecord.java:195-229) as
    plan-level filters: partition key must be 1-256 UTF-8 bytes, explicit
    hash key a decimal integer in [0, 2^128-1]. Candidate records derive
    deterministically from the customer table with one violation class per
    key residue; output counts per rejection reason.

    2^128-1 exceeds every SQL integer type, so the range check normalizes
    leading zeros and compares decimal strings by (length, lexicographic) —
    exact, overflow-free, and identical in both engines. The payload-size
    cap (≤ 1 MiB - 20 B framing) is enforced in the sink's Python
    validators and unit tests; it is omitted here only because a >1 MiB
    per-row fixture would bloat the oracle run.
    """
    (customer,) = tables(spark, sf_dir, "customer")
    residue = F.col("c_custkey") % 5
    cand = customer.select(
        "c_custkey",
        F.when(residue == 1, F.lit(""))
        .when(residue == 2, F.lit("k" * 300))
        .otherwise(F.col("c_name"))
        .alias("pk"),
        F.when(residue == 3, F.lit("not-a-number"))
        .when(residue == 4, F.lit("340282366920938463463374607431768211456"))
        .when(residue == 0, F.col("c_custkey").cast("string"))
        .otherwise(F.lit(None).cast("string"))
        .alias("ehk"),
    )
    norm_ehk = F.coalesce(
        F.nullif(F.regexp_replace(F.col("ehk"), "^0+", ""), F.lit("")), F.lit("0")
    )
    reason = (
        F.when(F.octet_length("pk") < 1, "pk_too_short")
        .when(F.octet_length("pk") > 256, "pk_too_long")
        .when(F.col("ehk").isNotNull() & ~F.col("ehk").rlike("^[0-9]+$"), "ehk_not_decimal")
        .when(
            F.col("ehk").isNotNull()
            & (
                (F.length(norm_ehk) > 39)
                | ((F.length(norm_ehk) == 39) & (norm_ehk > F.lit(_UINT128_MAX_STR)))
            ),
            "ehk_out_of_range",
        )
        .otherwise("valid")
    )
    return (
        cand.select("c_custkey", reason.alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n_records"), F.min("c_custkey").alias("first_key"))
    )


@register(
    "q170_shard_capacity_plan",
    oracle="""
    WITH sized AS (
        SELECT length(CAST(event_id AS VARCHAR))
               + length(CAST(user_id AS VARCHAR))
               + length(event_type) + 27 AS rec_bytes,
               ts
        FROM events
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(rec_bytes) AS BIGINT) AS total_bytes,
               CAST(epoch_us(MAX(ts)) // 1000000
                    - epoch_us(MIN(ts)) // 1000000 AS BIGINT) AS span_s
        FROM sized
    )
    SELECT n_events, total_bytes, span_s,
           CAST((total_bytes + span_s * 1048576 - 1) // (span_s * 1048576)
               AS BIGINT) AS mbps_shards,
           CAST(((n_events + span_s * 1000 - 1) // (span_s * 1000))
               AS BIGINT) AS unagg_rps_shards,
           CAST(((total_bytes // 1048576 + 1) + span_s * 1000 - 1)
                // (span_s * 1000) AS BIGINT) AS agg_rps_shards
    FROM agg
    """,
)
def q170_shard_capacity_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kinesis shard capacity planning from the stream's own statistics —
    the sizing question every user of the reference's writer asks: given
    this event stream's byte rate and record rate, how many shards do the
    1 MiB/s-per-shard and 1000-records/s-per-shard limits each demand?
    Emits the byte-limited shard count, the UNaggregated record-limited
    count, and the count after KPL ~1 MiB aggregation (the reference's
    soft cap, KinesisWriter.scala:27-35) collapses the record rate —
    making the aggregation's raison d'être a measurable quantity.

    Record overhead is the framing constant (partition-key index + varint
    framing, AggRecord wire format) plus field delimiters; all arithmetic
    is integer ceil-division on BIGINT sums, bit-identical across engines.
    One aggregation pass over the corpus; a production planner would add
    a peak-window factor over q168-style per-hour percentiles.
    """
    (events,) = tables(spark, sf_dir, "events")
    rec_bytes = (
        F.length(F.col("event_id").cast("string"))
        + F.length(F.col("user_id").cast("string"))
        + F.length("event_type")
        + 27
    )
    agg = events.select(rec_bytes.alias("rec_bytes"), "ts").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("rec_bytes").alias("total_bytes"),
        (
            F.expr("unix_micros(MAX(ts)) DIV 1000000")
            - F.expr("unix_micros(MIN(ts)) DIV 1000000")
        ).alias("span_s"),
    )
    return agg.select(
        "n_events",
        "total_bytes",
        "span_s",
        F.expr(
            "(total_bytes + span_s * 1048576 - 1) DIV (span_s * 1048576)"
        ).alias("mbps_shards"),
        F.expr("(n_events + span_s * 1000 - 1) DIV (span_s * 1000)").alias(
            "unagg_rps_shards"
        ),
        F.expr(
            "((total_bytes DIV 1048576 + 1) + span_s * 1000 - 1) DIV (span_s * 1000)"
        ).alias("agg_rps_shards"),
    )

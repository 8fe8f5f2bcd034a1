"""Corpus-maintenance operators (split from pipeline_ops, r8): boilerplate
profiling, incremental dedup, concurrency/capacity profiling, schema
profiling, robust statistics, containment, quality gates, distance
calibration, ROC-AUC, leakage-aware splits (q205-q216).

House rules as everywhere in the registry: cross-engine MD5-60bit hashes
for any value that feeds a join or a comparison, integer-only thresholds
and ratios (ppm / cents), and (ts, id) tie-breaks so no window is
order-ambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_60bit
from ..registry import register
from ._util import tables


# ---------------------------------------------------------------------------
# q205: boilerplate n-gram profile (cross-document repeated 5-grams)
# ---------------------------------------------------------------------------

_BP_W = 5  # shingle width (words)
_BP_DF = 2  # a shingle present in >= this many docs is boilerplate

#: DuckDB: distinct 5-gram shingles per doc, hashed to 60-bit ints.
#: generate_series(1, n) is empty for n < 1, so short docs yield no rows.
_BP_SHINGLES_DUCK = f"""
    w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS ws
          FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, lang, source,
               CAST(('0x' || substr(md5(tok5), 1, 15)) AS BIGINT) AS tok
        FROM (
            SELECT doc_id, lang, source,
                   unnest(list_transform(
                       generate_series(1, len(ws) - {_BP_W - 1}),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                            || ' ' || ws[i+3] || ' ' || ws[i+4])) AS tok5
            FROM w
        )
    )
"""


@register(
    "q205_boilerplate_ngrams",
    oracle=f"""
    WITH {_BP_SHINGLES_DUCK},
    dfq AS (SELECT tok, count(*) AS df FROM sh GROUP BY tok),
    boiler AS (SELECT tok FROM dfq WHERE df >= {_BP_DF}),
    per_doc AS (
        SELECT doc_id, lang, source, count(*) AS n_sh
        FROM sh GROUP BY doc_id, lang, source
    ),
    bpd AS (
        SELECT doc_id, count(*) AS n_boiler
        FROM sh JOIN boiler USING (tok) GROUP BY doc_id
    )
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(SUM(CASE WHEN coalesce(n_boiler, 0) > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_docs_affected,
           CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
           CAST(SUM(coalesce(n_boiler, 0)) AS BIGINT) AS n_boiler,
           CAST(SUM(coalesce(n_boiler, 0)) * 1000000 // SUM(n_sh) AS BIGINT)
               AS boiler_ppm
    FROM per_doc LEFT JOIN bpd USING (doc_id)
    GROUP BY lang, source
    """,
)
def q205_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate profile: 5-word shingles that recur across >= 2 distinct
    documents (headers, footers, licence blocks, templated intros) and each
    (lang, source) slice's boilerplate fraction — the CCNet-style signal
    for "this source needs a boilerplate strip before training".

    Scale shape: shingles are hashed to 60-bit ints before any shuffle
    (8-byte keys); the document-frequency aggregate is map-side combined;
    the boilerplate set is bounded by *duplicate density*, not corpus size
    (a shingle enters it only if two documents share it), and the join
    back to per-doc counts is an equi-join on the hash. Nothing here is
    all-pairs; the expensive row count is the shingle explosion, which is
    O(total tokens) — the same cost every shingling operator in the
    registry (q52/q55/q193) already pays once.

    The empty-array guard on short docs (size(ws) >= 5) mirrors DuckDB's
    empty generate_series — without it Spark's sequence(0, n) would
    produce a DESCENDING range for n < 0 and element_at would throw (the
    q132 lesson).
    """
    (documents,) = tables(spark, sf_dir, "documents")
    docs = documents.withColumn("ws", F.split("text", " "))
    sh5 = F.expr(
        f"""
        CASE WHEN size(ws) >= {_BP_W} THEN
            array_distinct(transform(sequence(0, size(ws) - {_BP_W}),
                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])))
        ELSE array() END
        """
    )
    tok = docs.select(
        "doc_id", "lang", "source", F.explode(sh5).alias("tok5")
    ).select("doc_id", "lang", "source", md5_60bit(F.col("tok5")).alias("tok"))
    # attach each shingle's document frequency with a WINDOW over the tok
    # key instead of a df-aggregate + join-back: the join form re-executes
    # the explode lineage once per consumer (measured 3 Generate branches);
    # the window form is ONE explode, one shuffle on the 8-byte hash, then
    # a straight per-doc rollup
    tok_df = tok.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("tok")))
    joined = tok_df.groupBy("doc_id", "lang", "source").agg(
        F.count(F.lit(1)).alias("n_sh"),
        F.sum(F.when(F.col("df") >= _BP_DF, 1).otherwise(0)).alias("n_boiler"),
    )
    return joined.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_boiler") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_affected"),
        F.sum("n_sh").cast("bigint").alias("n_shingles"),
        F.sum("n_boiler").cast("bigint").alias("n_boiler"),
        F.expr("CAST(SUM(n_boiler) * 1000000 DIV SUM(n_sh) AS BIGINT)").alias(
            "boiler_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# q206: incremental dedup — new batch vs existing corpus
# ---------------------------------------------------------------------------

_INC_MOD = 7  # doc_id % 7 == 0 plays the "incoming batch" role
_INC_J_NUM, _INC_J_DEN = 4, 5  # near-dup verify: 3-gram shingle Jaccard >= 0.8


def _q206_oracle() -> str:
    from .dedup import _band_exprs_sql, _minhash_sig_sql, _MINHASH_MASK
    from ..functions.hashing import duckdb_md5_60bit

    tok3 = duckdb_md5_60bit("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")
    return f"""
    WITH w AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws
               FROM documents),
    base AS (
        SELECT doc_id, lang, md5(text) AS h,
               list_distinct(list_transform(generate_series(1, len(ws) - 2),
                   i -> {tok3})) AS toks
        FROM w
    ),
    incoming AS (SELECT * FROM base WHERE doc_id % {_INC_MOD} = 0),
    corpus AS (SELECT * FROM base WHERE doc_id % {_INC_MOD} <> 0),
    exact AS (
        SELECT DISTINCT i.doc_id
        FROM incoming i JOIN corpus c ON i.h = c.h
    ),
    inc_sigs AS (
        SELECT doc_id,
               [{", ".join(_minhash_sig_sql())}] AS signature
        FROM (SELECT doc_id,
                     list_transform(toks, t -> t & {_MINHASH_MASK}) AS hashes
              FROM incoming WHERE len(toks) > 0)
    ),
    corp_sigs AS (
        SELECT doc_id AS corp_id,
               [{", ".join(_minhash_sig_sql())}] AS signature
        FROM (SELECT doc_id,
                     list_transform(toks, t -> t & {_MINHASH_MASK}) AS hashes
              FROM corpus WHERE len(toks) > 0)
    ),
    inc_bands AS (
        SELECT doc_id, unnest([{", ".join(_band_exprs_sql())}]) AS band_key
        FROM inc_sigs
    ),
    corp_bands AS (
        SELECT corp_id, unnest([{", ".join(_band_exprs_sql())}]) AS band_key
        FROM corp_sigs
    ),
    cand AS (
        SELECT DISTINCT i.doc_id, c.corp_id
        FROM inc_bands i JOIN corp_bands c USING (band_key)
    ),
    near AS (
        SELECT DISTINCT cd.doc_id
        FROM cand cd
        JOIN incoming a ON a.doc_id = cd.doc_id
        JOIN corpus b ON b.doc_id = cd.corp_id
        WHERE len(list_intersect(a.toks, b.toks)) * {_INC_J_DEN}
              >= (len(a.toks) + len(b.toks)
                  - len(list_intersect(a.toks, b.toks))) * {_INC_J_NUM}
    )
    SELECT i.lang,
           count(*) AS n_incoming,
           CAST(SUM(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact,
           CAST(SUM(CASE WHEN e.doc_id IS NULL AND n.doc_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near,
           CAST(SUM(CASE WHEN e.doc_id IS NULL AND n.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM incoming i
    LEFT JOIN exact e ON i.doc_id = e.doc_id
    LEFT JOIN near n ON i.doc_id = n.doc_id
    GROUP BY i.lang
    """


@register("q206_incremental_dedup", oracle=_q206_oracle())
def q206_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: an incoming batch (doc_id % 7 == 0) is checked
    against the EXISTING corpus (the rest) — exact content-hash match
    first, then shingle-MinHash band candidates verified by 3-gram
    shingle-set Jaccard >= 0.8 — and every incoming doc gets a verdict
    (exact_dup / near_dup / kept), rolled up per lang.

    This is the shape that makes dedup affordable at 100 TB: the corpus is
    deduped ONCE, and each new batch costs O(|batch|) — never a corpus x
    corpus rescan. Physically: the incoming side (hashes and band keys) is
    small enough to BROADCAST, so the corpus is streamed exactly twice
    (once past the digest broadcast, once past the band-key broadcast) with
    no corpus-side shuffle at all; in production the corpus digest/band
    tables are a persisted index, making incremental dedup a pure
    batch-side computation plus two broadcast probes.

    Verification joins corpus word-sets only for candidate corp_ids —
    bounded by candidate count, not corpus size.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    incoming_docs = documents.filter(F.col("doc_id") % _INC_MOD == 0)
    corpus_docs = documents.filter(F.col("doc_id") % _INC_MOD != 0)
    verdict = incremental_verdicts(incoming_docs, corpus_docs).select(
        "lang", "verdict"
    )
    return verdict.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_incoming"),
        F.sum(F.when(F.col("verdict") == "exact_dup", 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact"),
        F.sum(F.when(F.col("verdict") == "near_dup", 1).otherwise(0))
        .cast("bigint")
        .alias("n_near"),
        F.sum(F.when(F.col("verdict") == "kept", 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
    )


def incremental_verdicts(incoming_docs: DataFrame, corpus_docs: DataFrame) -> DataFrame:
    """Per-doc dedup verdicts for an incoming batch against a corpus: both
    inputs need (doc_id, text, lang); returns (doc_id, lang, verdict) with
    verdict in {exact_dup, near_dup, kept}. The incoming side is assumed
    SMALL (a batch/micro-batch): its digests, band keys, and shingle
    arrays broadcast, so the corpus is only streamed, never shuffled.
    Reused by q206 (batch) and streaming.incremental (foreachBatch).

    The similarity unit is the 3-GRAM SHINGLE set (60-bit hashed), both
    for the MinHash bands and the Jaccard verify — the q193 lesson
    measured directly here: word-set bands on this small-vocabulary corpus
    put nearly every doc in some shared bucket (493k candidates for 519
    true matches at sf0.1, 4.8 s mostly spent verifying junk); shingle
    bands cut candidates to roughly the true near-dups.
    """
    from .dedup import _masked_toks_spark, _shingle_hashes_spark, minhash_bands

    def prep(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            "lang",
            F.md5(F.col("text").cast("binary")).alias("h"),
            _shingle_hashes_spark().alias("toks"),
        )

    # the batch side feeds four consumers (digest broadcast, band
    # broadcast, verify arrays, final verdict join) — persist it so the
    # md5+shingle prep runs once; it's micro-batch-sized by contract
    from pyspark import StorageLevel

    incoming = prep(incoming_docs).persist(StorageLevel.MEMORY_AND_DISK)
    corpus = prep(corpus_docs)

    # --- exact: stream the corpus past a broadcast of incoming digests ---
    inc_digests = incoming.select("doc_id", "h")
    exact = (
        corpus.select("h")
        .join(F.broadcast(inc_digests), "h")
        .select("doc_id")
        .distinct()
    )

    # --- near: corpus band keys probe a broadcast of incoming band keys ---
    def bands_of(df: DataFrame, id_col: str, *carry: str) -> DataFrame:
        hs = df.filter(F.size("toks") > 0).select(
            F.col("doc_id").alias(id_col), *carry, _masked_toks_spark().alias("hashes")
        )
        return minhash_bands(hs, *carry, id_col=id_col)

    # the corpus side CARRIES its shingle arrays through the band probe:
    # the probe is a broadcast hash join (no corpus shuffle), so the extra
    # column rides along and removes what would be a second full corpus
    # pass just to fetch verify arrays for candidate ids
    inc_bands = bands_of(incoming, "doc_id")
    corp_bands = bands_of(corpus, "corp_id", "toks")
    # no dropDuplicates on the candidate pairs (r15): a pair surfaces from
    # at most n_bands(=2) bands and `near` already collapses doc_ids after
    # the verify — the dedup here was the ONLY exchange on the corpus-sized
    # path (everything else is broadcast probes), so dropping it makes the
    # near side fully shuffle-free at the cost of <= n_bands Jaccard evals
    # per duplicate pair (map-side CPU).
    cand = (
        corp_bands.withColumnRenamed("toks", "toks_b")
        .join(F.broadcast(inc_bands), "band_key")
        .select("doc_id", "corp_id", "toks_b")
    )
    wa = incoming.select("doc_id", F.col("toks").alias("toks_a"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = F.size("toks_a") + F.size("toks_b") - inter
    near = (
        cand.join(F.broadcast(wa), "doc_id")
        .filter(inter * _INC_J_DEN >= uni * _INC_J_NUM)
        .select("doc_id")
        .distinct()
    )

    # exact/near are subsets of the incoming batch — batch-sized by the
    # same contract that broadcasts the digests and band keys above, so
    # the verdict joins broadcast too instead of shuffling the batch (r14)
    verdicts = (
        incoming.select("doc_id", "lang")
        .join(F.broadcast(exact.withColumn("is_exact", F.lit(1))), "doc_id", "left")
        .join(F.broadcast(near.withColumn("is_near", F.lit(1))), "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.when(F.col("is_exact") == 1, F.lit("exact_dup"))
            .when(F.col("is_near") == 1, F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("verdict"),
        )
    )
    # the persisted batch side outlives the lazy verdicts: a caller that
    # runs many batches (streaming.incremental) unpersists it once the
    # verdicts are consumed
    verdicts._batch_cache = incoming
    return verdicts


# ---------------------------------------------------------------------------
# q207: peak session concurrency per hour (two-level sweep line)
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000
_HOUR_US = 3_600 * 1_000_000


@register(
    "q207_concurrency_peak",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, epoch_us(ts) AS us,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_us,
               event_id
        FROM events
    ),
    marked AS (
        SELECT user_id, us, event_id,
               CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessioned AS (
        SELECT user_id, us,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_idx
        FROM marked
    ),
    sessions AS (
        SELECT user_id, session_idx, MIN(us) AS start_us, MAX(us) AS end_us
        FROM sessioned GROUP BY user_id, session_idx
    ),
    deltas AS (
        SELECT start_us AS us, 1 AS delta FROM sessions
        UNION ALL
        SELECT end_us AS us, -1 AS delta FROM sessions
    ),
    running AS (
        SELECT us // {_HOUR_US} AS hour_idx, delta,
               CAST(SUM(delta) OVER (ORDER BY us, delta
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS live
        FROM deltas
    )
    SELECT hour_idx,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           CAST(SUM(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends,
           MAX(live) AS peak_concurrency
    FROM running
    GROUP BY hour_idx
    """,
)
def q207_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per hour — the capacity-planning twin of
    q108: sessionize (30-min gap), emit +1/-1 at session start/end
    (half-open: a session ending at instant t closes before one starting
    at t opens — the ORDER BY (us, delta) tie rule, delta=-1 first), and
    take the max of the running live-session count within each hour.

    The oracle computes the running sum with ONE global window; the Spark
    plan must not (a no-partition window is a single-task bottleneck at
    100 TB). Instead the classic two-level prefix sum: (1) running sum
    WITHIN each hour partition, (2) per-hour delta totals — an
    hours-cardinality METADATA table — cumulated exclusively and added
    back as each hour's offset. Identical result, and the only
    unpartitioned window runs over ~hours rows, not events.

    Per-hour max is deterministic despite equal-(us, delta) tie freedom:
    within such a run the prefix values are s+d, s+2d, ..., s+kd in every
    permutation, so their max is permutation-invariant.
    """
    (events,) = tables(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.select(
        "user_id", "event_id", us.alias("us"), F.lag(us).over(w_order).alias("prev_us")
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") > _GAP_US), 1
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = (
        marked.withColumn("session_idx", F.sum("is_new").over(w_run))
        .groupBy("user_id", "session_idx")
        .agg(F.min("us").alias("start_us"), F.max("us").alias("end_us"))
    )
    # explode, not UNION ALL: a union of two selects over `sessions` would
    # execute the whole sessionize pipeline twice (measured in the plan —
    # two full Window+Exchange branches); one 2-struct explode keeps it to
    # a single pass.
    deltas = sessions.select(
        F.explode(
            F.array(
                F.struct(F.col("start_us").alias("us"), F.lit(1).alias("delta")),
                F.struct(F.col("end_us").alias("us"), F.lit(-1).alias("delta")),
            )
        ).alias("e")
    ).select("e.us", "e.delta")
    deltas = deltas.withColumn("hour_idx", F.expr(f"us DIV {_HOUR_US}"))

    # level 1: running sum within each hour partition
    w_hour = (
        Window.partitionBy("hour_idx")
        .orderBy("us", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = deltas.withColumn("run_in_hour", F.sum("delta").over(w_hour))
    per_hour = within.groupBy("hour_idx").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_starts"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ends"),
        F.max("run_in_hour").cast("bigint").alias("max_in_hour"),
        F.sum("delta").cast("bigint").alias("hour_total"),
    )
    # level 2: exclusive prefix of hour totals over the tiny hour table
    w_hours = (
        Window.orderBy("hour_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = per_hour.withColumn(
        "offset", F.coalesce(F.sum("hour_total").over(w_hours), F.lit(0))
    )
    return offs.select(
        "hour_idx",
        "n_starts",
        "n_ends",
        (F.col("offset") + F.col("max_in_hour")).cast("bigint").alias(
            "peak_concurrency"
        ),
    )


# ---------------------------------------------------------------------------
# q208: semi-structured schema profile of the props JSON column
# ---------------------------------------------------------------------------


@register(
    "q208_json_schema_profile",
    oracle="""
    WITH kv AS (
        SELECT event_type,
               unnest(json_keys(props)) AS key,
               props
        FROM events
    ),
    vals AS (
        SELECT event_type, key,
               TRY_CAST(json_extract_string(props, '$.' || key) AS BIGINT) AS num
        FROM kv
    ),
    totals AS (SELECT event_type, count(*) AS n_rows FROM events GROUP BY event_type)
    SELECT v.event_type, v.key,
           count(*) AS n_present,
           CAST(count(*) * 1000000 // t.n_rows AS BIGINT) AS present_ppm,
           CAST(count(num) AS BIGINT) AS n_numeric,
           MIN(num) AS min_num, MAX(num) AS max_num,
           CAST(SUM(num) AS BIGINT) AS sum_num
    FROM vals v JOIN totals t USING (event_type)
    GROUP BY v.event_type, v.key, t.n_rows
    """,
)
def q208_json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema profile of a semi-structured JSON column: per (event_type,
    json key) — presence rate, how many values parse as integers, and
    integer min/max/sum. This is the "what's actually in props?" audit
    that precedes promoting a JSON key to a typed column (the VARIANT
    workflow q112 consumes).

    Spark side parses each row ONCE into a map<string,string> and explodes
    it (JVM from_json, no per-key re-parse, no Python); the per-type
    totals table is type-cardinality and broadcasts back for the ppm. At
    100 TB this is one explode + one map-side-combined aggregate — the
    same cost envelope as a token count.
    """
    (events,) = tables(spark, sf_dir, "events")
    kv = events.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "val"),
    ).withColumn("num", F.expr("TRY_CAST(val AS BIGINT)"))
    totals = events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    prof = kv.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.count("num").cast("bigint").alias("n_numeric"),
        F.min("num").alias("min_num"),
        F.max("num").alias("max_num"),
        F.sum("num").cast("bigint").alias("sum_num"),
    )
    return prof.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "key",
        "n_present",
        F.expr("CAST(n_present * 1000000 DIV n_rows AS BIGINT)").alias("present_ppm"),
        "n_numeric",
        "min_num",
        "max_num",
        "sum_num",
    )


# ---------------------------------------------------------------------------
# q209: winsorized statistics per group (robust mean via exact p10/p90 clips)
# ---------------------------------------------------------------------------


@register(
    "q209_winsorized_stats",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority AS priority, o_orderkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders
    ),
    ranked AS (
        SELECT priority, c,
               row_number() OVER (PARTITION BY priority ORDER BY c, o_orderkey)
                   AS rn,
               count(*) OVER (PARTITION BY priority) AS n
        FROM cents
    ),
    cuts AS (
        SELECT priority,
               MAX(CASE WHEN rn = (n + 9) // 10 THEN c END) AS lo,
               MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN c END) AS hi
        FROM ranked GROUP BY priority
    )
    SELECT r.priority,
           CAST(MAX(r.n) AS BIGINT) AS n_orders,
           MAX(k.lo) AS p10_cents,
           MAX(k.hi) AS p90_cents,
           CAST(SUM(CASE WHEN r.c < k.lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(SUM(CASE WHEN r.c > k.hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           CAST(SUM(GREATEST(k.lo, LEAST(k.hi, r.c))) // MAX(r.n) AS BIGINT)
               AS winsor_mean_cents,
           CAST(SUM(r.c) // MAX(r.n) AS BIGINT) AS raw_mean_cents
    FROM ranked r JOIN cuts k USING (priority)
    GROUP BY r.priority
    """,
)
def q209_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per order priority: clip each order's total to the
    group's exact [p10, p90] (rank arithmetic — value at row_number
    ceil(n/10) / ceil(9n/10) on the (cents, orderkey) total order) and
    compare the robust mean against the raw mean — the outlier-resistant
    summary a metrics pipeline publishes when a few whale rows would
    otherwise move the average.

    Exactness: money is integer cents before any sum; cut ranks are
    integer ceils; the clip is GREATEST/LEAST on integers; both means are
    integer-floored — no float crosses a row boundary, so engines agree
    bit-for-bit regardless of partitioning.

    Scale shape: one per-group sort window for ranks (single shuffle on
    the group key), a group-cardinality cuts table joined back on the same
    key (no second shuffle — the partitioning is reused), and one final
    rollup. At truly global scale the exact ranks swap for
    approx_percentile the way q136 gates it; the clip/rollup stays as-is.
    """
    (orders,) = tables(spark, sf_dir, "orders")
    cents = orders.select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c"),
    )
    w = Window.partitionBy("priority").orderBy("c", "o_orderkey")
    ranked = cents.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("priority"))
    )
    cuts = ranked.groupBy("priority").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 9) DIV 10"), F.col("c"))).alias("lo"),
        F.max(F.when(F.col("rn") == F.expr("(9 * n + 9) DIV 10"), F.col("c"))).alias(
            "hi"
        ),
    )
    # join the RAW cents back to the broadcast cuts — joining `ranked` would
    # execute the sort window a second time (measured: two Window+Exchange
    # branches in the plan); the final rollup recomputes n as count(*).
    return (
        cents.join(F.broadcast(cuts), "priority")
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.max("lo").alias("p10_cents"),
            F.max("hi").alias("p90_cents"),
            F.sum(F.when(F.col("c") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum(F.when(F.col("c") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_high"),
            F.expr(
                "CAST(SUM(GREATEST(lo, LEAST(hi, c))) DIV COUNT(*) AS BIGINT)"
            ).alias("winsor_mean_cents"),
            F.expr("CAST(SUM(c) DIV COUNT(*) AS BIGINT)").alias("raw_mean_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q210: daily activity coverage (merged-interval sweep, day-partitioned)
# ---------------------------------------------------------------------------

_DAY_US = 24 * _HOUR_US


@register(
    "q210_daily_coverage",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_us
        FROM events
    ),
    marked AS (
        SELECT user_id, us, event_id,
               CASE WHEN prev_us IS NULL OR us - prev_us > {_GAP_US}
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ),
    sessions AS (
        SELECT user_id, session_idx, MIN(us) AS start_us, MAX(us) AS end_us
        FROM (
            SELECT user_id, us,
                   CAST(SUM(is_new) OVER (PARTITION BY user_id
                        ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_idx
            FROM marked
        )
        GROUP BY user_id, session_idx
    ),
    clipped AS (
        SELECT dayno,
               GREATEST(start_us, dayno * {_DAY_US}) AS s,
               LEAST(end_us, (dayno + 1) * {_DAY_US}) AS e
        FROM (
            SELECT start_us, end_us,
                   unnest(generate_series(start_us // {_DAY_US},
                                          end_us // {_DAY_US})) AS dayno
            FROM sessions
        )
    ),
    deltas AS (
        SELECT dayno, s AS us, 1 AS delta FROM clipped
        UNION ALL
        SELECT dayno, e AS us, -1 AS delta FROM clipped
    ),
    swept AS (
        SELECT dayno, us, delta,
               CAST(SUM(delta) OVER (PARTITION BY dayno ORDER BY us, delta
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS live,
               LEAD(us) OVER (PARTITION BY dayno ORDER BY us, delta) AS next_us
        FROM deltas
    )
    SELECT dayno,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_intervals,
           CAST(SUM(CASE WHEN live > 0 AND next_us IS NOT NULL
                         THEN next_us - us ELSE 0 END) AS BIGINT) AS covered_us,
           CAST(SUM(CASE WHEN live > 0 AND next_us IS NOT NULL
                         THEN next_us - us ELSE 0 END) * 1000000 // {_DAY_US}
               AS BIGINT) AS coverage_ppm
    FROM swept
    GROUP BY dayno
    """,
)
def q210_daily_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity coverage: the fraction of each day during which AT
    LEAST ONE session (any user) was live — the union length of
    overlapping intervals, the metric behind "was the platform ever idle?"
    and SLA-style uptime reporting.

    Scale design: instead of one global sweep line (an unpartitionable
    total order over every interval endpoint), sessions are CLIPPED to the
    days they span first — sessions are gap-bounded, so the explode factor
    is tiny — and then each day runs its own independent sweep (running
    live-count + LEAD gap, two functions over ONE window spec). The sweep
    partitions by day, so parallelism grows with the time range; no
    single-task window anywhere — unlike q207 this needs no second-level
    offset pass at all, because coverage resets at day boundaries by
    construction.

    Tie discipline: ORDER BY (us, delta) closes intervals before opening
    new ones at the same instant (half-open semantics); equal-(us, delta)
    runs contribute zero-length gaps, so the covered sum is
    permutation-invariant and the oracle hash matches bit-for-bit.
    """
    (events,) = tables(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.select(
        "user_id", "event_id", us.alias("us"), F.lag(us).over(w_order).alias("prev_us")
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_us").isNull() | (F.col("us") - F.col("prev_us") > _GAP_US), 1
        ).otherwise(0),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = (
        marked.withColumn("session_idx", F.sum("is_new").over(w_run))
        .groupBy("user_id", "session_idx")
        .agg(F.min("us").alias("start_us"), F.max("us").alias("end_us"))
    )
    clipped = sessions.select(
        F.explode(
            F.sequence(
                F.expr(f"start_us DIV {_DAY_US}"), F.expr(f"end_us DIV {_DAY_US}")
            )
        ).alias("dayno"),
        "start_us",
        "end_us",
    ).select(
        "dayno",
        F.greatest("start_us", F.expr(f"dayno * {_DAY_US}")).alias("s"),
        F.least("end_us", F.expr(f"(dayno + 1) * {_DAY_US}")).alias("e"),
    )
    deltas = clipped.select(
        "dayno",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("us"), F.lit(1).alias("delta")),
                F.struct(F.col("e").alias("us"), F.lit(-1).alias("delta")),
            )
        ).alias("ev"),
    ).select("dayno", "ev.us", "ev.delta")
    w_day = Window.partitionBy("dayno").orderBy("us", "delta")
    swept = deltas.select(
        "dayno",
        "us",
        "delta",
        F.sum("delta")
        .over(w_day.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("live"),
        F.lead("us").over(w_day).alias("next_us"),
    )
    gap = F.when(
        (F.col("live") > 0) & F.col("next_us").isNotNull(),
        F.col("next_us") - F.col("us"),
    ).otherwise(0)
    return swept.groupBy("dayno").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_intervals"),
        F.sum(gap).cast("bigint").alias("covered_us"),
        F.expr(
            f"CAST(SUM(CASE WHEN live > 0 AND next_us IS NOT NULL "
            f"THEN next_us - us ELSE 0 END) * 1000000 DIV {_DAY_US} AS BIGINT)"
        ).alias("coverage_ppm"),
    )


# ---------------------------------------------------------------------------
# q211: containment (excerpt) detection — directional near-dup
# ---------------------------------------------------------------------------

_CT_W = 5  # shingle width
_CT_DF_CAP = 8  # candidate shingles must appear in <= this many docs
_CT_NUM, _CT_DEN = 9, 10  # containment >= 0.9 of the smaller set


@register(
    "q211_containment_pairs",
    oracle=f"""
    WITH {_BP_SHINGLES_DUCK},
    docs AS (SELECT doc_id, list(tok ORDER BY tok) AS toks
             FROM sh GROUP BY doc_id),
    dfq AS (SELECT tok, count(*) AS df FROM sh GROUP BY tok),
    rare AS (SELECT tok FROM dfq WHERE df BETWEEN 2 AND {_CT_DF_CAP}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM (SELECT doc_id, tok FROM sh JOIN rare USING (tok)) a
        JOIN (SELECT doc_id, tok FROM sh JOIN rare USING (tok)) b
          ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    verify AS (
        SELECT c.id_a, c.id_b,
               len(list_intersect(da.toks, db.toks)) AS inter,
               len(da.toks) AS na, len(db.toks) AS nb
        FROM cand c
        JOIN docs da ON c.id_a = da.doc_id
        JOIN docs db ON c.id_b = db.doc_id
    )
    SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS contained_id,
           CASE WHEN na <= nb THEN id_b ELSE id_a END AS container_id,
           CAST(inter * 1000000 // LEAST(na, nb) AS BIGINT) AS containment_ppm
    FROM verify
    WHERE inter * {_CT_DEN} >= LEAST(na, nb) * {_CT_NUM}
    """,
)
def q211_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional containment (excerpt) detection: pairs where >= 90% of
    the SMALLER document's 5-gram shingles appear in the larger one — the
    quote/excerpt/superset duplication that symmetric Jaccard misses (a
    page embedded in a longer page has high containment but low Jaccard).

    Candidates are pairs sharing a RARE shingle (2 <= df <= {_CT_DF_CAP}):
    the df floor excludes unique shingles (no pair), the cap bounds
    per-shingle fan-out to df^2 <= {_CT_DF_CAP}^2 so candidate volume is
    duplicate-density-bounded, never corpus^2. Recall caveat (documented,
    same class as q52's banding): a pair whose every shared shingle is
    more common than the cap is missed — for excerpt detection rare
    shingles are precisely the informative ones, so this is the standard
    trade.

    Shape at 100 TB: shingle hashes are 8-byte ints before any shuffle;
    df aggregate is map-side combined; the verify joins the per-doc sorted
    shingle arrays only for candidate ids.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    docs = documents.withColumn("ws", F.split("text", " "))
    sh5 = F.expr(
        f"""
        CASE WHEN size(ws) >= {_CT_W} THEN
            array_distinct(transform(sequence(0, size(ws) - {_CT_W}),
                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4])))
        ELSE array() END
        """
    )
    tok = docs.select("doc_id", F.explode(sh5).alias("tok5")).select(
        "doc_id", md5_60bit(F.col("tok5")).alias("tok")
    )
    # one lineage: per-shingle df via window (no df-agg + join-back, which
    # would re-run the explode), then ONE per-doc groupBy collects BOTH the
    # full sorted array and the rare subset; the compact per-doc table is
    # persisted because three downstream consumers (both self-join sides
    # and the verify) would otherwise re-execute the whole shingle lineage
    from pyspark import StorageLevel

    tok_df = tok.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("tok")))
    arrs = (
        tok_df.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list("tok")).alias("toks"),
            F.sort_array(
                F.collect_list(
                    F.when(
                        (F.col("df") >= 2) & (F.col("df") <= _CT_DF_CAP), F.col("tok")
                    )
                )
            ).alias("rares"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rare_tok = arrs.select("doc_id", F.explode("rares").alias("tok"))
    cand = (
        rare_tok.alias("a")
        .join(
            rare_tok.select(
                F.col("doc_id").alias("id_b"), F.col("tok").alias("tok_b")
            ),
            (F.col("tok") == F.col("tok_b")) & (F.col("doc_id") < F.col("id_b")),
        )
        .select(F.col("doc_id").alias("id_a"), "id_b")
        .distinct()
    )
    verify = (
        cand.join(
            arrs.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a")),
            "id_a",
        )
        .join(
            arrs.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("inter"),
            F.size("toks_a").alias("na"),
            F.size("toks_b").alias("nb"),
        )
    )
    return verify.filter(
        F.col("inter") * _CT_DEN >= F.least("na", "nb") * _CT_NUM
    ).select(
        F.when(F.col("na") <= F.col("nb"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("contained_id"),
        F.when(F.col("na") <= F.col("nb"), F.col("id_b"))
        .otherwise(F.col("id_a"))
        .alias("container_id"),
        F.expr("CAST(inter * 1000000 DIV LEAST(na, nb) AS BIGINT)").alias(
            "containment_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# q212: effective sample size of the temperature-reweighted mixture
# ---------------------------------------------------------------------------


@register(
    "q212_effective_sample_size",
    oracle="""
    WITH slices AS (
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang, source
    ),
    scaled AS (
        SELECT lang, source, n_docs, n_tokens,
               CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) AS BIGINT)
                   AS s_micros,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang) AS BIGINT)
                   AS lang_tokens,
               CAST(SUM(CAST(FLOOR(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                             AS BIGINT)) OVER (PARTITION BY lang) AS BIGINT)
                   AS lang_micros
        FROM slices
    ),
    weighted AS (
        SELECT lang, n_docs,
               (s_micros * 1000000 // lang_micros) * 1000
                   // (n_tokens * 1000000 // lang_tokens) AS w_permille
        FROM scaled
    )
    SELECT lang,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(FLOOR(
               CAST(SUM(n_docs * w_permille) AS DOUBLE)
               * CAST(SUM(n_docs * w_permille) AS DOUBLE)
               / CAST(SUM(n_docs * w_permille * w_permille) AS DOUBLE)
               * 1000) AS BIGINT) AS ess_milli,
           CAST(FLOOR(
               CAST(SUM(n_docs * w_permille) AS DOUBLE)
               * CAST(SUM(n_docs * w_permille) AS DOUBLE)
               / CAST(SUM(n_docs * w_permille * w_permille) AS DOUBLE)
               / SUM(n_docs) * 1000000) AS BIGINT) AS ess_ratio_ppm
    FROM weighted
    GROUP BY lang
    """,
)
def q212_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective sample size of the temperature-reweighted mixture (q200's
    tau = 0.5 rule applied within each language): when a slice is sampled
    at weight w relative to its natural share, the Kish ESS
    (Σw)² / Σw² says how many *equivalent uniform* documents the
    reweighted corpus is worth — ESS/n near 1 means reweighting is mild,
    near 0 means a few slices dominate and training will effectively see
    far less data than the row count suggests.

    Everything computes on the SLICE table (one map-side-combined
    aggregate over documents, then arithmetic on ~|lang×source| rows):
    per-doc weights are constant within a slice, so Σw over docs is
    Σ n_s·w_s over slices — the data-scale pass never carries a weight.
    The two final divisions run in DOUBLE on exact integer inputs
    (exactly-rounded IEEE, identical cross-engine); every SUM is integer.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    slices = documents.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens"),
    )
    w_lang = Window.partitionBy("lang")
    scaled = (
        slices.withColumn(
            "s_micros",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000000).cast(
                "bigint"
            ),
        )
        .withColumn("lang_tokens", F.sum("n_tokens").over(w_lang).cast("bigint"))
        .withColumn("lang_micros", F.sum("s_micros").over(w_lang).cast("bigint"))
    )
    weighted = scaled.select(
        "lang",
        "n_docs",
        F.expr(
            "(s_micros * 1000000 DIV lang_micros) * 1000"
            " DIV (n_tokens * 1000000 DIV lang_tokens)"
        ).alias("w_permille"),
    )
    ess = (
        "CAST(SUM(n_docs * w_permille) AS DOUBLE)"
        " * CAST(SUM(n_docs * w_permille) AS DOUBLE)"
        " / CAST(SUM(n_docs * w_permille * w_permille) AS DOUBLE)"
    )
    return weighted.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.expr(f"CAST(FLOOR({ess} * 1000) AS BIGINT)").alias("ess_milli"),
        F.expr(f"CAST(FLOOR({ess} / SUM(n_docs) * 1000000) AS BIGINT)").alias(
            "ess_ratio_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# q213: adaptive rare-bigram quality gate (per-slice p90 threshold)
# ---------------------------------------------------------------------------

_RARITY_SCALE = 1_000_000_000


@register(
    "q213_rare_bigram_gate",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, source, string_split(text, ' ') AS ws
               FROM documents),
    bg AS (
        SELECT doc_id, lang, source,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1])) AS b
        FROM w
    ),
    counted AS (
        SELECT doc_id, lang, source, b,
               count(*) OVER (PARTITION BY lang, b) AS cb
        FROM bg
    ),
    scored AS (
        SELECT doc_id, lang, source,
               CAST(SUM({_RARITY_SCALE} // cb) // count(*) AS BIGINT) AS rarity
        FROM counted
        GROUP BY doc_id, lang, source
    ),
    ranked AS (
        SELECT lang, source, doc_id, rarity,
               row_number() OVER (PARTITION BY lang, source
                                  ORDER BY rarity, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang, source) AS n
        FROM scored
    ),
    cuts AS (
        SELECT lang, source,
               MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN rarity END) AS p90
        FROM ranked GROUP BY lang, source
    )
    SELECT s.lang, s.source,
           count(*) AS n_docs,
           MAX(k.p90) AS p90_rarity,
           CAST(SUM(CASE WHEN s.rarity > k.p90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM scored s JOIN cuts k ON s.lang = k.lang AND s.source = k.source
    GROUP BY s.lang, s.source
    """,
)
def q213_rare_bigram_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quality gate: score each document by mean harmonic bigram
    rarity (Σ 1e9/c(bigram) / n — rare word sequences score high, the
    integer-exact stand-in for the perplexity filters q79 models with
    floats), then flag documents above their OWN (lang, source) slice's
    p90 — adaptive thresholds, because a fixed global cutoff would flag
    whole low-resource slices wholesale.

    Exactness: the score is built from integer corpus counts only
    (integer division per bigram, integer mean), so ranking it for the
    percentile cut can never be flipped by a float ulp — the q209 percentile
    machinery requires an integer-exact score to be hash-stable.

    Shape at 100 TB: one exploded-bigram lineage feeds the per-(lang,
    bigram) count window (vocabulary-sized keys, the q79 single-lineage
    lesson), one per-doc rollup, one per-slice sort window for the cut,
    and a slice-cardinality cuts table joined back on the slice key.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    ws = F.split("text", " ")
    pairs = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = documents.select(
        "doc_id", "lang", "source", F.explode(pairs).alias("b")
    )
    counted = bg.withColumn(
        "cb", F.count(F.lit(1)).over(Window.partitionBy("lang", "b"))
    )
    scored = counted.groupBy("doc_id", "lang", "source").agg(
        F.expr(f"CAST(SUM({_RARITY_SCALE} DIV cb) DIV COUNT(*) AS BIGINT)").alias(
            "rarity"
        )
    )
    # attach the p90 cut with a THIRD window over the same slice
    # partitioning instead of a cuts-table join-back: a join would execute
    # the whole explode+count-window lineage twice (measured: two Generate
    # nodes in the plan); window-chaining keeps it single-pass and all four
    # window functions share one Exchange on the slice key
    w_slice = Window.partitionBy("lang", "source").orderBy("rarity", "doc_id")
    w_flat = Window.partitionBy("lang", "source")
    ranked = (
        scored.withColumn("rn", F.row_number().over(w_slice))
        .withColumn("n", F.count(F.lit(1)).over(w_flat))
        .withColumn(
            "p90",
            F.max(
                F.when(F.col("rn") == F.expr("(9 * n + 9) DIV 10"), F.col("rarity"))
            ).over(w_flat),
        )
    )
    return ranked.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("p90").alias("p90_rarity"),
        F.sum(F.when(F.col("rarity") > F.col("p90"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
    )


# ---------------------------------------------------------------------------
# q214: pairwise cosine-distance histogram (threshold calibration)
# ---------------------------------------------------------------------------

_DH_SCALE = 1_000  # embeddings quantize to 1e-3-scaled BIGINTs


def _cos_bucket_sql() -> str:
    """Bucket index floor(cos*10) in [-10, 9] as a sum of 19 integer-only
    threshold indicators (cos >= t/10 decided by sign analysis plus one
    cross-multiplied square comparison — no sqrt, no float), minus 10.
    Engine-neutral SQL: only *, >=, AND/OR/CASE.
    """
    terms = []
    for t in range(-9, 10):
        t2 = t * t
        if t >= 0:
            cond = f"(dot >= 0 AND dot * dot * 100 >= {t2} * na * nb)"
        else:
            cond = f"(dot >= 0 OR dot * dot * 100 <= {t2} * na * nb)"
        terms.append(f"CASE WHEN {cond} THEN 1 ELSE 0 END")
    return "(" + " + ".join(terms) + ") - 10"


@register(
    "q214_distance_histogram",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_DH_SCALE}) AS BIGINT))
                   AS qv
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id // 2 AS pair_id, a.qv AS qa, b.qv AS qb
        FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
        WHERE a.vec_id % 2 = 0
    ),
    dotted AS (
        SELECT pair_id,
               CAST(list_sum(list_transform(generate_series(1, len(qa)),
                    i -> qa[i] * qb[i])) AS BIGINT) AS dot,
               CAST(list_sum(list_transform(qa, x -> x * x)) AS BIGINT) AS na,
               CAST(list_sum(list_transform(qb, x -> x * x)) AS BIGINT) AS nb
        FROM pairs
    )
    SELECT {_cos_bucket_sql()} AS bucket,
           count(*) AS n_pairs
    FROM dotted
    WHERE na > 0 AND nb > 0
    GROUP BY bucket
    """,
)
def q214_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine-similarity histogram over a deterministic 1-in-2
    pairing (vec 2k vs 2k+1): the similarity-distribution calibration that
    picks LSH thresholds (q202's S-curves need to know where the corpus
    actually lives on the similarity axis) and sanity-checks embedding
    models after retraining.

    Float-free: vectors are floor-quantized to 1e-3-scaled BIGINTs (the
    established _KM_SCALE pattern), the dot product and norms are integer,
    and the bucket floor(cos*10) is decided by 19 cross-multiplied integer
    comparisons (dot² vs t²·‖a‖²·‖b‖²) — no sqrt ever happens, so the
    histogram is bit-identical across engines. Scale bound: |q| <= 1000
    over 64 dims keeps dot² * 100 < 2^63.

    Shape at 100 TB: the pairing is an equi-join on pair id (narrow,
    shuffle on an 8-byte key), the rest is per-row arithmetic + one
    map-side-combined 20-bucket aggregate. Swap the id-pairing for a
    hash-bucketed random pairing at production scale; the plan is
    unchanged.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    q = embeddings.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _DH_SCALE).cast("bigint"),
        ).alias("qv"),
    )
    a = q.filter(F.col("vec_id") % 2 == 0).select(
        F.expr("vec_id DIV 2").alias("pair_id"), F.col("qv").alias("qa")
    )
    b = q.filter(F.col("vec_id") % 2 == 1).select(
        F.expr("(vec_id - 1) DIV 2").alias("pair_id"), F.col("qv").alias("qb")
    )
    zero = F.lit(0).cast("bigint")
    dotted = a.join(b, "pair_id").select(
        "pair_id",
        F.aggregate(
            F.zip_with("qa", "qb", lambda x, y: x * y), zero, lambda acc, v: acc + v
        ).alias("dot"),
        F.aggregate(
            F.transform("qa", lambda x: x * x), zero, lambda acc, v: acc + v
        ).alias("na"),
        F.aggregate(
            F.transform("qb", lambda x: x * x), zero, lambda acc, v: acc + v
        ).alias("nb"),
    )
    return (
        dotted.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(F.expr(_cos_bucket_sql()).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# q215: exact ROC-AUC via grouped rank sums (Mann-Whitney U)
# ---------------------------------------------------------------------------


def _q215_oracle() -> str:
    from .similarity import _LM_W

    return f"""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    scored AS (
        SELECT vec_id,
               CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos,
               CAST(list_sum(list_transform(list_zip(qv, {list(_LM_W)}),
                    p -> p[1] * p[2])) AS BIGINT) AS score
        FROM q
    ),
    grouped AS (
        SELECT score, count(*) AS c, CAST(SUM(pos) AS BIGINT) AS p
        FROM scored GROUP BY score
    ),
    cum AS (
        SELECT score, c, p,
               CAST(COALESCE(SUM(c) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM grouped
    ),
    agg AS (
        SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
               CAST(SUM(c - p) AS BIGINT) AS n_neg,
               CAST(SUM(p * (2 * cum_before + c + 1)) AS BIGINT) AS two_ranksum
        FROM cum
    )
    SELECT n_pos, n_neg,
           CAST((two_ranksum - n_pos * (n_pos + 1)) * 1000000
                // (2 * n_pos * n_neg) AS BIGINT) AS auc_ppm
    FROM agg
    """


@register("q215_auc_rank", oracle=_q215_oracle())
def q215_auc_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the q160 linear model (positive class: odd label)
    computed as the tie-corrected Mann-Whitney rank sum — the model-eval
    primitive a training pipeline runs on every scored eval table.

    Scores are INTEGER (1e-3-quantized embedding · integer weight vector,
    the q214 discipline), so ranking can't be flipped by a float ulp.
    Tie handling is exact: for a score group of size c with p positives
    and C rows below it, twice the average-rank sum of its positives is
    p·(2C + c + 1) — summing that over groups gives the textbook
    tie-averaged U without ever materializing per-row ranks.

    Scale shape: one map-side-combined GROUP BY score collapses the
    corpus to the distinct-score table before any ordering happens; the
    cumulative window then runs over that table, not the corpus. Scores
    here are already coarse integers; at 100 TB you bucket them (fixed-
    width score bins) so the ordered table is bounded-size metadata —
    binned AUC is the standard production trade and the plan is identical.
    """
    from .similarity import _LM_W

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    w_arr = F.lit([int(w) for w in _LM_W])  # one array<bigint> literal node
    zero = F.lit(0).cast("bigint")
    scored = embeddings.select(
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("pos"),
        F.aggregate(
            F.zip_with(qv, w_arr, lambda x, w: x * w), zero, lambda a, v: a + v
        ).alias("score"),
    )
    grouped = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("c"), F.sum("pos").cast("bigint").alias("p")
    )
    w_cum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = grouped.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(w_cum), F.lit(0)).cast("bigint")
    )
    agg = cum.agg(
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum(F.col("c") - F.col("p")).cast("bigint").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("cum_before") + F.col("c") + 1))
        .cast("bigint")
        .alias("two_ranksum"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr(
            "CAST((two_ranksum - n_pos * (n_pos + 1)) * 1000000"
            " DIV (2 * n_pos * n_neg) AS BIGINT)"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# q216: leakage-aware train/test split (group-level assignment)
# ---------------------------------------------------------------------------

_SPLIT_SALT = "split"
_SPLIT_TRAIN_BUCKETS = 8  # hash % 10 < 8 -> train (80/20)


def _q216_oracle() -> str:
    from ..functions.hashing import duckdb_md5_60bit
    from .dedup import _DOUBLED_SQL

    ghash = duckdb_md5_60bit("g.grp", salt=_SPLIT_SALT)
    dhash = duckdb_md5_60bit("CAST(g.doc_id AS VARCHAR)", salt=_SPLIT_SALT)
    return f"""
    WITH corpus AS ({_DOUBLED_SQL}),
    g AS (SELECT doc_id, lang, md5(text) AS grp FROM corpus),
    sides AS (
        SELECT doc_id, lang, grp,
               CASE WHEN {ghash} % 10 < {_SPLIT_TRAIN_BUCKETS}
                    THEN 1 ELSE 0 END AS grp_train,
               CASE WHEN {dhash} % 10 < {_SPLIT_TRAIN_BUCKETS}
                    THEN 1 ELSE 0 END AS naive_train
        FROM g
    ),
    pairs AS (
        SELECT a.lang,
               a.grp_train AS ga, b.grp_train AS gb,
               a.naive_train AS na, b.naive_train AS nb
        FROM sides a JOIN sides b
          ON a.grp = b.grp AND a.doc_id < b.doc_id
    ),
    viol AS (
        SELECT lang,
               CAST(SUM(CASE WHEN ga <> gb THEN 1 ELSE 0 END) AS BIGINT)
                   AS viol_group,
               CAST(SUM(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT)
                   AS viol_naive
        FROM pairs GROUP BY lang
    ),
    counts AS (
        SELECT lang,
               CAST(SUM(grp_train) AS BIGINT) AS n_train,
               CAST(SUM(1 - grp_train) AS BIGINT) AS n_test
        FROM sides GROUP BY lang
    )
    SELECT c.lang, c.n_train, c.n_test,
           COALESCE(v.viol_group, 0) AS viol_group,
           COALESCE(v.viol_naive, 0) AS viol_naive
    FROM counts c LEFT JOIN viol v ON c.lang = v.lang
    """


@register("q216_group_split", oracle=_q216_oracle())
def q216_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware train/test split: assign each DUPLICATE GROUP (content
    digest on the doubled corpus, where every doc has an exact twin) to a
    side by hashing the group key — and prove the point by counting
    same-group pairs that land on different sides under (a) the group
    split — structurally zero — vs (b) a naive per-doc hash split, which
    leaks ~2·0.8·0.2 of duplicate pairs across the boundary. Train/test
    contamination through duplicates is the classic eval-inflation bug in
    LLM pipelines; splitting on the dedup-group key is the fix.

    The group key here is the exact digest; a production pipeline swaps in
    q96's connected-component id (near-dup clusters) — same split logic,
    same plan shape. Scale: one digest shuffle for groups, the salted-hash
    sides are narrow projections, and the violation count joins pairs
    WITHIN groups only (bounded by duplicate density, never corpus²).
    """
    from ..functions.hashing import md5_60bit
    from .dedup import _doubled_docs

    corpus = _doubled_docs(spark, sf_dir)
    g = corpus.select(
        "doc_id", "lang", F.md5(F.col("text").cast("binary")).alias("grp")
    )
    sides = g.select(
        "doc_id",
        "lang",
        "grp",
        F.when(md5_60bit(F.col("grp"), salt=_SPLIT_SALT) % 10 < _SPLIT_TRAIN_BUCKETS, 1)
        .otherwise(0)
        .alias("grp_train"),
        F.when(
            md5_60bit(F.col("doc_id").cast("string"), salt=_SPLIT_SALT) % 10
            < _SPLIT_TRAIN_BUCKETS,
            1,
        )
        .otherwise(0)
        .alias("naive_train"),
    )
    pairs = (
        sides.alias("a")
        .join(
            sides.select(
                F.col("doc_id").alias("doc_b"),
                F.col("grp").alias("grp_b"),
                F.col("grp_train").alias("gb"),
                F.col("naive_train").alias("nb"),
            ),
            (F.col("grp") == F.col("grp_b")) & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(
            "lang",
            (F.col("grp_train") != F.col("gb")).cast("int").alias("vg"),
            (F.col("naive_train") != F.col("nb")).cast("int").alias("vn"),
        )
    )
    viol = pairs.groupBy("lang").agg(
        F.sum("vg").cast("bigint").alias("viol_group"),
        F.sum("vn").cast("bigint").alias("viol_naive"),
    )
    counts = sides.groupBy("lang").agg(
        F.sum("grp_train").cast("bigint").alias("n_train"),
        F.sum(1 - F.col("grp_train")).cast("bigint").alias("n_test"),
    )
    # viol is language-cardinality at any corpus size; the planner's
    # post-aggregate estimate picked a SortMergeJoin — broadcast explicitly
    return counts.join(F.broadcast(viol), "lang", "left").select(
        "lang",
        "n_train",
        "n_test",
        F.coalesce("viol_group", F.lit(0)).alias("viol_group"),
        F.coalesce("viol_naive", F.lit(0)).alias("viol_naive"),
    )



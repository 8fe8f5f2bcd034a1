"""Feature-engineering operators for training-data pipelines: embedding
quantization, vocabulary building, MinHash-estimator diagnostics, and the
approx-percentile accuracy gate.

These extend SURVEY.md §2's LLM-pipeline block (the reference itself is a
producer library — KinesisWriter.scala ships payloads; what a 100 TB training
pipeline does BEFORE shipping is this module's subject).

Scale notes: every operator is a narrow per-row transform followed by one
aggregation shuffle; vector math stays in JVM higher-order functions
(zip_with/aggregate — no Python in the hot path); all emitted metrics are
integer-quantized per row BEFORE summation so results are partition-order
independent and bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ._util import tables
from .dedup import (
    _band_exprs_sql,
    _minhash_sig_sql,
    minhash_signatures,
    _N_HASHES,
    rep_candidates,
    signature_bands,
    _word_hashes_spark,
    _WORD_HASHES_SQL,
    _WORDS_SPARK,
    _WORDS_SQL,
)

# ---------------------------------------------------------------------------
# q131: symmetric int8 embedding quantization
# ---------------------------------------------------------------------------


@register(
    "q131_embedding_quantize",
    oracle="""
    WITH emb AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, label, v,
               greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
                        1e-12) AS scale
        FROM emb
    ),
    quant AS (
        SELECT vec_id, label, v, scale,
               list_transform(v, x -> CAST(round(x / scale, 0) AS INT)) AS q
        FROM scaled
    ),
    err AS (
        SELECT vec_id, label,
               CAST(list_sum(q) AS BIGINT) AS code_sum,
               CAST(round(list_max(
                   list_transform(list_zip(v, q),
                       p -> abs(CAST(p[1] AS DOUBLE)
                                - CAST(p[2] AS DOUBLE) * scale))) * 1e6, 0)
                    AS BIGINT) AS max_err_ppm
        FROM quant
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(code_sum) AS BIGINT) AS total_code_sum,
           CAST(SUM(max_err_ppm) AS BIGINT) AS total_err_ppm,
           MAX(max_err_ppm) AS worst_err_ppm
    FROM err
    GROUP BY label
    """,
)
def q131_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embedding vectors (scale =
    max|x|/127 per vector), with per-label reconstruction-error rollup.

    The standard 100 TB bandwidth cut: int8 codes shrink the vector corpus
    4x before any shuffle-heavy similarity stage. The operator emits an
    integer code checksum (proves the codes themselves match cross-engine,
    not just summary stats) and per-vector max reconstruction error in
    integer ppm — quantized BEFORE the sum, so aggregation is exact and
    order-independent. All vector math is zip_with/aggregate (JVM, no UDF).
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    emb = embeddings.select("vec_id", "label", v.alias("v"))
    scaled = emb.select(
        "vec_id",
        "label",
        "v",
        F.greatest(
            F.array_max(F.transform("v", F.abs)) / 127.0, F.lit(1e-12)
        ).alias("scale"),
    )
    quant = scaled.select(
        "vec_id",
        "label",
        "v",
        "scale",
        F.transform("v", lambda x: F.round(x / F.col("scale"), 0).cast("int")).alias("q"),
    )
    err = quant.select(
        "label",
        F.aggregate("q", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("code_sum"),
        F.round(
            F.array_max(
                F.zip_with("v", "q", lambda x, c: F.abs(x - c.cast("double") * F.col("scale")))
            )
            * 1e6,
            0,
        )
        .cast("bigint")
        .alias("max_err_ppm"),
    )
    return err.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("code_sum").alias("total_code_sum"),
        F.sum("max_err_ppm").alias("total_err_ppm"),
        F.max("max_err_ppm").alias("worst_err_ppm"),
    )


# ---------------------------------------------------------------------------
# q132: vocabulary building — top-k bigrams per language
# ---------------------------------------------------------------------------

_VOCAB_TOPK = 5


@register(
    "q132_vocab_topk_bigrams",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
    ),
    grams AS (
        SELECT lang,
               unnest(list_transform(range(1, len(words)),
                                     i -> words[i] || ' ' || words[i+1])) AS bigram
        FROM w
    ),
    counted AS (
        SELECT lang, bigram, COUNT(*) AS n
        FROM grams GROUP BY lang, bigram
    )
    SELECT lang, bigram, n, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY n DESC, bigram ASC) AS rank
        FROM counted
    )
    WHERE rank <= {_VOCAB_TOPK}
    """,
)
def q132_vocab_topk_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: the top-{k} most frequent word bigrams per
    language (tokenizer-merge candidates / stop-phrase lists).

    Shape at 100 TB: explode to (lang, bigram) rows, ONE counting shuffle
    with map-side partial aggregation (the heavy hitters combine locally),
    then a per-lang top-k window over the (tiny) distinct-bigram counts.
    Ties break deterministically on the bigram text.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    words = F.split("text", " ")
    # bigrams via zip_with over two shifted slices — NOT index lambdas:
    # element_at(words, i) inside a transform lambda inlines the split()
    # for every ELEMENT (O(n^2) splits per doc, measured 2x the query);
    # the slices evaluate split() per row and the lambda touches only its
    # element variables. A 1-word doc yields an empty slice -> no bigrams
    # (DuckDB's range() twin is empty for the same input), guard-free.
    bigrams = F.zip_with(
        F.slice(words, 1, F.size(words) - 1),
        F.slice(words, 2, F.size(words) - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    grams = documents.select("lang", F.explode(bigrams).alias("bigram"))
    counted = grams.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram").asc())
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _VOCAB_TOPK)
        .select("lang", "bigram", "n", "rank")
    )


# ---------------------------------------------------------------------------
# q133: MinHash estimator diagnostics — signature agreement vs exact Jaccard
# ---------------------------------------------------------------------------


@register(
    "q133_minhash_estimate",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_WORDS_SQL} AS words FROM documents),
    hs AS (SELECT doc_id, words, {_WORD_HASHES_SQL} AS hashes FROM w),
    sigs AS (
        SELECT doc_id, words, [{", ".join(_minhash_sig_sql())}] AS signature
        FROM hs
    ),
    bands AS (
        SELECT doc_id, unnest([{", ".join(_band_exprs_sql())}]) AS band_key
        FROM sigs
    ),
    reps AS (
        SELECT band_key, MIN(doc_id) AS rep_id FROM bands GROUP BY band_key
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS doc_a, r.rep_id AS doc_b
        FROM bands b JOIN reps r
          ON b.band_key = r.band_key AND b.doc_id > r.rep_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(range(1, {_N_HASHES} + 1),
                i -> sa.signature[i] = sb.signature[i])) AS BIGINT)
               AS n_sig_matches,
           CAST(round(len(list_intersect(sa.words, sb.words))::DOUBLE
                / len(list_distinct(sa.words || sb.words)) * 1000, 0) AS BIGINT)
               AS jaccard_milli
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    """,
)
def q133_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator diagnostics: for every LSH-candidate pair, the
    number of agreeing signature positions (of {n}) next to the EXACT
    word-set Jaccard in integer per-mille — the data that calibrates
    band/row choices (n_sig_matches/{n} is the unbiased Jaccard estimate).

    Same scale shape as q52: each doc compares only to its bucket's
    REPRESENTATIVE (min doc_id), never pairwise within the bucket — short
    stopword-dominated signatures make hot buckets, and a pairwise join
    inside a hot bucket is quadratic in bucket size; the representative
    join stays ≤ n_bands rows per doc no matter how hot the bucket. The
    whole MinHash family is the cross-engine MD5+affine construction, so
    the oracle runs the identical estimator bit-for-bit.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    words = documents.select("doc_id", _WORDS_SPARK().alias("words"))
    hs = words.select("doc_id", "words", _word_hashes_spark("words").alias("hashes"))
    # materialize ONCE: the signature table feeds the band explode, the
    # rep aggregate, and BOTH sides of the verify join — without the
    # checkpoint the per-word MD5 + 16-permutation lineage re-executes five
    # times through the self-joins (measured 10.7 s -> 3.6 s cold at sf0.1)
    sigs = minhash_signatures(hs, "words").localCheckpoint()
    cand = (
        rep_candidates(signature_bands(sigs))
        .select(F.col("doc_id").alias("doc_a"), F.col("rep_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("words").alias("words_a"),
        F.col("signature").alias("sig_a"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("words").alias("words_b"),
        F.col("signature").alias("sig_b"),
    )
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    jac = (
        F.size(F.array_intersect("words_a", "words_b")).cast("double")
        / F.size(F.array_union("words_a", "words_b"))
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            matches.alias("n_sig_matches"),
            F.round(jac * 1000, 0).cast("bigint").alias("jaccard_milli"),
        )
    )


# ---------------------------------------------------------------------------
# q136: approx-percentile accuracy gate (the q16 pattern for quantiles)
# ---------------------------------------------------------------------------


@register(
    "q136_approx_percentile_gate",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 2) AS exact_median,
           ROUND(quantile_cont(o_totalprice, 0.9), 2) AS exact_p90,
           TRUE AS median_within_2pct,
           TRUE AS p90_within_2pct
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q136_approx_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy gate for ``approx_percentile`` — the single-pass
    t-digest/GK quantile every 100 TB pipeline substitutes for exact
    percentiles (q49's documented swap-in). Emits the EXACT interpolated
    percentiles (oracle-checkable) plus booleans asserting the approximate
    answer landed within 2% of exact; the oracle expects TRUE, so estimator
    drift fails the hash gate like any value bug (the q16/q121 pattern).
    """
    (orders,) = tables(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("ex_med"),
        F.percentile("o_totalprice", F.lit(0.9)).alias("ex_p90"),
        F.approx_percentile("o_totalprice", F.lit(0.5), F.lit(10000)).alias("ap_med"),
        F.approx_percentile("o_totalprice", F.lit(0.9), F.lit(10000)).alias("ap_p90"),
    )
    return agg.select(
        "o_orderstatus",
        F.round("ex_med", 2).alias("exact_median"),
        F.round("ex_p90", 2).alias("exact_p90"),
        (F.abs(F.col("ap_med") - F.col("ex_med")) <= 0.02 * F.abs(F.col("ex_med"))).alias(
            "median_within_2pct"
        ),
        (F.abs(F.col("ap_p90") - F.col("ex_p90")) <= 0.02 * F.abs(F.col("ex_p90"))).alias(
            "p90_within_2pct"
        ),
    )


@register(
    "q147_exact_corr",
    oracle="""
    WITH m AS (
        SELECT l_returnflag,
               CAST(ROUND(l_quantity, 0) AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        FROM m GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)
                 / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)),
                 6) AS corr_qty_price
    FROM s
    """,
)
def q147_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT integer moments — the deterministic
    twin of ``corr()``: quantity and price-cents are integer-exact per row,
    the five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate as wide integers
    (DECIMAL(38) / HUGEINT — associative, partition-order independent,
    overflow-safe at 100 TB where int64 moments would wrap), and the
    closed-form corr is evaluated in double only at the very end from
    identical exact inputs, so ROUND(…, 6) cannot disagree between engines.
    Built-in ``corr()`` is a streaming float recurrence whose result
    depends on aggregation order — unusable under a bit-exact gate.

    Shape: one grouped aggregation with map-side partials; the five
    moments ride one shuffle of 3 group keys. This is also the right
    100 TB shape for covariance/regression fits — exact partial moments,
    closed form at the end.
    """
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity"), 0).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    m = lineitem.select("l_returnflag", x.alias("x"), y.alias("y"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = m.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).cast("double").alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).cast("double").alias("syy"),
    )
    n = F.col("n")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select("l_returnflag", "n", F.round(corr, 6).alias("corr_qty_price"))


@register(
    "q151_chi_square",
    oracle="""
    WITH obs AS (
        SELECT event_type,
               CAST(EXTRACT(dow FROM ts) AS BIGINT) % 7 AS dow,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ),
    margins AS (
        SELECT o.event_type, o.dow, o.o,
               SUM(o.o) OVER (PARTITION BY o.event_type) AS row_total,
               SUM(o.o) OVER (PARTITION BY o.dow) AS col_total,
               SUM(o.o) OVER () AS grand
        FROM obs o
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM((o - CAST(row_total AS DOUBLE) * col_total / grand)
                     * (o - CAST(row_total AS DOUBLE) * col_total / grand)
                     / (CAST(row_total AS DOUBLE) * col_total / grand)), 4)
               AS chi_square
    FROM margins
    """,
)
def q151_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence statistic for (event_type × day-of-week) —
    the categorical drift / A-B sanity test, computed from the contingency
    table. Observed counts are exact integers; expected counts and the
    statistic evaluate in double from those exact inputs with the identical
    expression on both engines, so ROUND(…, 4) agrees bit-for-bit (per-cell
    terms are summed over ≤ |types|·7 cells — a bounded, deterministic
    reduction after the one grouped-count shuffle).

    Scale shape: the only corpus-sized operation is the grouped count with
    map-side combine; margins are windows over the tiny contingency table.
    """
    (events,) = tables(spark, sf_dir, "events")
    # Spark dayofweek is 1..7 (Sun=1); DuckDB dow is 0..6 (Sun=0) — align
    obs = events.groupBy(
        "event_type", ((F.dayofweek("ts") - 1) % 7).cast("bigint").alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("dow")
    w_all = Window.partitionBy()
    m = obs.select(
        "o",
        F.sum("o").over(w_row).alias("row_total"),
        F.sum("o").over(w_col).alias("col_total"),
        F.sum("o").over(w_all).alias("grand"),
    )
    e = F.col("row_total").cast("double") * F.col("col_total") / F.col("grand")
    return m.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum((F.col("o") - e) * (F.col("o") - e) / e), 4).alias("chi_square"),
    )


@register(
    "q152_listagg",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS supplier_csv
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q152_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg / group_concat —
    the report-building surface): supplier names per nation, comma-joined
    in deterministic name order.

    ``listagg`` without WITHIN GROUP is partition-order dependent —
    useless under a bit-exact gate and irreproducible at scale; the
    deterministic form here is ``array_sort(collect_list(...))`` joined
    after sorting (equivalent to LISTAGG ... WITHIN GROUP (ORDER BY), and
    the shape Spark executes for it). The dim join broadcasts; one shuffle
    groups by nation.
    """
    supplier, nation = tables(spark, sf_dir, "supplier", "nation")
    return (
        supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
                "supplier_csv"
            ),
        )
    )

"""Audit / maintenance-planning operators (split from pipeline_ops, r8):
incremental join maintenance, next-event eval, MMR selection,
watermark sizing, embedding QC, deletion impact, decomposition,
point-in-time labels, tokenizer losslessness, dedup transitivity,
shard rebalance planning, partition advice, conversion percentiles,
token budgets (q230-q243).

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
# q230: incremental join maintenance (delta-join rule for materialized views)
# ---------------------------------------------------------------------------

_DJ_MOD = 11  # orders with o_orderkey % 11 == 0 play the "delta batch"


@register(
    "q230_incremental_join_maintenance",
    oracle=f"""
    WITH base_orders AS (
        SELECT * FROM orders WHERE o_orderkey % {_DJ_MOD} <> 0
    ),
    delta_orders AS (
        SELECT * FROM orders WHERE o_orderkey % {_DJ_MOD} = 0
    ),
    base_view AS (
        SELECT n.n_name AS nation, count(*) AS cnt,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM base_orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    delta_view AS (
        SELECT n.n_name AS nation, count(*) AS cnt,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM delta_orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    ),
    maintained AS (
        SELECT COALESCE(b.nation, d.nation) AS nation,
               CAST(COALESCE(b.cnt, 0) + COALESCE(d.cnt, 0) AS BIGINT) AS cnt,
               CAST(COALESCE(b.cents, 0) + COALESCE(d.cents, 0) AS BIGINT) AS cents
        FROM base_view b FULL OUTER JOIN delta_view d ON b.nation = d.nation
    ),
    full_recompute AS (
        SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT m.nation, m.cnt, m.cents,
           (m.cnt = f.cnt AND m.cents = f.cents) AS matches_recompute
    FROM maintained m JOIN full_recompute f ON m.nation = f.nation
    """,
)
def q230_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (orders ⋈ customer ⋈ nation
    rolled up per nation): when a delta batch of orders arrives, the view
    updates by joining ONLY the delta against the dimensions and merging
    into the base aggregate — the delta-join rule (Δ(R ⋈ S) = ΔR ⋈ S when
    only R changes) that q195 applied to plain aggregates, extended to
    joins. The query computes the maintained result AND the full
    recompute, and emits a per-group boolean proving they agree — the
    self-auditing pattern a production refresh job should ship with.

    Shape at 100 TB: refresh cost is delta-sized (the delta joins
    broadcast dims and partially aggregates before the merge); the
    full-recompute branch exists only as the audit and drops out of the
    production plan. The merge is a group-key full-outer join of two
    aggregate tables — group-cardinality, not fact-cardinality.
    """
    (orders, customer, nation) = tables(spark, sf_dir, "orders", "customer", "nation")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")

    def view_of(o: DataFrame) -> DataFrame:
        return (
            o.join(customer, o.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum(cents).cast("bigint").alias("cents"),
            )
        )

    base_view = view_of(orders.filter(F.col("o_orderkey") % _DJ_MOD != 0))
    delta_view = view_of(orders.filter(F.col("o_orderkey") % _DJ_MOD == 0))
    maintained = (
        base_view.withColumnRenamed("cnt", "b_cnt")
        .withColumnRenamed("cents", "b_cents")
        .join(
            delta_view.withColumnRenamed("cnt", "d_cnt").withColumnRenamed(
                "cents", "d_cents"
            ),
            "nation",
            "full_outer",
        )
        .select(
            "nation",
            (F.coalesce("b_cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0)))
            .cast("bigint")
            .alias("cnt"),
            (F.coalesce("b_cents", F.lit(0)) + F.coalesce("d_cents", F.lit(0)))
            .cast("bigint")
            .alias("cents"),
        )
    )
    full = view_of(orders).withColumnRenamed("cnt", "f_cnt").withColumnRenamed(
        "cents", "f_cents"
    )
    # full is nation-cardinality (post-aggregate); broadcast explicitly —
    # the planner's estimate picked a SortMergeJoin for this 25-row side
    return maintained.join(F.broadcast(full), "nation").select(
        "nation",
        "cnt",
        "cents",
        (
            (F.col("cnt") == F.col("f_cnt")) & (F.col("cents") == F.col("f_cents"))
        ).alias("matches_recompute"),
    )


# ---------------------------------------------------------------------------
# q231: next-event prediction eval (Markov argmax, train/test split)
# ---------------------------------------------------------------------------


@register(
    "q231_next_event_eval",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type,
               event_id % 2 AS fold
        FROM events
    ),
    pairs AS (
        SELECT fold, event_type AS prev, next_type AS nxt
        FROM seq WHERE next_type IS NOT NULL
    ),
    model AS (
        SELECT prev, nxt AS predicted
        FROM (
            SELECT prev, nxt,
                   row_number() OVER (PARTITION BY prev
                                      ORDER BY count(*) DESC, nxt) AS rnk
            FROM pairs WHERE fold = 0 GROUP BY prev, nxt
        ) WHERE rnk = 1
    ),
    test AS (
        SELECT p.prev, p.nxt, m.predicted
        FROM pairs p LEFT JOIN model m ON p.prev = m.prev
        WHERE p.fold = 1
    )
    SELECT prev,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS accuracy_ppm,
           MAX(predicted) AS predicted_next
    FROM test GROUP BY prev
    """,
)
def q231_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction evaluated honestly: a Markov top-1 model
    (argmax next-event per previous-event) is TRAINED on the even-id half
    of each user's transitions and SCORED on the odd-id half — per
    previous-event test count, hits, and accuracy. This is the eval twin
    of q157's transition matrix: the matrix describes, this one measures
    whether the description predicts.

    Determinism: the argmax ties break on the event-type name (shared
    ORDER BY); transitions order by (ts, event_id) like every sequence
    operator in the registry.

    Shape at 100 TB: transitions come from the q108 user-partitioned
    LEAD window; the model is a |event-types|² aggregate (tiny) whose
    argmax runs over that metadata table; scoring is a broadcast join of
    the model onto the test fold. One fact-table window, one broadcast.
    """
    (events,) = tables(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        F.lead("event_type").over(w_seq).alias("next_type"),
        (F.col("event_id") % 2).alias("fold"),
    ).filter(F.col("next_type").isNotNull())
    pairs = seq.select("fold", F.col("event_type").alias("prev"), F.col("next_type").alias("nxt"))
    counts = (
        pairs.filter(F.col("fold") == 0)
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_rank = Window.partitionBy("prev").orderBy(F.col("n").desc(), "nxt")
    model = (
        counts.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") == 1)
        .select("prev", F.col("nxt").alias("predicted"))
    )
    test = pairs.filter(F.col("fold") == 1).join(F.broadcast(model), "prev", "left")
    return test.groupBy("prev").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.when(F.col("nxt") == F.col("predicted"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.expr(
            "CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) * 1000000"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("accuracy_ppm"),
        F.max("predicted").alias("predicted_next"),
    )


# ---------------------------------------------------------------------------
# q232: MMR diversified selection (greedy maximal marginal relevance)
# ---------------------------------------------------------------------------

_MMR_POOL = 8  # candidate pool size (top-k by relevance)
_MMR_K = 3  # selections
_MMR_REL_W, _MMR_DIV_W = 10, 6  # integer λ: gain = 10·rel − 6·max_sim


def _q232_oracle() -> str:
    dot = (
        "CAST(list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i])) AS BIGINT)"
    )
    return f"""
    WITH qv AS (
        SELECT list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings WHERE vec_id = 0
    ),
    cands AS (
        SELECT e.vec_id AS doc_id,
               list_transform(e.embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS dv,
               {dot.format(a="list_transform(e.embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))", b="qv.v")} AS rel
        FROM embeddings e, qv
        WHERE e.vec_id <> 0
        ORDER BY rel DESC, doc_id LIMIT {_MMR_POOL}
    ),
    s1 AS (SELECT * FROM cands ORDER BY rel DESC, doc_id LIMIT 1),
    g2 AS (
        SELECT c.doc_id, c.dv, c.rel,
               {_MMR_REL_W} * c.rel
                   - {_MMR_DIV_W} * {dot.format(a="c.dv", b="s1.dv")} AS gain
        FROM cands c, s1 WHERE c.doc_id <> s1.doc_id
    ),
    s2 AS (SELECT * FROM g2 ORDER BY gain DESC, doc_id LIMIT 1),
    g3 AS (
        SELECT c.doc_id, c.rel,
               {_MMR_REL_W} * c.rel - {_MMR_DIV_W} * GREATEST(
                   {dot.format(a="c.dv", b="s1.dv")},
                   {dot.format(a="c.dv", b="s2.dv")}) AS gain
        FROM cands c, s1, s2
        WHERE c.doc_id <> s1.doc_id AND c.doc_id <> s2.doc_id
    ),
    s3 AS (SELECT * FROM g3 ORDER BY gain DESC, doc_id LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS rank, s1.doc_id, s1.rel FROM s1
    UNION ALL
    SELECT 2, s2.doc_id, s2.rel FROM s2
    UNION ALL
    SELECT 3, s3.doc_id, s3.rel FROM s3
    """


@register("q232_mmr_selection", oracle=_q232_oracle())
def q232_mmr_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection — the diversified top-k used
    for RAG context packing and training-set diversification: greedily
    pick {_MMR_K} items from the top-{_MMR_POOL} relevance pool, each
    step maximizing 10·relevance − 6·(max similarity to the already
    selected), all similarities integer dot products.

    Split of labor: the DISTRIBUTED part is the relevance top-{_MMR_POOL}
    (one corpus scan + TakeOrdered); the greedy runs on the collected
    {_MMR_POOL}-row pool driver-side — pool size is the model here, the
    q97/q134 tiny-model rule — and the selected ids filter the
    distributed candidate plan for the returned rows, so the output
    carries full lineage. The oracle unrolls the same greedy in SQL.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    quant = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    qv = embeddings.filter(F.col("vec_id") == 0).select(quant.alias("qv"))
    zero = F.lit(0).cast("bigint")
    cands = (
        embeddings.filter(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"), quant.alias("dv"))
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "dv",
            F.aggregate(
                F.zip_with("dv", "qv", lambda a, b: a * b), zero, lambda a, v: a + v
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "doc_id")
        .limit(_MMR_POOL)
    )
    pool = cands.collect()  # _MMR_POOL rows — the "model"
    vecs = {r["doc_id"]: list(r["dv"]) for r in pool}
    rels = {r["doc_id"]: r["rel"] for r in pool}
    selected: list[int] = []
    for _ in range(_MMR_K):
        best_id, best_gain = None, None
        for did in sorted(vecs):
            if did in selected:
                continue
            pen = max(
                (sum(a * b for a, b in zip(vecs[did], vecs[s])) for s in selected),
                default=0,
            )
            gain = _MMR_REL_W * rels[did] - (_MMR_DIV_W * pen if selected else 0)
            if selected:
                key = gain
            else:
                key = rels[did]
            if best_gain is None or key > best_gain:
                best_gain, best_id = key, did
        selected.append(best_id)
    rank_expr = F.create_map(
        *[x for d, r in zip(selected, range(1, _MMR_K + 1)) for x in (F.lit(d), F.lit(r))]
    )
    return (
        cands.filter(F.col("doc_id").isin(selected))
        .select(
            rank_expr[F.col("doc_id")].cast("bigint").alias("rank"),
            "doc_id",
            "rel",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# q233: watermark sizing — smallest delay covering 99.9% of late arrivals
# ---------------------------------------------------------------------------

_WM_COVERAGE_PPM = 999_000  # target: drop at most 0.1% of rows as too-late


@register(
    "q233_watermark_advice",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               MAX(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hwm
        FROM events
    ),
    lateness AS (
        SELECT CAST(hwm - us AS BIGINT) AS late_us FROM ordered
    ),
    grouped AS (
        SELECT late_us, CAST(count(*) AS BIGINT) AS c
        FROM lateness GROUP BY late_us
    ),
    cum AS (
        SELECT late_us,
               CAST(SUM(c) OVER (ORDER BY late_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS covered,
               CAST(SUM(c) OVER () AS BIGINT) AS total
        FROM grouped
    )
    SELECT MIN(late_us) AS watermark_us,
           CAST(MIN(late_us) // 1000000 AS BIGINT) AS watermark_sec,
           (SELECT MAX(total) FROM cum) AS n_events,
           (SELECT MIN(covered) FROM cum
            WHERE covered * 1000000 >= total * {_WM_COVERAGE_PPM}) AS n_covered
    FROM cum
    WHERE covered * 1000000 >= total * {_WM_COVERAGE_PPM}
    """,
)
def q233_watermark_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing from measured disorder: treating event_id as
    arrival order (q203's convention), each event's lateness is the gap
    to its user's event-time high-water mark at arrival; the advised
    watermark is the SMALLEST delay whose cumulative coverage reaches
    99.9% of events — the number you paste into ``withWatermark`` so the
    state store holds just enough and late drops stay under the SLO.

    Shape: per-user running-max window (fact-partitioned), then the q215
    collapse — lateness groups to its distinct-value table before the one
    cumulative pass; the threshold scan is integer cross-multiplied
    (covered·1e6 ≥ total·target), no float percentile.
    """
    (events,) = tables(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w_arr = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lateness = events.select(
        (F.max(us).over(w_arr) - us).cast("bigint").alias("late_us")
    )
    grouped = lateness.groupBy("late_us").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    w_cum = Window.orderBy("late_us").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grouped.select(
        "late_us",
        F.sum("c").over(w_cum).cast("bigint").alias("covered"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("total"),
    )
    hit = cum.filter(
        F.col("covered") * 1_000_000 >= F.col("total") * _WM_COVERAGE_PPM
    )
    return hit.agg(
        F.min("late_us").alias("watermark_us"),
        F.expr("CAST(MIN(late_us) DIV 1000000 AS BIGINT)").alias("watermark_sec"),
        F.max("total").alias("n_events"),
        F.min("covered").alias("n_covered"),
    )


# ---------------------------------------------------------------------------
# q234: embedding-table quality audit (vector QC before indexing)
# ---------------------------------------------------------------------------

_VQC_SCALE = 1_000_000  # norms audited in 1e-6-scaled integer units


@register(
    "q234_vector_qc",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv,
               len(embedding) AS dim
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, dim,
               CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
        FROM q
    ),
    dims AS (
        SELECT i + 1 AS d, MIN(qv[i + 1]) AS mn, MAX(qv[i + 1]) AS mx
        FROM q, LATERAL unnest(range(0, 64)) t(i)
        GROUP BY i + 1
    ),
    ranked AS (
        SELECT n2, row_number() OVER (ORDER BY n2, vec_id) AS rn,
               count(*) OVER () AS n
        FROM norms
    ),
    med AS (SELECT n2 AS med_n2 FROM ranked WHERE rn = (n + 1) // 2)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM norms) AS n_vectors,
           (SELECT CAST(MIN(dim) AS BIGINT) FROM norms) AS min_dim,
           (SELECT CAST(MAX(dim) AS BIGINT) FROM norms) AS max_dim,
           (SELECT CAST(SUM(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            FROM norms) AS n_zero_norm,
           (SELECT CAST(med_n2 AS BIGINT) FROM med) AS median_norm2,
           (SELECT CAST(count(*) AS BIGINT) FROM norms, med
            WHERE n2 * 100 > med_n2 * 400) AS n_norm_outliers,
           (SELECT CAST(SUM(CASE WHEN mn = mx THEN 1 ELSE 0 END) AS BIGINT)
            FROM dims) AS n_dead_dims
    """,
)
def q234_vector_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-table quality audit — the checks an indexing pipeline runs
    BEFORE building ANN structures: vector count, dimension consistency,
    zero-norm vectors (undefined cosine), norm outliers (squared norm
    > 4× the median — embedding-model regressions show up here first),
    and dead dimensions (constant across the corpus — wasted index bits).

    Integer discipline: norms audit in quantized-squared units and the
    outlier bound cross-multiplies against the exact rank-median; the
    per-dimension min/max pass is a posexplode + 64-group aggregate.
    One corpus pass for norms + one for dimensions; everything else is
    metadata-scale.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    quant = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    zero = F.lit(0).cast("bigint")
    norms = embeddings.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.aggregate(
            F.transform(quant, lambda x: x * x), zero, lambda a, v: a + v
        ).alias("n2"),
    )
    dims = (
        embeddings.select(F.posexplode(quant).alias("i", "v"))
        .groupBy("i")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )
    # exact rank-median WITHOUT a global-sort window: histogram-rank
    # decomposition (bucketed counts -> broadcast base ranks -> per-bucket
    # row_number), then pick rank (n+1) DIV 2 — same result as the old
    # corpus-sized `row_number() OVER (ORDER BY n2, vec_id)` single task
    from ._util import distributed_row_number

    ranked = distributed_row_number(
        norms,
        bucket=F.floor(F.col("n2") / F.lit(100000)).cast("bigint"),
        order_by=[F.col("n2").asc(), F.col("vec_id").asc()],
    ).crossJoin(F.broadcast(norms.groupBy().agg(F.count(F.lit(1)).alias("n"))))
    med = ranked.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        F.col("n2").alias("med_n2")
    )
    norm_stats = norms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.min("dim").cast("bigint").alias("min_dim"),
        F.max("dim").cast("bigint").alias("max_dim"),
        F.sum(F.when(F.col("n2") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_norm"),
    )
    outliers = (
        norms.crossJoin(F.broadcast(med))
        .filter(F.col("n2") * 100 > F.col("med_n2") * 400)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_norm_outliers"))
    )
    dead = dims.agg(
        F.sum(F.when(F.col("mn") == F.col("mx"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dead_dims")
    )
    return (
        norm_stats.crossJoin(F.broadcast(med.select(F.col("med_n2").cast("bigint").alias("median_norm2"))))
        .crossJoin(F.broadcast(outliers))
        .crossJoin(F.broadcast(dead))
        .select(
            "n_vectors",
            "min_dim",
            "max_dim",
            "n_zero_norm",
            "median_norm2",
            "n_norm_outliers",
            "n_dead_dims",
        )
    )


# ---------------------------------------------------------------------------
# q235: deletion-impact audit (right-to-be-forgotten cascade sizing)
# ---------------------------------------------------------------------------

_DEL_MOD = 13  # customers with c_custkey % 13 == 0 file deletion requests


@register(
    "q235_deletion_impact",
    oracle=f"""
    WITH dele AS (
        SELECT c_custkey FROM customer WHERE c_custkey % {_DEL_MOD} = 0
    ),
    o AS (
        SELECT count(*) AS n FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM dele)
    ),
    l AS (
        SELECT count(*) AS n FROM lineitem
        WHERE l_orderkey IN (
            SELECT o_orderkey FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM dele))
    ),
    e AS (
        SELECT count(*) AS n FROM events
        WHERE user_id IN (SELECT c_custkey FROM dele)
    )
    SELECT 'customer' AS table_name,
           (SELECT CAST(count(*) AS BIGINT) FROM dele) AS n_delete,
           (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_total
    UNION ALL
    SELECT 'orders', (SELECT CAST(n AS BIGINT) FROM o),
           (SELECT CAST(count(*) AS BIGINT) FROM orders)
    UNION ALL
    SELECT 'lineitem', (SELECT CAST(n AS BIGINT) FROM l),
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem)
    UNION ALL
    SELECT 'events', (SELECT CAST(n AS BIGINT) FROM e),
           (SELECT CAST(count(*) AS BIGINT) FROM events)
    """,
)
def q235_deletion_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact audit: given a deletion request list
    (customers with key % {_DEL_MOD} == 0), size the cascade across every
    table that references them — direct rows (orders, events) and
    transitive rows (lineitem via the affected orders) — per table,
    rows-to-delete vs total. The sizing query a privacy pipeline runs
    before executing deletes, and the shape of the delete itself (swap
    the counts for an anti-join writer).

    Shape at 100 TB: the request list is small → every probe is a
    LEFT SEMI join against a BROADCAST of the keys (and of the affected
    order ids for the transitive hop) — fact tables stream, never
    shuffle; per-table counts are one aggregate each, unioned into the
    4-row report.
    """
    (customer, orders, lineitem, events) = tables(
        spark, sf_dir, "customer", "orders", "lineitem", "events"
    )
    dele = customer.filter(F.col("c_custkey") % _DEL_MOD == 0).select("c_custkey")
    aff_orders = orders.join(
        F.broadcast(dele), orders.o_custkey == dele.c_custkey, "left_semi"
    )
    aff_order_keys = aff_orders.select("o_orderkey")

    def one(name: str, to_delete, total) -> DataFrame:
        d = to_delete.agg(F.count(F.lit(1)).cast("bigint").alias("n_delete"))
        t = total.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
        return d.crossJoin(F.broadcast(t)).select(
            F.lit(name).alias("table_name"), "n_delete", "n_total"
        )

    return (
        one("customer", dele, customer)
        .unionByName(one("orders", aff_orders, orders))
        .unionByName(
            one(
                "lineitem",
                lineitem.join(
                    F.broadcast(aff_order_keys),
                    lineitem.l_orderkey == aff_order_keys.o_orderkey,
                    "left_semi",
                ),
                lineitem,
            )
        )
        .unionByName(
            one(
                "events",
                events.join(
                    F.broadcast(dele), events.user_id == dele.c_custkey, "left_semi"
                ),
                events,
            )
        )
    )


# ---------------------------------------------------------------------------
# q236: rate-difference decomposition (Kitagawa: composition vs rate effects)
# ---------------------------------------------------------------------------


@register(
    "q236_rate_decomposition",
    oracle="""
    WITH flags AS (
        SELECT lang, source,
               CASE WHEN source IN ('src0', 'src1') THEN 'A' ELSE 'B' END AS grp,
               CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END AS ok
        FROM documents
    ),
    cells AS (
        SELECT grp, lang, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(ok) AS BIGINT) AS k
        FROM flags GROUP BY grp, lang
    ),
    tot AS (
        SELECT grp, CAST(SUM(n) AS BIGINT) AS nt FROM cells GROUP BY grp
    ),
    wide AS (
        SELECT c.lang,
               MAX(CASE WHEN c.grp = 'A' THEN c.n END) AS na,
               MAX(CASE WHEN c.grp = 'A' THEN c.k END) AS ka,
               MAX(CASE WHEN c.grp = 'B' THEN c.n END) AS nb,
               MAX(CASE WHEN c.grp = 'B' THEN c.k END) AS kb,
               MAX(CASE WHEN t.grp = 'A' THEN t.nt END) AS nta,
               MAX(CASE WHEN t.grp = 'B' THEN t.nt END) AS ntb
        FROM cells c, tot t
        GROUP BY c.lang
    )
    SELECT lang,
           CAST(na * 1000000 // nta AS BIGINT) AS weight_a_ppm,
           CAST(nb * 1000000 // ntb AS BIGINT) AS weight_b_ppm,
           CAST(ka * 1000000 // na AS BIGINT) AS rate_a_ppm,
           CAST(kb * 1000000 // nb AS BIGINT) AS rate_b_ppm,
           -- rate effect: A's mix applied to the rate gap; pp12 scale
           -- (no final division: integer DIV vs // disagree on negatives)
           CAST((na * 1000000 // nta)
                * ((ka * 1000000 // na) - (kb * 1000000 // nb))
                AS BIGINT) AS rate_effect_pp12,
           -- composition effect: the mix gap at B's rate; pp12 scale
           CAST(((na * 1000000 // nta) - (nb * 1000000 // ntb))
                * (kb * 1000000 // nb) AS BIGINT)
               AS composition_effect_pp12
    FROM wide
    """,
)
def q236_rate_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kitagawa (Oaxaca-Blinder) decomposition of a pass-rate difference
    between two source groups: per language slice, how much of the
    overall quality-pass-rate gap comes from the groups having DIFFERENT
    RATES within the slice (rate effect) vs having a DIFFERENT MIX of
    slices (composition effect). Answering "is source B worse, or does it
    just carry more hard languages?" is this exact decomposition — the
    analytics step after q192 flags a slice drift.

    Integer discipline: all weights and rates are floored ppm before the
    products; the effect terms stay in pp12 scale (ppm x ppm) with NO
    final division — Spark's DIV truncates toward zero while DuckDB's //
    floors, so a negative effect would disagree by one ulp if divided.
    Shape: one (grp, lang) aggregate, a 2-row total, a lang-cardinality
    pivot — metadata-scale after the first pass.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    flags = documents.select(
        "lang",
        F.when(F.col("source").isin("src0", "src1"), "A").otherwise("B").alias("grp"),
        F.when(F.col("n_chars") >= 150, 1).otherwise(0).alias("ok"),
    )
    cells = flags.groupBy("grp", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ok").cast("bigint").alias("k"),
    )
    tot = cells.groupBy("grp").agg(F.sum("n").cast("bigint").alias("nt"))
    wide = (
        cells.crossJoin(F.broadcast(tot.withColumnRenamed("grp", "tgrp")))
        .groupBy("lang")
        .agg(
            F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("na"),
            F.max(F.when(F.col("grp") == "A", F.col("k"))).alias("ka"),
            F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("nb"),
            F.max(F.when(F.col("grp") == "B", F.col("k"))).alias("kb"),
            F.max(F.when(F.col("tgrp") == "A", F.col("nt"))).alias("nta"),
            F.max(F.when(F.col("tgrp") == "B", F.col("nt"))).alias("ntb"),
        )
    )
    return wide.selectExpr(
        "lang",
        "CAST(na * 1000000 DIV nta AS BIGINT) AS weight_a_ppm",
        "CAST(nb * 1000000 DIV ntb AS BIGINT) AS weight_b_ppm",
        "CAST(ka * 1000000 DIV na AS BIGINT) AS rate_a_ppm",
        "CAST(kb * 1000000 DIV nb AS BIGINT) AS rate_b_ppm",
        "CAST((na * 1000000 DIV nta)"
        " * ((ka * 1000000 DIV na) - (kb * 1000000 DIV nb))"
        " AS BIGINT) AS rate_effect_pp12",
        "CAST(((na * 1000000 DIV nta) - (nb * 1000000 DIV ntb))"
        " * (kb * 1000000 DIV nb) AS BIGINT)"
        " AS composition_effect_pp12",
    )


# ---------------------------------------------------------------------------
# q237: point-in-time-correct churn label generation
# ---------------------------------------------------------------------------

_CH_HORIZON_DAYS = 7  # churn = no activity within this many days AFTER d
_CH_LOOKBACK_DAYS = 7  # feature window strictly BEFORE (and including) d


@register(
    "q237_churn_labels",
    oracle=f"""
    WITH activity AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
                   AS dayno
        FROM events
    ),
    daily AS (
        SELECT user_id,
               CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
                   AS dayno,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id, dayno
    ),
    labeled AS (
        SELECT a.user_id, a.dayno,
               LEAD(a.dayno) OVER (PARTITION BY a.user_id ORDER BY a.dayno)
                   AS next_day
        FROM activity a
    ),
    feat AS (
        SELECT d.user_id, d.dayno,
               CAST(SUM(d.n_events) OVER (PARTITION BY d.user_id ORDER BY d.dayno
                    RANGE BETWEEN {_CH_LOOKBACK_DAYS - 1} PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS events_7d,
               CAST(count(*) OVER (PARTITION BY d.user_id ORDER BY d.dayno
                    RANGE BETWEEN {_CH_LOOKBACK_DAYS - 1} PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS active_days_7d
        FROM daily d
    ),
    maxday AS (
        SELECT CAST(MAX(dayno) AS BIGINT) AS mx FROM activity
    )
    SELECT l.user_id, l.dayno,
           f.events_7d, f.active_days_7d,
           CASE WHEN l.next_day IS NULL OR l.next_day - l.dayno > {_CH_HORIZON_DAYS}
                THEN 1 ELSE 0 END AS churned
    FROM labeled l
    JOIN feat f ON l.user_id = f.user_id AND l.dayno = f.dayno
    CROSS JOIN maxday m
    WHERE l.dayno + {_CH_HORIZON_DAYS} <= m.mx
    """,
)
def q237_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct churn label generation — the step where most
    ML pipelines silently leak: for every (user, active day d), features
    come from the trailing {_CH_LOOKBACK_DAYS}-day window ENDING at d
    (events_7d, active_days_7d) and the label (churned = no activity in
    the following {_CH_HORIZON_DAYS} days) comes strictly from AFTER d —
    with the censoring guard that drops samples whose label horizon runs
    past the observed data (otherwise the last week would all be labeled
    churned by truncation, the classic right-censoring bug).

    Shape: one distinct-day aggregate, a LEAD window for the next active
    day, a RANGE-frame window for the trailing features (both share the
    user partitioning), and a 1-row max-day broadcast for the censor cut.
    """
    (events,) = tables(spark, sf_dir, "events")
    dayno = (F.unix_micros(F.date_trunc("day", "ts")) / 86_400_000_000).cast("bigint")
    daily = events.groupBy("user_id", dayno.alias("dayno")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    w_lead = Window.partitionBy("user_id").orderBy("dayno")
    w_feat = (
        Window.partitionBy("user_id")
        .orderBy("dayno")
        .rangeBetween(-(_CH_LOOKBACK_DAYS - 1), 0)
    )
    labeled = daily.select(
        "user_id",
        "dayno",
        F.lead("dayno").over(w_lead).alias("next_day"),
        F.sum("n_events").over(w_feat).cast("bigint").alias("events_7d"),
        F.count(F.lit(1)).over(w_feat).cast("bigint").alias("active_days_7d"),
    )
    maxday = daily.agg(F.max("dayno").cast("bigint").alias("mx"))
    return (
        labeled.crossJoin(F.broadcast(maxday))
        .filter(F.col("dayno") + _CH_HORIZON_DAYS <= F.col("mx"))
        .select(
            "user_id",
            "dayno",
            "events_7d",
            "active_days_7d",
            F.when(
                F.col("next_day").isNull()
                | (F.col("next_day") - F.col("dayno") > _CH_HORIZON_DAYS),
                1,
            )
            .otherwise(0)
            .alias("churned"),
        )
    )


# ---------------------------------------------------------------------------
# q238: pre-tokenizer losslessness audit
# ---------------------------------------------------------------------------

_BPE_PATTERN_Q238 = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]+"


@register(
    "q238_tokenizer_lossless",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               array_to_string(regexp_extract_all(text, '{_BPE_PATTERN_Q238}'), '')
                   AS rejoined,
               replace(text, ' ', '') AS despaced
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rejoined = despaced THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lossless,
           CAST(SUM(CASE WHEN rejoined = despaced THEN 0 ELSE 1 END) AS BIGINT)
               AS n_lossy
    FROM tok GROUP BY lang
    """,
)
def q238_tokenizer_lossless(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer losslessness audit: re-joining q114's BPE-ish pieces
    must reproduce the document text (modulo the whitespace the pattern
    deliberately drops) — the invariant every tokenizer pipeline should
    assert before training, because a lossy pre-tokenizer silently
    deletes content from the corpus. Emits per-lang lossless/lossy
    counts; a nonzero lossy count localizes the pattern gap to a slice.

    One narrow scan — regex extract, string join, equality — with a
    per-lang rollup; the regex is the RE2-safe pattern shared verbatim
    with q114 and its oracle.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    tok = documents.select(
        "lang",
        F.array_join(
            F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN_Q238}', 0)"), ""
        ).alias("rejoined"),
        F.regexp_replace("text", " ", "").alias("despaced"),
    )
    return tok.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("rejoined") == F.col("despaced"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_lossless"),
        F.sum(F.when(F.col("rejoined") == F.col("despaced"), 0).otherwise(1))
        .cast("bigint")
        .alias("n_lossy"),
    )


# ---------------------------------------------------------------------------
# q239: dedup-decision transitivity audit (removed-rep chains)
# ---------------------------------------------------------------------------


def _q239_oracle() -> str:
    from .dedup import _MINHASH_DEDUP_SQL

    # reuse q52's CTE chain up to `verified`, then audit the rep mapping
    body = _MINHASH_DEDUP_SQL.split("SELECT w.lang")[0].rstrip().rstrip(",")
    return f"""{body},
    decisions AS (
        SELECT DISTINCT v.doc_id,
               (SELECT MIN(c2.rep_id) FROM cand c2
                JOIN w wa2 ON wa2.doc_id = c2.doc_id
                JOIN w wb2 ON wb2.doc_id = c2.rep_id
                WHERE c2.doc_id = v.doc_id
                  AND len(list_intersect(wa2.words, wb2.words))::DOUBLE
                      / len(list_distinct(wa2.words || wb2.words)) >= 0.95)
                   AS rep_id
        FROM verified v
    )
    SELECT CAST((SELECT count(*) FROM decisions) AS BIGINT) AS n_removed,
           CAST((SELECT count(*) FROM decisions d
                 WHERE d.rep_id IN (SELECT doc_id FROM decisions)) AS BIGINT)
               AS n_chained,
           CAST((SELECT count(*) FROM decisions d
                 WHERE d.rep_id NOT IN (SELECT doc_id FROM decisions)) AS BIGINT)
               AS n_direct
    """


@register("q239_dedup_chain_audit", oracle=_q239_oracle())
def q239_dedup_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-decision transitivity audit: of the documents q52 removes,
    how many were judged against a representative that was ITSELF removed
    (a chain — the survivor set then depends on evaluation order and the
    advertised 'kept' doc may be gone) vs against a surviving doc. A
    nonzero chained count is the signal to run q96's connected components
    for cluster-canonical reps instead of single-round bucket reps — this
    query measures exactly how much that upgrade matters on a corpus.

    Shape: re-derives q52's verified (doc, rep) decisions (banded
    candidates + Jaccard verify, linear), takes each doc's MIN surviving
    rep, and probes the removed set with one LEFT SEMI-style membership
    join — decision-table-scale, not corpus-scale.
    """
    from pyspark import StorageLevel

    from .dedup import _WORDS_SPARK, verified_reps

    (documents,) = tables(spark, sf_dir, "documents")
    w = documents.select("doc_id", _WORDS_SPARK().alias("words")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # no .distinct() on the verified pairs: the decisions groupBy(doc_id)
    # collapses the duplicates a pair picks up from several bands
    verified = verified_reps(w)
    # decisions feeds both the membership set and the audit join — persist
    # the tiny table or the whole band+verify pipeline executes twice
    decisions = (
        verified.groupBy("doc_id")
        .agg(F.min("rep_id").alias("rep_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    removed_ids = decisions.select(F.col("doc_id").alias("rid"))
    chained = (
        decisions.join(
            F.broadcast(removed_ids), decisions.rep_id == removed_ids.rid, "left"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_removed"),
            F.sum(F.when(F.col("rid").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_chained"),
            F.sum(F.when(F.col("rid").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_direct"),
        )
    )
    return chained


# ---------------------------------------------------------------------------
# q240: Kinesis shard rebalance planning (split/merge from measured traffic)
# ---------------------------------------------------------------------------

_SHARD_N = 8  # current shard count (hash-space buckets)


@register(
    "q240_shard_rebalance_plan",
    oracle=f"""
    WITH routed AS (
        SELECT CAST(('0x' || substr(md5('shard#' || CAST(user_id AS VARCHAR)),
                    1, 15)) AS BIGINT) % {_SHARD_N} AS shard,
               count(*) AS n
        FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM routed)
    SELECT shard,
           CAST(n AS BIGINT) AS n_records,
           CAST(n * 1000000 // t AS BIGINT) AS share_ppm,
           CASE WHEN n * {_SHARD_N} > 2 * t THEN 'split'
                WHEN n * {_SHARD_N} * 2 < t THEN 'merge_candidate'
                ELSE 'ok' END AS action
    FROM routed, tot
    """,
)
def q240_shard_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kinesis shard rebalance planning from measured traffic: route each
    event to its shard by the MD5 hash-space rule (the consumer-side dual
    of the reference's midpoint routing, KinesisWriter.scala:53-56),
    measure per-shard share, and flag shards carrying over 2x the fair
    share for SPLIT and under half for MERGE — the resharding decision
    q170's capacity math sizes and the kinesis_stream reader's
    SHARD_END/parent-child logic then has to consume.

    One counting aggregate on the shard key + a 1-row total broadcast;
    the thresholds are integer cross-multiplications (n·S vs 2·t), no
    rate floats. At 100 TB this runs per monitoring window over the
    ingest metrics stream — same plan, windowed input.
    """
    (events,) = tables(spark, sf_dir, "events")
    routed = events.groupBy(
        (md5_60bit(F.col("user_id").cast("string"), salt="shard") % _SHARD_N).alias(
            "shard"
        )
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = routed.agg(F.sum("n").cast("bigint").alias("t"))
    return routed.crossJoin(F.broadcast(tot)).select(
        "shard",
        F.col("n").cast("bigint").alias("n_records"),
        F.expr("CAST(n * 1000000 DIV t AS BIGINT)").alias("share_ppm"),
        F.when(F.col("n") * _SHARD_N > 2 * F.col("t"), "split")
        .when(F.col("n") * _SHARD_N * 2 < F.col("t"), "merge_candidate")
        .otherwise("ok")
        .alias("action"),
    )


# ---------------------------------------------------------------------------
# q241: partition-column advice (expected pruning benefit per candidate)
# ---------------------------------------------------------------------------

#: candidate partition keys: (name, engine-neutral SQL over orders)
_PART_CANDS = [
    ("orderpriority", "o_orderpriority"),
    ("orderstatus", "o_orderstatus"),
    ("order_month", "CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)"),
    ("cust_bucket16", "o_custkey % 16"),
]


@register(
    "q241_partition_advice",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS candidate,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(SUM(c * c) * 1000000 // (SUM(c) * SUM(c)) AS BIGINT)
               AS expected_scan_ppm,
           CAST(MAX(c) * count(*) * 1000000 // SUM(c) AS BIGINT)
               AS max_skew_ppm
    FROM (SELECT {expr} AS v, CAST(count(*) AS BIGINT) AS c
          FROM orders GROUP BY 1)"""
        for name, expr in _PART_CANDS
    ),
)
def q241_partition_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-column advice: for each candidate partition key, the
    EXPECTED fraction of the table a value-weighted point query scans —
    Σ(n_v/n)², the Simpson index: the probability two random rows share
    the partition, i.e. the average pruning dividend — plus the largest
    partition's skew vs fair share (a 2x-skewed partition is the straggler
    at write AND read time). Low expected-scan with low skew wins; this
    is the measurement behind choosing `partitionBy` for a 100 TB layout,
    complementing q194 (Z-order within files) and q196 (sizing).

    Integer discipline: Σc²·1e6 / (Σc)² stays in BIGINT at fixture scale
    and cross-multiplies exactly; per-candidate stats compute on that
    candidate's value-cardinality table (one map-side-combined aggregate
    per candidate, unioned into the 4-row report).
    """
    (orders,) = tables(spark, sf_dir, "orders")
    parts = []
    for name, expr in _PART_CANDS:
        vals = orders.groupBy(F.expr(expr).alias("v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("c")
        )
        parts.append(
            vals.agg(
                F.lit(name).alias("candidate"),
                F.count(F.lit(1)).cast("bigint").alias("n_values"),
                F.expr(
                    "CAST(SUM(c * c) * 1000000 DIV (SUM(c) * SUM(c)) AS BIGINT)"
                ).alias("expected_scan_ppm"),
                F.expr(
                    "CAST(MAX(c) * COUNT(*) * 1000000 DIV SUM(c) AS BIGINT)"
                ).alias("max_skew_ppm"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# q242: time-to-convert percentiles (first view -> first purchase)
# ---------------------------------------------------------------------------


@register(
    "q242_time_to_convert",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v_us,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS p_us
        FROM events GROUP BY user_id
    ),
    durations AS (
        SELECT user_id, CAST((p_us - v_us) // 1000000 AS BIGINT) AS sec
        FROM firsts
        WHERE v_us IS NOT NULL AND p_us IS NOT NULL AND p_us > v_us
    ),
    ranked AS (
        SELECT sec, row_number() OVER (ORDER BY sec, user_id) AS rn,
               count(*) OVER () AS n
        FROM durations
    )
    SELECT (SELECT CAST(MAX(n) AS BIGINT) FROM ranked) AS n_converters,
           (SELECT sec FROM ranked WHERE rn = (n + 9) // 10) AS p10_sec,
           (SELECT sec FROM ranked WHERE rn = (n + 1) // 2) AS p50_sec,
           (SELECT sec FROM ranked WHERE rn = (9 * n + 9) // 10) AS p90_sec
    """,
)
def q242_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: seconds from a user's FIRST view to
    their FIRST purchase (converters only, purchase after view), reported
    as exact p10/p50/p90 — the latency-of-intent metric funnels (q110)
    and attribution (q171/q218) don't give you: not whether users
    convert, but how long conversion takes.

    Shape: one conditional-MIN aggregate per user (map-side combined)
    collapses the fact table to converter cardinality; the exact
    percentile ranks run over that collapsed table (q209's rank rule,
    integer ceil indices, user_id tie-break). At 100 TB the percentile
    pass swaps for the q136-gated approx sketch; the firsts aggregate is
    already the scalable shape.
    """
    (events,) = tables(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    firsts = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("v_us"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("p_us"),
    )
    durations = firsts.filter(
        F.col("v_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") > F.col("v_us"))
    ).select(
        "user_id",
        F.expr("CAST((p_us - v_us) DIV 1000000 AS BIGINT)").alias("sec"),
    )
    w_rank = Window.orderBy("sec", "user_id")
    ranked = durations.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy())
    )
    return ranked.agg(
        F.max("n").cast("bigint").alias("n_converters"),
        F.max(F.when(F.col("rn") == F.expr("(n + 9) DIV 10"), F.col("sec"))).alias(
            "p10_sec"
        ),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("sec"))).alias(
            "p50_sec"
        ),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) DIV 10"), F.col("sec"))
        ).alias("p90_sec"),
    )


# ---------------------------------------------------------------------------
# q243: net training tokens after near-dedup (budget accounting)
# ---------------------------------------------------------------------------


def _q243_oracle() -> str:
    from .dedup import _MINHASH_DEDUP_SQL

    body = _MINHASH_DEDUP_SQL.split("SELECT w.lang")[0].rstrip().rstrip(",")
    return f"""{body},
    toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    )
    SELECT t.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(t.n_tok) AS BIGINT) AS raw_tokens,
           CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 0 ELSE t.n_tok END) AS BIGINT)
               AS removed_tokens,
           CAST(SUM(CASE WHEN r.doc_id IS NULL THEN t.n_tok ELSE 0 END) AS BIGINT)
               AS net_tokens,
           CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 0 ELSE t.n_tok END) * 1000000
                // SUM(t.n_tok) AS BIGINT) AS savings_ppm
    FROM toks t LEFT JOIN removed r ON t.doc_id = r.doc_id
    GROUP BY t.lang
    """


@register("q243_net_training_tokens", oracle=_q243_oracle())
def q243_net_training_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net training tokens after near-dedup — the accounting bridge between
    dedup (q52) and the token-budget planners (q200/q212): per language,
    raw token volume, tokens removed by the MinHash near-dup decisions,
    the NET tokens a training run will actually see, and the savings rate.
    Budgets allocated on raw counts over-promise exactly this delta.

    Shape: the removed set comes from q52's identical machinery (banded
    candidates + rep verify — linear), and the accounting is one
    token-count projection joined LEFT to that decision set plus a lang
    rollup. At 100 TB the removed set is a by-product of the dedup job
    itself; this query is then a pure join + aggregate over persisted
    outputs.
    """
    from pyspark import StorageLevel

    from .dedup import _WORDS_SPARK, verified_reps

    (documents,) = tables(spark, sf_dir, "documents")
    w = documents.select(
        "doc_id",
        "lang",
        _WORDS_SPARK().alias("words"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # the verify side carries lang + token count, so the accounting rolls
    # up from the (small) removed set alone — the corpus-wide left join
    # that existed only to flag removed rows is gone (r14; the q52 rollup
    # decomposition, with token sums riding along instead of bare counts)
    removed = (
        verified_reps(w, "lang", "n_tok").select("doc_id", "lang", "n_tok").distinct()
    )
    raw = w.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("raw_tokens"),
    )
    rem = removed.groupBy("lang").agg(
        F.sum("n_tok").cast("bigint").alias("removed_tokens_")
    )
    return (
        raw.join(F.broadcast(rem), "lang", "left")
        .select(
            "lang",
            "n_docs",
            "raw_tokens",
            F.coalesce("removed_tokens_", F.lit(0)).cast("bigint").alias("removed_tokens"),
            (F.col("raw_tokens") - F.coalesce("removed_tokens_", F.lit(0)))
            .cast("bigint")
            .alias("net_tokens"),
            F.expr(
                "CAST(COALESCE(removed_tokens_, 0) * 1000000 DIV raw_tokens AS BIGINT)"
            ).alias("savings_ppm"),
        )
    )


# ---------------------------------------------------------------------------

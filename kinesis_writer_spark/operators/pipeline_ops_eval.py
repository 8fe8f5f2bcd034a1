"""Evaluation / attribution / retrieval operators (split from
pipeline_ops, r8): token drift, attribution, random walks, LSH recall
eval, table stats, perceptron training, k-anonymity, KS statistic,
retrieval fusion, late interaction, A/B readouts, bootstrap CIs,
decision thresholds (q217-q229).

House rules as everywhere in the registry: cross-engine MD5-60bit hashes
for any value that feeds a join or a comparison, integer-only thresholds
and ratios (ppm / cents), and (ts, id) tie-breaks so no window is
order-ambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..functions.hashing import md5_60bit
from ..registry import register
from ._util import cached_exprs, tables


# ---------------------------------------------------------------------------
# q218: U-shaped (position-based) multi-touch attribution
# ---------------------------------------------------------------------------

_MT_WINDOW_US = 3 * 24 * 3_600 * 1_000_000  # 3-day lookback
# U-shaped credit in basis points: 40% first, 40% last, 20% split across
# middles (integer DIV — the dropped remainder is documented, not hidden)
_MT_FIRST_BP, _MT_LAST_BP, _MT_MID_POOL_BP = 4000, 4000, 2000

_MT_CREDIT_CASE = f"""
    CASE WHEN k = 1 THEN 10000
         WHEN k = 2 THEN 5000
         WHEN rn = 1 THEN {_MT_FIRST_BP}
         WHEN rn = k THEN {_MT_LAST_BP}
         ELSE {_MT_MID_POOL_BP} DIV (k - 2) END
"""


@register(
    "q218_position_attribution",
    oracle=f"""
    WITH purchases AS (
        SELECT event_id, user_id, epoch_us(ts) AS p_us,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT event_id AS t_id, user_id, event_type AS channel,
               epoch_us(ts) AS t_us
        FROM events WHERE event_type IN ('click', 'view')
    ),
    banded AS (
        SELECT p.event_id, p.cents, t.channel, t.t_us, t.t_id
        FROM purchases p JOIN touches t
          ON p.user_id = t.user_id
         AND t.t_us < p.p_us
         AND t.t_us >= p.p_us - {_MT_WINDOW_US}
    ),
    positioned AS (
        SELECT event_id, cents, channel,
               row_number() OVER (PARTITION BY event_id
                                  ORDER BY t_us, t_id) AS rn,
               count(*) OVER (PARTITION BY event_id) AS k
        FROM banded
    ),
    credited AS (
        SELECT channel, cents,
               {_MT_CREDIT_CASE.replace("DIV", "//")} AS bp
        FROM positioned
    )
    SELECT channel,
           count(*) AS n_credited_touches,
           CAST(SUM(bp) AS BIGINT) AS credit_bp_total,
           CAST(SUM(cents * bp) AS BIGINT) AS revenue_credit_cbp
    FROM credited GROUP BY channel
    """,
)
def q218_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution — the multi-touch
    counterpart of q171's last-touch: every click/view in the purchase's
    3-day lookback gets credit, 40% to the first touch, 40% to the last,
    20% split evenly over the middles (single-touch journeys take 100%,
    two-touch 50/50). Revenue credit is cents x basis points, all integer;
    the middle split's integer-division remainder is dropped by both
    engines identically rather than floated.

    Shape: the q171 banded user-key join (purchase x its own lookback
    window, fan-out bounded by window length) feeds TWO window functions
    over the same per-purchase partitioning (position + journey length),
    then one channel rollup. At 100 TB: same partitioning discipline as
    the as-of family — join and windows share the user/purchase hash, the
    rollup is map-side combined.
    """
    (events,) = tables(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("p_us"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    touches = events.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("event_type").alias("channel"),
        F.unix_micros("ts").alias("t_us"),
    )
    banded = purchases.join(
        touches,
        (F.col("user_id") == F.col("t_user"))
        & (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - _MT_WINDOW_US),
    ).select("event_id", "cents", "channel", "t_us", "t_id")
    w_pos = Window.partitionBy("event_id").orderBy("t_us", "t_id")
    positioned = banded.withColumn("rn", F.row_number().over(w_pos)).withColumn(
        "k", F.count(F.lit(1)).over(Window.partitionBy("event_id"))
    )
    credited = positioned.select(
        "channel", "cents", F.expr(_MT_CREDIT_CASE).alias("bp")
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credited_touches"),
        F.sum("bp").cast("bigint").alias("credit_bp_total"),
        F.sum(F.col("cents") * F.col("bp")).cast("bigint").alias("revenue_credit_cbp"),
    )


# ---------------------------------------------------------------------------
# q219: deterministic random walks over the co-purchase graph
# ---------------------------------------------------------------------------

_WALK_STEPS = 3
_WALK_SUPPORT = 2  # reuse q199's support threshold


def _q219_oracle() -> str:
    from ..functions.hashing import duckdb_md5_60bit

    step_ctes = []
    prev = "starts"
    prev_col = "v0"
    for s in range(1, _WALK_STEPS + 1):
        h = duckdb_md5_60bit(
            "CAST(src AS VARCHAR) || '#' || CAST(dst AS VARCHAR)", salt=f"walk{s}"
        )
        step_ctes.append(
            f"""
    choice{s} AS (
        SELECT src, arg_min(dst, {h}) AS nxt FROM edges GROUP BY src
    ),
    walk{s} AS (
        SELECT w.*, c.nxt AS v{s}
        FROM {prev} w LEFT JOIN choice{s} c ON w.{prev_col} = c.src
    )"""
        )
        prev = f"walk{s}"
        prev_col = f"v{s}"
    return f"""
    WITH pl AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    copurchase AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
        FROM pl a JOIN pl b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {_WALK_SUPPORT}
    ),
    edges AS (
        SELECT pa AS src, pb AS dst FROM copurchase
        UNION ALL
        SELECT pb AS src, pa AS dst FROM copurchase
    ),
    starts AS (SELECT DISTINCT src AS v0 FROM edges),
    {", ".join(step_ctes)}
    SELECT v0, v1, v2, v3,
           CAST(CASE WHEN v3 IS NOT NULL THEN 3
                     WHEN v2 IS NOT NULL THEN 2
                     WHEN v1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS walk_len
    FROM walk{_WALK_STEPS}
    """


@register("q219_random_walks", oracle=_q219_oracle())
def q219_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'random' walks (length 3) from every node of the
    co-purchase graph — the DeepWalk/node2vec sampling primitive that
    turns a graph into training sequences, made reproducible by replacing
    the RNG with a salted-hash choice: step s from node v follows the
    neighbor minimizing md5_60bit('walk{{s}}#' || v || '#' || n). Same
    graph, same walks, on every engine and every rerun — the property a
    training pipeline needs for cacheable, diffable walk corpora.

    Shape at 100 TB: ALL step choices come out of ONE min_by aggregate
    over the edge table (three salted argmins in the same groupBy — one
    shuffle, not one per step), producing a vocabulary-sized choice table
    that broadcast-joins the walk frontier forward three times. Never a
    per-walk loop; the walk table stays one row per start node. Dead ends
    LEFT-join to NULL and the walk simply stops.
    """
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    pl = lineitem.select("l_orderkey", "l_partkey").distinct()
    cop = (
        pl.alias("a")
        .join(
            pl.select(
                F.col("l_orderkey").alias("ok_b"), F.col("l_partkey").alias("pb")
            ),
            (F.col("l_orderkey") == F.col("ok_b"))
            & (F.col("l_partkey") < F.col("pb")),
        )
        .groupBy(F.col("l_partkey").alias("pa"), "pb")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _WALK_SUPPORT)
        .select("pa", "pb")
    )
    edges = cop.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
        cop.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )

    def h(s: int):
        return md5_60bit(
            F.concat_ws("#", F.col("src").cast("string"), F.col("dst").cast("string")),
            salt=f"walk{s}",
        )

    # the choice table feeds the walk base plus one broadcast per step —
    # persist it or the co-purchase self-join lineage re-runs per consumer
    from pyspark import StorageLevel

    choice = (
        edges.groupBy("src")
        .agg(
            *[
                F.min_by("dst", h(s)).alias(f"nxt{s}")
                for s in range(1, _WALK_STEPS + 1)
            ]
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    walk = choice.select(F.col("src").alias("v0"))
    prev_col = "v0"
    for s in range(1, _WALK_STEPS + 1):
        step = choice.select(
            F.col("src").alias(prev_col), F.col(f"nxt{s}").alias(f"v{s}")
        )
        walk = walk.join(F.broadcast(step), prev_col, "left")
        prev_col = f"v{s}"
    return walk.select(
        "v0",
        "v1",
        "v2",
        "v3",
        F.expr(
            "CAST(CASE WHEN v3 IS NOT NULL THEN 3 WHEN v2 IS NOT NULL THEN 2 "
            "WHEN v1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("walk_len"),
    )


# ---------------------------------------------------------------------------
# q217: token rank drift between corpus snapshots ("trending tokens")
# ---------------------------------------------------------------------------

_DRIFT_MIN_COUNT = 5
_DRIFT_TOP_K = 20


@register(
    "q217_token_rank_drift",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id % 2 AS half,
               unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    counted AS (
        SELECT half, token, count(*) AS c
        FROM tok GROUP BY half, token
        HAVING count(*) >= {_DRIFT_MIN_COUNT}
    ),
    ranked AS (
        SELECT half, token, c,
               row_number() OVER (PARTITION BY half
                                  ORDER BY c DESC, token) AS rnk
        FROM counted
    )
    SELECT a.token,
           a.rnk AS rank_old, b.rnk AS rank_new,
           CAST(a.rnk - b.rnk AS BIGINT) AS rank_climb,
           a.c AS count_old, b.c AS count_new
    FROM ranked a JOIN ranked b ON a.token = b.token
    WHERE a.half = 0 AND b.half = 1
    ORDER BY a.rnk - b.rnk DESC, a.token
    LIMIT {_DRIFT_TOP_K}
    """,
)
def q217_token_rank_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending tokens: rank every token by frequency in two corpus
    snapshots (even/odd doc ids standing in for consecutive crawls) and
    report the top climbers — the drift signal that flags new entities /
    topics between snapshot ingests, complementing q192 (KL divergence:
    HOW MUCH drift) with WHAT is drifting.

    Rank ties break on the token text so both engines produce the same
    total order; the min-count floor keeps one-off tokens from dominating
    climb deltas. Shape: one map-side-combined (half, token) count, one
    rank window per half over the VOCABULARY-sized count table (data
    collapses before any ordering — the q215 rule), a self-join on the
    token key, and a TakeOrdered top-k instead of a global sort.
    """
    (documents,) = tables(spark, sf_dir, "documents")
    tok = documents.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    counted = (
        tok.groupBy("half", "token")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _DRIFT_MIN_COUNT)
    )
    w = Window.partitionBy("half").orderBy(F.col("c").desc(), "token")
    ranked = counted.withColumn("rnk", F.row_number().over(w))
    a = ranked.filter(F.col("half") == 0).select(
        "token", F.col("rnk").alias("rank_old"), F.col("c").alias("count_old")
    )
    b = ranked.filter(F.col("half") == 1).select(
        "token", F.col("rnk").alias("rank_new"), F.col("c").alias("count_new")
    )
    return (
        a.join(b, "token")
        .select(
            "token",
            "rank_old",
            "rank_new",
            (F.col("rank_old") - F.col("rank_new")).cast("bigint").alias("rank_climb"),
            "count_old",
            "count_new",
        )
        .orderBy(F.col("rank_climb").desc(), "token")
        .limit(_DRIFT_TOP_K)
    )


# ---------------------------------------------------------------------------
# q220: LSH dedup quality eval — band recall/precision vs exact ground truth
# ---------------------------------------------------------------------------


def _q220_oracle() -> str:
    from .dedup import _band_exprs_sql, _minhash_sig_sql, _MINHASH_MASK
    from ..functions.hashing import duckdb_md5_60bit
    from ..registry import get

    truth_sql = get("q193_prefix_filter_join").oracle
    tok3 = duckdb_md5_60bit("ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]")
    return f"""
    WITH truth AS ({truth_sql}),
    w2 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    toksrc AS (
        SELECT doc_id,
               list_distinct(list_transform(generate_series(1, len(ws) - 2),
                   i -> {tok3})) AS toks
        FROM w2
    ),
    sigs AS (
        SELECT doc_id, [{", ".join(_minhash_sig_sql())}] AS signature
        FROM (SELECT doc_id,
                     list_transform(toks, t -> t & {_MINHASH_MASK}) AS hashes
              FROM toksrc WHERE len(toks) > 0)
    ),
    bands AS (
        SELECT doc_id, unnest([{", ".join(_band_exprs_sql())}]) AS band_key
        FROM sigs
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    hit AS (
        SELECT count(*) AS n_hit
        FROM cands c JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM cands) AS n_candidates,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_hit * 1000000 // (SELECT count(*) FROM truth) AS BIGINT)
               AS recall_ppm,
           CAST(n_hit * 1000000 // (SELECT count(*) FROM cands) AS BIGINT)
               AS precision_ppm
    FROM hit
    """


@register("q220_lsh_recall_eval", oracle=_q220_oracle())
def q220_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH quality evaluation: how many of the EXACT Jaccard>=0.8
    shingle pairs (ground truth = q193's prefix-filter join, which has no
    false negatives) does the 16-perm / 2x8-band shingle-MinHash scheme
    actually surface as candidates — measured recall and precision, the
    numbers q202's S-curve predicts analytically. A dedup pipeline should
    publish this eval on every corpus whose token distribution shifts;
    banding parameters tuned on one corpus silently lose recall on another.

    Shape: ground truth comes from the registered exact operator (reused
    function, reused plan); the candidate side is one signature pass +
    band self-join (same machinery q206 probes with); the comparison is
    two tiny COUNT aggregates and an equi-join on the pair key. Nothing
    here is all-pairs; the expensive inputs are both already
    linear-in-corpus.
    """
    from pyspark import StorageLevel

    from .dedup import (
        _masked_toks_spark,
        _shingle_hashes_spark,
        minhash_band_pairs,
        minhash_bands,
    )
    from .scale_ops import q193_prefix_filter_join

    truth = q193_prefix_filter_join(spark, sf_dir).select("doc_a", "doc_b")

    (documents,) = tables(spark, sf_dir, "documents")
    toksrc = documents.select("doc_id", _shingle_hashes_spark().alias("toks")).filter(
        F.size("toks") > 0
    )
    hs = toksrc.select("doc_id", _masked_toks_spark().alias("hashes"))
    # the band self-join consumes `bands` twice; persist the narrow table
    # so the shingle+MD5+16-permutation chain runs once (locally the join
    # is broadcast, so ReusedExchange never deduped the two subtrees)
    bands = minhash_bands(hs).persist(StorageLevel.MEMORY_AND_DISK)
    cands = minhash_band_pairs(bands).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    # Single-pass comparison: a FULL OUTER join of the two (unique) pair
    # sets with presence flags, folded by one global aggregate. The prior
    # shape (three separate 1-row aggregates cross-joined) planned `truth`
    # and `cands` as TWO subtrees each — both expensive inputs were
    # computed twice, and the duplication was the dominant superlinear
    # term in the r6 sf1.0 spot-bench (q220 ratio 11.76x vs 6.2x for the
    # truth operator alone). Here each input is computed once, shuffled
    # once on the pair key, and everything downstream is one exchange.
    flagged = (
        cands.withColumn("is_cand", F.lit(1))
        .join(
            truth.withColumn("is_truth", F.lit(1)),
            ["doc_a", "doc_b"],
            "full_outer",
        )
    )
    # coalesce: SUM over zero matching rows is NULL, but the oracle's
    # COUNT(*)-style side counts an empty truth/candidate set as 0.
    stats = flagged.agg(
        F.coalesce(F.sum("is_truth"), F.lit(0)).cast("bigint").alias("n_truth"),
        F.coalesce(F.sum("is_cand"), F.lit(0)).cast("bigint").alias("n_candidates"),
        F.count(F.when(F.col("is_cand").isNotNull() & F.col("is_truth").isNotNull(), 1))
        .cast("bigint")
        .alias("n_hit"),
    )
    return stats.select(
        "n_truth",
        "n_candidates",
        "n_hit",
        F.expr("CAST(n_hit * 1000000 DIV n_truth AS BIGINT)").alias("recall_ppm"),
        F.expr("CAST(n_hit * 1000000 DIV n_candidates AS BIGINT)").alias(
            "precision_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# q221: per-column table statistics (ANALYZE TABLE / CBO stats collection)
# ---------------------------------------------------------------------------

#: (stat row name, integer-valued SQL expression over lineitem)
_STATS_COLS = [
    ("l_orderkey", "l_orderkey"),
    ("l_partkey", "l_partkey"),
    ("l_suppkey", "l_suppkey"),
    ("l_quantity", "CAST(l_quantity AS BIGINT)"),
    ("l_extendedprice_cents", "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"),
]


@register(
    "q221_table_stats",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS column_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({expr}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {expr}) AS BIGINT) AS ndv_exact,
           TRUE AS ndv_within_5pct,
           CAST(MIN({expr}) AS BIGINT) AS min_val,
           CAST(MAX({expr}) AS BIGINT) AS max_val
    FROM lineitem"""
        for name, expr in _STATS_COLS
    ),
)
def q221_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-TABLE-style statistics collection: one row per column with
    row count, null count, distinct count, and min/max — the inputs a
    cost-based optimizer (and every capacity-planning spreadsheet) needs.
    NDV is gathered the production way (HLL approx, single pass, constant
    memory) and gated against exact within 5% via the q16 boolean
    pattern, so a drifting sketch fails the hash gate.

    Shape: ONE fact-table pass computes count/nulls/min/max/approx-NDV
    for every column simultaneously (plain aggregates — no Expand), plus
    one exact-NDV pass for the gate (COUNT DISTINCT x5 plans an Expand x5;
    that pass is the TEST apparatus, dropped at 100 TB where the approx
    value IS the stat). The per-column layout is a stack() unpivot of the
    two 1-row aggregates joined by cross — metadata-scale from there on.
    """
    (lineitem,) = tables(spark, sf_dir, "lineitem")
    one_pass = lineitem.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        *[
            c
            for name, expr in _STATS_COLS
            for c in (
                F.count(F.expr(expr)).cast("bigint").alias(f"cnt_{name}"),
                F.approx_count_distinct(F.expr(expr), 0.02)
                .cast("bigint")
                .alias(f"andv_{name}"),
                F.min(F.expr(expr)).cast("bigint").alias(f"min_{name}"),
                F.max(F.expr(expr)).cast("bigint").alias(f"max_{name}"),
            )
        ],
    )
    exact_pass = lineitem.agg(
        *[
            F.countDistinct(F.expr(expr)).cast("bigint").alias(f"ndv_{name}")
            for name, expr in _STATS_COLS
        ]
    )
    joined = one_pass.crossJoin(F.broadcast(exact_pass))
    stack_args = ", ".join(
        f"'{name}', n_rows - cnt_{name}, ndv_{name}, "
        f"(andv_{name} * 100 <= ndv_{name} * 105 AND "
        f" andv_{name} * 100 >= ndv_{name} * 95), min_{name}, max_{name}"
        for name, _ in _STATS_COLS
    )
    return joined.select(
        "n_rows",
        F.expr(
            f"stack({len(_STATS_COLS)}, {stack_args}) AS "
            "(column_name, n_nulls, ndv_exact, ndv_within_5pct, min_val, max_val)"
        ),
    ).select(
        "column_name",
        "n_rows",
        "n_nulls",
        "ndv_exact",
        "ndv_within_5pct",
        "min_val",
        "max_val",
    )


# ---------------------------------------------------------------------------
# q222: distributed batch-perceptron training (2 unrolled epochs)
# ---------------------------------------------------------------------------

_PCT_EPOCHS = 2
_PCT_DIM = 64

#: Memo: sf_dir -> (per-epoch error counts, per-epoch weight vectors);
#: emptied by clear_all and when the SparkContext changes.
_PCT_CACHE: dict = memo.register({})


def _pct_train(spark: SparkSession, sf_dir: str):
    """Driver loop of the batch perceptron: per epoch, ONE distributed
    aggregate computes the misclassified-row count and the 64 gradient
    sums; the 64-int weight vector is collected and inlined as literals
    for the next epoch (the q97/q134 tiny-model pattern). Memoized per
    dataset."""
    return memo.get_or_build(_PCT_CACHE, sf_dir, lambda: _pct_fit(spark, sf_dir))


def _pct_fit(spark: SparkSession, sf_dir: str):
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    q = embeddings.select(
        cached_exprs(
            "pct_y",
            lambda: F.when(F.col("label") % 2 == 1, 1).otherwise(-1),
        ).alias("y"),
        cached_exprs(
            "pct_qv",
            lambda: F.transform(
                "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
            ),
        ).alias("qv"),
    )
    w = [0] * _PCT_DIM
    # the 64 gradient aggregates are data-independent; the margin depends
    # on the epoch's weight literals, so it keys on their values (the
    # _km_best_struct convention) — construction-only memoization (r14)
    grads = cached_exprs(
        "pct_grads",
        lambda: [
            F.sum(F.col("y") * F.element_at("qv", d + 1)).cast("bigint").alias(f"g{d}")
            for d in range(_PCT_DIM)
        ],
    )
    counts, weights = [], []
    for _epoch in range(_PCT_EPOCHS):
        wk = tuple(int(v) for v in w)

        def _build_margin(wk=wk):
            w_arr = F.lit(list(wk))  # one array<bigint> literal node
            zero = F.lit(0).cast("bigint")
            return F.col("y") * F.aggregate(
                F.zip_with("qv", w_arr, lambda x, wv: x * wv), zero, lambda a, v: a + v
            )

        # value-keyed: one margin tree per epoch weight vector — bounded
        # LRU store so per-epoch keys from repeated retrains age out (r15)
        margin = cached_exprs(("pct_margin", wk), _build_margin, value_keyed=True)
        miss = q.withColumn("margin", margin).filter(F.col("margin") <= 0)
        row = miss.agg(F.count(F.lit(1)).alias("n"), *grads).collect()[0]
        counts.append(int(row["n"]))
        w = [w[d] + int(row[f"g{d}"] or 0) for d in range(_PCT_DIM)]
        weights.append(list(w))
    return counts, weights


def _q222_oracle() -> str:
    flat = f"""
    q AS (
        SELECT vec_id,
               CASE WHEN label % 2 = 1 THEN 1 ELSE -1 END AS y,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings
    ),
    flat AS (
        SELECT vec_id, y, i + 1 AS d, qv[i + 1] AS v
        FROM q, LATERAL unnest(range(0, {_PCT_DIM})) t(i)
    ),
    g1 AS (SELECT d, CAST(SUM(y * v) AS BIGINT) AS w FROM flat GROUP BY d),
    w1 AS (SELECT list(w ORDER BY d) AS wv,
                  CAST(SUM(d * w) AS BIGINT) AS cks FROM g1),
    m2 AS (
        SELECT q.vec_id, q.y,
               q.y * CAST(list_sum(list_transform(range(1, {_PCT_DIM} + 1),
                     i -> qv[i] * wv[i])) AS BIGINT) AS margin
        FROM q, w1
    ),
    e2 AS (SELECT CAST(count(*) FILTER (WHERE margin <= 0) AS BIGINT) AS n FROM m2),
    g2 AS (
        SELECT f.d, CAST(SUM(f.y * f.v) AS BIGINT) AS gw
        FROM flat f JOIN m2 ON f.vec_id = m2.vec_id
        WHERE m2.margin <= 0 GROUP BY f.d
    ),
    w2 AS (
        SELECT list(g1.w + COALESCE(g2.gw, 0) ORDER BY g1.d) AS wv,
               CAST(SUM(g1.d * (g1.w + COALESCE(g2.gw, 0))) AS BIGINT) AS cks
        FROM g1 LEFT JOIN g2 ON g1.d = g2.d
    ),
    m3 AS (
        SELECT q.y * CAST(list_sum(list_transform(range(1, {_PCT_DIM} + 1),
                     i -> qv[i] * wv[i])) AS BIGINT) AS margin
        FROM q, (SELECT wv FROM w2) w
    ),
    e3 AS (SELECT CAST(count(*) FILTER (WHERE margin <= 0) AS BIGINT) AS n FROM m3)
    """
    return f"""
    WITH {flat}
    SELECT 1 AS epoch, (SELECT CAST(count(*) AS BIGINT) FROM q) AS n_errors,
           CAST(0 AS BIGINT) AS w_checksum
    UNION ALL
    SELECT 2, e2.n, w1.cks FROM e2, w1
    UNION ALL
    SELECT 3, e3.n, w2.cks FROM e3, w2
    """


@register("q222_perceptron_train", oracle=_q222_oracle())
def q222_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed batch-perceptron training over the embeddings (positive
    class: odd label) — the simplest real TRAINING loop, run the way a
    100 TB pipeline must: per epoch ONE map-side-combined aggregate
    produces the misclassified count and all 64 gradient components, the
    65-number model is collected driver-side and inlined as literals for
    the next epoch (the q97/q134 tiny-model pattern — the data never
    shuffles, the model never exceeds a broadcast). Two epochs unrolled;
    each output row reports the error count measured with the PREVIOUS
    epoch's weights plus that weight vector's checksum, so the oracle
    verifies the whole training trajectory bit-for-bit.

    Everything is integer: 1e-3-quantized features, ±1 labels, integer
    weight sums — no learning-rate float, because the perceptron update
    rule is scale-free. A row with margin exactly 0 counts as an error
    (w0 = 0 makes epoch 1's error count = n, a deliberate fixed point
    the gate checks).
    """
    counts, weights = _pct_train(spark, sf_dir)

    def cks(w):
        return sum((d + 1) * v for d, v in enumerate(w))

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    q = embeddings.select(
        F.when(F.col("label") % 2 == 1, 1).otherwise(-1).alias("y"),
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
        ).alias("qv"),
    )
    zero = F.lit(0).cast("bigint")
    w_final = F.lit([int(v) for v in weights[-1]])  # one array<bigint> literal
    margin = F.col("y") * F.aggregate(
        F.zip_with("qv", w_final, lambda x, wv: x * wv), zero, lambda a, v: a + v
    )
    final_row = q.select(margin.alias("margin")).agg(
        F.lit(_PCT_EPOCHS + 1).alias("epoch"),
        F.sum(F.when(F.col("margin") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
        F.lit(cks(weights[-1])).cast("bigint").alias("w_checksum"),
    )
    hist = spark.createDataFrame(
        [
            (e + 1, counts[e], cks(weights[e - 1]) if e > 0 else 0)
            for e in range(_PCT_EPOCHS)
        ],
        "epoch int, n_errors bigint, w_checksum bigint",
    )
    return hist.unionByName(final_row)


# ---------------------------------------------------------------------------
# q223: k-anonymity audit over a generalization ladder
# ---------------------------------------------------------------------------

_KA_K = 5  # groups smaller than this are re-identification risks
_KA_BUCKET = 1000  # acctbal band width (coarsest quasi-identifier)


@register(
    "q223_k_anonymity",
    oracle=f"""
    WITH quasi AS (
        SELECT n.n_name AS nation, c.c_mktsegment AS segment,
               CAST(FLOOR(c.c_acctbal / {_KA_BUCKET}) AS BIGINT) AS bal_band
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    groups AS (
        SELECT CASE WHEN GROUPING(bal_band) = 0 THEN 0
                    WHEN GROUPING(segment) = 0 THEN 1
                    ELSE 2 END AS level,
               count(*) AS grp_n
        FROM quasi
        GROUP BY GROUPING SETS ((nation, segment, bal_band),
                                (nation, segment), (nation))
    )
    SELECT level,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN grp_n < {_KA_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small_groups,
           CAST(SUM(CASE WHEN grp_n < {_KA_K} THEN grp_n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
           CAST(SUM(CASE WHEN grp_n < {_KA_K} THEN grp_n ELSE 0 END) * 1000000
                // SUM(grp_n) AS BIGINT) AS risk_ppm
    FROM groups GROUP BY level
    """,
)
def q223_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: how many quasi-identifier groups (nation,
    market segment, account-balance band) contain fewer than k={_KA_K}
    customers — the re-identification risk check a pipeline runs before
    releasing "anonymized" training data — evaluated over the whole
    GENERALIZATION LADDER at once: level 0 = all three attributes,
    level 1 drops the balance band, level 2 keeps only nation. The level
    where risk_ppm reaches an acceptable floor is the generalization the
    release needs.

    Shape: ONE pass with GROUPING SETS computes every ladder level (a
    single Expand ×3 instead of three scans); grouping() flags identify
    the level; the risk rollup then runs on the group-cardinality table.
    The nation dim broadcasts into the quasi-identifier projection.
    """
    (customer, nation) = tables(spark, sf_dir, "customer", "nation")
    quasi = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / _KA_BUCKET).cast("bigint").alias("bal_band"),
    )
    groups = (
        quasi.groupingSets(
            [["nation", "segment", "bal_band"], ["nation", "segment"], ["nation"]],
            "nation",
            "segment",
            "bal_band",
        )
        .agg(
            F.count(F.lit(1)).alias("grp_n"),
            F.expr(
                "CASE WHEN GROUPING(bal_band) = 0 THEN 0 "
                "WHEN GROUPING(segment) = 0 THEN 1 ELSE 2 END"
            ).alias("level"),
        )
        .select("level", "grp_n")
    )
    return groups.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("grp_n") < _KA_K, 1).otherwise(0))
        .cast("bigint")
        .alias("n_small_groups"),
        F.sum(F.when(F.col("grp_n") < _KA_K, F.col("grp_n")).otherwise(0))
        .cast("bigint")
        .alias("n_rows_at_risk"),
        F.expr(
            f"CAST(SUM(CASE WHEN grp_n < {_KA_K} THEN grp_n ELSE 0 END) * 1000000"
            " DIV SUM(grp_n) AS BIGINT)"
        ).alias("risk_ppm"),
    )


# ---------------------------------------------------------------------------
# q224: exact two-sample Kolmogorov-Smirnov statistic
# ---------------------------------------------------------------------------

_KS_A, _KS_B = "click", "view"


@register(
    "q224_ks_statistic",
    oracle=f"""
    WITH vals AS (
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type IN ('{_KS_A}', '{_KS_B}')
    ),
    grouped AS (
        SELECT c,
               CAST(SUM(CASE WHEN event_type = '{_KS_A}' THEN 1 ELSE 0 END)
                   AS BIGINT) AS na_here,
               CAST(SUM(CASE WHEN event_type = '{_KS_B}' THEN 1 ELSE 0 END)
                   AS BIGINT) AS nb_here
        FROM vals GROUP BY c
    ),
    cum AS (
        SELECT c,
               CAST(SUM(na_here) OVER (ORDER BY c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS ca,
               CAST(SUM(nb_here) OVER (ORDER BY c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cb
        FROM grouped
    ),
    tot AS (
        SELECT CAST(SUM(na_here) AS BIGINT) AS na,
               CAST(SUM(nb_here) AS BIGINT) AS nb
        FROM grouped
    ),
    scored AS (
        SELECT c, ABS(ca * nb - cb * na) AS d_scaled FROM cum, tot
    )
    SELECT t.na, t.nb,
           (SELECT CAST(MAX(d_scaled) * 1000000 // (t.na * t.nb) AS BIGINT)
            FROM scored) AS ks_ppm,
           (SELECT CAST(MIN(c) AS BIGINT) FROM scored
            WHERE d_scaled = (SELECT MAX(d_scaled) FROM scored)) AS ks_at_cents
    FROM tot t
    """,
)
def q224_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the click and
    view value distributions — the distribution-shift test (train-vs-serve
    feature drift, A/B invariance checks) done integer-exactly: the KS
    supremum over |F_a - F_b| is max |ca·nb - cb·na| / (na·nb) where
    ca/cb are cumulative counts, so no float CDF ever exists; ks_at_cents
    reports WHERE the distributions diverge most (min such value on ties).

    The q215 collapse rule: values group to the distinct-cents table
    (map-side combined) BEFORE the single cumulative window, so the
    ordered pass runs over value cardinality, not event count — and at
    100 TB values bin to fixed-width cents buckets first, bounding the
    table; the binned KS is the standard production trade.
    """
    (events,) = tables(spark, sf_dir, "events")
    vals = events.filter(F.col("event_type").isin(_KS_A, _KS_B)).select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("c")
    )
    grouped = vals.groupBy("c").agg(
        F.sum(F.when(F.col("event_type") == _KS_A, 1).otherwise(0))
        .cast("bigint")
        .alias("na_here"),
        F.sum(F.when(F.col("event_type") == _KS_B, 1).otherwise(0))
        .cast("bigint")
        .alias("nb_here"),
    )
    w_cum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = grouped.select(
        "c",
        F.sum("na_here").over(w_cum).cast("bigint").alias("ca"),
        F.sum("nb_here").over(w_cum).cast("bigint").alias("cb"),
    )
    tot = grouped.agg(
        F.sum("na_here").cast("bigint").alias("na"),
        F.sum("nb_here").cast("bigint").alias("nb"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "c",
        "na",
        "nb",
        F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")).alias("d_scaled"),
    )
    # attach the max via a window over the value-cardinality table (tiny by
    # the collapse rule), then keep only argmax rows — no window-in-agg
    best = scored.withColumn(
        "dmax", F.max("d_scaled").over(Window.partitionBy())
    ).filter(F.col("d_scaled") == F.col("dmax"))
    return best.agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.expr("CAST(MAX(dmax) * 1000000 DIV (MAX(na) * MAX(nb)) AS BIGINT)").alias(
            "ks_ppm"
        ),
        F.min("c").cast("bigint").alias("ks_at_cents"),
    )


# ---------------------------------------------------------------------------
# q225: hybrid retrieval — reciprocal-rank fusion of keyword + vector lists
# ---------------------------------------------------------------------------

_RRF_K = 60  # standard RRF damping constant
_RRF_N = 50  # depth of each candidate list
_RRF_NQ = 5  # query = the 5 globally most frequent tokens (q100's rule)
_RRF_TOP = 10


@register(
    "q225_rrf_hybrid",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    q AS (
        SELECT term FROM (
            SELECT term, SUM(tf) AS total FROM tf GROUP BY term
            ORDER BY total DESC, term ASC LIMIT {_RRF_NQ}
        )
    ),
    kw_top AS (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
        FROM (
            SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS s
            FROM tf JOIN q USING (term) GROUP BY tf.doc_id
            ORDER BY s DESC, doc_id LIMIT {_RRF_N}
        )
    ),
    qv AS (
        SELECT list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        FROM embeddings WHERE vec_id = 0
    ),
    vec_top AS (
        SELECT doc_id, row_number() OVER (ORDER BY dot DESC, doc_id) AS r
        FROM (
            SELECT e.vec_id AS doc_id,
                   CAST(list_sum(list_transform(range(1, 65),
                        i -> CAST(FLOOR(CAST(e.embedding[i] AS DOUBLE) * 1000)
                                  AS BIGINT) * qv.v[i])) AS BIGINT) AS dot
            FROM embeddings e, qv
            WHERE e.vec_id <> 0
            ORDER BY dot DESC, doc_id LIMIT {_RRF_N}
        )
    ),
    fused AS (
        SELECT COALESCE(k.doc_id, v.doc_id) AS doc_id,
               COALESCE(1000000 // ({_RRF_K} + k.r), 0)
                   + COALESCE(1000000 // ({_RRF_K} + v.r), 0) AS rrf_micro,
               k.r AS kw_rank, v.r AS vec_rank
        FROM kw_top k FULL OUTER JOIN vec_top v ON k.doc_id = v.doc_id
    )
    SELECT doc_id, CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(kw_rank AS BIGINT) AS kw_rank,
           CAST(vec_rank AS BIGINT) AS vec_rank
    FROM fused
    ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_TOP}
    """,
)
def q225_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion — the standard RAG-stack
    combiner: a keyword candidate list (tf sum over the 5 global query
    terms, q100's query-derivation rule) and a vector candidate list
    (integer inner-product against doc 0's embedding, MIPS-style) each
    contribute 1e6/(60+rank); missing from a list contributes 0; top-10
    by fused score. RRF needs only RANKS — which is exactly why it's the
    production fusion: scores from different retrievers aren't comparable,
    ranks always are, and integer ranks keep the whole fusion float-free.

    Shape at 100 TB: each candidate list is a TakeOrdered top-{_RRF_N}
    (partial top-k per partition, no global sort); the rank windows run
    over the {_RRF_N}-row lists; the fusion is a {_RRF_N}x{_RRF_N}
    full-outer join on doc id. The vector list swaps brute-force for the
    trained-IVF probe (q134) at scale; fusion is unchanged.
    """
    (documents, embeddings) = tables(spark, sf_dir, "documents", "embeddings")
    tok = documents.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    q = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("total"))
        .orderBy(F.col("total").desc(), F.col("term").asc())
        .limit(_RRF_NQ)
        .select("term")
    )
    kw_list = (
        tf.join(F.broadcast(q), "term")
        .groupBy("doc_id")
        .agg(F.sum("tf").cast("bigint").alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_RRF_N)
    )
    kw_top = kw_list.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.col("s").desc(), "doc_id")).alias("r"),
    )
    quant = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    qv = embeddings.filter(F.col("vec_id") == 0).select(quant.alias("qv"))
    zero = F.lit(0).cast("bigint")
    vec_list = (
        embeddings.filter(F.col("vec_id") != 0)
        .select(F.col("vec_id").alias("doc_id"), quant.alias("dv"))
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            F.aggregate(
                F.zip_with("dv", "qv", lambda a, b: a * b), zero, lambda a, v: a + v
            ).alias("dot"),
        )
        .orderBy(F.col("dot").desc(), "doc_id")
        .limit(_RRF_N)
    )
    vec_top = vec_list.select(
        "doc_id",
        F.row_number().over(Window.orderBy(F.col("dot").desc(), "doc_id")).alias("r"),
    )
    fused = (
        kw_top.withColumnRenamed("r", "kw_rank")
        .join(vec_top.withColumnRenamed("r", "vec_rank"), "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"1000000 DIV ({_RRF_K} + kw_rank)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 DIV ({_RRF_K} + vec_rank)"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("rrf_micro"),
            F.col("kw_rank").cast("bigint").alias("kw_rank"),
            F.col("vec_rank").cast("bigint").alias("vec_rank"),
        )
    )
    return fused.orderBy(F.col("rrf_micro").desc(), "doc_id").limit(_RRF_TOP)


# ---------------------------------------------------------------------------
# q226: multi-vector late-interaction retrieval (ColBERT-style MaxSim)
# ---------------------------------------------------------------------------

_MS_VPD = 5  # token-vectors per pseudo-document
_MS_TOP = 10


@register(
    "q226_maxsim_retrieval",
    oracle=f"""
    WITH q AS (
        SELECT vec_id % {_MS_VPD} AS qpos,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        FROM embeddings WHERE vec_id // {_MS_VPD} = 0
    ),
    d AS (
        SELECT vec_id // {_MS_VPD} AS doc, vec_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS dv
        FROM embeddings WHERE vec_id // {_MS_VPD} <> 0
    ),
    sims AS (
        SELECT d.doc, q.qpos,
               MAX(CAST(list_sum(list_transform(range(1, 65),
                   i -> dv[i] * qv[i])) AS BIGINT)) AS best
        FROM d, q
        GROUP BY d.doc, q.qpos
    )
    SELECT doc, CAST(SUM(best) AS BIGINT) AS maxsim
    FROM sims GROUP BY doc
    ORDER BY maxsim DESC, doc LIMIT {_MS_TOP}
    """,
)
def q226_maxsim_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval: documents are SETS of
    token vectors (pseudo-docs of {_MS_VPD} consecutive embeddings), and a
    document's score against the query's token vectors is MaxSim —
    for each query vector take the best-matching document vector, then
    sum: Σ_q max_d <q, d>. Late interaction is what multi-vector
    retrievers (ColBERT, XTR) do instead of pooling to one vector, and
    its Spark shape is exactly aggregation: the query's {_MS_VPD} vectors
    broadcast against the corpus, a (doc, qpos) MAX collapses the
    interaction matrix map-side, a doc-level SUM finishes, TakeOrdered
    top-{_MS_TOP}. Integer dot products (1e-3-quantized) end to end — no
    float crosses a row.

    At 100 TB the corpus side first prunes through an ANN index per query
    vector (q134's probe) and MaxSim rescoring runs on the union of
    candidates; the rescoring plan is this one unchanged.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    quant = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    doc = F.expr(f"vec_id DIV {_MS_VPD}")
    q = embeddings.filter(doc == 0).select(
        (F.col("vec_id") % _MS_VPD).alias("qpos"), quant.alias("qv")
    )
    d = embeddings.filter(doc != 0).select(doc.alias("doc"), quant.alias("dv"))
    zero = F.lit(0).cast("bigint")
    dot = F.aggregate(
        F.zip_with("dv", "qv", lambda a, b: a * b), zero, lambda a, v: a + v
    )
    sims = (
        d.crossJoin(F.broadcast(q))
        .select("doc", "qpos", dot.alias("s"))
        .groupBy("doc", "qpos")
        .agg(F.max("s").alias("best"))
    )
    return (
        sims.groupBy("doc")
        .agg(F.sum("best").cast("bigint").alias("maxsim"))
        .orderBy(F.col("maxsim").desc(), "doc")
        .limit(_MS_TOP)
    )


# ---------------------------------------------------------------------------
# q227: A/B conversion z-interval (the decision readout on q191's arms)
# ---------------------------------------------------------------------------

_ZCRIT_MICRO = 1_959_964  # two-sided 95% normal critical value, 1e-6 scale


@register(
    "q227_ab_confidence",
    oracle=f"""
    WITH assigned AS (
        SELECT user_id,
               CAST(('0x' || substr(md5('ab1#' || CAST(user_id AS VARCHAR)), 1, 15))
                   AS BIGINT) % 2 AS arm
        FROM (SELECT DISTINCT user_id FROM events)
    ),
    conv AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    arms AS (
        SELECT a.arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS k
        FROM assigned a LEFT JOIN conv c ON a.user_id = c.user_id
        GROUP BY a.arm
    ),
    wide AS (
        SELECT
            MAX(CASE WHEN arm = 0 THEN n END) AS na,
            MAX(CASE WHEN arm = 0 THEN k END) AS ka,
            MAX(CASE WHEN arm = 1 THEN n END) AS nb,
            MAX(CASE WHEN arm = 1 THEN k END) AS kb
        FROM arms
    ),
    stats AS (
        SELECT na, ka, nb, kb,
               CAST(ka AS DOUBLE) / na AS pa,
               CAST(kb AS DOUBLE) / nb AS pb,
               sqrt((CAST(ka AS DOUBLE) / na) * (1.0 - CAST(ka AS DOUBLE) / na) / na
                    + (CAST(kb AS DOUBLE) / nb) * (1.0 - CAST(kb AS DOUBLE) / nb) / nb)
                   AS se
        FROM wide
    )
    SELECT na, ka, nb, kb,
           CAST(FLOOR(pa * 1000000) AS BIGINT) AS pa_ppm,
           CAST(FLOOR(pb * 1000000) AS BIGINT) AS pb_ppm,
           CAST(FLOOR((pb - pa) * 1000000) AS BIGINT) AS diff_ppm,
           CAST(FLOOR(((pb - pa) - {_ZCRIT_MICRO}e-6 * se) * 1000000) AS BIGINT)
               AS ci_lo_ppm,
           CAST(FLOOR(((pb - pa) + {_ZCRIT_MICRO}e-6 * se) * 1000000) AS BIGINT)
               AS ci_hi_ppm,
           (((pb - pa) - {_ZCRIT_MICRO}e-6 * se) > 0.0
            OR ((pb - pa) + {_ZCRIT_MICRO}e-6 * se) < 0.0) AS significant
    FROM stats
    """,
)
def q227_ab_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B decision readout: the 95% z-interval on the conversion-rate
    difference between the two consistent-hash arms (q191's assignment
    rule, salt 'ab1') — per-arm n/k, rates, the diff, its confidence
    bounds, and the ship/no-ship boolean. This is the number an
    experimentation platform actually publishes; q198's Welch machinery
    supplies the heavier-tailed variant for non-binary metrics.

    Float discipline: counts are exact integers; the rate divisions,
    variance terms, and sqrt are each single exactly-rounded IEEE
    operations written in the SAME association order in both engines
    (sqrt is correctly rounded by spec), so the floored ppm bounds are
    bit-identical — the house "one exact primitive per step" rule.

    Shape: distinct users → hash arm (narrow) → LEFT join the converter
    set (both sides shuffle on user once) → 2-row arm table → 1-row
    pivot; everything after the first aggregate is metadata-scale.
    """
    (events,) = tables(spark, sf_dir, "events")
    assigned = events.select("user_id").distinct().select(
        "user_id",
        (md5_60bit(F.col("user_id").cast("string"), salt="ab1") % 2).alias("arm"),
    )
    conv = (
        events.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    arms = (
        assigned.join(conv.withColumn("converted", F.lit(1)), "user_id", "left")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.coalesce("converted", F.lit(0))).cast("bigint").alias("k"),
        )
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == 0, F.col("k"))).alias("ka"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == 1, F.col("k"))).alias("kb"),
    )
    pa = "CAST(ka AS DOUBLE) / na"
    pb = "CAST(kb AS DOUBLE) / nb"
    se = f"sqrt(({pa}) * (1.0 - {pa}) / na + ({pb}) * (1.0 - {pb}) / nb)"
    z = f"{_ZCRIT_MICRO}e-6"
    return wide.selectExpr(
        "na",
        "ka",
        "nb",
        "kb",
        f"CAST(FLOOR(({pa}) * 1000000) AS BIGINT) AS pa_ppm",
        f"CAST(FLOOR(({pb}) * 1000000) AS BIGINT) AS pb_ppm",
        f"CAST(FLOOR((({pb}) - ({pa})) * 1000000) AS BIGINT) AS diff_ppm",
        f"CAST(FLOOR(((({pb}) - ({pa})) - {z} * {se}) * 1000000) AS BIGINT)"
        " AS ci_lo_ppm",
        f"CAST(FLOOR(((({pb}) - ({pa})) + {z} * {se}) * 1000000) AS BIGINT)"
        " AS ci_hi_ppm",
        f"(((({pb}) - ({pa})) - {z} * {se}) > 0.0D"
        f" OR ((({pb}) - ({pa})) + {z} * {se}) < 0.0D) AS significant",
    )


# ---------------------------------------------------------------------------
# q228: deterministic bootstrap confidence interval (hash-Poisson replicas)
# ---------------------------------------------------------------------------

_BOOT_R = 20  # replicas (production uses ~200; same plan)
#: P(Poisson(1) <= k) * 1e9 as exact integer thresholds, k = 0..5 —
#: a hash-uniform draw u in [0, 1e9) maps to weight = #{thresholds <= u}
_POISSON_CDF_1E9 = [367879441, 735758882, 919698602, 981011843, 996340153, 999405815]


def _boot_weight_sql(u: str) -> str:
    """Poisson(1) weight of a 1e9-scaled uniform draw, engine-neutral SQL."""
    return "(" + " + ".join(
        f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in _POISSON_CDF_1E9
    ) + ")"


@register(
    "q228_bootstrap_ci",
    oracle=f"""
    WITH purchases AS (
        SELECT event_id, CAST(ROUND(value * 100) AS BIGINT) AS c
        FROM events WHERE event_type = 'purchase'
    ),
    weighted AS (
        SELECT r.r, p.c,
               {_boot_weight_sql(
                   "CAST(('0x' || substr(md5('boot' || CAST(r.r AS VARCHAR) "
                   "|| '#' || CAST(p.event_id AS VARCHAR)), 1, 15)) AS BIGINT) "
                   "% 1000000000"
               )} AS w
        FROM purchases p, LATERAL unnest(range(1, {_BOOT_R + 1})) r(r)
    ),
    replicas AS (
        SELECT r, CAST(SUM(w * c) * 1000 // SUM(w) AS BIGINT) AS mean_milli
        FROM weighted GROUP BY r
    ),
    ranked AS (
        SELECT mean_milli, row_number() OVER (ORDER BY mean_milli) AS rn
        FROM replicas
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM purchases) AS n,
           (SELECT CAST(SUM(c) * 1000 // count(*) AS BIGINT) FROM purchases)
               AS point_mean_milli,
           (SELECT mean_milli FROM ranked WHERE rn = 1) AS boot_lo_milli,
           (SELECT mean_milli FROM ranked WHERE rn = {_BOOT_R}) AS boot_hi_milli,
           CAST({_BOOT_R} AS BIGINT) AS n_replicas
    """,
)
def q228_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the mean purchase value, made
    DETERMINISTIC: each of {_BOOT_R} replicas draws every row's
    multiplicity from Poisson(1) via an inverse-CDF lookup on a
    salted-hash uniform (integer thresholds, q65's consistent-hash
    discipline) — the standard Poisson-bootstrap approximation to
    sampling-with-replacement, reproducible across engines and reruns.
    With {_BOOT_R} replicas the reported interval is the replica min/max
    (~95% coverage at this R); production raises R, same plan.

    Shape at 100 TB: the replica explode is narrow ({_BOOT_R}x rows, no
    shuffle), replica means are ONE map-side-combined aggregate on the
    replica key, and everything after is a {_BOOT_R}-row table. No
    collect, no RNG state, no per-replica rescan of the fact table.
    """
    (events,) = tables(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", F.round(F.col("value") * 100).cast("bigint").alias("c")
    )
    weighted = purchases.select(
        "c",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_R))).alias("r"),
        "event_id",
    ).withColumn(
        "u",
        md5_60bit(
            F.col("event_id").cast("string"),
            salt=F.concat(F.lit("boot"), F.col("r").cast("string")),
        )
        % 1_000_000_000,
    )
    weighted = weighted.withColumn("w", F.expr(_boot_weight_sql("u")))
    replicas = weighted.groupBy("r").agg(
        F.expr("CAST(SUM(w * c) * 1000 DIV SUM(w) AS BIGINT)").alias("mean_milli")
    )
    ranked = replicas.select(
        "mean_milli", F.row_number().over(Window.orderBy("mean_milli")).alias("rn")
    )
    point = purchases.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(SUM(c) * 1000 DIV COUNT(*) AS BIGINT)").alias(
            "point_mean_milli"
        ),
    )
    lo = ranked.filter(F.col("rn") == 1).select(
        F.col("mean_milli").alias("boot_lo_milli")
    )
    hi = ranked.filter(F.col("rn") == _BOOT_R).select(
        F.col("mean_milli").alias("boot_hi_milli")
    )
    return (
        point.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .withColumn("n_replicas", F.lit(_BOOT_R).cast("bigint"))
    )


# ---------------------------------------------------------------------------
# q229: optimal decision threshold (Youden J on the model score)
# ---------------------------------------------------------------------------


def _q229_oracle() -> str:
    from .similarity import _LM_W

    return f"""
    WITH q AS (
        SELECT CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos,
               CAST(list_sum(list_transform(list_zip(
                    list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)),
                    {list(_LM_W)}), p -> p[1] * p[2])) AS BIGINT) AS score
        FROM embeddings
    ),
    grouped AS (
        SELECT score, CAST(count(*) AS BIGINT) AS c,
               CAST(SUM(pos) AS BIGINT) AS p
        FROM q GROUP BY score
    ),
    cum AS (
        SELECT score,
               CAST(SUM(p) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_pos,
               CAST(SUM(c - p) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_neg
        FROM grouped
    ),
    tot AS (
        SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
               CAST(SUM(c - p) AS BIGINT) AS n_neg
        FROM grouped
    ),
    scored AS (
        -- classify score > t as positive: J(t) = TPR - FPR
        -- ∝ cum_neg·n_pos - cum_pos·n_neg  (maximize)
        SELECT score, cum_neg * n_pos - cum_pos * n_neg AS j_scaled,
               cum_pos, cum_neg, n_pos, n_neg
        FROM cum, tot
    ),
    best AS (
        SELECT * FROM scored
        WHERE j_scaled = (SELECT MAX(j_scaled) FROM scored)
        ORDER BY score LIMIT 1
    )
    SELECT score AS threshold, n_pos, n_neg,
           CAST(j_scaled * 1000000 // (n_pos * n_neg) AS BIGINT) AS youden_j_ppm,
           CAST(((n_pos - cum_pos) + cum_neg) * 1000000 // (n_pos + n_neg)
               AS BIGINT) AS accuracy_ppm
    FROM best
    """


@register("q229_optimal_threshold", oracle=_q229_oracle())
def q229_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal decision threshold for the q160/q215 linear model: the
    score cut maximizing Youden's J = TPR − FPR (classify score > t as
    positive), reported with the achieved J and accuracy — how a quality
    classifier's operating point is actually chosen after q215 says the
    ranking is good. J(t) maximization is integer-exact:
    J ∝ cum_neg·n_pos − cum_pos·n_neg over cumulative counts, the same
    cross-multiplication that makes q224's KS float-free (Youden J IS
    the KS distance between the class-conditional score distributions).

    Shape: the q215 collapse rule — scores group to the distinct-value
    table before the single cumulative window; the argmax keeps the
    smallest score on ties.
    """
    from .similarity import _LM_W

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    qv = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("bigint")
    )
    w_arr = F.lit([int(w) for w in _LM_W])  # one array<bigint> literal node
    zero = F.lit(0).cast("bigint")
    scored_rows = embeddings.select(
        F.when(F.col("label") % 2 == 1, 1).otherwise(0).alias("pos"),
        F.aggregate(
            F.zip_with(qv, w_arr, lambda x, w: x * w), zero, lambda a, v: a + v
        ).alias("score"),
    )
    grouped = scored_rows.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("pos").cast("bigint").alias("p"),
    )
    w_cum = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grouped.select(
        "score",
        F.sum("p").over(w_cum).cast("bigint").alias("cum_pos"),
        F.sum(F.col("c") - F.col("p")).over(w_cum).cast("bigint").alias("cum_neg"),
    )
    tot = grouped.agg(
        F.sum("p").cast("bigint").alias("n_pos"),
        F.sum(F.col("c") - F.col("p")).cast("bigint").alias("n_neg"),
    )
    scored = cum.crossJoin(F.broadcast(tot)).withColumn(
        "j_scaled",
        F.col("cum_neg") * F.col("n_pos") - F.col("cum_pos") * F.col("n_neg"),
    )
    best = (
        scored.withColumn(
            "jmax", F.max("j_scaled").over(Window.partitionBy())
        )
        .filter(F.col("j_scaled") == F.col("jmax"))
        .orderBy("score")
        .limit(1)
    )
    return best.select(
        F.col("score").alias("threshold"),
        "n_pos",
        "n_neg",
        F.expr("CAST(j_scaled * 1000000 DIV (n_pos * n_neg) AS BIGINT)").alias(
            "youden_j_ppm"
        ),
        F.expr(
            "CAST(((n_pos - cum_pos) + cum_neg) * 1000000 DIV (n_pos + n_neg)"
            " AS BIGINT)"
        ).alias("accuracy_ppm"),
    )



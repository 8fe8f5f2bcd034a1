"""Similarity search over embeddings: brute-force cosine top-k (baseline),
sign-LSH bucketed near-dup (scale path), and IVF cell-probed ANN.

Scale notes (100 TB): the brute-force variant is only sane because the query
set is tiny and *broadcast* — the big side streams once, no shuffle. The LSH
variant buckets both sides on a sign code so candidate generation is an
equi-join; IVF assigns vectors to coarse cells (broadcast centroid argmax)
and probes only the query's cell. All cosine math is JVM higher-order
functions; oracles compute the identical double-precision formula.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import memo
from ..functions.vectors import dot, duckdb_cosine, sq_norm
from ..registry import register
from ._util import cached_exprs, tables


@register(
    "q60_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 100 = 0),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {duckdb_cosine('q.qv', 'e.embedding')} AS cos
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    )
    WHERE rank <= 5
    """,
)
def q60_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for each query vector (vec_id % 100 = 0).

    The query side is broadcast; the corpus streams through one stage
    computing zip_with/aggregate dot products, then a per-query top-k window.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    # each side's squared norm is a PER-ROW invariant: computing it once
    # per vector before the pair join (instead of inside cosine(), per
    # pair) drops two of the three 64-element folds from the O(|q|·n)
    # inner loop — same expression on the same input, so every double is
    # bit-identical (r15; the factoring q102 got in r14)
    corp = embeddings.select("vec_id", "embedding", sq_norm("embedding").alias("sn_e"))
    q = corp.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("sn_e").alias("sn_q"),
    )
    scored = (
        F.broadcast(q)
        .join(corp, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot("qv", "embedding") / (F.sqrt("sn_q") * F.sqrt("sn_e"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cosine"), "rank")
    )


_LSH_TABLES = 4  # independent hash tables (bands)
_LSH_TABLE_BITS = 16  # sign bits per table -> 2^16 buckets per table


def _table_code_spark(t: int):
    """16-bit sign code of dimensions [16t, 16t+16) -- one LSH table.
    Constant expression per table index — construction memoized (r14)."""

    def _build():
        bits = [
            F.when(
                F.element_at("embedding", t * _LSH_TABLE_BITS + i + 1) > 0,
                F.lit(1 << i),
            ).otherwise(F.lit(0))
            for i in range(_LSH_TABLE_BITS)
        ]
        return reduce(lambda a, b: a + b, bits).cast("int")

    return cached_exprs(("lsh_table_code", t), _build)


def _table_code_sql(t: int, col: str = "embedding") -> str:
    terms = " + ".join(
        f"(CASE WHEN {col}[{t * _LSH_TABLE_BITS + i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(_LSH_TABLE_BITS)
    )
    return f"CAST({terms} AS INT)"


_LSH_BANDS_SQL = "\nUNION ALL\n".join(
    f"SELECT vec_id, {t} AS t, {_table_code_sql(t)} AS code FROM embeddings"
    for t in range(_LSH_TABLES)
)


@register(
    "q61_lsh_cosine_neardup",
    oracle=f"""
    WITH bands AS ({_LSH_BANDS_SQL}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b
          ON a.t = b.t AND a.code = b.code AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           ROUND({duckdb_cosine('ea.embedding', 'eb.embedding')}, 4) AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
    WHERE {duckdb_cosine('ea.embedding', 'eb.embedding')} >= 0.2
    """,
)
def q61_lsh_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table sign-LSH near-duplicate pairs: 4 independent hash tables,
    each keyed by the 16-bit sign code of its own block of 16 dimensions
    (axis-aligned hyperplanes); a pair is a candidate when it collides in
    ANY table, and candidates are verified against exact cosine >= 0.2.

    Scale design (the q52 banding shape, applied to vectors): each table has
    2^16 buckets, so the per-bucket self-join is O((n/65536)^2) per table --
    vs O((n/16)^2) for a single short code. Candidate generation is narrow
    rows (vec_id, t, code) self-equi-joined on (t, code); payload vectors
    are only shuffled for the (few) surviving candidate pairs, joined back
    by vec_id. No cross join at any stage; recall is tuned by adding tables,
    precision by the exact-cosine verify.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    # all table codes in ONE scan (posexplode), not a 4-way union of scans:
    # at 100 TB re-reading the corpus once per table is the dominant cost
    bands = embeddings.select(
        "vec_id",
        F.posexplode(F.array(*[_table_code_spark(t) for t in range(_LSH_TABLES)])).alias(
            "t", "code"
        ),
    )
    a = bands.select(F.col("vec_id").alias("vec_a"), "t", "code")
    b = bands.select(
        F.col("vec_id").alias("vec_b"),
        F.col("t").alias("t_b"),
        F.col("code").alias("code_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("t") == F.col("t_b"))
            & (F.col("code") == F.col("code_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b")
        .distinct()
    )
    # per-row squared norms computed once per side, not per pair (r15 —
    # bit-identical factoring, see q60)
    ea = embeddings.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        sq_norm("embedding").alias("sn_a"),
    )
    eb = embeddings.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        sq_norm("embedding").alias("sn_b"),
    )
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos", dot("emb_a", "emb_b") / (F.sqrt("sn_a") * F.sqrt("sn_b")))
        .filter(F.col("cos") >= 0.2)
        .select("vec_a", "vec_b", F.round("cos", 4).alias("cosine"))
    )


_N_CENTROIDS = 8


@register(
    "q62_ivf_ann",
    oracle=f"""
    WITH centroids AS (
        SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings WHERE vec_id < {_N_CENTROIDS}
    ),
    assigned AS (
        SELECT vec_id, embedding, centroid_id FROM (
            SELECT e.vec_id, e.embedding, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY {duckdb_cosine('e.embedding', 'c.cv')} DESC,
                                               c.centroid_id ASC) AS rn
            FROM embeddings e CROSS JOIN centroids c
        ) WHERE rn = 1
    ),
    q AS (
        SELECT vec_id AS query_id, embedding AS qv, centroid_id AS qcell
        FROM assigned WHERE vec_id % 100 = 50
    ),
    probed AS (
        SELECT q.query_id, a.vec_id AS neighbor_id,
               {duckdb_cosine('q.qv', 'a.embedding')} AS cos
        FROM q JOIN assigned a ON a.centroid_id = q.qcell AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM probed
    )
    WHERE rank <= 3
    """,
)
def q62_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize every vector to its nearest of 8
    centroids (broadcast argmax — the IVF *assignment* plumbing), then answer
    each query by probing only its own cell. At 100 TB the assignment is one
    broadcast pass and cells are the partitioning key for the probe join.

    Centroids here are the first 8 vectors (deterministic stand-in for a
    k-means codebook, which would be trained offline).
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    # squared norms once per vector / per centroid, not per (vector,
    # centroid) pair and again per probe pair (r15 — bit-identical
    # factoring, see q60); sn_e rides the assignment checkpoint so the
    # probe side reuses it too
    emb_sn = embeddings.select("vec_id", "embedding", sq_norm("embedding").alias("sn_e"))
    centroids = emb_sn.filter(F.col("vec_id") < _N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cv"),
        F.col("sn_e").alias("sn_cv"),
    )
    scored = F.broadcast(centroids).crossJoin(emb_sn).select(
        "vec_id",
        "embedding",
        "sn_e",
        "centroid_id",
        (dot("embedding", "cv") / (F.sqrt("sn_e") * F.sqrt("sn_cv"))).alias("ccos"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(), F.col("centroid_id").asc())
    # materialized once: both the query side and the probe side consume the
    # assignment, and without this each consumer re-runs the 8-way cosine
    # scoring + window (at 100 TB: checkpoint to reliable storage, or write
    # the assignment table — it IS the IVF index)
    assigned = (
        scored.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "sn_e", "centroid_id")
        .localCheckpoint()
    )
    q = assigned.filter(F.col("vec_id") % 100 == 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("sn_e").alias("sn_q"),
        F.col("centroid_id").alias("qcell"),
    )
    probed = (
        F.broadcast(q)
        .join(assigned, (F.col("centroid_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot("qv", "embedding") / (F.sqrt("sn_q") * F.sqrt("sn_e"))).alias("cos"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        probed.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cosine"), "rank")
    )


@register(
    "q83_label_centroids",
    oracle="""
    WITH expl AS (
        SELECT label,
               unnest(range(1, len(embedding) + 1)) AS pos,
               unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
        FROM embeddings
    )
    SELECT label, pos, COUNT(*) AS n_vectors,
           CAST(FLOOR(AVG(v) * 100000) AS BIGINT) AS centroid_1e5
    FROM expl
    GROUP BY label, pos
    """,
)
def q83_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the k-means update step / class-mean
    primitive), long form: one row per (label, dimension).

    posexplode multiplies rows by the dimensionality, then one groupBy with
    map-side partials collapses them to |labels|x|dims| rows before the
    exchange — at 100 TB the shuffle carries only partial sums, never
    vectors. Re-assembly to array form is
    ``groupBy(label).agg(array_sort(collect_list(struct(pos, val))))`` over
    this (tiny) result. Output is floor-scaled to 1e-5 so the cross-engine
    compare is exact despite summation-order ulps.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    expl = embeddings.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "v")
    return expl.groupBy("label", "pos").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.floor(F.avg("v") * 100000).cast("bigint").alias("centroid_1e5"),
    )


# ---------------------------------------------------------------------------
# k-means (Lloyd) training — deterministic, oracle-checked
# ---------------------------------------------------------------------------

_KM_K = 4
_KM_SCALE = 1_000_000  # centroids live as 1e-6-scaled BIGINT arrays
_IVF_TRAIN_MOD = 4  # IVF codebooks train on a 1-in-4 deterministic sample


def _km_best_struct(centroid_rows: list[tuple[int, list[int]]], col="embedding"):
    """least-of-k (d2, cluster_id) struct over a vector column — the narrow
    assignment core shared by :func:`_km_assign_expr` (cell id only) and the
    PQ encoder (which also needs the chosen distance).

    Construction is memoized keyed by the CENTROID VALUES plus the column
    name (r14): k zip_with/aggregate lambdas are py4j-bound to build, and
    the same trained codebook re-assigns in every consumer query. A
    retrained codebook is a different key, so memo-cold measurement
    honesty is untouched — only the py4j construction of an identical
    expression is skipped."""
    if isinstance(col, str):
        key = (
            "km_best_struct",
            col,
            tuple((int(cid), tuple(int(v) for v in cvec)) for cid, cvec in sorted(centroid_rows)),
        )
        # value-keyed: the key embeds the trained centroid matrix, so it
        # lives in the bounded LRU store (r15 — retrained codebooks age
        # out instead of leaking py4j trees for the life of the driver)
        return cached_exprs(
            key, lambda: _km_best_struct(centroid_rows, F.col(col)), value_keyed=True
        )
    column = col
    structs = []
    for cid, cvec in sorted(centroid_rows):
        # ONE array literal, not k*dim Literal nodes: Catalyst analysis +
        # codegen cost scales with expression-tree size, and the k-literal
        # distance folds dominated cold-start (measured on q97)
        lit_vec = F.lit([int(v) for v in cvec])
        d2 = F.aggregate(
            F.zip_with(
                column,
                lit_vec,
                lambda x, c: (x.cast("double") * _KM_SCALE - c.cast("double"))
                * (x.cast("double") * _KM_SCALE - c.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        structs.append(F.struct(d2.alias("d2"), F.lit(int(cid)).alias("cluster_id")))
    return F.least(*structs) if len(structs) > 1 else structs[0]


def _km_assign_expr(centroid_rows: list[tuple[int, list[int]]], col="embedding"):
    """The nearest-centroid cell id as a NARROW Column over an ``embedding``
    column (squared L2 in scaled space; ties break on cluster_id): the k
    centroids arrive as plain Python rows (the MLlib pattern — the model is
    k tiny integer-exact arrays collected driver-side; the data never
    moves) and are inlined as literal arrays, so assignment is least-of-k
    over per-row distances — no crossJoin, no per-vector window shuffle.
    Reused by q97/q134/q135, q102's cell-blocked near-dup join, and q143's
    per-subspace PQ codes.
    """
    return _km_best_struct(centroid_rows, col)["cluster_id"].cast("bigint")


def _km_assign(vectors: DataFrame, centroid_rows: list[tuple[int, list[int]]]) -> DataFrame:
    """Assign each vector to its nearest centroid. Replaced the
    crossJoin+row_number shape: 3 shuffles per assignment became 0 (same
    arithmetic, bit-identical results, same tie-break)."""
    return vectors.select(
        "vec_id", "embedding", _km_assign_expr(centroid_rows).alias("cluster_id")
    )


def _collect_centroids(cdf: DataFrame) -> list[tuple[int, list[int]]]:
    """Materialize a centroid DataFrame to k driver-side rows (sorted for
    deterministic literal order)."""
    return sorted((int(r["cluster_id"]), [int(v) for v in r["cvec"]]) for r in cdf.collect())


def _km_update(assigned: DataFrame) -> DataFrame:
    """Recompute centroids as the element-wise mean of assigned vectors,
    floor-scaled back to BIGINT (keeps the next assignment deterministic
    across engines and partitionings)."""
    expl = assigned.select(
        "cluster_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    means = expl.groupBy("cluster_id", "pos").agg(
        F.floor(F.avg("v") * _KM_SCALE).cast("bigint").alias("cval")
    )
    return means.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cval"))), lambda s: s.cval
        ).alias("cvec")
    )


def _km_sql_assign(vec_src: str, cent_src: str) -> str:
    return f"""
        SELECT vec_id, embedding, cluster_id FROM (
            SELECT v.vec_id, v.embedding, c.cluster_id,
                   list_sum(list_transform(list_zip(v.embedding, c.cvec),
                       p -> (CAST(p[1] AS DOUBLE) * {_KM_SCALE} - CAST(p[2] AS DOUBLE))
                          * (CAST(p[1] AS DOUBLE) * {_KM_SCALE} - CAST(p[2] AS DOUBLE)))) AS d2,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY list_sum(list_transform(list_zip(v.embedding, c.cvec),
                                          p -> (CAST(p[1] AS DOUBLE) * {_KM_SCALE} - CAST(p[2] AS DOUBLE))
                                             * (CAST(p[1] AS DOUBLE) * {_KM_SCALE} - CAST(p[2] AS DOUBLE)))) ASC,
                                      c.cluster_id ASC) AS rn
            FROM {vec_src} v CROSS JOIN {cent_src} c
        ) WHERE rn = 1
    """


#: Trained codebooks, the in-process twin of "persist the trained index
#: once and reuse it across query batches" (q134 docstring): q102/q134/q135
#: share one training run per dataset and repeat executions skip the
#: driver-side Lloyd jobs. The model is k tiny integer arrays.
#: Memo: (cache_key, iters, k) or (f"{cache_key}#pq{s}", 1) -> centroids;
#: emptied by clear_all and when the SparkContext changes.
_CODEBOOK_CACHE: dict[tuple, list[tuple[int, list[int]]]] = memo.register({})

#: Resolved ``k_cells="auto"`` cell counts: "auto" needs the corpus count,
#: a full corpus scan at the 100 TB scale the feature targets (r13 ADVICE),
#: so repeat calls under one cache_key reuse the first resolution;
#: ``refresh=True`` re-counts (the post-append recipe).
#: Memo: cache_key -> cell count; emptied by clear_all and when the
#: SparkContext changes.
_AUTO_CELLS_CACHE: dict[str, int] = memo.register({})


def ivf_auto_cells(n_vectors: int) -> int:
    """The sqrt(n)-scaled cell count for ``k_cells="auto"``: the largest
    power of two at-or-below ``sqrt(n)/4``, floored at the oracle-twinned
    ``_KM_K`` default. Powers of two keep the resolved count stable under
    small corpus-size jitter (so the codebook memo and any persisted index
    stay valid across minor appends). Pinned to the measured operating
    points in artifacts/ann_adaptive_k.json: n=20 000 -> 32 cells (3.3%%
    of the corpus probed, recall 98.0%%), n=200 000 -> 64 cells (1.9%%
    probed, recall 100%%) — vs the fixed K=4 default's constant ~25%%
    probed. At 100 TB this is the knob that keeps nprobe=1 probe cost
    ~sqrt(n) instead of n/4."""
    import math

    if n_vectors <= 0:
        return _KM_K
    target = math.sqrt(n_vectors) / 4.0
    if target < 2.0:
        return _KM_K
    return max(_KM_K, 2 ** int(math.log2(target)))


def _resolve_k_cells(
    embeddings: DataFrame,
    k_cells: int | str | None,
    cache_key: str | None = None,
    refresh: bool = False,
) -> int:
    if k_cells is None:
        return _KM_K
    if k_cells == "auto":
        # "auto" costs one count() — a full corpus scan at 100 TB — so the
        # resolution is memoized per cache_key and repeat calls (including
        # pure codebook-memo hits) skip the scan entirely (r13 ADVICE).
        # refresh=True is the explicit invalidation path after appends.
        if cache_key is None:
            return ivf_auto_cells(embeddings.count())
        return memo.get_or_build(
            _AUTO_CELLS_CACHE,
            cache_key,
            lambda: ivf_auto_cells(embeddings.count()),
            refresh=refresh,
        )
    k = int(k_cells)
    if k < 1:
        raise ValueError(f"k_cells must be >= 1, got {k_cells!r}")
    return k


def ivf_train_centroids(
    embeddings: DataFrame,
    iters: int = 2,
    cache_key: str | None = None,
    k_cells: int | str | None = None,
    refresh: bool = False,
) -> list[tuple[int, list[int]]]:
    """Train IVF centroids: seed from the first ``k`` vec_ids, run
    ``iters`` deterministic Lloyd iterations over a deterministic
    1-in-``_IVF_TRAIN_MOD`` hash-sample of the corpus (standard IVF
    practice — codebook quality needs a bounded sample, not the corpus, so
    at 100 TB training cost is fixed while assignment still covers every
    vector). Integer-quantized after every update, so the resulting cells
    are bit-identical cross-engine — the exact twin of
    :func:`ivf_assigned_sql_ctes` *called with the matching ``k_cells``
    argument* (``ivf_assigned_sql_ctes()`` with no argument twins only the
    default ``k_cells=None`` / K=4 operating point).

    ``k_cells`` selects the cell count: ``None`` keeps the oracle-twinned
    ``_KM_K`` (=4) default (the registered q62/q102/q134/q135 operating
    point), an int pins an explicit count, and ``"auto"`` scales cells with
    the corpus via :func:`ivf_auto_cells` (cells ~ sqrt(n)) — the operating
    point a 100 TB deployment needs, where fixed-K probes a constant
    fraction of the corpus while auto-K keeps per-query probe cost
    sublinear (measured 7.6-13x probe-compute cut with recall held,
    artifacts/ann_adaptive_k.json; oracle-checked end-to-end as q261).

    ``refresh=True`` is the explicit invalidation path for a corpus that
    grew under an unchanged ``cache_key``: it re-counts (re-resolving
    ``"auto"``'s cell count, which is otherwise memoized per cache_key so
    repeat calls cost zero corpus scans) and re-trains, overwriting both
    memo entries."""
    k = _resolve_k_cells(embeddings, k_cells, cache_key=cache_key, refresh=refresh)
    if cache_key is None:
        return _ivf_train(embeddings, iters, k)
    return memo.get_or_build(
        _CODEBOOK_CACHE,
        (cache_key, iters, k),
        lambda: _ivf_train(embeddings, iters, k),
        refresh=refresh,
    )


def _ivf_train(embeddings: DataFrame, iters: int, k: int) -> list[tuple[int, list[int]]]:
    # persist the BOUNDED training sample across the Lloyd jobs: each
    # iteration is its own Spark job (the centroid collect is a barrier), so
    # without the persist every iteration re-scans and re-filters the corpus
    vectors = (
        embeddings.filter(F.col("vec_id") % _IVF_TRAIN_MOD == 0)
        .select("vec_id", "embedding")
        .persist()
    )
    try:
        seed_df = embeddings.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cluster_id"),
            F.transform(
                "embedding", lambda x: F.floor(x.cast("double") * _KM_SCALE).cast("bigint")
            ).alias("cvec"),
        )
        # Overlap the two INDEPENDENT driver-barrier jobs (guide §2.6):
        # the seed-centroid collect and the training-sample cache
        # materialization used to run back-to-back, paying two full
        # per-job scheduling latencies before the first Lloyd iteration
        # could start. Submitting both from a 2-thread pool lets the
        # second job back-fill the first's idle executors. Results are
        # bit-identical — the seed computation is untouched and the
        # count() result is discarded (it exists only to materialize the
        # persist before the iterations).
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_rows = pool.submit(_collect_centroids, seed_df)
            f_warm = pool.submit(vectors.count)
            rows = f_rows.result()
            f_warm.result()
        for _ in range(iters):
            rows = _collect_centroids(_km_update(_km_assign(vectors, rows)))
    finally:
        vectors.unpersist()
    return rows


def ivf_assign(
    embeddings: DataFrame,
    k_cells: int | str | None = None,
    cache_key: str | None = None,
    iters: int = 2,
    refresh: bool = False,
) -> DataFrame:
    """The IVF index build as one call: train the codebook (see
    :func:`ivf_train_centroids` for the ``k_cells`` semantics, including
    ``"auto"`` and the ``refresh`` invalidation path) and assign every
    vector to its nearest cell. Returns ``(vec_id, embedding, cluster_id)``
    — ready for nprobe=1 probing by joining queries on ``cluster_id``,
    exactly the q134/q135 shape. The assignment is a broadcast-argmin over
    k tiny integer centroid arrays: one corpus scan, no shuffle."""
    vectors = embeddings.select("vec_id", "embedding")
    return _km_assign(
        vectors,
        ivf_train_centroids(
            embeddings, iters=iters, cache_key=cache_key, k_cells=k_cells,
            refresh=refresh,
        ),
    )


def ivf_assigned_sql_ctes(k_cells: int | str | None = None) -> str:
    """DuckDB CTE chain (for splicing after ``WITH``) that reproduces
    :func:`ivf_train_centroids` + final assignment: yields a CTE named
    ``assigned(vec_id, embedding, cluster_id)`` over the ``embeddings``
    view — the oracle twin of the trained-IVF index build.

    ``k_cells`` mirrors the operator parameter: ``None`` emits the
    registered ``_KM_K`` (=4) literal (byte-identical to the historical
    output — the q62/q102/q134/q135/q253 oracles), an int pins that count,
    and ``"auto"`` prepends a ``kparam`` CTE that computes the SAME
    sqrt(n)-scaled power-of-two count as :func:`ivf_auto_cells` inside the
    oracle engine (q261), so the cross-engine twin holds at every corpus
    size, not just the K=4 default."""
    train_src = f"(SELECT * FROM embeddings WHERE vec_id % {_IVF_TRAIN_MOD} = 0)"
    if k_cells == "auto":
        # exact SQL transliteration of ivf_auto_cells: both engines feed
        # the same integer n through IEEE-double sqrt/log2, so the floor
        # and power round identically (pinned by tests/test_ann_recall_
        # floors.py::test_auto_cells_sql_parity across count decades)
        kparam = f"""kparam AS (
        SELECT CASE WHEN SQRT(COUNT(*)) / 4.0 < 2.0 THEN {_KM_K}
                    ELSE GREATEST({_KM_K}, CAST(POWER(2,
                        CAST(FLOOR(LOG2(SQRT(COUNT(*)) / 4.0)) AS BIGINT)) AS BIGINT))
               END AS k
        FROM embeddings
    ),
    """
        seed_bound = "(SELECT k FROM kparam)"
    elif k_cells is None:
        kparam = ""
        seed_bound = str(_KM_K)
    else:
        k = int(k_cells)
        if k < 1:
            raise ValueError(f"k_cells must be >= 1, got {k_cells!r}")
        kparam = ""
        seed_bound = str(k)
    return f"""{kparam}c0 AS (
        SELECT vec_id AS cluster_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS cvec
        FROM embeddings WHERE vec_id < {seed_bound}
    ),
    a1 AS ({_km_sql_assign(train_src, 'c0')}),
    c1 AS ({_km_sql_update('a1')}),
    a2 AS ({_km_sql_assign(train_src, 'c1')}),
    c2 AS ({_km_sql_update('a2')}),
    assigned AS ({_km_sql_assign('embeddings', 'c2')})"""


def _km_sql_update(assign_src: str) -> str:
    return f"""
        SELECT cluster_id, list(cval ORDER BY pos) AS cvec FROM (
            SELECT cluster_id, pos, CAST(FLOOR(AVG(v) * {_KM_SCALE}) AS BIGINT) AS cval
            FROM (
                SELECT cluster_id,
                       unnest(range(1, len(embedding) + 1)) AS pos,
                       unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
                FROM {assign_src}
            )
            GROUP BY cluster_id, pos
        ) GROUP BY cluster_id
    """


@register(
    "q97_kmeans",
    oracle=f"""
    WITH c0 AS (
        SELECT vec_id AS cluster_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS cvec
        FROM embeddings WHERE vec_id < {_KM_K}
    ),
    a1 AS ({_km_sql_assign('embeddings', 'c0')}),
    c1 AS ({_km_sql_update('a1')}),
    a2 AS ({_km_sql_assign('embeddings', 'c1')}),
    c2 AS ({_km_sql_update('a2')})
    SELECT a.cluster_id,
           COUNT(*) AS n_vectors,
           MIN(a.vec_id) AS min_vec,
           CAST((SELECT list_sum(c.cvec) FROM c2 c WHERE c.cluster_id = a.cluster_id)
               AS BIGINT) AS centroid_checksum
    FROM a2 a
    GROUP BY a.cluster_id
    """,
)
def q97_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=4) over the embeddings, fully
    deterministic and oracle-checked: centroids are floor-quantized to
    1e-6-scaled BIGINT arrays after every update, so the next assignment's
    argmin is bit-identical across engines and partition orders (raw
    double means would drift in the last ulp and could flip boundary
    assignments).

    Spark shape per iteration: assignment is a NARROW least-of-k expression
    over the k collected integer centroid literals (zero shuffles — the
    model is constant-sized, the data never moves); the update is
    posexplode → groupBy (cluster, dim) partial means → re-assembled
    arrays (one shuffle of partial sums). At 100 TB this is the standard
    distributed Lloyd step; more iterations = a loop around the same two
    stages.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    vectors = embeddings.select("vec_id", "embedding")
    # the two Lloyd update-collects are separate jobs over the same narrow
    # projection — persist it for the training loop, then release so the
    # returned (lazy) plan pipelines straight off the parquet scan
    vectors.persist()
    try:
        rows = _collect_centroids(
            embeddings.filter(F.col("vec_id") < _KM_K).select(
                F.col("vec_id").alias("cluster_id"),
                F.transform(
                    "embedding", lambda x: F.floor(x.cast("double") * _KM_SCALE).cast("bigint")
                ).alias("cvec"),
            )
        )
        assigned = None
        for _ in range(2):
            assigned = _km_assign(vectors, rows)
            rows = _collect_centroids(_km_update(assigned))
    finally:
        vectors.unpersist()
    checksums = spark.createDataFrame(
        [(cid, sum(cvec)) for cid, cvec in rows],
        "cluster_id bigint, centroid_checksum bigint",
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec"))
        .join(F.broadcast(checksums), "cluster_id")
    )


@register(
    "q134_ivf_trained",
    oracle=f"""
    WITH {ivf_assigned_sql_ctes()},
    q AS (
        SELECT vec_id AS query_id, embedding AS qv, cluster_id AS qcell
        FROM assigned WHERE vec_id % 100 = 50
    ),
    probed AS (
        SELECT q.query_id, a.vec_id AS neighbor_id,
               {duckdb_cosine('q.qv', 'a.embedding')} AS cos
        FROM q JOIN assigned a ON a.cluster_id = q.qcell AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM probed
    )
    WHERE rank <= 3
    """,
)
def q134_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over TRAINED cells: centroids come from two deterministic
    Lloyd iterations (the q97 machinery — integer-quantized after every
    update, bit-identical cross-engine), the index assigns every vector to
    its trained cell, and each query probes only its own cell for top-3
    neighbors.

    This closes q62's caveat (its cells were seed vectors, not trained):
    the full IVF lifecycle — train -> build -> probe — in one lazy plan.
    Scale shape: training touches the corpus twice per iteration with
    k-array broadcasts (no vector shuffle); the index build is one more
    broadcast-argmin pass; probes hit 1/k of the corpus per query. At
    100 TB the trained centroid table would be persisted once and reused
    across query batches; nprobe>1 = relaxing the cell equality to the
    top-n cells by centroid distance.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    vectors = embeddings.select("vec_id", "embedding")
    # per-row squared norm hoisted out of the probe pair loop (r15 —
    # bit-identical factoring, see q60)
    assigned = _km_assign(vectors, ivf_train_centroids(embeddings, cache_key=sf_dir)).withColumn(
        "sn_e", sq_norm("embedding")
    )
    q = assigned.filter(F.col("vec_id") % 100 == 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("sn_e").alias("sn_q"),
        F.col("cluster_id").alias("qcell"),
    )
    probed = (
        F.broadcast(q)
        .join(
            assigned,
            (F.col("cluster_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot("qv", "embedding") / (F.sqrt("sn_q") * F.sqrt("sn_e"))).alias("cos"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        probed.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cosine"), "rank")
    )


@register(
    "q135_ann_recall",
    oracle=f"""
    WITH {ivf_assigned_sql_ctes()},
    q AS (
        SELECT vec_id AS query_id, embedding AS qv, cluster_id AS qcell
        FROM assigned WHERE vec_id % 100 = 50
    ),
    brute AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY {duckdb_cosine('q.qv', 'e.embedding')} DESC,
                                e.vec_id ASC) AS rank
            FROM q JOIN embeddings e ON e.vec_id <> q.query_id
        ) WHERE rank <= 10
    ),
    ivf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                       ORDER BY {duckdb_cosine('q.qv', 'a.embedding')} DESC,
                                a.vec_id ASC) AS rank
            FROM q JOIN assigned a ON a.cluster_id = q.qcell AND a.vec_id <> q.query_id
        ) WHERE rank <= 3
    )
    SELECT i.query_id,
           COUNT(*) AS n_ivf,
           CAST(SUM(CASE WHEN b.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_in_brute_top10
    FROM ivf i
    LEFT JOIN brute b
      ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
    GROUP BY i.query_id
    """,
)
def q135_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: how many of the trained-IVF top-3 neighbors
    (q134's scale path) appear in the exact brute-force top-10 (q60's
    baseline) — recall@k as a first-class, oracle-checked query rather than
    an offline eyeball.

    "Measure, don't guess": the approximate path ships WITH its own
    evaluation harness, so cell-count/nprobe tuning at 100 TB reads recall
    off a dashboard instead of assuming it. The brute side stays feasible
    exactly like q60 — the query set is tiny and broadcast, the corpus
    streams once; everything downstream of the two top-k windows is
    |queries|-sized.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    vectors = embeddings.select("vec_id", "embedding")
    # three consumers (q, brute via q, ivf) would each re-scan for the
    # narrow assignment; persist the built index once — the q52
    # persist-before-multi-consumer shape
    # per-row squared norm hoisted out of BOTH pair loops (r15 — bit-
    # identical factoring, see q60); rides the persisted index
    assigned = (
        _km_assign(vectors, ivf_train_centroids(embeddings, cache_key=sf_dir))
        .withColumn("sn_e", sq_norm("embedding"))
        .persist()
    )
    q = assigned.filter(F.col("vec_id") % 100 == 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("sn_e").alias("sn_q"),
        F.col("cluster_id").alias("qcell"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    corp = embeddings.select("vec_id", "embedding", sq_norm("embedding").alias("sn_e"))
    brute = (
        F.broadcast(q.select("query_id", "qv", "sn_q"))
        .join(corp, F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                (dot("qv", "embedding") / (F.sqrt("sn_q") * F.sqrt("sn_e"))).alias("cos"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 10)
        .select("query_id", F.col("neighbor_id").alias("b_neighbor"))
    )
    ivf = (
        F.broadcast(q)
        .join(
            assigned,
            (F.col("cluster_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                (dot("qv", "embedding") / (F.sqrt("sn_q") * F.sqrt("sn_e"))).alias("cos"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    hit = brute.select(
        F.col("query_id").alias("b_query"), "b_neighbor", F.lit(1).alias("hit")
    )
    return (
        ivf.join(
            hit,
            (F.col("query_id") == F.col("b_query"))
            & (F.col("neighbor_id") == F.col("b_neighbor")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_ivf"),
            F.sum(F.when(F.col("hit").isNull(), 0).otherwise(1)).alias("n_in_brute_top10"),
        )
    )


@register(
    "q261_ivf_auto",
    oracle=f"""
    WITH {ivf_assigned_sql_ctes("auto")},
    q AS (
        SELECT vec_id AS query_id, embedding AS qv, cluster_id AS qcell
        FROM assigned WHERE vec_id % 100 = 50
    ),
    probed AS (
        SELECT q.query_id, a.vec_id AS neighbor_id,
               {duckdb_cosine('q.qv', 'a.embedding')} AS cos
        FROM q JOIN assigned a ON a.cluster_id = q.qcell AND a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine, rank,
           (SELECT k FROM kparam) AS n_cells
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM probed
    )
    WHERE rank <= 3
    """,
)
def q261_ivf_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q134's full IVF lifecycle (train -> build -> probe own cell for
    top-3) at the ``k_cells="auto"`` operating point — the sqrt(n)-scaled
    cell count the 100 TB deployment runs (q134 pins the oracle-twinned
    K=4 default; this pins the auto path end-to-end, closing the r13
    verdict's "auto has unit floors but no CORRECTNESS entry" gap).

    The ``n_cells`` column carries the resolved cell count through the
    hash compare, so the Spark-side :func:`ivf_auto_cells` formula and the
    oracle's ``kparam`` SQL transliteration are pinned equal at every
    scale factor (4 cells at the sf0.001/sf0.01 fixtures' 500 vectors,
    8 at sf0.1's 2000 — the sweep exercises both branches). Scale shape is
    q134's: training touches a bounded sample, the index build is one
    broadcast-argmin pass, probes hit ~1/sqrt(n) of the corpus per query
    instead of fixed-K's constant quarter.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    # resolve first (memoized per cache_key — one count() per dataset, r13
    # ADVICE), then the ivf_assign call below reuses the memo entry
    k = _resolve_k_cells(embeddings, "auto", cache_key=sf_dir)
    assigned = ivf_assign(embeddings, k_cells="auto", cache_key=sf_dir).withColumn(
        "sn_e", sq_norm("embedding")
    )
    q = assigned.filter(F.col("vec_id") % 100 == 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("sn_e").alias("sn_q"),
        F.col("cluster_id").alias("qcell"),
    )
    probed = (
        F.broadcast(q)
        .join(
            assigned,
            (F.col("cluster_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot("qv", "embedding") / (F.sqrt("sn_q") * F.sqrt("sn_e"))).alias("cos"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        probed.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 4).alias("cosine"),
            "rank",
            F.lit(k).cast("long").alias("n_cells"),
        )
    )


# ---------------------------------------------------------------------------
# product quantization: per-subspace codebooks + codes + reconstruction error
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUB = 16  # dims per subspace (4 x 16 = the fixture's 64)


def _km_sql_assign_d2(vec_src: str, cent_src: str) -> str:
    """Like :func:`_km_sql_assign` but keeps the chosen distance (the PQ
    reconstruction-error term)."""
    d2 = (
        "list_sum(list_transform(list_zip(v.embedding, c.cvec), "
        f"p -> (CAST(p[1] AS DOUBLE) * {_KM_SCALE} - CAST(p[2] AS DOUBLE)) "
        f"* (CAST(p[1] AS DOUBLE) * {_KM_SCALE} - CAST(p[2] AS DOUBLE))))"
    )
    return f"""
        SELECT vec_id, cluster_id, d2 FROM (
            SELECT v.vec_id, c.cluster_id, {d2} AS d2,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {d2} ASC, c.cluster_id ASC) AS rn
            FROM {vec_src} v CROSS JOIN {cent_src} c
        ) WHERE rn = 1
    """


def _pq_sql_ctes() -> str:
    """CTE chain training one codebook per subspace (seed -> 1 Lloyd
    iteration on the 1-in-``_IVF_TRAIN_MOD`` sample) and encoding every
    vector: yields ``code_0..code_{m-1}(vec_id, cluster_id, d2)``."""
    parts = []
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUB + 1, (s + 1) * _PQ_SUB
        parts.append(
            f"""sub_{s} AS (
        SELECT vec_id, embedding[{lo}:{hi}] AS embedding FROM embeddings
    ),
    c0_{s} AS (
        SELECT vec_id AS cluster_id,
               list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT)) AS cvec
        FROM sub_{s} WHERE vec_id < {_KM_K}
    ),
    a1_{s} AS ({_km_sql_assign(f'(SELECT * FROM sub_{s} WHERE vec_id % {_IVF_TRAIN_MOD} = 0)', f'c0_{s}')}),
    c1_{s} AS ({_km_sql_update(f'a1_{s}')}),
    code_{s} AS ({_km_sql_assign_d2(f'sub_{s}', f'c1_{s}')})"""
        )
    return ",\n    ".join(parts)


def _pq_train_subspace(
    embeddings: DataFrame, s: int, cache_key: str | None = None
) -> list[tuple[int, list[int]]]:
    """Train subspace ``s``'s codebook: seed from the first ``_KM_K``
    vec_ids' subvectors, one deterministic Lloyd iteration over the
    1-in-``_IVF_TRAIN_MOD`` sample (same quantization discipline as
    :func:`ivf_train_centroids`, same memoization)."""
    if cache_key is None:
        return _pq_train(embeddings, s)
    return memo.get_or_build(
        _CODEBOOK_CACHE, (f"{cache_key}#pq{s}", 1), lambda: _pq_train(embeddings, s)
    )


def _pq_train(embeddings: DataFrame, s: int) -> list[tuple[int, list[int]]]:
    sub = embeddings.select(
        "vec_id", F.slice("embedding", s * _PQ_SUB + 1, _PQ_SUB).alias("embedding")
    )
    seeds = _collect_centroids(
        sub.filter(F.col("vec_id") < _KM_K).select(
            F.col("vec_id").alias("cluster_id"),
            F.transform(
                "embedding", lambda x: F.floor(x.cast("double") * _KM_SCALE).cast("bigint")
            ).alias("cvec"),
        )
    )
    train = sub.filter(F.col("vec_id") % _IVF_TRAIN_MOD == 0)
    return _collect_centroids(_km_update(_km_assign(train, seeds)))


@register(
    "q143_pq_encode",
    oracle=f"""
    WITH {_pq_sql_ctes()}
    SELECT e.vec_id, e.label,
           k0.cluster_id AS code0, k1.cluster_id AS code1,
           k2.cluster_id AS code2, k3.cluster_id AS code3,
           CAST(FLOOR((k0.d2 + k1.d2 + k2.d2 + k3.d2) / {_KM_SCALE}) AS BIGINT)
               AS err_scaled
    FROM embeddings e
    JOIN code_0 k0 ON k0.vec_id = e.vec_id
    JOIN code_1 k1 ON k1.vec_id = e.vec_id
    JOIN code_2 k2 ON k2.vec_id = e.vec_id
    JOIN code_3 k3 ON k3.vec_id = e.vec_id
    """,
)
def q143_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encoding — the memory-scale path for vector
    search (IVF-PQ): the 64-dim embedding splits into 4 subspaces of 16
    dims, each with its own trained codebook (seed + one deterministic
    integer-quantized Lloyd iteration over the 1-in-4 sample); every vector
    is encoded as 4 code ids (here 2 bits each — a 32x compression of the
    fixture vector) plus its total scaled reconstruction error.

    Spark shape: all 4 codebooks are driver-side literal models (the
    ivf_train_centroids pattern, memoized per dataset), so encoding is ONE
    narrow projection over the corpus — 8 least-of-k folds (code + chosen
    distance per subspace), zero shuffles, no join anywhere on the Spark
    side. At 100 TB this is the plan you want: the oracle's 4-way
    vec_id join exists only because SQL can't share the argmin subplan.
    Float discipline: each d2 is a fixed-order left fold (deterministic
    IEEE on both engines), and the 4-term error sum is written in the same
    association order both sides, so FLOOR cannot disagree.

    Reference capability parity: similarity plane of SURVEY.md §2
    (dedup/ANN family); completes the IVF story (q134) with the PQ
    compression stage of a production IVF-PQ index.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    sel = [F.col("vec_id"), F.col("label")]
    d2s = []
    # the 4 subspace trainings are 8 driver-collect jobs over the same
    # table — persist it once for the training phase, release after (the
    # returned encode plan is a narrow projection off the parquet scan)
    embeddings.persist()
    try:
        # The 4 subspace trainings are INDEPENDENT chains of 2 driver-
        # collect jobs each; running them sequentially paid 8 full per-job
        # scheduling latencies. A 4-thread pool overlaps the chains
        # (guide §2.6 — later jobs back-fill earlier jobs' idle
        # executors); each codebook is computed exactly as before, so the
        # results (and the memo entries) are bit-identical, just not
        # serialized. pool.map preserves subspace order.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=_PQ_M) as pool:
            codebooks = list(
                pool.map(
                    lambda s: _pq_train_subspace(embeddings, s, cache_key=sf_dir),
                    range(_PQ_M),
                )
            )
    finally:
        embeddings.unpersist()
    for s, rows in enumerate(codebooks):
        best = _km_best_struct(rows, F.slice("embedding", s * _PQ_SUB + 1, _PQ_SUB))
        sel.append(best["cluster_id"].cast("bigint").alias(f"code{s}"))
        d2s.append(best["d2"])
    err = F.floor(((d2s[0] + d2s[1]) + d2s[2] + d2s[3]) / _KM_SCALE).cast("bigint")
    return embeddings.select(*sel, err.alias("err_scaled"))


# fixed "trained" linear model weights: deterministic integer weights in
# 1e-6 scale (one per dimension) + bias, shared literally by both engines
_LM_SCALE = 1_000_000
_LM_W = [((7 * d + 3) % 13 - 6) * 1000 for d in range(64)]  # -6000..6000
_LM_B = 250_000


@register(
    "q160_linear_scoring",
    oracle=f"""
    WITH scored AS (
        SELECT vec_id, label,
               list_sum(list_transform(list_zip(embedding, {list(_LM_W)}),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / {_LM_SCALE} + {_LM_B}.0 / {_LM_SCALE} AS logit
        FROM embeddings
    )
    SELECT vec_id, label,
           CAST(FLOOR(10000.0 / (1.0 + EXP(-logit))) AS BIGINT) AS score_bp,
           CASE WHEN logit > 0 THEN 1 ELSE 0 END AS predicted
    FROM scored
    """,
)
def q160_linear_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference — apply a trained linear classifier (logistic
    head) to every embedding: score = sigmoid(w·x + b), with the weight
    vector inlined as a 64-int literal array (the broadcast-model pattern:
    the model is constant-sized, the corpus never moves). The pipeline op
    that follows training in every production loop, at its correct scale
    shape: ONE narrow projection, no shuffle, no Python — the dot product
    is a fixed-order zip_with fold, so the double logit is bit-identical
    across engines; the score floors to basis points (1e4), coarse
    enough that a last-ulp exp() difference cannot flip the floor.

    Swapping in real trained weights keeps the identical plan; for models
    larger than expression-literal size, a broadcast join on a 1-row
    weights table is the same shape one operator later.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    w_lit = F.lit([int(w) for w in _LM_W])  # one array literal (see _km_best_struct)
    dot = F.aggregate(
        F.zip_with("embedding", w_lit, lambda x, w: x.cast("double") * w.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    logit = dot / _LM_SCALE + F.lit(float(_LM_B)) / _LM_SCALE
    return embeddings.select(
        "vec_id",
        "label",
        F.floor(10_000.0 / (F.lit(1.0) + F.exp(-logit))).cast("bigint").alias(
            "score_bp"
        ),
        F.when(logit > 0, 1).otherwise(0).alias("predicted"),
    )


@register(
    "q178_model_lift",
    oracle=f"""
    WITH scored AS (
        SELECT label,
               list_sum(list_transform(list_zip(embedding, {list(_LM_W)}),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                   / {_LM_SCALE} + {_LM_B}.0 / {_LM_SCALE} AS logit,
               vec_id
        FROM embeddings
    ),
    binned AS (
        SELECT CASE WHEN label = 1 THEN 1 ELSE 0 END AS positive,
               NTILE(10) OVER (ORDER BY logit DESC, vec_id ASC) AS decile
        FROM scored
    ),
    per_decile AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(positive) AS BIGINT) AS n_pos
        FROM binned GROUP BY decile
    )
    SELECT decile, n, n_pos,
           CAST((1000000 * n_pos) // n AS BIGINT) AS pos_rate_ppm,
           CAST((1000000 * SUM(n_pos) OVER (ORDER BY decile))
                // (SELECT SUM(n_pos) FROM per_decile) AS BIGINT)
               AS cum_capture_ppm
    FROM per_decile
    """,
)
def q178_model_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation lift table for q160's linear scorer: rank the
    corpus by score, split into deciles, and report each decile's
    positive rate (label=1 as the target class) and the cumulative
    capture curve — the table behind every lift/gains chart, closing the
    train→score→EVALUATE loop next to q135's retrieval recall.

    The decile assignment matches ``NTILE(10) OVER (ORDER BY score DESC,
    vec_id)`` bit-for-bit but runs DISTRIBUTED: scores bucket by a
    monotone coarse quantization, bucket counts collapse to broadcast base
    ranks, and the only row-level sort is a per-bucket window — no
    single-partition WindowExec anywhere (the round-4 global NTILE was the
    named scale-killer here). The decile label is pure integer arithmetic
    on (rank, N); rates are integer-ppm.
    """
    from ._util import distributed_row_number, ntile_from_rank

    (embeddings,) = tables(spark, sf_dir, "embeddings")
    w_lit = F.lit([int(w) for w in _LM_W])  # one array literal (see _km_best_struct)
    dot = F.aggregate(
        F.zip_with("embedding", w_lit, lambda x, w: x.cast("double") * w.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    logit = dot / _LM_SCALE + F.lit(float(_LM_B)) / _LM_SCALE
    scored = embeddings.select(
        F.when(F.col("label") == 1, 1).otherwise(0).alias("positive"),
        logit.alias("logit"),
        "vec_id",
    )
    ranked = distributed_row_number(
        scored,
        bucket=F.floor(F.col("logit") * F.lit(-1000.0)).cast("bigint"),
        order_by=[F.col("logit").desc(), F.col("vec_id").asc()],
    )
    # count the RAW table — counting `scored` would evaluate the 64-dim
    # dot product per row, and counting `ranked` the whole rank pipeline
    n_total = embeddings.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    binned = ranked.crossJoin(F.broadcast(n_total)).select(
        "positive", ntile_from_rank(F.col("rn"), F.col("n_total"), 10).alias("decile")
    )
    per_decile = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("positive").alias("n_pos")
    )
    # both the running capture and its normalizer are windows over the
    # COLLAPSED 10-row decile table (single partition by design, sanctioned
    # by the plan guard) — no 1-row-broadcast join that would re-derive the
    # per-decile lineage a second time
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    with_cum = per_decile.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n_pos").over(w_all).alias("tp"),
        F.sum("n_pos").over(w_cum).alias("cum_pos"),
    )
    return with_cum.select(
        "decile",
        "n",
        "n_pos",
        F.expr("(1000000 * n_pos) DIV n").alias("pos_rate_ppm"),
        F.expr("(1000000 * cum_pos) DIV tp").alias("cum_capture_ppm"),
    )


@register(
    "q186_embedding_drift_profile",
    oracle="""
    WITH expl AS (
        SELECT label,
               unnest(range(1, len(embedding) + 1)) AS dim,
               unnest(list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS v_1e3
        FROM embeddings
    ),
    h AS (SELECT dim, v_1e3, COUNT(*) AS c FROM expl WHERE dim <= 8 GROUP BY dim, v_1e3),
    cum AS (
        SELECT dim, v_1e3,
               SUM(c) OVER (PARTITION BY dim ORDER BY v_1e3) AS cum,
               SUM(c) OVER (PARTITION BY dim) AS cnt
        FROM h
    )
    SELECT dim,
           MIN(CASE WHEN 20 * cum >= cnt THEN v_1e3 END) AS p05_1e3,
           MIN(CASE WHEN 2 * cum >= cnt THEN v_1e3 END) AS p50_1e3,
           MIN(CASE WHEN 20 * cum >= 19 * cnt THEN v_1e3 END) AS p95_1e3
    FROM cum GROUP BY dim
    """,
)
def q186_embedding_drift_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution profile (p5/p50/p95 of the
    first 8 dimensions, 1e-3-quantized) — the feature-drift monitoring
    table: compare this profile between corpus snapshots or train/serve
    time and alert when a dimension's band shifts (the embedding-space
    twin of q151's categorical drift test).

    Shape: posexplode to (dim, quantized value) — quantization BEFORE the
    histogram bounds distinct values per dim — then the q140
    histogram-cumulative exact percentiles: the heavy shuffle is a grouped
    count with map-side combine; no per-dim sort of raw vectors. The
    dim <= 8 projection keeps the fixture output small; the plan is
    dimension-count-agnostic.
    """
    (embeddings,) = tables(spark, sf_dir, "embeddings")
    expl = embeddings.select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000).cast("bigint"),
            )
        ).alias("dim0", "v_1e3")
    ).select((F.col("dim0") + 1).alias("dim"), "v_1e3")
    h = expl.filter(F.col("dim") <= 8).groupBy("dim", "v_1e3").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = Window.partitionBy("dim").orderBy("v_1e3")
    w_all = Window.partitionBy("dim")
    cum = h.select(
        "dim",
        "v_1e3",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("cnt"),
    )

    def pct(mc, mn):
        return F.min(F.when(mc * F.col("cum") >= mn * F.col("cnt"), F.col("v_1e3")))

    return cum.groupBy("dim").agg(
        pct(20, 1).alias("p05_1e3"),
        pct(2, 1).alias("p50_1e3"),
        pct(20, 19).alias("p95_1e3"),
    )

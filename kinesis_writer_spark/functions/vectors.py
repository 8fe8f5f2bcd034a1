"""Cross-engine vector math over ``array<float>`` embedding columns.

Both engines compute the identical formula — elements cast to double, then a
sequential left-to-right sum — so cosine values are bit-identical between the
Spark plan and the DuckDB oracle. All Spark-side math uses higher-order
built-ins (zip_with/aggregate): JVM-evaluated, no UDFs, no data leaves
Tungsten rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Construction memo for str-named columns (r14): each call builds 2-5
# py4j lambda round-trips; callers invoke these per query. Constant keys go
# to the package-wide store — see kinesis_writer_spark.exprcache.
from ..exprcache import cached_exprs as _cached


def dot(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return _cached(("dot", a, b), lambda: dot(F.col(a), F.col(b)))
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def sq_norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return _cached(("sq_norm", a), lambda: sq_norm(F.col(a)))
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double")), F.lit(0.0), lambda acc, x: acc + x * x
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return _cached(("cosine", a, b), lambda: cosine(F.col(a), F.col(b)))
    return dot(a, b) / (F.sqrt(sq_norm(a)) * F.sqrt(sq_norm(b)))


def duckdb_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def duckdb_sq_norm(a: str) -> str:
    return f"list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


def duckdb_cosine(a: str, b: str) -> str:
    return f"({duckdb_dot(a, b)} / (sqrt({duckdb_sq_norm(a)}) * sqrt({duckdb_sq_norm(b)})))"

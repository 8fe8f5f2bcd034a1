"""Query registry: every engine operator registers a named DataFrame builder
and (when SQL-expressible) a DuckDB oracle twin.

This is the driver contract's backbone: ``__spark_entry__.queries()`` and
``oracle_sql()`` are assembled from this registry. Column names are aliased
identically on both sides — the driver's compare hashes values after sorting
columns by name.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    #: Optional LOCAL-SWEEP accelerator: a callable(duckdb_con) -> pandas
    #: DataFrame computing the SAME result as ``oracle`` via multi-statement
    #: execution (e.g. iterative temp-table fixpoints a single recursive CTE
    #: can only express as a full transitive closure). The driver contract
    #: is untouched — ``oracle_sql()`` always ships the single-statement
    #: SQL; only tests/oracle_check.py uses this, and
    #: tests/test_fast_oracles.py pins fast == canonical.
    fast_oracle: Callable | None = None


#: concurrency (r13 singleton audit): written ONLY at import time by the
#: @register decorators below — module imports are serialized by Python's
#: import lock, so no two writes interleave; after import the dict is
#: read-only (all_queries/all_oracles copy into fresh dicts). No lock.
_REGISTRY: dict[str, RegisteredQuery] = {}


def register(name: str, oracle: str | None = None, fast_oracle: Callable | None = None):
    """Decorator: register a (spark, sf_dir) -> DataFrame builder."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = RegisteredQuery(
            name, fn, oracle, (fn.__doc__ or "").strip(), fast_oracle
        )
        return fn

    return wrap


def all_queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: q.fn for name, q in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    _ensure_loaded()
    return {name: q.oracle for name, q in _REGISTRY.items() if q.oracle is not None}


def get(name: str) -> RegisteredQuery:
    _ensure_loaded()
    return _REGISTRY[name]


_LOADED = False


def _ensure_loaded() -> None:
    """Import every operator module for its registration side effects."""
    global _LOADED
    if _LOADED:
        return
    from .operators import (  # noqa: F401
        aggregates,
        asof,
        corpus_ops,
        curation_ops,
        dedup,
        events_analytics,
        features,
        index_ops,
        joins,
        multimodal,
        pipeline,
        pipeline_ops_audit,
        pipeline_ops_composed,
        pipeline_ops_corpus,
        pipeline_ops_eval,
        relational,
        relational2,
        relational3,
        relational4,
        relational5,
        retrieval,
        sampling,
        scalar_funcs,
        scale_ops,
        similarity,
        sinks,
        skew,
        text,
        tokenizer_ops,
        udtfs,
        windows,
    )

    _LOADED = True

"""Table loaders for the TESTDATA parquet fixtures.

All loads go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown / column pruning for free; at 100 TB these would be partitioned
tables and the same code path picks up partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Each fixture table's declared schema (DDL), in file column order. The
#: loads pass it to the reader, so opening a table runs no Spark job: parquet
#: schema inference runs one (``parallelize(...).collect()``) per table even
#: for a single file. This is the module's ingestion policy (schemas are
#: declared, see :func:`read_csv`), and tests/test_io_formats.py checks each
#: DDL against the schema Spark infers from every fixture directory.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, "
        "p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLES = tuple(SCHEMAS)

# Small dimension tables that should always be broadcast in joins.
DIM_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: (applicationId, sf_dir, table) -> loaded DataFrame HANDLE (r15).
#:
#: ``spark.read.parquet`` builds a fresh file index on every call (~85
#: ms/table measured while it also inferred the schema) and every query
#: construction re-pays it per table. A DataFrame is an immutable
#: unresolved logical plan — holding the handle caches file-listing
#: METADATA, never data, blocks or results; every execution still scans
#: the parquet in full, and analysis/planning still run per query. This
#: is exactly the behavior a catalog table already has (Spark caches the
#: relation + InMemoryFileIndex per session; ``spark.table`` users get
#: this for free — the same reuse class as the construction-expression
#: cache, r14-adjudicated). Staleness contract matches Spark's listing
#: cache: a path whose file set changes within one session needs a new
#: session (or this module reloaded) to be re-listed — the fixtures are
#: immutable per process. Keyed by applicationId so a new session
#: re-lists. GIL-atomic get/setdefault; a race builds the same handle
#: twice and keeps either.
_DF_HANDLE_CACHE: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table as a DataFrame, read with its declared schema.

    ``events.ts`` is TIMESTAMP(MICROS, isAdjustedToUTC=false) in the parquet
    footer, which Spark reads as ``TIMESTAMP_NTZ``; we normalize it to a
    session-zoned ``timestamp`` here so downstream ``unix_micros``/interval
    arithmetic resolves. The session timezone is pinned to UTC
    (session.py), so the cast is shift-free.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    got = _DF_HANDLE_CACHE.get(key)
    if got is not None:
        return got
    df = spark.read.schema(SCHEMAS[name]).parquet(table_path(sf_dir, name))
    if name == "events":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _DF_HANDLE_CACHE.setdefault(key, df)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for the SQL API."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Format breadth: schema-explicit CSV / JSON-lines ingest
# ---------------------------------------------------------------------------


def read_csv(spark: SparkSession, path: str, schema: str, **options) -> DataFrame:
    """CSV ingest with a REQUIRED explicit schema (DDL string).

    Schema inference reads the data twice and guesses types per-run — at
    100 TB that is both a full extra pass and a correctness hazard, so this
    engine refuses to infer: ingestion schemas are declared. Malformed rows
    land in ``_corrupt_record`` (PERMISSIVE) instead of failing the job;
    pass ``mode="FAILFAST"`` to make them fatal.
    """
    reader = spark.read.schema(schema).option("header", True)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: str, **options) -> DataFrame:
    """JSON-lines ingest with a REQUIRED explicit schema (DDL string); same
    no-inference policy and corrupt-record handling as :func:`read_csv`.
    """
    reader = spark.read.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    """ORC scan. Self-describing columnar format like parquet — no schema
    argument needed; Catalyst gets the same predicate pushdown and column
    pruning (``PushedFilters`` / pruned ``ReadSchema`` in the plan), so ORC
    lakes scan with the identical cost model as the parquet fixtures.
    """
    reader = spark.read
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-media ingest via Spark's ``binaryFile`` source: one row per file
    with ``(path, modificationTime, length, content binary)`` — the ingest
    edge for multimodal corpora (images/audio/video land as opaque payloads
    plus typed metadata, then flow into the ``mapInPandas`` decode stages in
    :mod:`..operators.multimodal`).

    ``glob`` filters by filename pattern *during listing* (pushed down, files
    never open); ``max_bytes`` prunes oversized blobs with a pushed filter on
    the ``length`` metadata column, again without reading content. At 100 TB
    the listing itself is the bottleneck — shard ingest across top-level
    prefixes and compact small files into parquet with the payload as a
    binary column (``write_table``) so downstream passes scan columnar data,
    not millions of loose objects.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    df = reader.load(path)
    if max_bytes is not None:
        from pyspark.sql import functions as F

        df = df.filter(F.col("length") <= max_bytes)
    return df


# ---------------------------------------------------------------------------
# Size-targeted table writes (the small-files problem)
# ---------------------------------------------------------------------------


def write_table(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    target_rows_per_file: int | None = None,
    mode: str = "overwrite",
    format: str = "parquet",
) -> None:
    """Columnar write (parquet or orc) with explicit file-count control.

    At 100 TB the failure mode is millions of tiny files (one per task per
    partition value): every downstream scan then pays listing + open costs
    that dwarf the reads. ``target_rows_per_file`` combines two mechanisms,
    neither of which needs a prior pass over the data (the old
    ``df.count()`` approach was a full extra job at 100 TB):

    - the AQE ``REBALANCE`` hint (on the partition columns when
      partitioning): at runtime AQE merges undersized shuffle partitions
      and *splits* hot partition values across tasks — skew-safe without a
      manual salt/spreader column;
    - ``maxRecordsPerFile`` on the write, so each task rolls to a new file
      at the target size.

    With no target, AQE's coalesced shuffle output is left as-is.
    """
    if target_rows_per_file is not None:
        df = df.hint("rebalance", *partition_by) if partition_by else df.hint("rebalance")
    writer = df.write.mode(mode)
    if target_rows_per_file is not None:
        writer = writer.option("maxRecordsPerFile", target_rows_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format(format).save(path)


def compact_table(spark: SparkSession, path: str, target_rows_per_file: int) -> None:
    """Rewrite a parquet directory into right-sized files (offline
    compaction for layouts degraded by many small incremental writes)."""
    import tempfile

    df = spark.read.parquet(path)
    with tempfile.TemporaryDirectory(dir=os.path.dirname(path.rstrip("/"))) as tmp:
        staged = os.path.join(tmp, "staged")
        write_table(df, staged, target_rows_per_file=target_rows_per_file)
        staged_df = spark.read.parquet(staged)
        write_table(staged_df, path, target_rows_per_file=target_rows_per_file)

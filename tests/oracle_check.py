"""Local mirror of the driver's correctness gate: run every registered query
on Spark AND its DuckDB oracle SQL, compare row count + schema + values
(order-insensitive, exact after in-query rounding).

Usage:  PYTHONPATH=/root/repo python tests/oracle_check.py [--sf DIR] [--only name,...]
"""

from __future__ import annotations

import argparse
import math
import sys
import time

import duckdb


def normalize(df_pandas):
    """Sort columns by name, canonicalize cell values, sort rows."""
    import numpy as np
    import pandas as pd

    df = df_pandas.reindex(sorted(df_pandas.columns), axis=1)

    def canon(v):
        if v is None:
            return "∅"
        if isinstance(v, float):
            if math.isnan(v):
                return "∅"
            if v == int(v) and abs(v) < 1e15:
                return str(int(v))  # 3.0 == 3 across engines
            return repr(round(v, 9))
        if isinstance(v, (np.integer,)):
            return str(int(v))
        if isinstance(v, (np.floating,)):
            return canon(float(v))
        if isinstance(v, pd.Timestamp):
            if v.tzinfo is not None:
                v = v.tz_convert("UTC").tz_localize(None)
            return v.isoformat()
        if isinstance(v, (bytes, bytearray)):
            return v.hex()
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(canon(x) for x in v) + "]"
        if isinstance(v, bool) or isinstance(v, np.bool_):
            return str(bool(v))
        return str(v)

    rows = sorted(tuple(canon(v) for v in row) for row in df.itertuples(index=False, name=None))
    return list(df.columns), rows


def duckdb_connect(sf_dir: str):
    con = duckdb.connect()
    from kinesis_writer_spark.io import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def driver_hazards(name: str, sdf, odf) -> list[str]:
    """Flag mismatches the DRIVER's stricter canonicalizer would fail on even
    though values are equal: (a) integer dtype on one side vs float on the
    other (DuckDB HUGEINT -> pandas float64 renders 123.0 vs Spark's 123);
    (b) list/array cells (unhashable in the driver's pandas sort)."""
    import numpy as np
    import pandas as pd

    hazards = []
    for df, side in ((sdf, "spark"), (odf, "duckdb")):
        if df is None:
            continue
        for col in df.columns:
            if len(df) and isinstance(df[col].iloc[0], (list, np.ndarray)):
                hazards.append(f"{side}.{col}: list/array cell (driver-unhashable)")
    if odf is not None:
        for col in sdf.columns:
            if col not in odf.columns:
                continue
            s_int = pd.api.types.is_integer_dtype(sdf[col])
            o_int = pd.api.types.is_integer_dtype(odf[col])
            s_flt = pd.api.types.is_float_dtype(sdf[col])
            o_flt = pd.api.types.is_float_dtype(odf[col])
            if (s_int and o_flt) or (s_flt and o_int):
                hazards.append(
                    f"{col}: dtype {sdf[col].dtype} (spark) vs {odf[col].dtype} (duckdb)"
                )
    return hazards


def warm_session(spark, sf_dir: str) -> None:
    """Warm the session BEFORE any timed sweep loop (r9 fix, contract
    pinned in tests/test_sweep_warmup.py): one footer-touch per table plus
    one scan->aggregate->shuffle->Arrow-collect JIT pass plus one small
    shuffle job, so every sweep row measures the QUERY, not JVM cold start.

    History: r8 adjudicated the sweep's inflated first row as "accumulated
    session state"; r9 re-measured and showed q01's 10.8 s was simply COLD
    START (first parquet footer reads, codegen JIT, executor-thread
    spin-up) — a 260-query pass showed q01 getting FASTER over the sweep,
    0.32 s -> 0.17 s, heap flat at ~0.5 GB, 0 persistent RDDs.

    Correction (2026-10-19): a query's codegen compile was not a once-per-
    session cost. Spark's generated-class cache held 100 entries, far fewer
    than a sweep's ~3,000 classes, so a sweep recompiled about 4,200
    classes on every pass; ``get_spark`` now sizes that cache
    (``session.CODEGEN_CACHE_ENTRIES``), and this warm-up never covered
    it."""
    from pyspark.sql import functions as F

    from kinesis_writer_spark.io import TABLES as _TABLES

    for _t in _TABLES:
        spark.read.parquet(f"{sf_dir}/{_t}.parquet").limit(1).collect()
    # JIT the scan->aggregate->shuffle->Arrow-collect path once
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
        "l_returnflag"
    ).count().toPandas()
    spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).count().collect()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    ap.add_argument("--strict", action="store_true",
                    help="also fail on driver-canonicalizer hazards (int-vs-float dtype, array cells)")
    ap.add_argument("--canonical-oracle", action="store_true",
                    help="ignore registered fast_oracle accelerators and run every "
                         "query's single-statement SQL (the driver's exact path)")
    args = ap.parse_args()

    from kinesis_writer_spark import registry
    from kinesis_writer_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb_connect(args.sf)
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    only = set(args.only.split(",")) if args.only else None

    # Warm before the timed loop (see warm_session docstring; contract
    # pinned in tests/test_sweep_warmup.py). Skip for targeted --only
    # runs: a one-query debug check should not pay a full lineitem scan
    # + ten footer reads of warm-up.
    if only is None:
        warm_session(spark, args.sf)

    n_pass = n_fail = n_rows_only = 0
    for name in sorted(queries):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            if args.strict:
                hz = driver_hazards(name, sdf, None)
                if hz:
                    print(f"FAIL  {name}: driver hazards: {hz}")
                    n_fail += 1
                    continue
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [spark {t_spark:.1f}s]")
            n_rows_only += 1
            continue
        # Fast-oracle accelerators: same result via multi-statement DuckDB
        # (iterative temp-table fixpoints) — the driver always runs the
        # single-statement SQL; equality of the two forms is pinned by
        # tests/test_fast_oracles.py. --canonical-oracle forces the SQL.
        # --strict also forces it: the strict pass audits dtype-level
        # driver hazards, which must be measured on the driver's exact
        # path, not on the accelerator's temp-table output (whose dtypes
        # could legally differ from the recursive-CTE form's).
        fast = (
            None
            if (args.canonical_oracle or args.strict)
            else registry.get(name).fast_oracle
        )
        try:
            odf = fast(con) if fast is not None else con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        s_cols, s_rows = normalize(sdf)
        o_cols, o_rows = normalize(odf)
        if [c.lower() for c in s_cols] != [c.lower() for c in o_cols]:
            print(f"FAIL  {name}: columns {s_cols} vs {o_cols}")
            n_fail += 1
        elif len(s_rows) != len(o_rows):
            print(f"FAIL  {name}: row count {len(s_rows)} vs {len(o_rows)}")
            n_fail += 1
        elif s_rows != o_rows:
            diff_at = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
            print(f"FAIL  {name}: values differ at sorted row {diff_at}:")
            print(f"      spark : {s_rows[diff_at]}")
            print(f"      duckdb: {o_rows[diff_at]}")
            n_fail += 1
        else:
            hz = driver_hazards(name, sdf, odf) if args.strict else []
            if hz:
                print(f"FAIL  {name}: values equal but driver hazards: {hz}")
                n_fail += 1
            else:
                tag = " (fast-oracle)" if fast is not None else ""
                # spark vs oracle split (r9): the old single figure blamed
                # DuckDB's recursive-CTE oracles on the Spark query (q252's
                # 37.6 s row was mostly oracle time).
                t_oracle = time.time() - t0 - t_spark
                print(
                    f"PASS  {name}: {len(s_rows)} rows "
                    f"[spark {t_spark:.1f}s | oracle+cmp {t_oracle:.1f}s]{tag}"
                )
                n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

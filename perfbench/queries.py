"""The query block of the spark workload: registry queries on the session.

Each pass runs the short headline queries with memos as they are, then the
registry-tail queries memo-cold (every memo cache emptied before each), each
block in a seed-shuffled order, writing through the noop sink. ``check``
collects every result once and compares it with the query's DuckDB oracle
(untimed; it is also the first, coldest warm-up pass).
"""

from __future__ import annotations

import importlib.util
import os
import random
import time

from . import harness, params


def _oracle_check_module():
    """tests/oracle_check.py, loaded by path (``tests`` is not a package)."""
    path = os.path.join(harness.ROOT, "tests", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _matches(oc, sdf, odf) -> bool:
    s_cols, s_rows = oc.normalize(sdf)
    o_cols, o_rows = oc.normalize(odf)
    return [c.lower() for c in s_cols] == [c.lower() for c in o_cols] and s_rows == o_rows


def load_tables(spark, tracer, sf_dir: str) -> None:
    from kinesis_writer_spark import io

    with tracer.span("io.load"):
        for name in io.TABLES:
            io.load(spark, sf_dir, name)


class QueryBlock:
    NAMES = params.QUERIES_SHORT + params.QUERIES_HEAVY
    HEAVY = frozenset(params.QUERIES_HEAVY)

    def __init__(self, spark, sf_dir: str, seed: int, tracer) -> None:
        from kinesis_writer_spark import registry

        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.queries = registry.all_queries()
        self.rng = random.Random(seed)
        self.ledger = harness.JobGroupLedger(spark)
        #: each query's seconds per timed pass, untraced and traced
        self.times = {False: {n: [] for n in self.NAMES}, True: {n: [] for n in self.NAMES}}

    def _order(self) -> list[str]:
        short, tail = list(params.QUERIES_SHORT), list(params.QUERIES_HEAVY)
        self.rng.shuffle(short)
        self.rng.shuffle(tail)
        return short + tail

    def check(self) -> tuple[int, int]:
        """Every query once, collected and compared with its oracle:
        (attempted, failed)."""
        from kinesis_writer_spark import memo, registry

        oracles = registry.all_oracles()
        oc = _oracle_check_module()
        con = oc.duckdb_connect(self.sf_dir)
        attempted = failed = 0
        for name in self._order():
            attempted += 1
            if name in self.HEAVY:
                memo.clear_all()
            try:
                t0 = time.monotonic()
                df = self.queries[name](self.spark, self.sf_dir)
                sdf = df.toPandas()
                t1 = time.monotonic()
                fast = registry.get(name).fast_oracle
                odf = fast(con) if fast is not None else con.execute(oracles[name]).fetchdf()
                ok = _matches(oc, sdf, odf)
                harness.log(f"{name}: {len(sdf)} rows, spark {t1 - t0:.2f}s, "
                            f"oracle {time.monotonic() - t1:.2f}s")
            except Exception as exc:
                harness.log(f"{name} raised {type(exc).__name__}: {exc}")
                ok = False
            if not ok:
                harness.log(f"{name} does not match its oracle")
                failed += 1
        con.close()
        return attempted, failed

    def run_pass(self, pass_no: int, traced: bool, timed: bool) -> tuple[int, int]:
        """One pass through the noop sink: (attempted, failed). Timed passes
        record each query's seconds; traced ones also record its layers."""
        from kinesis_writer_spark import memo

        tracer, sc = self.tracer, self.spark.sparkContext

        def add(block: str, key: str, value: float) -> None:
            """A layer's total, and its share in the query's block."""
            tracer.add(key, value)
            tracer.add(f"{block}.{key}", value)

        attempted = failed = 0
        for name in self._order():
            attempted += 1
            block = "heavy" if name in self.HEAVY else "short"
            if name in self.HEAVY:
                cleared = memo.clear_all()
                if traced:
                    tracer.add("memo.caches_cleared", cleared)
            group = f"perfbench-{pass_no}-{name}"
            try:
                if traced:
                    sc.setJobGroup(group, name)
                t0 = time.monotonic()
                df = self.queries[name](self.spark, self.sf_dir)
                t1 = time.monotonic()
                action_start = time.time()
                df.write.mode("overwrite").format("noop").save()
                dt = time.monotonic() - t0
                if traced:
                    add(block, "registry.construct_s", t1 - t0)
                    add(block, "spark.execute_s", dt - (t1 - t0))
                    counts, first_submit = self.ledger.read(group, since=action_start)
                    for key, value in counts.items():
                        add(block, key, value)
                    # optimization, planning and codegen: driver time from
                    # the action to its first job (analysis ran eagerly while
                    # the query was built, so it is in registry.construct_s)
                    if first_submit is not None:
                        add(block, "spark.catalyst_s", max(0.0, first_submit - action_start))
                    if name in self.HEAVY:
                        tracer.add(f"query.{name}.s", dt)
                    sc.setLocalProperty("spark.jobGroup.id", None)
            except Exception as exc:
                harness.log(f"{name} raised {type(exc).__name__}: {exc}")
                failed += 1
                continue
            if timed:
                self.times[traced][name].append(dt)
        if traced:
            tracer.add("spark.persisted_rdds", len(sc._jsc.getPersistentRDDs()))
        return attempted, failed

    def wall(self, traced: bool = False, names=NAMES) -> float:
        """The sum over ``names`` of each query's median over the timed
        passes, so one slow execution (a GC, a noisy neighbour) does not
        move it."""
        return sum(harness.median(self.times[traced][n]) for n in names)

    def detail(self) -> dict:
        untraced = self.times[False]
        return {
            "short_wall_s": (self.wall(names=params.QUERIES_SHORT), "s"),
            "heavy_wall_s": (self.wall(names=params.QUERIES_HEAVY), "s"),
            "query_p50_s": (harness.median([x for t in untraced.values() for x in t]), "s"),
        }

    def log_medians(self) -> None:
        harness.log("median seconds per query: " + ", ".join(
            f"{n} {harness.median(self.times[False][n]):.3f}" for n in self.NAMES))

"""Driver caches die with their session: a driver that stops its session and
builds a new one holds the same cache entries, and the same persisted
checkpoints behind them, after the same queries as the first session did,
and no entry of the stopped context.

The soak runs in a fresh interpreter, which owns its JVM and may stop its
session without touching the suite's shared one. Two figures are reported
but not asserted, because they depend on the host rather than on the
caches:
- driver RSS, which moves on a shared host by more than any leak this
  sample could show;
- the total of ``getPersistentRDDs()``. It also counts persists that no
  cache owns (q54's SimHash checkpoint, q52's word tables), which nothing
  releases and Spark's cleaner drops at a time no test controls: one run
  under the full suite read 4 in the first session and 5 in the second,
  where six runs on their own read 5 and 5.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tests.conftest import REPO_ROOT, SF_DIR

#: A sample that touches every registered cache: the spread probe (q52),
#: the near-dup pairs and components (q96), the perceptron (q222), the
#: auto cell count and IVF codebook (q261) and the PQ codebooks (q143).
SAMPLE = (
    "q52_minhash_neardup",
    "q96_dedup_clusters",
    "q222_perceptron_train",
    "q261_ivf_auto",
    "q143_pq_encode",
)

_PROBE = """
import json, sys, time
t0 = time.monotonic()
from pyspark.sql import DataFrame
from kinesis_writer_spark import io, memo, registry, session

registry._ensure_loaded()  # the operators' canonical import order
from kinesis_writer_spark import exprcache
from kinesis_writer_spark.operators import _util, dedup, pipeline_ops_eval, similarity

sf_dir, sample = sys.argv[1], sys.argv[2].split(",")
caches = {
    "exprcache._CONST": exprcache._CONST,
    "exprcache._VALUE": exprcache._VALUE,
    "io._DF_HANDLE_CACHE": io._DF_HANDLE_CACHE,
    "_util._SPREAD_PROBE_CACHE": _util._SPREAD_PROBE_CACHE,
    "dedup._NEARDUP_PAIRS_CACHE": dedup._NEARDUP_PAIRS_CACHE,
    "dedup._NEARDUP_COMPS_CACHE": dedup._NEARDUP_COMPS_CACHE,
    "similarity._CODEBOOK_CACHE": similarity._CODEBOOK_CACHE,
    "similarity._AUTO_CELLS_CACHE": similarity._AUTO_CELLS_CACHE,
    "pipeline_ops_eval._PCT_CACHE": pipeline_ops_eval._PCT_CACHE,
}
registered = memo._CACHES + memo._HANDLES
named_all = sorted(map(id, caches.values())) == sorted(map(id, registered))


def run():
    spark = session.get_spark("soak")
    for name in io.TABLES:
        io.load(spark, sf_dir, name)
    queries = registry.all_queries()
    for name in sample:
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    counts = {name: len(c) for name, c in caches.items()}
    values = [v for c in caches.values() for v in c.values()]
    frames = [v for v in values if isinstance(v, DataFrame)]
    own = all(df.sparkSession.sparkContext is spark.sparkContext for df in frames)
    # the checkpoint RDDs the memo entries hold, as clear_all finds them
    plans = [getattr(df, "_stats_clean_origin", df)._jdf.queryExecution().analyzed() for df in frames]
    held = [p.rdd().id() for p in plans if p.getClass().getSimpleName() == "LogicalRDD"]
    persisted = {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}
    session.await_data_sources(spark)
    return spark, counts, [len(persisted), len(held), set(held) <= persisted], values, own


first, counts1, persisted1, values1, own1 = run()
first_sc = first.sparkContext
first.stop()
second, counts2, persisted2, values2, own2 = run()
# values1 keeps every first-session entry alive, so no id is reused; plain
# numbers are left out (a small int is one shared object in both sessions)
old = {id(v) for v in values1 if not isinstance(v, (int, float))}
print(json.dumps({
    "named_all": named_all,
    "counts": [counts1, counts2],
    "persisted": [persisted1, persisted2],
    "own_context": [own1, own2],
    "first_session_entries_left": sum(id(v) in old for v in values2),
    "owner_sees_new_context": memo._context is second.sparkContext is not first_sc,
    "seconds": round(time.monotonic() - t0, 1),
}))
second.stop()
"""


def run_soak(sf_dir: str = SF_DIR) -> dict:
    """Run the sample in one session, stop it, run it again in a new one;
    returns the probe's report."""
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "2")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, sf_dir, ",".join(SAMPLE)],
        cwd=REPO_ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_restarted_session_holds_the_same_cache_entries():
    got = run_soak()
    assert got["named_all"], "a registered cache is missing from the probe's list"
    first, second = got["counts"]
    assert all(first.values()), f"the sample left a cache empty: {first}"
    assert second == first
    # [total persisted, checkpoints held by entries, all of them persisted]
    (_, held1, live1), (_, held2, live2) = got["persisted"]
    assert held1 == held2 > 0 and live1 and live2
    assert got["own_context"] == [True, True]
    assert got["first_session_entries_left"] == 0
    assert got["owner_sees_new_context"]

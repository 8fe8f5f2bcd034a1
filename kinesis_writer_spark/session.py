"""SparkSession builder for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration is what we would ship for a 1000-executor cluster — AQE on
(runtime skew-join + partition coalescing), Arrow enabled for the few
Pandas-UDF paths, shuffle partitions sized to the parallelism at hand.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import shutil
import tempfile
import threading
import zipfile
import zipimport
from concurrent.futures import Future

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: The data-source registration ``get_spark`` started: ``(applicationId,
#: session, future)`` for the newest SparkContext it built, or None. One
#: entry by construction: a new context replaces it, and a session that
#: ``get_spark`` did not build never enters it (its ``register()`` calls
#: register synchronously).
_REGISTRATION: tuple[str, SparkSession, Future] | None = None
_REGISTRATION_LOCK = threading.Lock()

#: Entries of Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
#: an LRU keyed by the generated source; Spark's default is 100). Measured on
#: 4 vCPUs at local[4]: a cold pass of the perfbench ``spark`` workload's
#: queries generates about 130 distinct classes at sf0.001, and a memo-cold
#: full-registry pass (261 queries) 2,987, so at 100 entries every class was
#: evicted before it ran again: each steady ``spark`` query pass recompiled
#: 83-113 classes and each registry pass about 4,200. 4,096 holds the
#: registry with headroom (a second registry pass then compiles about 100,
#: from generated code that differs between runs; SCALE.md), and after two
#: registry passes Metaspace read 232 MB against 256 MB at 100 entries. A
#: static conf: it takes effect only when the session is built.
CODEGEN_CACHE_ENTRIES = 4096


def _register_data_sources(spark: SparkSession) -> Future:
    """Register the engine's Python data sources (``kinesis``, ``kpl``) on a
    background thread. The first ``spark.dataSource.register`` in a JVM
    waits for Spark's once-per-JVM discovery of Python data sources (a fresh
    Python worker, about 0.5 s at local[4] on a 4-vCPU VM); off the caller's
    thread it overlaps with whatever the caller does next, such as loading
    tables."""
    from .sources.kinesis_stream import KinesisDataSource
    from .sources.kpl_datasource import KplDataSource

    done: Future = Future()

    def run() -> None:
        try:
            for source in (KinesisDataSource, KplDataSource):
                spark.dataSource.register(source)
        except Exception as exc:
            # register() re-raises it; a session that never calls register()
            # (say, one stopped at once) never needed the sources
            done.set_exception(exc)
        else:
            done.set_result(None)

    threading.Thread(target=run, name="register-data-sources", daemon=True).start()
    return done


def await_data_sources(spark: SparkSession) -> bool:
    """Wait for the background registration ``get_spark`` started on this
    session and re-raise any error it hit. False when ``get_spark`` did not
    build this session: the caller then registers synchronously."""
    entry = _REGISTRATION
    if entry is None or entry[1] is not spark:
        return False
    entry[2].result()
    return True


def _spark_home_view(source: str, version: str) -> str | None:
    """A symlink view of the Spark home ``source`` without ``pyspark.zip``:
    every top-level entry and every ``python/`` entry is linked, except
    ``python/lib``, which holds only the py4j zip. It is built once per real
    source path and version under the temp directory, in a sibling directory
    renamed into place (a process that loses the race uses the winner's).
    None when a view of that name exists but another user owns it."""
    real = os.path.realpath(source)
    digest = hashlib.sha1(real.encode()).hexdigest()[:12]
    view = os.path.join(tempfile.gettempdir(), f"kinesis_writer_spark-spark-home-{version}-{digest}")
    if not os.path.lexists(view):
        tmp = tempfile.mkdtemp(prefix=os.path.basename(view) + ".", dir=os.path.dirname(view))
        os.makedirs(os.path.join(tmp, "python", "lib"))
        for parent, skip in (("", "python"), ("python", "lib")):
            for name in os.listdir(os.path.join(real, parent)):
                if name != skip:
                    os.symlink(os.path.join(real, parent, name), os.path.join(tmp, parent, name))
        for py4j in glob.glob(os.path.join(real, "python", "lib", "py4j-*.zip")):
            os.symlink(py4j, os.path.join(tmp, "python", "lib", os.path.basename(py4j)))
        try:
            os.rename(tmp, view)
        except OSError:  # another process renamed its view into place first
            shutil.rmtree(tmp)
    return view if os.lstat(view).st_uid == os.getuid() else None


def _use_installed_pyspark() -> None:
    """Point ``SPARK_HOME`` at a view of the home pyspark would launch from
    whose ``python/lib`` holds no ``pyspark.zip``.

    Spark puts ``$SPARK_HOME/python/lib/pyspark.zip`` first on every Python
    worker's ``sys.path`` (ahead of ``PYTHONPATH``), so each fresh worker
    compiles pyspark from a zip that holds no ``.pyc`` and keeps a
    ``zipimporter`` per package, which every ``importlib.invalidate_caches()``
    walks. Without the zip, workers import the installed pyspark with its
    ``__pycache__``; they already need that environment for pyarrow, pandas
    and this package. The step changes nothing when a gateway is running,
    when the home has no ``pyspark.zip``, when the zip's version is not
    ``pyspark.__version__``, or when the driver's pyspark comes from a zip.
    """
    if SparkContext._gateway is not None or isinstance(pyspark.__loader__, zipimport.zipimporter):
        return
    home = _find_spark_home()
    bundled = os.path.join(home, "python", "lib", "pyspark.zip")
    if not os.path.isfile(bundled):
        return
    try:
        with zipfile.ZipFile(bundled) as zf:
            text = zf.read("pyspark/version.py").decode()
    except (KeyError, zipfile.BadZipFile):
        return
    found = re.search(r"""^__version__\b[^=]*=\s*['"]([^'"]*)['"]""", text, re.M)
    if found is None or found[1] != pyspark.__version__:
        return
    view = _spark_home_view(home, pyspark.__version__)
    if view is not None:
        os.environ["SPARK_HOME"] = view


def get_spark(app_name: str = "kinesis_writer_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    At 100 TB on a real cluster, ``spark.sql.shuffle.partitions`` would be
    sized to ~2-3x total cores (or left to AQE's coalescing with a high
    initial value); locally we match the core count to avoid tiny-task
    overhead.

    Once per SparkContext it also starts registering the engine's data
    sources, ``kinesis`` and ``kpl``, on a background thread;
    ``kinesis_stream.register`` and ``kpl_datasource.register`` wait for it.

    Before it launches the gateway it points ``SPARK_HOME`` at a view of the
    Spark home without ``pyspark.zip`` (``_use_installed_pyspark``), so
    Python workers import the installed, compiled pyspark.
    """
    _use_installed_pyspark()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy (optimization guide §3.1/§9): let the planner pick
        # shuffled-hash over sort-merge when its size conditions hold, and
        # let AQE rewrite SMJ->SHJ at runtime when EVERY post-shuffle
        # partition fits the local-map threshold — that runtime gate is
        # what keeps SHJ safe at cluster scale (a build partition above the
        # threshold keeps sort-merge; AQE skew-join still applies to SHJ).
        # Measured r14 same-session A/B over the 12 join-heaviest queries
        # at sf0.1: 16.79 s -> 13.69 s, every query faster or equal.
        # Env-overridable for clusters that prefer the sort-merge default.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP_MAX", str(64 * 1024 * 1024)),
        )
        # Shuffle/spill codec (guide §2.3): lz4 is Spark's default; zstd
        # trades CPU for ratio. NOT runtime-settable, so the choice is a
        # session-build knob — measured in a dedicated fresh-process A/B
        # (r15, SCALE.md "shuffle codec"): at sf0.1 and a synthesized sf1
        # the shuffle-heaviest queries are flat-to-slower under zstd
        # locally (shuffle volumes are MBs; the CPU tax shows, the ratio
        # doesn't pay until network/disk bound), so the local default
        # stays lz4 and a cluster deployment flips the env var.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # JDK 17 GCLocker starvation: a thread allocating while another
        # holds a JNI critical region (Arrow/netty buffers) retries only
        # GCLockerRetryAllocationCount=2 times before throwing a SPURIOUS
        # OutOfMemoryError ("Retried waiting for GCLocker too often") even
        # with tens of GB free — observed killing a 222M-row layout
        # checkpoint at the sf100 fixture. Raise the retry budget; this is
        # the documented JDK-side mitigation (JDK-8192647 family).
        # User-supplied driver JVM options (SPARK_GRAFT_DRIVER_JAVA_OPTS)
        # are appended AFTER the defaults: for duplicated -XX flags the JVM
        # honors the LAST occurrence, so user values win conflicts (e.g. a
        # user may lower GCLockerRetryAllocationCount back toward stock).
        .config(
            "spark.driver.extraJavaOptions",
            (
                "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64 "
                + os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
            ).strip(),
        )
        # Shuffle-file cleanup is GC-triggered (ContextCleaner weak refs),
        # and Spark's default periodic fallback GC is 30min — on a large
        # heap an iterative job (CC/PageRank rounds, multi-query sweeps)
        # can run for that long without a single full GC, so stale shuffle
        # files accumulate on local disk until it fills (observed: sf100
        # q255 died ENOSPC mid-round with a 100g heap). 5min bounds the
        # stale window; at cluster scale this is exactly the knob that
        # keeps executor local disks from filling under week-long jobs.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # saveAsTable target (bucketed-layout operators); keep managed-table
        # state out of the repo/cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kws_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    global _REGISTRATION
    app_id = spark.sparkContext.applicationId
    with _REGISTRATION_LOCK:
        if _REGISTRATION is None or _REGISTRATION[0] != app_id:
            _REGISTRATION = (app_id, spark, _register_data_sources(spark))
    return spark

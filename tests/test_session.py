"""``get_spark`` registers the engine's Python data sources (``kinesis``,
``kpl``) on a background thread; ``register()`` waits for that registration
instead of registering a second time. A second session of the same JVM
(``spark.newSession()``) cannot use them. Before the gateway starts it points
``SPARK_HOME`` at a view of the Spark home without ``pyspark.zip``, so Python
workers import the installed pyspark. Spark's generated-class cache is sized
to hold a set of registry queries, so running them again compiles nothing."""

from __future__ import annotations

import contextlib
import os
import zipfile

import pyspark
import pytest
from pyspark import SparkContext

from kinesis_writer_spark import memo, registry, session
from kinesis_writer_spark.session import get_spark
from kinesis_writer_spark.sources import kinesis_stream, kpl_datasource
from tests.conftest import SF_DIR

CAPTURE = "test-session-capture"


@contextlib.contextmanager
def jvm_log(spark):
    """Collect the lines the JVM logs (at the session's level) in the block."""
    log4j = spark._jvm.org.apache.logging.log4j
    ctx = log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = spark._jvm.java.io.StringWriter()
    appender = log4j.core.appender.WriterAppender.createAppender(
        log4j.core.layout.PatternLayout.createDefaultLayout(), None, writer, CAPTURE, False, True
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    lines: list[str] = []
    try:
        yield lines
    finally:
        root.removeAppender(CAPTURE)
        ctx.updateLoggers()
        appender.stop()
        lines.extend(writer.toString().splitlines())


def _resolves(spark, name: str) -> bool:
    return spark._jsparkSession.sessionState().dataSourceManager().dataSourceExists(name)


def test_register_waits_for_get_spark_and_formats_resolve(spark):
    assert get_spark("tests") is spark
    kinesis_stream.register(spark)
    kpl_datasource.register(spark)
    assert _resolves(spark, "kinesis") and _resolves(spark, "kpl")


def test_second_register_logs_no_replaced_warning(spark):
    kinesis_stream.register(spark)
    with jvm_log(spark) as lines:
        kinesis_stream.register(spark)
        kpl_datasource.register(spark)
    assert not [line for line in lines if "replaced" in line]
    # the capture does see the warning a second registration logs
    with jvm_log(spark) as lines:
        spark.dataSource.register(kinesis_stream.KinesisDataSource)
    assert [line for line in lines if "replaced a previously registered" in line]


def test_session_get_spark_did_not_build_registers_synchronously():
    class Session:
        """Stands in for a session ``get_spark`` never returned."""

        def __init__(self):
            self.dataSource, self.registered = self, []

        def register(self, source):
            self.registered.append(source)

    other = Session()
    kinesis_stream.register(other)
    kpl_datasource.register(other)
    assert other.registered == [kinesis_stream.KinesisDataSource, kpl_datasource.KplDataSource]


def test_failed_background_registration_surfaces(spark, monkeypatch):
    def broken(cls):
        raise RuntimeError("registration failed")

    monkeypatch.setattr(session, "_REGISTRATION", None)  # get_spark starts a fresh one
    monkeypatch.setattr(kinesis_stream.KinesisDataSource, "name", classmethod(broken))
    assert get_spark("tests") is spark
    with pytest.raises(RuntimeError, match="registration failed"):
        kinesis_stream.register(spark)
    with pytest.raises(RuntimeError, match="registration failed"):
        kpl_datasource.register(spark)


def test_second_session_of_the_jvm_is_unsupported(spark, tmp_path):
    """``spark.newSession()`` is not supported: once ``get_spark``'s session
    holds the sources, a second session can neither register nor load them
    (Spark resolves a Python data source against the active session)."""
    kpl_datasource.register(spark)
    other = spark.newSession()
    with pytest.raises(Exception, match=r"\[DATA_SOURCE_ALREADY_EXISTS\] Data source 'kpl'"):
        kpl_datasource.register(other)
    with pytest.raises(Exception, match=r"\[DATA_SOURCE_NOT_FOUND\] Failed to find the data source: kpl"):
        other.read.format("kpl").load(str(tmp_path))
    assert _resolves(spark, "kpl")


def fake_home(root, version):
    """A Spark home whose ``pyspark.zip`` names ``version``."""
    home = root / "spark"
    (home / "bin").mkdir(parents=True)
    (home / "bin" / "spark-submit").write_text("")
    (home / "jars").mkdir()
    (home / "RELEASE").write_text("Spark\n")
    (home / "python" / "pyspark").mkdir(parents=True)
    (home / "python" / "setup.py").write_text("")
    lib = home / "python" / "lib"
    lib.mkdir()
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    (lib / "py4j-0.10.9.9-src.zip").write_bytes(b"")
    (lib / "PY4J_LICENSE.txt").write_text("")
    return home


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty temp directory for the views the test builds."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr("tempfile.tempdir", str(root))
    return root


def test_workers_import_the_installed_pyspark(spark):
    def pyspark_file(_):
        import pyspark

        yield pyspark.__file__

    (path,) = spark.sparkContext.parallelize([0], 1).mapPartitions(pyspark_file).collect()
    assert ".zip" not in path and os.path.isfile(path)


@pytest.mark.parametrize("version", [pyspark.__version__, "0.0.0-other"])
def test_view_only_for_a_zip_of_the_installed_version(version, tmp_path, cache, monkeypatch):
    home = fake_home(tmp_path, version)
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    session._use_installed_pyspark()
    if version == pyspark.__version__:
        assert [os.environ["SPARK_HOME"]] == [str(p) for p in cache.iterdir()]
    else:
        assert os.environ["SPARK_HOME"] == str(home)
        assert not list(cache.iterdir())


def test_live_gateway_changes_nothing(spark, tmp_path, cache, monkeypatch):
    home = fake_home(tmp_path, pyspark.__version__)
    monkeypatch.setenv("SPARK_HOME", str(home))
    session._use_installed_pyspark()
    assert os.environ["SPARK_HOME"] == str(home)
    assert not list(cache.iterdir())


def test_view_links_the_home_except_pyspark_zip(tmp_path, cache):
    real = fake_home(tmp_path, pyspark.__version__)
    (tmp_path / "link").symlink_to(real)  # the view links the real path
    view = session._spark_home_view(str(tmp_path / "link"), pyspark.__version__)
    assert sorted(os.listdir(view)) == sorted(os.listdir(real))
    for parent, own in (("", "python"), ("python", "lib")):
        for name in os.listdir(real / parent):
            if name != own:
                assert os.path.islink(os.path.join(view, parent, name))
                assert os.path.realpath(os.path.join(view, parent, name)) == str(real / parent / name)
    assert os.listdir(os.path.join(view, "python", "lib")) == ["py4j-0.10.9.9-src.zip"]


def test_second_call_reuses_the_view(tmp_path, cache):
    home = str(fake_home(tmp_path, pyspark.__version__))
    view = session._spark_home_view(home, pyspark.__version__)
    first = os.stat(view).st_ino, os.lstat(os.path.join(view, "bin")).st_ino
    assert session._spark_home_view(home, pyspark.__version__) == view
    assert (os.stat(view).st_ino, os.lstat(os.path.join(view, "bin")).st_ino) == first
    assert [view] == [str(p) for p in cache.iterdir()]  # no temporary sibling left


#: The perfbench ``spark`` workload's queries but q220, plus four TPC-H-style
#: ones: about 140 distinct generated classes at sf0.001, more than Spark's
#: default 100-entry cache holds. q220 persists its band table, so its second
#: run reads that cache and compiles the classes of a new plan once.
CODEGEN_SET = (
    "q01_pricing_summary",
    "q33_tumbling_window",
    "q50_exact_dedup",
    "q60_cosine_topk",
    "q70_token_stats",
    "q96_dedup_clusters",
    "q03_shipping_priority",
    "q04_order_priority",
    "q16_approx_count_distinct",
    "q109_retention",
)


def test_codegen_cache_holds_a_query_set(spark):
    """A second memo-cold run of ``CODEGEN_SET`` compiles no class: every
    generated class of the first run is still cached. With Spark's default
    100 entries each class is evicted before it runs again, and the second
    run compiled about 130."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(session.CODEGEN_CACHE_ENTRIES)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = registry.all_queries()

    def run() -> int:
        before = compiled.getCount()
        for name in CODEGEN_SET:
            memo.clear_all()
            queries[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
        return compiled.getCount() - before

    assert not spark.streams.active  # a running stream would compile alongside
    run()
    assert run() == 0

"""``get_spark`` registers the engine's Python data sources (``kinesis``,
``kpl``) on a background thread; ``register()`` waits for that registration
instead of registering a second time."""

from __future__ import annotations

import contextlib

import pytest

from kinesis_writer_spark import session
from kinesis_writer_spark.session import get_spark
from kinesis_writer_spark.sources import kinesis_stream, kpl_datasource

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

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from kinesis_writer_spark.session import await_data_sources, get_spark

    spark = get_spark("tests")
    yield spark
    # a short selection can end while Spark is still discovering the Python
    # data sources; stopping then kills the discovery worker mid-run
    await_data_sources(spark)
    spark.stop()

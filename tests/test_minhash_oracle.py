"""Oracle parity for the MinHash/LSH family: every query built on the shared
chain in ``operators/dedup.py`` returns its DuckDB oracle's rows at sf0.001,
compared the way ``tests/oracle_check.py`` compares the whole registry."""

from __future__ import annotations

import pytest

from kinesis_writer_spark import registry
from tests.conftest import SF_DIR

MINHASH_FAMILY = [
    "q51_minhash_signatures",
    "q52_minhash_neardup",
    "q133_minhash_estimate",
    "q161_blocking_recall",
    "q202_lsh_band_tuning",
    "q206_incremental_dedup",
    "q220_lsh_recall_eval",
    "q239_dedup_chain_audit",
    "q243_net_training_tokens",
]


@pytest.fixture(scope="module")
def con(spark):
    from oracle_check import duckdb_connect

    c = duckdb_connect(SF_DIR)
    yield c
    c.close()
    # several of these queries persist intermediates that nothing releases
    # yet; drop them so later modules plan and time against an empty cache
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", MINHASH_FAMILY)
def test_matches_oracle(spark, con, name):
    from oracle_check import normalize

    q = registry.get(name)
    got_cols, got_rows = normalize(q.fn(spark, SF_DIR).toPandas())
    want_cols, want_rows = normalize(con.execute(q.oracle).fetchdf())
    assert [c.lower() for c in got_cols] == [c.lower() for c in want_cols]
    assert got_rows, f"{name} returned no rows"
    assert got_rows == want_rows

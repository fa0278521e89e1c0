"""Every registered operator hash-matches its DuckDB oracle at sf0.001.

This is the same gate the driver runs at sf0.01 (CORRECTNESS_r{N}.json),
kept in-tree at the smallest scale factor so it stays fast.
"""

from __future__ import annotations

import duckdb
import pytest

from tools.paritycheck import TABLES, compare, duckdb_memory_limit


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _registry():
    from haensel_ams_data_engineer_challenge_spark.registry import registry

    return registry()


@pytest.mark.parametrize("name", sorted(_registry().keys()))
def test_parity(name, spark, sf_dir, duck):
    fn, sql = _registry()[name]
    spark_pd = fn(spark, sf_dir).toPandas()
    if sql is None:
        assert len(spark_pd) >= 0  # rows-only contract: runs and is well-formed
        return
    oracle_pd = duck.execute(sql).fetchdf()
    problems = compare(name, spark_pd, oracle_pd)
    assert not problems, f"{name}: {problems}"


def test_paritycheck_memory_limit_fits_host():
    import os

    limit = duckdb_memory_limit()
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert limit.endswith("MB") and 0 < int(limit[:-2]) < ram_mb
    duckdb.connect().execute(f"SET memory_limit='{limit}'")

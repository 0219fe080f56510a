"""Fast oracle parity: every catalog query vs DuckDB at sf0.001 (the
driver's gate runs the same comparison at sf0.01)."""

import pytest

import __spark_entry__ as entry
from tools.oracle_check import compare, duck_con

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    return duck_con(SF)


@pytest.mark.parametrize("name", sorted(entry.queries()))
def test_query_matches_oracle(name, spark, con):
    fn = entry.queries()[name]
    ok, msg = compare(name, fn(spark, SF), con)
    assert ok, f"{name}: {msg}"


def test_duplicate_catalog_key_raises():
    from azure_airbnb_cdc_ingestion_pipeline_spark.plans.queries import (
        ORACLE_SQL,
        QUERIES,
        query,
    )

    before = (dict(QUERIES), dict(ORACLE_SQL))
    with pytest.raises(ValueError, match="agg_groupby_join"):
        @query("agg_groupby_join", oracle="SELECT 1")
        def _shadow(spark, sf_dir):
            return None

    assert (QUERIES, ORACLE_SQL) == before

"""Golden-backed registry queries, run end to end: the Spark side reads
its rows from ``fixtures.genpages.CORPORA`` and must equal its DuckDB
oracle over the frozen golden.  ``tests/test_golden_freshness.py``
checks the freezer half of the shared corpus; this checks the query
half."""

import pytest

from tests.conftest import TESTDATA_SF001
from tools.verify_oracle import compare, duckdb_con


@pytest.fixture(scope="module")
def con():
    return duckdb_con(TESTDATA_SF001)


@pytest.mark.parametrize(
    "name",
    ["html_tables", "robots_rules", "feed_items", "blocks_table", "extract_corpus"],
)
def test_golden_query_matches_oracle(spark, con, name):
    from pdf_ocr_spark.queries import REGISTRY

    fn, sql = REGISTRY[name]
    spark_df = fn(spark, TESTDATA_SF001).toPandas()
    assert compare(name, spark_df, con.execute(sql).df()) == []


def test_export_manifest_oracle_bytes_are_bigint(con):
    """Spark's sum over a BIGINT column is BIGINT; an oracle returning
    a float there differs under an exact value hash."""
    from pdf_ocr_spark.queries import REGISTRY

    _, sql = REGISTRY["export_manifest"]
    assert str(con.execute(sql).df()["n_bytes"].dtype) == "int64"

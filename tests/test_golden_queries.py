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


def test_corpus_heaps_oracle_has_no_negative_zero(con):
    """DuckDB's round() can return -0.0 where Spark's returns 0.0; the
    two differ under an exact value hash, so the oracle must not emit a
    negative zero."""
    import math

    from pdf_ocr_spark.queries import REGISTRY

    _, sql = REGISTRY["corpus_heaps"]
    df = con.execute(sql).df()
    floats = [v for c in df.columns if df[c].dtype.kind == "f" for v in df[c]]
    assert floats
    assert not [v for v in floats if v == 0 and math.copysign(1.0, v) < 0]

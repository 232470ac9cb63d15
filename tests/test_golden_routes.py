"""Every side-route golden, run on Spark: the route over its
``fixtures.genpages.CORPORA`` rows, sorted the way ``tools/freeze.py``
sorts, equals the committed golden row for row.  The freezer runs the
same ``Route`` value's rows function in-process, so this checks the
distributed half of each route against the local half."""

import pandas as pd
import pytest

from tools.freeze import ROUTE_GOLDENS, _sorted, golden_path


def _rows(df: pd.DataFrame) -> list:
    return [
        tuple(None if pd.isna(v) else v for v in row)
        for row in df.itertuples(index=False)
    ]


@pytest.mark.parametrize("name", sorted(ROUTE_GOLDENS))
def test_spark_route_equals_its_golden(spark, name):
    from pdf_ocr_spark.queries import _corpus

    corpus, route, sort = ROUTE_GOLDENS[name]
    got = _sorted(route(_corpus(spark, corpus, *route.cols)).toPandas(), sort)
    golden = pd.read_parquet(golden_path(name))
    assert list(got.columns) == list(golden.columns)
    assert _rows(got) == _rows(golden)

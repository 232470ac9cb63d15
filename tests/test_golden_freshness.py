"""Every frozen golden is fresh: rebuilding it with ``tools/freeze.py``
in-process yields exactly the committed parquet, so a kernel change that
silently moves a golden fails here instead of in the oracle gate."""

import io
import os

import pyarrow.parquet as pq
import pytest

from tests.conftest import REF_PDF
from tools.freeze import GOLDENS, golden_path

# 12–22 s each to build: the codec decoders at full page resolution
SLOW = {"jpeg_rasters", "ccitt_rasters", "jpx_rasters", "jbig2_rasters"}

# built from genpages.gen_rows, whose row 0 is the reference PDF
FROM_GEN_ROWS = {
    "blocks", "extract_corpus", "pages_table", "lineage_totals",
    "lineage_parts", "pipeline_e2e", "multimodal_frames", "sink_overlay",
    "rasters", "orientation", "wat", "wet_cdx",
}


@pytest.mark.parametrize("name", sorted(set(GOLDENS) - SLOW))
def test_golden_is_fresh(name):
    if name in FROM_GEN_ROWS and not os.path.exists(REF_PDF):
        pytest.skip("built from gen_rows; its row 0 is the absent reference PDF")
    buf = io.BytesIO()
    GOLDENS[name]().to_parquet(buf, index=False)
    buf.seek(0)
    assert pq.read_table(buf).equals(pq.read_table(golden_path(name)))


def test_every_golden_has_a_freezer():
    fixtures = os.path.dirname(golden_path("x"))
    frozen = {
        f[: -len("_golden.parquet")]
        for f in os.listdir(fixtures)
        if f.endswith("_golden.parquet")
    }
    assert frozen == set(GOLDENS)

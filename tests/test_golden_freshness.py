"""Every frozen golden is fresh: rebuilding it with ``tools/freeze.py``
in-process yields exactly the committed parquet, so a kernel change that
silently moves a golden fails here instead of in the oracle gate."""

import io
import os

import pyarrow.parquet as pq
import pytest

from tools.freeze import GOLDENS, golden_path

# 12–22 s each to build: the codec decoders at full page resolution
SLOW = {"jpeg_rasters", "ccitt_rasters", "jpx_rasters", "jbig2_rasters"}


@pytest.mark.parametrize("name", sorted(set(GOLDENS) - SLOW))
def test_golden_is_fresh(name):
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

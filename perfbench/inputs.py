"""Seeded benchmark inputs.

Everything the benchmark feeds the engine is generated here from the
``--seed`` argument, so the same seed always yields the same bytes:

* the mixed extraction corpus (``genpages.gen_rows`` with the reference
  PDF switched off: 25% glyph-CID PDF, 20% literal PDF, 10% scan PDF,
  40% HTML, 5% broken);
* the small-HTML ingest corpus (``genpages.make_html_page``);
* the TPC-H-ish tables plus the ``documents`` table the curation queries
  read, at a stated scale factor.

A corpus is written as ``base-*.parquet`` part files plus one
``new-*.parquet`` file holding the urls a resume run adds.
"""

from __future__ import annotations

import datetime
import os
import random
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

_BASE_TS = datetime.datetime(2025, 1, 1)


def mixed_rows(n: int, seed: int) -> List[dict]:
    """The genpages kind mix; urls carry the seed so corpora never overlap."""
    from pdf_ocr_spark.fixtures.genpages import gen_rows

    rows = gen_rows(n, seed, include_ref_pdf=False)
    for r in rows:
        r["url"] = r["url"].replace("example.test/", f"s{seed}.example.test/", 1)
    return rows


def html_rows(n: int, seed: int) -> List[dict]:
    """Small HTML pages only: the PDF kernels do no work on these."""
    from pdf_ocr_spark.fixtures.genpages import make_html_page

    rows = []
    for i in range(n):
        rng = random.Random((seed << 24) ^ i)
        lang = ("en", "ja", "zh")[i % 3]
        page, hint = make_html_page(rng, lang)
        rows.append(
            dict(
                url=f"https://h{i % 997}.s{seed}.example.test/p/{i:07d}",
                warc_ts=_BASE_TS + datetime.timedelta(seconds=(i * 7919) % 31_536_000),
                html=page,
                text=hint[:200],
                lang=lang,
            )
        )
    return rows


def kernel_slice(rows: List[dict], n: int, seed: int, n_vector: int = 8) -> List[dict]:
    """The first ``n`` rows plus ``n_vector`` vector-only line-art PDFs:
    the kind mix has no text-less vector page, so without them the
    raster layer would never run."""
    from pdf_ocr_spark.fixtures.genpages import make_vector_pdf

    vectors = [
        dict(url=f"https://s{seed}.example.test/docs/vector/{s:06d}",
             html=make_vector_pdf(n_strokes=10 + s, seed=seed * 31 + s))
        for s in range(n_vector)
    ]
    return rows[:n] + vectors


def _pages_table(rows: List[dict]) -> pa.Table:
    return pa.table(
        {name: [r[name] for r in rows] for name in PAGES_SCHEMA.names},
        schema=PAGES_SCHEMA,
    )


def write_corpus(path: str, rows: List[dict], n_new: int, n_files: int) -> Dict[str, object]:
    """Write ``rows[:-n_new]`` as ``n_files`` base part files and the last
    ``n_new`` rows as ``new-00000.parquet``.  Returns the corpus facts the
    result record carries."""
    os.makedirs(path, exist_ok=True)
    base, new = rows[: len(rows) - n_new], rows[len(rows) - n_new :]
    chunk = max(1, -(-len(base) // n_files))
    for k, i in enumerate(range(0, len(base), chunk)):
        pq.write_table(_pages_table(base[i : i + chunk]), os.path.join(path, f"base-{k:05d}.parquet"))
    if new:
        pq.write_table(_pages_table(new), os.path.join(path, "new-00000.parquet"))
    return {
        "path": path,
        "docs": len(rows),
        "base_docs": len(base),
        "new_docs": len(new),
        "payload_bytes": sum(len(r["html"]) for r in rows),
        "file_bytes": sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)),
        "base_glob": os.path.join(path, "base-*.parquet"),
        "all_glob": os.path.join(path, "*.parquet"),
    }


# -- curation tables ---------------------------------------------------------

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark "
    "the a line sort window order data column join small big customer "
    "query filter stream group vector"
).split()
_LANGS = ("en",) * 4 + ("zh", "es", "de", "fr")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE")
_PTYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
_PNAMES = [f"{a} {b}" for a in ("small", "red", "blue", "hot", "old", "large")
           for b in ("ring", "widget", "bolt", "gear", "gizmo", "plate")]
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_DAY0 = datetime.datetime(1995, 1, 1)


def write_tables(path: str, sf: float, seed: int) -> Dict[str, object]:
    """TPC-H-ish star schema plus ``documents``, with the same columns and
    types as the engine's test tables.  Row counts scale with ``sf``
    (lineitem = 6M x sf); ``documents`` is 500 rows at every scale."""
    rng = random.Random(seed)
    n_cust, n_sup, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)

    def day(days: int) -> datetime.datetime:
        return _DAY0 + datetime.timedelta(days=rng.randrange(days))

    def money(lo: float, hi: float) -> float:
        return round(rng.uniform(lo, hi), 2)

    i32 = pa.int32()
    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32), "r_name": list(_REGIONS)},
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": list(range(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], i32),
            "c_acctbal": [money(-999, 9999) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
        },
        "supplier": {
            "s_suppkey": list(range(n_sup)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_sup)], i32),
            "s_acctbal": [money(-999, 9999) for _ in range(n_sup)],
        },
        "part": {
            "p_partkey": list(range(n_part)),
            "p_name": [rng.choice(_PNAMES) for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
            "p_type": [rng.choice(_PTYPES) for _ in range(n_part)],
            "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], i32),
            "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)],
        },
        "orders": {
            "o_orderkey": list(range(n_ord)),
            "o_custkey": [rng.randrange(n_cust) for _ in range(n_ord)],
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
            "o_totalprice": [money(1000, 500_000) for _ in range(n_ord)],
            "o_orderdate": pa.array([day(2405) for _ in range(n_ord)], pa.timestamp("us")),
            "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(n_ord)],
        },
        "lineitem": {
            "l_orderkey": [rng.randrange(n_ord) for _ in range(n_li)],
            "l_partkey": [rng.randrange(n_part) for _ in range(n_li)],
            "l_suppkey": [rng.randrange(n_sup) for _ in range(n_li)],
            "l_linenumber": pa.array([rng.randrange(1, 8) for _ in range(n_li)], i32),
            "l_quantity": [float(rng.randrange(1, 51)) for _ in range(n_li)],
            "l_extendedprice": [money(900, 105_000) for _ in range(n_li)],
            "l_discount": [rng.randrange(11) / 100 for _ in range(n_li)],
            "l_tax": [rng.randrange(9) / 100 for _ in range(n_li)],
            "l_returnflag": [rng.choice("ANR") for _ in range(n_li)],
            "l_linestatus": [rng.choice("FO") for _ in range(n_li)],
            "l_shipdate": pa.array([day(2500) for _ in range(n_li)], pa.timestamp("us")),
        },
    }
    texts = [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(8, 90)))
        for _ in range(500)
    ]
    tables["documents"] = {
        "doc_id": list(range(500)),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in texts],
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": [len(t) for t in texts],
    }
    os.makedirs(path, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {
        "path": path,
        "sf": sf,
        "rows": rows,
        "file_bytes": sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)),
    }

"""In-process A/B of the PDF and HTML kernels of two checkouts.

    python tools/kernel_ab.py <checkout_a> <checkout_b> [n_docs] [seed] [reps]

Loads ``pdf_ocr_spark`` from both checkouts into ONE process (the
package modules are swapped out of ``sys.modules`` between the two
imports, and each tree keeps its own function objects), builds the
``perfbench/inputs.mixed_rows(n_docs, seed)`` corpus (defaults 3000, 1)
and times, per PDF kind, the COS layer on the raw bytes (``cos``:
``PDFDocument``, ``.pages()`` and ``fonts.load_page_fonts`` of every
page), ``interpret_page`` and ``build_lines`` on pre-parsed pages and
``extract_pdf`` on the raw bytes; and ``extract_html`` and
``extract_tables`` on the corpus's other payloads (kind ``html``) and on
the ``ingest_commit`` pages, ``perfbench/inputs.html_rows(5500, seed)``
(kind ``html_rows``).  The trees run
interleaved (A B, then B A, ...), the GC is set as in a tuned Spark
worker, and each figure is the minimum process CPU time over ``reps``
rounds (default 9), so host noise hits both trees alike.

Call the kernels directly, as here: ``extract_job._parse_batch``
imports them lazily, so an A/B through ``doc_rows`` runs whichever
tree was imported last.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import time


def _load(root: str) -> dict:
    for name in [m for m in sys.modules if m.split(".")[0] == "pdf_ocr_spark"]:
        del sys.modules[name]
    sys.path.insert(0, root)
    try:
        mods = {
            name: importlib.import_module(f"pdf_ocr_spark.kernels.pdf.{name}")
            for name in ("extract", "content", "layout", "cos", "fonts")
        }
        html = importlib.import_module("pdf_ocr_spark.kernels.html_extract")
    finally:
        sys.path.remove(root)
    assert mods["content"].__file__.startswith(os.path.abspath(root))
    return {
        "extract_pdf": mods["extract"].extract_pdf,
        "interpret_page": mods["content"].interpret_page,
        "build_lines": mods["layout"].build_lines,
        "PDFDocument": mods["cos"].PDFDocument,
        "load_page_fonts": mods["fonts"].load_page_fonts,
        "extract_html": html.extract_html,
        "extract_tables": html.extract_tables,
    }


def _cos(tree: dict):
    """The COS layer of one document: xref, page tree and page fonts."""
    PDFDocument, load_page_fonts = tree["PDFDocument"], tree["load_page_fonts"]

    def run(p: bytes) -> None:
        try:
            doc = PDFDocument(p)
            for page in doc.pages():
                load_page_fonts(doc, page.get("Resources"))
        except Exception:  # noqa: BLE001 — a broken doc is timed up to its failure
            pass

    return run


def _pages(tree: dict, payloads: list) -> list:
    out = []
    for p in payloads:
        try:
            doc = tree["PDFDocument"](p)
            for page in doc.pages():
                res = tree["interpret_page"](doc, page)
                out.append((doc, page, res.glyphs, res.height))
        except Exception:  # noqa: BLE001 — broken docs time nothing here
            continue
    return out


def _cpu(fn, items) -> float:
    t0 = time.process_time()
    for item in items:
        fn(*item)
    return time.process_time() - t0


def main(argv: list) -> None:
    a, b = (os.path.abspath(p) for p in argv[1:3])
    opts = [int(v) for v in argv[3:6]]
    n, seed, reps = opts + [3000, 1, 9][len(opts):]
    sys.path.insert(0, os.path.join(a, "perfbench"))
    from inputs import html_rows, mixed_rows

    trees = {"A": _load(a), "B": _load(b)}
    kinds: dict = {}
    htmls: dict = {"html": [], "html_rows": [r["html"] for r in html_rows(5500, seed)]}
    for r in mixed_rows(n, seed):
        p = r["html"]
        if p and p[:5] == b"%PDF-":
            kinds.setdefault(r["url"].split("/")[-2], []).append(p)
        elif p:
            htmls["html"].append(p)
    work = {}
    for t, tree in trees.items():
        for kind, payloads in kinds.items():
            pages = _pages(tree, payloads)
            work[t, kind] = {
                "cos": (_cos(tree), [(p,) for p in payloads]),
                "interpret_page": (tree["interpret_page"], [(d, p) for d, p, _, _ in pages]),
                "build_lines": (tree["build_lines"], [(g, h) for _, _, g, h in pages]),
                "extract_pdf": (tree["extract_pdf"], [(p,) for p in payloads]),
            }
        for kind, payloads in htmls.items():
            work[t, kind] = {
                step: (tree[step], [(p,) for p in payloads])
                for step in ("extract_html", "extract_tables")
            }
    order = sorted(kinds) + list(htmls)
    gc.collect()
    gc.freeze()
    gc.set_threshold(200_000, 100, 100)  # as extract_job._tune_worker sets it
    best: dict = {}
    for rep in range(reps):
        for kind in order:
            for t in ("A", "B") if rep % 2 == 0 else ("B", "A"):
                for step, (fn, items) in work[t, kind].items():
                    v = _cpu(fn, items)
                    best[t, kind, step] = min(best.get((t, kind, step), v), v)
    print(f"{n} docs, seed {seed}, min process CPU s of {reps} interleaved rounds,"
          f" {os.cpu_count()} cpus")
    total = {"A": 0.0, "B": 0.0}
    for kind in order:
        for step in work["A", kind]:
            va, vb = best["A", kind, step], best["B", kind, step]
            if step == "extract_pdf":
                total["A"] += va
                total["B"] += vb
            print(f"{kind:12s} {step:15s} A {va:7.3f}  B {vb:7.3f}  B/A {vb / va:5.3f}")
    print(f"{'all':12s} {'extract_pdf':15s} A {total['A']:7.3f}  B {total['B']:7.3f}"
          f"  B/A {total['B'] / total['A']:5.3f}")


if __name__ == "__main__":
    main(sys.argv)

"""pdf_ocr_spark — a from-scratch, PySpark-native document-extraction engine.

Reproduces the data-processing semantics of the reference pdf-ocr tool
(PDF → pages → typed text blocks → ordered extracted text, plus an HTML
boilerplate stripper for web pages) as an idiomatic Spark DataFrame
pipeline: pure-Python parsing kernels run inside vectorized Arrow
``mapInArrow`` batches, relational shaping stays in Catalyst built-ins,
and the job is checkpointable/resumable with per-partition lineage.

Layout:
    kernels/   pure-Python compute kernels (no Spark imports): PDF parser,
               HTML boilerplate stripper, OCR stub, text statistics
    pipeline/  the Spark extraction job (repartition → one mapInArrow
               stage: parse + batched OCR + ordered concat → sinks,
               resume via anti-join)
    operators/ reusable DataFrame operators (dedup, similarity search,
               text analysis, multimodal plumbing)
    fixtures/  deterministic synthetic corpus generator (pages table)
"""

__version__ = "0.1.0"

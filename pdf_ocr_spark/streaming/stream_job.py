"""Structured Streaming surface of the extraction engine.

The reference is a batch tool (SURVEY.md §1.3), but a web-scale crawl is
an unbounded source: new WARC-derived parquet files land continuously.
Spark's checkpoint tracks which input files each micro-batch read; every
entry point drains what has landed and stops (:func:`_drain`):

* :func:`stream_extract` — each micro-batch runs the batch run's commit
  (resume anti-join, fused extractor, ``write_docs`` append) into the
  batch run's table, so a replay resumes like a batch rerun.
* :func:`stream_wet_export`, :func:`stream_quality_gate`,
  :func:`stream_hot_hosts` — one ``batch=<id>`` directory per
  micro-batch, overwritten on replay (:func:`_per_batch_dirs`).
* :func:`windowed_event_counts` — watermarked tumbling-window counts
  (late data handled by the watermark), the streaming analogue of the
  hourly-rollup batch query.
* :func:`running_totals_stateful` — ``applyInPandasWithState`` custom
  stateful operator: running per-group totals that survive across
  micro-batches (SURVEY.md §2.10 / task-spec "applyInPandasWithState
  for custom stateful operators").
"""

from __future__ import annotations

import os
from typing import Callable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pdf_ocr_spark.pipeline.extract_job import (
    DOC_SCHEMA,
    append_extraction,
    doc_rows,
    extract_documents,
    kernel_route,
)

#: schema of the Common-Crawl-style pages table (BASELINE.json input_hint)
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def _read_stream(
    spark: SparkSession, path: str, schema: StructType = PAGES_SCHEMA
) -> DataFrame:
    """The parquet files landing under ``path`` as a file-source stream.
    A crawl WILL contain truncated/garbage files; one must not kill the
    stream (probed: without ``ignoreCorruptFiles`` the query terminates)."""
    return (
        spark.readStream.schema(schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
    )


def _drain(writer, checkpoint_path: str):
    """Start a ``DataStreamWriter`` that processes what has landed and
    stops (AvailableNow).  Returns the started query."""
    return writer.option("checkpointLocation", checkpoint_path).trigger(
        availableNow=True
    ).start()


def _per_batch_dirs(stream: DataFrame, output_path: str, checkpoint_path: str,
                    rows: Callable[[DataFrame], DataFrame]):
    """Micro-batch ``<id>`` overwrites ``<output_path>/batch=<id>`` with
    ``rows(batch)``: a replayed micro-batch rewrites its own output, so
    checkpoint plus directory layout give exactly-once output."""

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        rows(batch_df).write.mode("overwrite").parquet(
            os.path.join(output_path, f"batch={batch_id}")
        )

    return _drain(stream.writeStream.foreachBatch(_emit), checkpoint_path)


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    num_partitions: Optional[int] = None,
):
    """Incremental extraction into the batch run's docs table: each
    micro-batch of new files under ``input_path`` runs
    ``run_extraction``'s commit (``extract_job.append_extraction``), so
    a batch run and every reader see the streamed rows.  A replayed
    micro-batch resumes like a batch rerun: it appends only retried
    ``ocr_failed`` rows (``canonical_docs`` resolves them), at one read
    of the table's ``(url, failure_reason)`` per micro-batch.  Returns
    the started StreamingQuery."""

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        append_extraction(batch_df.sparkSession, batch_df, output_path,
                          num_partitions=num_partitions)

    stream = _read_stream(spark, input_path).writeStream.foreachBatch(_commit)
    return _drain(stream, checkpoint_path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window rollup over a (streaming or batch)
    events frame with columns (ts timestamp, event_type string,
    value double).  Late rows beyond the watermark are dropped; state for
    closed windows is reclaimed — this is what keeps the operator's state
    bounded on an unbounded 100 TB/day stream."""
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ → TZ: watermarks need instants
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_exact(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST document per normalized-text
    fingerprint inside the watermark horizon
    (``dropDuplicatesWithinWatermark`` — the streaming twin of the batch
    ``dedup_extracted`` stage).  Dedup state ages out with the watermark,
    which is what keeps it bounded on an unbounded crawl: an exact
    re-crawl of a page weeks later is deduplicated by the BATCH pass over
    the accumulated table, not by streaming state."""
    from pdf_ocr_spark.operators.dedup import fingerprint

    return (
        docs.withColumn("fingerprint", fingerprint(F.col(text_col)))
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def stream_incremental_dedup(
    docs: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming cross-snapshot dedup: continuous crawl ingestion
    filtered against the STATIC historical fingerprint store (the
    streaming twin of ``operators.dedup.incremental_dedup``), then
    first-sighting dedup within the stream's watermark horizon.

    The history check is a stream-static LEFT ANTI join — Spark
    re-plans the static side per micro-batch, so appending the batch
    pass's new fingerprints to the store takes effect on the next
    trigger without restarting the query.  At crawl scale the store is
    a parquet/Iceberg table partitioned by fingerprint prefix: each
    micro-batch's join prunes to the buckets its fingerprints touch.
    Within-stream duplicates are handled by
    ``dropDuplicatesWithinWatermark`` — state stays watermark-bounded
    on an unbounded stream."""
    from pdf_ocr_spark.operators.dedup import fingerprint

    seen = seen_fingerprints.select("fingerprint")
    return (
        docs.withColumn("fingerprint", fingerprint(F.col(text_col)))
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .join(seen, "fingerprint", "left_anti")
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


_STATE_SCHEMA = StructType(
    [StructField("n_docs", LongType()), StructField("n_bytes", LongType())]
)
_TOTALS_SCHEMA = StructType(
    [
        StructField("lang", StringType()),
        StructField("n_docs", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def _totals_fn(
    key: Tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Running totals per key, kept in GroupState across micro-batches."""
    n_docs, n_bytes = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n_docs += len(pdf)
        n_bytes += int(pdf["n_bytes"].sum())
    state.update((n_docs, n_bytes))
    yield pd.DataFrame(
        {"lang": [key[0]], "n_docs": [n_docs], "n_bytes": [n_bytes]}
    )


def running_totals_stateful(pages: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: cumulative per-lang doc/byte
    totals via ``applyInPandasWithState``.  Input needs columns
    (lang string, n_bytes long); each micro-batch emits the updated
    running totals for the langs it touched.

    This is the engine's one pandas stage.  Its Arrow successor,
    ``transformWithState``, runs only with the RocksDB state-store
    provider, and that provider is a session-wide setting
    (``spark.sql.streaming.stateStore.providerClass``): choosing it here
    would move every stateful stream of the session, the watermarked
    windows and dedups included, onto RocksDB."""
    return pages.groupBy("lang").applyInPandasWithState(
        _totals_fn,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_feed_frontier(
    spark: SparkSession,
    feeds_path: str,
    output_path: str,
    checkpoint_path: str,
    num_partitions: Optional[int] = None,
):
    """Streaming frontier discovery from feeds — the operational loop a
    crawler runs continuously: new feed documents (parquet files of
    (url, body)) land under ``feeds_path``, their RSS/Atom items parse
    through the SAME kernel as the batch route, and
    ``dropDuplicatesWithinWatermark`` on the discovered link keeps each
    url's FIRST sighting only, so the downstream fetch queue never
    double-enqueues.  The checkpoint is the resume protocol, exactly as
    in :func:`stream_extract`.  Returns the started StreamingQuery.

    State stays bounded: the watermark ages out link-dedup state after
    a day — re-discoveries beyond that are acceptable (the fetch loop's
    snapshot-table anti-join is the durable guard)."""
    from pdf_ocr_spark.operators.frontier import feed_items

    schema = StructType(
        [
            StructField("url", StringType()),
            StructField("body", BinaryType()),
            StructField("fetched_at", TimestampType()),
        ]
    )
    # the batch route's feed parser, with the fetch timestamp passed
    # through onto every item for the watermark
    items = (
        kernel_route(
            _read_stream(spark, feeds_path, schema), feed_items.rows_fn,
            # a LOCAL schema: StructType.add mutates the receiver, and
            # the route's schema is shared with the batch route
            StructType(
                [*feed_items.schema.fields, StructField("fetched_at", TimestampType())]
            ),
            cols=(*feed_items.cols, "fetched_at"),
            num_partitions=num_partitions,
        )
        .withWatermark("fetched_at", "1 day")
        .dropDuplicatesWithinWatermark(["link"])
    )
    return _drain(
        items.writeStream.format("parquet").option("path", output_path)
        .outputMode("append"),
        checkpoint_path,
    )


#: DOC_SCHEMA plus the input row's capture timestamp, passed through the
#: extractor 1:1 (``doc_rows`` carries trailing input columns onto the
#: doc row of their input row) — WET conversion records must carry the
#: ORIGINAL WARC-Date of the capture they convert, like Common Crawl's WET
#: product.
DOC_TS_SCHEMA = StructType(
    list(DOC_SCHEMA.fields) + [StructField("warc_ts", TimestampType())]
)


def stream_wet_export(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    num_partitions: Optional[int] = None,
):
    """Streaming WET export — the continuous-publication twin of the
    batch ``sink_wet_export`` product: every micro-batch of newly
    landed pages runs the SAME fused extractor, and its non-empty
    extracted texts land as conversion-record WARC (WET) archives, one
    archive per partition per batch, each stamped with the page's REAL
    capture timestamp (``warc_ts`` threaded through the extractor) so
    the conversion records keep the original WARC-Date like Common
    Crawl's WET product; null capture timestamps render as the epoch
    (``pages_to_warc``'s null contract).

    The archives go to exactly-once ``batch=<id>`` directories
    (:func:`_per_batch_dirs`).  Returns the started query."""
    from pdf_ocr_spark.sources.warc import pages_to_warc

    docs = kernel_route(
        _read_stream(spark, input_path), doc_rows, DOC_TS_SCHEMA,
        cols=("url", "html", "warc_ts"), num_partitions=num_partitions,
    )

    def _archives(batch_df: DataFrame) -> DataFrame:
        return pages_to_warc(
            batch_df.filter(F.length("extracted_text") > 0).select(
                "url",
                "warc_ts",
                F.lit(None).cast("binary").alias("html"),
                F.col("extracted_text").alias("text"),
                F.lit("unknown").alias("lang"),
            )
        )

    return _per_batch_dirs(docs, output_path, checkpoint_path, _archives)


def stream_quality_gate(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    model_rows,
    threshold: float,
    buckets: int = 4096,
    num_partitions: Optional[int] = None,
):
    """Streaming quality gate — the continuous twin of the batch
    ``quality_nb_score`` + quota cut (the FineWeb-edu deployment shape:
    the classifier trains OFFLINE on the curated reference, then gates
    every newly crawled page online): each micro-batch of landed pages
    runs the fused extractor, the extracted text is scored with the
    frozen NB weight table (``model_rows`` — the collected broadcast
    model, rebuilt per batch so the stream carries no JVM state), and
    only rows with ``nb_score > threshold`` land.

    The threshold is a FIXED offline-calibrated constant, not a
    per-batch quantile — a per-batch cut would make row fate depend on
    micro-batch boundaries, breaking the retry-idempotence contract.
    Rows go to exactly-once ``batch=<id>`` directories
    (:func:`_per_batch_dirs`).  Returns the started query."""
    from pdf_ocr_spark.operators.quality import nb_score

    docs = extract_documents(_read_stream(spark, input_path), num_partitions)
    model_local = [
        (int(r[0]), int(r[1]), int(r[2]), r[3]) for r in model_rows
    ]

    def _kept(batch_df: DataFrame) -> DataFrame:
        model = batch_df.sparkSession.createDataFrame(
            model_local,
            schema="bucket int, pos_cnt long, neg_cnt long, weight decimal(18,6)",
        )
        scored = nb_score(
            batch_df, model, text_col="extracted_text", id_col="url",
            buckets=buckets,
        )
        return (
            batch_df.join(scored, "url")
            .filter(F.col("nb_score") > threshold)
            .select("url", "extracted_text", "nb_score")
        )

    return _per_batch_dirs(docs, output_path, checkpoint_path, _kept)


def stream_hot_hosts(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    d: int = 3,
    w: int = 64,
):
    """Streaming heavy-hitter sketch over arriving pages: every
    micro-batch builds its own Count-Min counter table for the batch's
    HOSTS (bounded: ≤ d·w rows per batch no matter the traffic) and
    writes it into an exactly-once ``batch=<id>`` directory
    (:func:`_per_batch_dirs`): a retried micro-batch overwrites its own
    output instead of double-counting, which is precisely the failure
    mode a naive streaming counter accumulator has (at-least-once replay
    inflates counts; a FIXED per-batch sketch directory cannot).

    The live "who is hot right now" view is :func:`merged_host_sketch`
    — CMS mergeability (groupBy sum over the batch dirs) means the
    sketch state is an append-only directory tree, never a mutable
    aggregate.  Returns the started query."""
    from pdf_ocr_spark.operators.graph import host_expr
    from pdf_ocr_spark.operators.sketches import cms_counts

    def _sketch(batch_df: DataFrame) -> DataFrame:
        hosts = batch_df.select(host_expr(F.col("url")).alias("item"))
        return cms_counts(
            hosts.filter(F.col("item") != ""), "item", d=d, w=w
        ).coalesce(1)

    return _per_batch_dirs(
        _read_stream(spark, input_path), output_path, checkpoint_path, _sketch
    )


def merged_host_sketch(spark: SparkSession, output_path: str) -> DataFrame:
    """The read-side merge of :func:`stream_hot_hosts` batch dirs: one
    groupBy sum over ≤ d·w rows per batch — the CMS merge property.
    Point-query it with :func:`sketches.cms_estimate`."""
    return (
        spark.read.parquet(output_path)
        .groupBy("row", "pos")
        .agg(F.sum("cnt").alias("cnt"))
    )

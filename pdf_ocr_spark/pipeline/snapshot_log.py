"""Iceberg-style snapshot log on plain parquet (table-format lite).

The north rule names Iceberg tables; this sandbox ships no
iceberg-spark-runtime jar, so this module implements the part of the
table format the pipeline actually depends on — ATOMIC COMMITS and
SNAPSHOT-ISOLATION READS — with the same mechanics Iceberg uses
(immutable data files + a manifest log, commit = one atomic metadata
operation):

    table/
      data/<run_id>/part-*.parquet        immutable per-run data files
      data/<run_id>/_sidecar/*.parquet    lineage rows for the run
      _snapshots/<seq>-<run_id>.json      manifest: one per committed run

A reader sees exactly the union of data dirs named by manifests; a run
that crashes mid-write leaves an orphan data dir that NO manifest names
— invisible to readers and to resume, so partially-written output can
never poison the table (the directory-listing append mode can't promise
that).  The manifest is committed via write-temp + ``os.rename`` —
atomic on POSIX; on real object storage this maps to Iceberg's
metadata-pointer swap.  The sidecar commits in the SAME manifest as its
data, closing the window of the plain parquet table
(:func:`~pdf_ocr_spark.pipeline.extract_job.run_extraction`, which
appends its sidecar after its data).

A compaction manifest may carry ``replaces: [run_id, ...]`` — readers
then skip the superseded run dirs (see :func:`compact_table`), which is
how incremental/streaming appends' small files fold into one run without
breaking snapshot isolation (the compacted data commits atomically
BEFORE its sources are marked replaced; replaced dirs stay on disk for
time-travel/GC, exactly Iceberg's rewrite-files action).

Single-writer assumption: the commit sequence number comes from listing
``_snapshots/`` — two simultaneous writers could pick the same sequence
and one manifest would overwrite the other (its data dir becoming an
invisible orphan — safe but lost work).  Real Iceberg serializes this
with an optimistic metadata-pointer swap; coordinate concurrent writers
externally (one driver per table), as with any Hive-style table.

One run driver, :func:`~pdf_ocr_spark.pipeline.extract_job.run_job`,
serves every table format; each entry point supplies only its pages
(``read_pages``), its committed rows and its commit step.
:func:`run_extraction_snapshot` resumes from this log's current snapshot
and writes data, then sidecars, to a fresh run dir, then the manifest
rename.  :func:`run_extraction_iceberg` resumes from a REAL Iceberg
catalog table and commits with
``writeTo(table).create()``/``.append()`` when the iceberg-spark-runtime
jar is on the classpath (:func:`iceberg_available`), with this log as
the always-available fallback; without the jar it is covered by seam
tests plus a jar-gated end-to-end test.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_ocr_spark.pipeline.extract_job import (
    input_split_lineage,
    read_pages,
    run_job,
    write_docs,
)


def _snapshots_dir(table_path: str) -> str:
    return os.path.join(table_path, "_snapshots")


def committed_manifests(table_path: str) -> List[dict]:
    """All committed manifests in commit (seq) order."""
    sdir = _snapshots_dir(table_path)
    if not os.path.isdir(sdir):
        return []
    out = []
    for name in sorted(os.listdir(sdir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(sdir, name)) as f:
            out.append(json.load(f))
    return out


def _live_runs(manifests: List[dict]) -> dict:
    """``{run_id: n_docs}`` of the runs that hold rows and that no later
    compaction replaced, in commit order."""
    replaced = set()
    for m in manifests:
        replaced.update(m.get("replaces", []))
    return {
        m["run_id"]: m["n_docs"] for m in manifests
        if m.get("n_docs", 0) > 0 and m["run_id"] not in replaced
    }


class SnapshotExpiredError(RuntimeError):
    """A time-travel read named a snapshot whose data files were
    deleted by :func:`expire_snapshots` — the read cannot be served."""


def committed_data_dirs(
    table_path: str, as_of_seq: Optional[int] = None
) -> List[str]:
    """Data dirs visible in the current snapshot, or — with
    ``as_of_seq`` — as of commit sequence N (time travel: manifests
    with ``seq > N`` and their replaces are ignored, so a read placed
    before a compaction sees the original runs).  Raises
    :class:`SnapshotExpiredError` if a needed dir was expired."""
    manifests = committed_manifests(table_path)
    if as_of_seq is not None:
        manifests = [m for m in manifests if m["seq"] <= as_of_seq]
    dirs = [os.path.join(table_path, "data", r) for r in _live_runs(manifests)]
    missing = [
        d for d in dirs
        if not os.path.isdir(d) or os.path.exists(os.path.join(d, "_EXPIRED"))
    ]
    if missing:
        raise SnapshotExpiredError(
            f"snapshot as_of_seq={as_of_seq} needs expired data dirs: "
            + ", ".join(os.path.basename(d) for d in missing)
        )
    return dirs


def read_snapshot_table(
    spark: SparkSession, table_path: str, as_of_seq: Optional[int] = None
) -> Optional[DataFrame]:
    """Snapshot-isolation read: union of committed runs only.  Returns
    None for an empty table.  Orphan (uncommitted) data dirs are never
    read — they are not in any manifest.  ``as_of_seq`` time-travels to
    an earlier commit (Iceberg's VERSION AS OF)."""
    dirs = committed_data_dirs(table_path, as_of_seq)
    if not dirs:
        return None
    # per-run reads unioned (not one multi-path read): each run dir may be
    # hive-partitioned on url_bucket, and partition discovery across
    # differently-rooted paths is fragile; per-dir discovery is exact
    dfs = [spark.read.parquet(d) for d in dirs]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def _read_run_side_dirs(
    spark: SparkSession, table_path: str, name: str
) -> Optional[DataFrame]:
    """The ``<run dir>/<name>`` files of EVERY committed run, including
    runs later superseded by a compaction — lineage is history, not
    table state.  None when no run wrote one."""
    dirs = [
        os.path.join(table_path, "data", m["run_id"], name)
        for m in committed_manifests(table_path)
    ]
    dirs = [d for d in dirs if os.path.isdir(d)]
    return spark.read.parquet(*dirs) if dirs else None


def read_snapshot_sidecar(spark: SparkSession, table_path: str) -> Optional[DataFrame]:
    """Lineage sidecars of every committed run (:func:`_read_run_side_dirs`)."""
    return _read_run_side_dirs(spark, table_path, "_sidecar")


def read_snapshot_splits(spark: SparkSession, table_path: str) -> Optional[DataFrame]:
    """Input-split lineage of every committed run: which input file
    presented which url range TO the run (recorded from the raw scan,
    before the resume filter — ``input_file_name()`` only resolves on a
    single-source plan).  None until a committed run appends docs."""
    return _read_run_side_dirs(spark, table_path, "_sidecar_splits")


def commit_run(
    table_path: str,
    run_id: str,
    n_docs: int,
    replaces: Optional[List[str]] = None,
) -> None:
    """Atomic commit: temp-write the manifest, fsync, rename into
    ``_snapshots/``.  The rename is the commit point — before it, the
    run's data dir is invisible; after it, fully visible.  ``replaces``
    marks source runs superseded by this one (compaction)."""
    sdir = _snapshots_dir(table_path)
    os.makedirs(sdir, exist_ok=True)
    seq = len([n for n in os.listdir(sdir) if n.endswith(".json")])
    final = os.path.join(sdir, f"{seq:06d}-{run_id}.json")
    tmp = final + ".tmp"
    manifest = {"seq": seq, "run_id": run_id, "n_docs": n_docs}
    if replaces:
        manifest["replaces"] = list(replaces)
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)


def expire_snapshots(table_path: str, keep_from_seq: int) -> List[str]:
    """Iceberg's expire-snapshots maintenance action: abandon time
    travel to commits older than ``keep_from_seq`` by deleting the data
    files of runs whose REPLACEMENT committed before that sequence (a
    run replaced at ``seq >= keep_from_seq`` must survive — reads as of
    ``keep_from_seq`` still need it).  Live runs are never touched.

    The lineage ``_sidecar`` inside each expired run dir is PRESERVED —
    lineage is history, not table state (read_snapshot_sidecar keeps
    reporting every run ever committed).  Returns the expired run ids.

    Single-writer assumption as for commits: run maintenance from the
    table's one driver."""
    replaced_at: dict = {}
    for m in committed_manifests(table_path):
        for r in m.get("replaces", []):
            replaced_at.setdefault(r, m["seq"])
    expired = []
    for run_id, seq in sorted(replaced_at.items()):
        if seq >= keep_from_seq:
            continue
        d = os.path.join(table_path, "data", run_id)
        if not os.path.isdir(d) or os.path.exists(os.path.join(d, "_EXPIRED")):
            continue  # gone or already expired — idempotent
        for name in os.listdir(d):
            if name in ("_sidecar", "_sidecar_splits"):
                continue  # BOTH lineage sidecars are history, not state
            p = os.path.join(d, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        # marker: the dir still exists (it keeps the lineage sidecar),
        # so readers detect expiry by this file, not by isdir
        with open(os.path.join(d, "_EXPIRED"), "w") as f:
            f.write(run_id)
        expired.append(run_id)
    return expired


def remove_orphan_runs(table_path: str) -> List[str]:
    """Delete data dirs named by NO manifest — the leftovers of runs
    that crashed before their commit rename.  Safe because readers and
    resume only ever see committed dirs; run it only while no writer is
    active (single-writer assumption).  Returns the removed run ids."""
    data_root = os.path.join(table_path, "data")
    if not os.path.isdir(data_root):
        return []
    named = {m["run_id"] for m in committed_manifests(table_path)}
    removed = []
    for name in sorted(os.listdir(data_root)):
        d = os.path.join(data_root, name)
        if os.path.isdir(d) and name not in named:
            shutil.rmtree(d)
            removed.append(name)
    return removed


def compact_table(
    spark: SparkSession,
    table_path: str,
    target_partitions: int = 32,
    min_runs: int = 2,
) -> int:
    """Fold all committed runs into ONE compacted run (the small-files
    maintenance pass streaming/incremental appends need at scale):
    read the current snapshot, rewrite it coalesced, commit the new run
    with ``replaces`` naming every source — one atomic swap, readers see
    either the old set or the compacted one, never both.  Superseded
    dirs stay on disk (time-travel/GC territory).  Returns the number of
    rows compacted (0 = nothing to do)."""
    live = _live_runs(committed_manifests(table_path))
    if len(live) < min_runs:
        return 0
    run_id = "compact-" + uuid.uuid4().hex[:12]
    run_dir = os.path.join(table_path, "data", run_id)
    # keeps the prunable url_bucket layout when the table has one
    df = read_snapshot_table(spark, table_path).coalesce(target_partitions)
    write_docs(df, run_dir, "overwrite")
    n = sum(live.values())  # each manifest counts its run's rows: no count job
    commit_run(table_path, run_id, n, replaces=list(live))
    return n


def run_extraction_snapshot(
    spark: SparkSession,
    input_path: str,
    table_path: str,
    num_partitions: Optional[int] = None,
    partition_buckets: Optional[int] = None,
    split_giants: bool = False,
    giant_bytes: int = 4 << 20,
    input_format: str = "parquet",
    content_dedup: bool = False,
) -> int:
    """Checkpointable batch run (:func:`~pdf_ocr_spark.pipeline.extract_job.run_job`)
    against a snapshot-log table: resume against the committed snapshot,
    write data, then sidecars, to a fresh run dir (removed again if the
    run appends nothing), then the ATOMIC manifest commit.  Returns the
    number of documents appended by this run.

    ``content_dedup=True`` additionally drops documents whose extracted
    text already exists in the committed table (cross-run incremental
    dedup, :func:`~pdf_ocr_spark.pipeline.extract_job.dedup_incremental`)
    and exact-dedups within the batch — crawl mirrors never enter the
    corpus twice even under different urls.

    Kill-and-restart safe at any point: a crash before the manifest
    rename leaves only an invisible orphan run dir; rerunning resumes
    from the last committed snapshot and re-extracts the lost work."""
    run_id = uuid.uuid4().hex[:16]
    run_dir = os.path.join(table_path, "data", run_id)
    pages = read_pages(spark, input_path, input_format)

    def commit(docs: DataFrame, lineage) -> None:
        write_docs(docs, run_dir, "overwrite")  # fresh dir: overwrite=create
        n, sidecar = lineage()
        if n == 0:  # nothing appended: no run dir, as if never written
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            sidecar.withColumn(
                "run_id", F.lit(run_id)
            ).write.mode("overwrite").parquet(os.path.join(run_dir, "_sidecar"))
            # one row per input file: read_pages is always a file scan
            input_split_lineage(pages).withColumn(
                "run_id", F.lit(run_id)
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(run_dir, "_sidecar_splits")
            )
        # the commit point — everything above is invisible until here
        commit_run(table_path, run_id, n)

    return run_job(
        spark, pages, read_snapshot_table(spark, table_path), commit,
        num_partitions=num_partitions, partition_buckets=partition_buckets,
        split_giants=split_giants, giant_bytes=giant_bytes,
        content_dedup=content_dedup,
    )


# ---------------------------------------------------------------------------
# Real Iceberg runtime path (engaged when iceberg-spark-runtime is present)
# ---------------------------------------------------------------------------


def iceberg_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark-runtime jar is on the JVM classpath
    (``org.apache.iceberg.spark.SparkCatalog`` loads).  The sandbox has
    no jar → False; a cluster launched with
    ``--packages org.apache.iceberg:iceberg-spark-runtime-*`` → True."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — classpath probe
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 — Py4J wraps ClassNotFound opaquely
        return False


def _table_exists(spark: SparkSession, table_ident: str) -> bool:
    try:
        return bool(spark.catalog.tableExists(table_ident))
    except Exception:  # noqa: BLE001 — malformed identifier → treat as absent
        return False


def _append_to_table(docs: DataFrame, table_ident: str, create: bool) -> None:
    """The one Iceberg write seam: V2 writer ``writeTo(ident).create()``
    on first run, ``.append()`` after — each is ONE atomic Iceberg
    commit (metadata-pointer swap), the engine-side twin of
    :func:`commit_run`'s manifest rename.  Kept tiny and argument-pure
    so the sandbox (no jar) can pin the call contract with a recording
    stub while the jar-gated e2e test exercises the real thing."""
    writer = docs.writeTo(table_ident)
    if create:
        writer.create()
    else:
        writer.append()


def run_extraction_iceberg(
    spark: SparkSession,
    input_path: str,
    table_ident: str,
    num_partitions: Optional[int] = None,
    input_format: str = "parquet",
    lineage_table: Optional[str] = None,
) -> int:
    """The checkpointable extraction run
    (:func:`~pdf_ocr_spark.pipeline.extract_job.run_job`) against a REAL
    Iceberg catalog table — the north rule's deployment shape, engaged
    when the runtime jar is present (:func:`iceberg_available`);
    otherwise raises RuntimeError pointing at
    :func:`run_extraction_snapshot` (the parquet snapshot-log fallback
    with identical semantics).

    Resume reads the table's current snapshot, so a crashed append —
    which never committed — is invisible, exactly like an orphan run
    dir.  The commit is ``writeTo(...).create()`` on the first run and
    ``.append()`` after (one atomic Iceberg commit each).  The data
    append is the run's one extraction, so a fully-resumed rerun commits
    an empty append (a snapshot that adds no files).  Lineage goes
    to ``<table>_lineage`` (or ``lineage_table``) as a second append; it
    trails the data commit, so a crash between the two loses only
    observability rows, never data consistency."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "iceberg-spark-runtime not on the classpath; use "
            "run_extraction_snapshot (parquet snapshot log, identical "
            "resume/atomicity semantics) or launch with the Iceberg jar"
        )
    exists = _table_exists(spark, table_ident)
    run_id = uuid.uuid4().hex[:16]

    def commit(docs: DataFrame, lineage) -> None:
        _append_to_table(docs, table_ident, create=not exists)
        n, lin = lineage()
        if n > 0:
            lin = lin.withColumn("run_id", F.lit(run_id))
            lt = lineage_table or f"{table_ident}_lineage"
            _append_to_table(lin, lt, create=not _table_exists(spark, lt))

    done = spark.table(table_ident) if exists else None
    return run_job(
        spark, read_pages(spark, input_path, input_format), done, commit,
        num_partitions=num_partitions,
    )

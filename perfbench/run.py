#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 6 --trace 0

Generates the workload's inputs from ``--seed``, then twice starts the
engine's own SparkSession (``pipeline.session.get_spark``) on
``local[nproc]``, warms it up with untimed jobs, and runs the workload's
timed job in a closed loop (one job starts when the previous one has
finished) for half of ``--seconds``.  It checks every job's output and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints the per-layer metrics (Spark plan pieces and event
log, in-process kernel spans, sink/resume, curation queries).  A full
record with the environment stamp goes to
``.perfbench_work/records/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from typing import Callable, Dict, List, Optional, Tuple

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("extract_mix", "ingest_commit")
EXTRACT_DOCS = 3000     # mixed corpus; the last 10% are the resume's new urls
INGEST_BASE_DOCS = 5_000
INGEST_NEW_DOCS = 500
KERNEL_SLICE_DOCS = 600
CURATE_SF = 0.01
CURATE_QUERIES = ("dedup_verified_lsh", "text_lang_id2", "filter_funnel",
                  "tpch_q5ish", "tpch_q14ish", "blocks_composite", "html_tables")
SESSIONS = 2            # cold starts per run; setup_s is their median
WARM_JOBS = {"extract_mix": 1, "ingest_commit": 2}  # untimed jobs per session
SAMPLE_DOCS = 48        # docs per job compared byte-for-byte to in-process output
BASE_FILES = 16

Metrics = Dict[str, Tuple[float, str]]


# -- environment ---------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> Optional[str]:
    """HEAD of the checkout, or None when it is not a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                         capture_output=True, text=True, check=False)
    return out.stdout.strip() or None


def env_stamp() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_commit": git_commit(),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def configure_process_env(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write inside the run
    directory, and let the Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")


# -- session lifecycle -----------------------------------------------------------


def start_session(work: str, event_dir: Optional[str] = None):
    from pdf_ocr_spark.pipeline.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"
    spark = get_spark("perfbench", cores=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and its JVM, then wait until every process the session
    started (JVM, PySpark daemon, Python workers) has ended."""
    from pyspark import SparkContext

    from probes import process_tree

    started = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def force(df) -> None:
    """Run a plan to completion without bringing rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def isolate(spark) -> None:
    """Start a timed job clean, as bench.py does per query."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def setup(work: str, warm_path: str, event_dir: Optional[str] = None):
    """SparkSession start plus warm-up: JVM, codegen, and one Python
    worker per core with the kernels imported.  Returns (spark, seconds)."""
    from pyspark.sql import functions as F

    from pdf_ocr_spark.pipeline.extract_job import extract_documents

    t0 = time.perf_counter()
    spark = start_session(work, event_dir)
    spark.range(100_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    force(extract_documents(spark.read.parquet(warm_path), nproc()))
    return spark, time.perf_counter() - t0


# -- jobs and their checks ---------------------------------------------------------

DOC_COLS = ("url", "content_kind", "extracted_text", "n_pages", "n_blocks",
            "n_chars", "status", "failure_reason", "n_bytes", "n_ocr_pages")


class Checker:
    """Expected output: the input url set and in-process rows for a
    deterministic sample of urls."""

    def __init__(self, rows: List[dict], seed: int):
        import random

        self.urls = {r["url"] for r in rows}
        self.sample_rows = random.Random(seed).sample(rows, min(SAMPLE_DOCS, len(rows)))
        self.sample_urls = sorted(r["url"] for r in self.sample_rows)
        self._expected = None

    def expected(self) -> Dict[str, dict]:
        if self._expected is None:
            from kernel_trace import extract_in_process

            table = extract_in_process(self.sample_rows)
            self._expected = {r["url"]: r for r in table.to_pylist()}
        return self._expected

    def sampled(self, docs):
        """``docs`` reduced to url, status and the full row of sampled urls."""
        from pyspark.sql import functions as F

        return docs.select(
            "url", "status",
            F.when(F.col("url").isin(self.sample_urls), F.struct(*DOC_COLS)).alias("row"),
        )

    def problems(self, table) -> List[str]:
        urls = table.column("url").to_pylist()
        out = []
        if len(urls) != len(set(urls)):
            out.append(f"{len(urls) - len(set(urls))} duplicate urls")
        if set(urls) != self.urls:
            out.append(f"url set differs: {len(set(urls) - self.urls)} extra, "
                       f"{len(self.urls - set(urls))} missing")
        got = {r["url"]: r for r in table.column("row").to_pylist() if r is not None}
        bad = [u for u, r in self.expected().items() if got.get(u) != r]
        if bad:
            out.append(f"{len(bad)} sampled docs differ from in-process output, e.g. {bad[0]}")
        return out


def extract_job(spark, corpus: dict, checker: Checker) -> dict:
    """extract_mix: extract_documents over the whole corpus.  Returns
    the job's wall and process-tree CPU seconds and its problems."""
    from pdf_ocr_spark.pipeline.extract_job import extract_documents
    from probes import tree_cpu_s

    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    docs = extract_documents(spark.read.parquet(corpus["all_glob"]))
    table = checker.sampled(docs).toArrow()
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
    return {"wall": wall, "cpu_s": cpu, "problems": checker.problems(table)}


def ingest_job(spark, corpus: dict, checker: Checker, out: str,
               before_resume: Optional[Callable] = None) -> dict:
    """ingest_commit: run_extraction into an empty table (the commit),
    then again over the same input plus the new urls (the resume).
    Returns the wall and CPU seconds of both runs, the resume's wall,
    and the problems."""
    from pyspark.sql import functions as F

    from pdf_ocr_spark.pipeline.extract_job import run_extraction
    from probes import tree_cpu_s

    table_dir, side_dir = os.path.join(out, "docs"), os.path.join(out, "lineage")
    cpu0, t0 = tree_cpu_s(), time.perf_counter()
    n_commit = run_extraction(spark, corpus["base_glob"], table_dir, side_dir)
    cpu1, t1 = tree_cpu_s(), time.perf_counter()
    if before_resume is not None:
        before_resume(table_dir, side_dir)
    cpu2, t2 = tree_cpu_s(), time.perf_counter()
    n_resume = run_extraction(spark, corpus["all_glob"], table_dir, side_dir)
    cpu3, t3 = tree_cpu_s(), time.perf_counter()

    problems = []
    if n_commit != corpus["base_docs"]:
        problems.append(f"commit appended {n_commit} docs, expected {corpus['base_docs']}")
    if n_resume != corpus["new_docs"]:
        problems.append(f"resume appended {n_resume} docs, expected {corpus['new_docs']}")
    problems += checker.problems(checker.sampled(spark.read.parquet(table_dir)).toArrow())
    lineage = spark.read.parquet(side_dir).agg(F.sum("n_docs")).collect()[0][0]
    if lineage != corpus["docs"]:
        problems.append(f"lineage sidecar counts {lineage} docs, expected {corpus['docs']}")
    shutil.rmtree(out, ignore_errors=True)
    return {"wall": (t1 - t0) + (t3 - t2), "cpu_s": (cpu1 - cpu0) + (cpu3 - cpu2),
            "resume": t3 - t2, "problems": problems}


def workload_job(spark, workload: str, ins: dict, work: str) -> dict:
    """One timed job of ``workload``, started clean (see ``isolate``)."""
    isolate(spark)
    if workload == "extract_mix":
        return extract_job(spark, ins["corpus"], ins["checker"])
    return ingest_job(spark, ins["corpus"], ins["checker"], os.path.join(work, "out"))


# -- inputs ---------------------------------------------------------------------


def make_inputs(workload: str, seed: int, work: str, trace: bool) -> dict:
    import inputs

    if workload == "extract_mix":
        rows = inputs.mixed_rows(EXTRACT_DOCS, seed)
        n_new = EXTRACT_DOCS // 10
    else:
        rows = inputs.html_rows(INGEST_BASE_DOCS + INGEST_NEW_DOCS, seed)
        n_new = INGEST_NEW_DOCS
    corpus = inputs.write_corpus(os.path.join(work, "corpus"), rows, n_new, BASE_FILES)
    warm = inputs.write_corpus(
        os.path.join(work, "warm"), inputs.mixed_rows(64, seed + 7_919), 0, 1
    )
    out = {"corpus": corpus, "warm": warm, "checker": Checker(rows, seed)}
    if trace:
        mixed = rows if workload == "extract_mix" else inputs.mixed_rows(KERNEL_SLICE_DOCS, seed)
        out["kernel_rows"] = inputs.kernel_slice(mixed, KERNEL_SLICE_DOCS, seed)
        out["tables"] = inputs.write_tables(os.path.join(work, "tables"), CURATE_SF, seed)
    return out


# -- untraced run: the end-to-end metrics --------------------------------------------


def closed_loop(seconds: float, job: Callable[[], dict]) -> List[dict]:
    """Run ``job`` back to back until ``seconds`` have passed (at least once)."""
    results = []
    deadline = time.monotonic() + seconds
    while True:
        results.append(job())
        if time.monotonic() >= deadline:
            return results


def run_untraced(workload: str, seconds: float, ins: dict, work: str) -> dict:
    from probes import PeakMemory

    setups: List[float] = []
    warms: List[dict] = []
    jobs: List[dict] = []
    peak = 0
    ins["checker"].expected()
    # Each session times its own cold start, warms up, and runs its share
    # of the closed loop, so a run's jobs come from two JVMs spread over
    # the whole run rather than from one JVM in one stretch of time.
    for _ in range(SESSIONS):
        spark, s = setup(work, ins["warm"]["all_glob"])
        setups.append(s)

        def job() -> dict:
            try:
                return workload_job(spark, workload, ins, work)
            except Exception as e:  # noqa: BLE001 — a failed job is counted, not fatal
                return {"problems": [f"{type(e).__name__}: {e}"[:300]]}

        try:
            # the session's first jobs on the full corpus still JIT-compile
            # the JVM side: they are checked and counted, but not timed
            warms += [job() for _ in range(WARM_JOBS[workload])]
            with PeakMemory() as mem:
                jobs += closed_loop(seconds / SESSIONS, job)
            peak = max(peak, mem.peak)
        finally:
            stop_session(spark)
    ok = [j for j in jobs if not j["problems"]]
    wall = statistics.median(j["wall"] for j in ok) if ok else float("nan")
    metrics: Metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (wall, "s"),
        "docs_per_s": (ins["corpus"]["docs"] / wall, "docs/s"),
        "cpu_s": (statistics.median(j["cpu_s"] for j in ok) if ok else float("nan"), "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
    }
    checked = warms + jobs
    return {
        "metrics": metrics,
        "attempted": len(checked),
        "failed": sum(1 for j in checked if j["problems"]),
        "problems": [p for j in checked for p in j["problems"]],
        "detail": {"setups_s": setups, "warm_jobs": warms, "jobs": jobs},
    }


# -- traced run: the per-layer metrics -----------------------------------------------


def spark_pieces(spark, corpus: dict) -> Metrics:
    """scan+shuffle, + identity mapInArrow, + the real extractor: the
    same plan built up one piece at a time, each run to a noop sink."""
    from pyspark.sql import functions as F

    from pdf_ocr_spark.pipeline.extract_job import extract_documents

    def identity(batches):
        yield from batches

    spark.sparkContext.setJobGroup("spark_pieces", "plan pieces, each to a noop sink")
    pages = spark.read.parquet(corpus["all_glob"])
    parts = max(spark.sparkContext.defaultParallelism, 8)
    shuffled = pages.select("url", "html").repartition(parts, F.xxhash64("url"))
    plans = [shuffled, shuffled.mapInArrow(identity, schema=shuffled.schema),
             extract_documents(pages)]
    walls = []
    for df in plans:
        isolate(spark)
        t0 = time.perf_counter()
        force(df)
        walls.append(time.perf_counter() - t0)
    return {
        "spark.scan_shuffle_s": (walls[0], "s"),
        "spark.arrow_boundary_s": (walls[1] - walls[0], "s"),
        "spark.udf_body_s": (walls[2] - walls[1], "s"),
    }


def sink_probe(spark, corpus: dict, checker: Checker, work: str) -> Tuple[Metrics, List[str]]:
    """One commit + resume with the parquet writer timed per output path."""
    from unittest import mock

    from pyspark.sql.readwriter import DataFrameWriter

    from pdf_ocr_spark.pipeline.extract_job import read_pages, resume_filter

    writes: Dict[str, float] = {}
    found: Metrics = {}
    real_parquet = DataFrameWriter.parquet

    def timed_parquet(self, path, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return real_parquet(self, path, *args, **kwargs)
        finally:
            writes.setdefault(os.path.basename(path), time.perf_counter() - t0)

    def before_resume(table_dir: str, side_dir: str) -> None:
        files = [os.path.join(table_dir, f) for f in os.listdir(table_dir) if f.endswith(".parquet")]
        found["sink.output_bytes"] = (sum(os.path.getsize(f) for f in files), "bytes")
        found["sink.output_files"] = (len(files), "count")
        isolate(spark)
        t0 = time.perf_counter()
        force(resume_filter(read_pages(spark, corpus["all_glob"]), spark.read.parquet(table_dir)))
        found["resume.filter_s"] = (time.perf_counter() - t0, "s")

    isolate(spark)
    spark.sparkContext.setJobGroup("sink_probe", "commit + resume, writes timed")
    with mock.patch.object(DataFrameWriter, "parquet", timed_parquet):
        r = ingest_job(spark, corpus, checker, os.path.join(work, "sink"), before_resume)
    problems = r["problems"]
    skipped = corpus["docs"] - corpus["new_docs"] if not problems else float("nan")
    found.update({
        "sink.write_s": (writes.get("docs", float("nan")), "s"),
        "sink.sidecar_s": (writes.get("lineage", float("nan")), "s"),
        "resume.wall_s": (r["resume"], "s"),
        "resume.skipped_ratio": (skipped / corpus["docs"], "ratio"),
    })
    return found, problems


def curate(spark, tables: dict) -> Tuple[Metrics, Dict[str, List[str]]]:
    """The curation queries, each timed to a noop sink in its own job
    group, then checked against its DuckDB oracle.  Returns the metrics
    and each query's problems."""
    from pdf_ocr_spark.queries import oracle_sql, queries
    from probes import tree_cpu_s
    from tools.verify_oracle import compare, duckdb_con

    qmap, sql = queries(), oracle_sql()
    con = duckdb_con(tables["path"])
    metrics: Metrics = {}
    problems: Dict[str, List[str]] = {}
    for name in CURATE_QUERIES:
        isolate(spark)
        spark.sparkContext.setJobGroup(f"curate.{name}", name)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        force(qmap[name](spark, tables["path"]))
        metrics[f"curate.{name}.wall_s"] = (time.perf_counter() - t0, "s")
        metrics[f"curate.{name}.cpu_s"] = (tree_cpu_s() - cpu0, "s")
        spark.sparkContext.setJobGroup("check", "oracle check")
        got = qmap[name](spark, tables["path"]).toPandas()
        problems[f"curate.{name}"] = compare(name, got, con.execute(sql[name]).df())
        if got.empty:
            problems[f"curate.{name}"].append("empty result")
    con.close()
    return metrics, problems


def run_traced(workload: str, ins: dict, work: str) -> dict:
    from kernel_trace import trace_kernels
    from probes import event_log_metrics

    corpus, checker = ins["corpus"], ins["checker"]
    metrics: Metrics = {}
    ops: Dict[str, List[str]] = {}  # operation -> its failed checks
    checker.expected()
    event_dir = os.path.join(work, "events")
    spark, _ = setup(work, ins["warm"]["all_glob"], event_dir)
    try:
        # the same warm-up as an untraced session, then one timed job
        warms = [workload_job(spark, workload, ins, work) for _ in range(WARM_JOBS[workload])]
        ops["warm_up"] = [p for j in warms for p in j["problems"]]
        spark.sparkContext.setJobGroup("timed", workload)
        timed = workload_job(spark, workload, ins, work)
        ops["timed_job"] = timed["problems"]
        metrics["trace.wall_s"] = (timed["wall"], "s")
        metrics.update(spark_pieces(spark, corpus))
        m, ops["sink_probe"] = sink_probe(spark, corpus, checker, work)
        metrics.update(m)
        m, p = curate(spark, ins["tables"])
        metrics.update(m)
        ops.update(p)
    finally:
        stop_session(spark)

    groups = event_log_metrics(event_dir)
    units = {"executor_cpu_s": "s", "executor_run_s": "s", "jvm_gc_s": "s",
             "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
             "spill_bytes": "bytes", "peak_exec_mem_bytes": "bytes",
             "tasks": "count", "task_skew": "ratio"}
    for key, unit in units.items():
        metrics[f"spark.{key}"] = (groups["timed"][key], unit)
    for name in CURATE_QUERIES:
        metrics[f"curate.{name}.shuffle_bytes"] = (
            groups.get(f"curate.{name}", {}).get("shuffle_write_bytes", 0), "bytes")

    kernels = trace_kernels(ins["kernel_rows"])
    metrics.update(kernels["metrics"])
    ops["kernel_trace"] = [k for k, ok in kernels["checks"].items() if not ok]
    return {
        "metrics": metrics,
        "attempted": len(ops),
        "failed": sum(1 for p in ops.values() if p),
        "problems": [f"{op}: {p}" for op, ps in ops.items() for p in ps],
        "detail": {"kernel": kernels["detail"], "spark_groups": groups},
    }


# -- output ---------------------------------------------------------------------------


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(spec: dict, trace: bool, metrics: Metrics, correct: bool,
                attempted: int, failed: int) -> str:
    """The result line: every metric ``BENCHMARK.json`` names for this
    mode, by name, with the unit it declares."""
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        value, unit = metrics[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"{m['name']}: measured in {unit}, declared {m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": out})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf_ocr_spark", "__init__.py")):
        print(f"perfbench: no engine source (pdf_ocr_spark/) under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    # a terminated run still stops its JVMs and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = load_spec()
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_process_env(work)
    try:
        t0 = time.perf_counter()
        ins = make_inputs(args.workload, args.seed, work, bool(args.trace))
        input_s = time.perf_counter() - t0
        if args.trace:
            res = run_traced(args.workload, ins, work)
        else:
            res = run_untraced(args.workload, args.seconds, ins, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = not res["problems"]
    corpus = ins["corpus"]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env_stamp(),
        "inputs": {
            **{k: corpus[k] for k in ("docs", "base_docs", "new_docs",
                                      "payload_bytes", "file_bytes")},
            "kernel_slice_docs": len(ins.get("kernel_rows", ())),
            "curate_sf": CURATE_SF if args.trace else None,
            "curate_rows": ins["tables"]["rows"] if args.trace else None,
            "generate_s": input_s,
        },
        "correct": correct,
        "problems": res["problems"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
        "detail": res["detail"],
    }
    os.makedirs(os.path.join(WORK_ROOT, "records"), exist_ok=True)
    rec_path = os.path.join(
        WORK_ROOT, "records",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for p in res["problems"]:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print(f"perfbench: record {rec_path} env {json.dumps(record['env'])}", file=sys.stderr)
    print(result_line(spec, bool(args.trace), res["metrics"], correct,
                      res["attempted"], res["failed"]))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""Tests for the benchmark harness itself (no SparkSession needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import kernel_trace  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402


def _dir_bytes(path):
    return {n: open(os.path.join(path, n), "rb").read() for n in sorted(os.listdir(path))}


@pytest.mark.parametrize("make_rows", [inputs.mixed_rows, inputs.html_rows])
def test_same_seed_same_corpus_bytes(tmp_path, make_rows):
    def corpus(name, seed):
        path = str(tmp_path / name)
        inputs.write_corpus(path, make_rows(60, seed), n_new=6, n_files=3)
        return _dir_bytes(path)

    a, b, c = corpus("a", 5), corpus("b", 5), corpus("c", 6)
    assert sorted(a) == ["base-00000.parquet", "base-00001.parquet",
                         "base-00002.parquet", "new-00000.parquet"]
    assert a == b
    assert all(a[n] != c[n] for n in a)


def test_same_seed_same_table_bytes(tmp_path):
    def tables(name, seed):
        path = str(tmp_path / name)
        facts = inputs.write_tables(path, sf=0.0005, seed=seed)
        return _dir_bytes(path), facts

    (a, fa), (b, _), (c, _) = tables("a", 3), tables("b", 3), tables("c", 4)
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]
    assert a["documents.parquet"] != c["documents.parquet"]
    assert fa["rows"]["lineitem"] == 3000 and fa["rows"]["documents"] == 500


def test_printer_emits_every_declared_metric_with_units():
    spec = run.load_spec()
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        measured = {name: (1.5, unit) for name, unit in declared.items()}
        measured["not.declared"] = (1.0, "s")
        line = run.result_line(spec, trace, measured, True, 3, 0)
        out = json.loads(line)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
        assert all(v["value"] == 1.5 for v in out["metrics"].values())

    name, unit = spec["end_to_end"][0]["name"], spec["end_to_end"][0]["unit"]
    with pytest.raises(ValueError):
        run.result_line(spec, False, {name: (1.0, unit + "x")}, True, 1, 0)
    with pytest.raises(KeyError):
        run.result_line(spec, False, {}, True, 1, 0)


def test_kernel_trace_produces_declared_kernel_metrics():
    rows = inputs.kernel_slice(inputs.mixed_rows(40, 9), 40, 9, n_vector=2)
    res = kernel_trace.trace_kernels(rows)
    declared = {m["name"]: m["unit"] for m in run.load_spec()["per_layer"]
                if m["name"].startswith(("kernel.", "trace.kernel"))}
    assert {k: u for k, (_, u) in res["metrics"].items()} == declared
    assert all(res["checks"].values()), res["checks"]
    assert res["metrics"]["kernel.docs"][0] == 42
    assert res["metrics"]["kernel.raster"][0] > 0  # the vector pages rasterize
    assert res["metrics"]["kernel.pdf_pages"][0] > 0


_LEAF = r"""
import sys, time
ballast = b"x" * (64 << 20)           # resident, not lazily mapped
while time.process_time() < 0.5:      # 0.5 s of CPU in the grandchild
    pass
print("ready", flush=True)
sys.stdin.read()                      # hold until the test closes stdin
"""
_MIDDLE = r"""
import subprocess, sys
sys.exit(subprocess.call([sys.executable, "-c", sys.argv[1]]))
"""


def test_proc_readers_count_worker_grandchildren():
    """Driver → daemon → worker: the readers must see the worker's CPU
    and memory, like a Spark Python worker under the PySpark daemon."""
    cpu0, mem0 = probes.tree_cpu_s(), probes.tree_memory_bytes()
    proc = subprocess.Popen([sys.executable, "-c", _MIDDLE, _LEAF],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert proc.stdout.readline().strip() == "ready"
        assert len(probes.process_tree(os.getpid())) >= 3
        assert probes.tree_cpu_s() - cpu0 >= 0.45
        assert probes.tree_memory_bytes() - mem0 >= 60 << 20
        with probes.PeakMemory(interval_s=0.01) as peak:
            time.sleep(0.05)
        assert peak.peak - mem0 >= 60 << 20
    finally:
        proc.stdin.close()
        proc.wait(timeout=30)
    assert proc.returncode == 0


def test_event_log_groups_task_metrics_by_job_group():
    def task(stage, ms, cpu_ns, written):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
                "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": ms,
                                 "JVM GC Time": 1, "Peak Execution Memory": ms,
                                 "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": written}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "timed"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        task(0, 10, 5e8, 100), task(1, 100, 1e9, 0), task(1, 100, 1e9, 0),
        task(1, 400, 1e9, 0), task(2, 999, 9e9, 999),
    ]
    out = probes.read_event_log(json.dumps(e) for e in events)
    assert set(out) == {"timed"}
    t = out["timed"]
    assert t["tasks"] == 4
    assert t["executor_cpu_s"] == pytest.approx(3.5)
    assert t["executor_run_s"] == pytest.approx(0.61)
    assert t["shuffle_write_bytes"] == 100 and t["shuffle_read_bytes"] == 100
    assert t["peak_exec_mem_bytes"] == 400
    assert t["task_skew"] == pytest.approx(4.0)  # stage 1: 400 / median(100, 100, 400)

"""Tiny-size end-to-end runs of every workload, each in its own
process (a run ends its JVM on exit). Slow: each starts Spark.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run

ROOT = run.ROOT

#: runs ``run.main`` with tiny inputs and the cache in a scratch dir
TINY = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads as w
run.CACHE = {cache!r}
w.XtcDistances.n_frames = 4
w.XTC_CHUNKS = 2
w.ParquetDistances.n_frames = 4
w.CORPUS_DOCS = 60
sys.exit(run.main(sys.argv[1:]))
"""


def _tiny_run(tmp_path, workload, trace):
    cache = str(tmp_path / "cache")
    proc = subprocess.run(
        [sys.executable, "-c", TINY.format(root=ROOT, cache=cache),
         "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc


@pytest.mark.parametrize("workload", ["xtc_distances", "parquet_distances"])
def test_traced_tiny_run(tmp_path, workload):
    result, proc = _tiny_run(tmp_path, workload, trace=1)
    spec = run.load_spec()
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 3
    assert list(result["metrics"]) == [m["name"] for m in spec["per_layer"]]
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["session.start_s"] > 0 and m["spark.jobs"] >= 1 and m["proc.jvm_rss_mb"] > 0
    assert m["distance.out_rows"] == 4 * 124_750 and m["kernels.gflops"] > 0
    if workload == "parquet_distances":  # and its companion, lsh_dedup
        assert m["distance.rdf_reduce_s"] > 0 and m["dedup.signatures_s"] > 0
        assert m["dedup.verified_pairs"] > 0 and m["dedup.candidate_pairs"] >= m["dedup.verified_pairs"]
    else:
        assert m["xtc.decode_s"] > 0 and m["dedup.verified_pairs"] == 0
    assert "spans:" in proc.stdout


def test_untraced_tiny_run_prints_end_to_end(tmp_path):
    result, proc = _tiny_run(tmp_path, "parquet_distances", trace=0)
    spec = run.load_spec()
    assert result["correct"]
    assert list(result["metrics"]) == [m["name"] for m in spec["end_to_end"]]
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert "(0 failed)" in proc.stdout and "SPARK_DRIVER_MEM=" in proc.stdout
    assert "CPU steal" in proc.stdout


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "parquet_distances", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout.strip() == ""

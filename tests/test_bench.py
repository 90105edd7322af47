"""Spark-free checks of ``bench.py``: the entry table, the output
contract and the retime prior.

``bench.py`` is loaded by path, so these tests need no session.
"""

import importlib.util
import json
import subprocess
import sys
from pathlib import Path

import pytest

from dask_traj_spark.queries import queries

ROOT = Path(__file__).resolve().parents[1]
BENCH = ROOT / "bench.py"


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench_under_test", BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _filled(bench):
    """A Bench whose every row recorded a 1.0 s iteration."""
    b = bench.Bench(None, 0.5)
    b.rec[bench.HEADLINE]["session_start"] = 1.0  # timed by main()
    for row in bench.ROWS:
        b.record(row, [1.0] * row.n, [0.5, 0.5])
    return b


def test_import_starts_no_session():
    code = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('b', {str(BENCH)!r})\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "from pyspark import SparkContext\n"
        "sys.exit(SparkContext._active_spark_context is not None)\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=120)


def test_row_names_are_unique(bench):
    names = [r.name for r in bench.ROWS]
    assert len(names) == len(set(names))


def test_registry_rows_name_registered_queries(bench):
    registry_rows = [r.name for r in bench.ROWS if r.run is None]
    assert registry_rows
    assert set(registry_rows) <= set(queries())


def test_every_10x_partner_is_an_earlier_row(bench):
    seen = {}
    for row in bench.ROWS:
        if row.base:
            assert row.record == bench.SCALE_10X
            assert row.base in seen, f"{row.name}: partner {row.base} not before it"
            assert seen[row.base].record != bench.SCALE_10X
        seen[row.name] = row


def test_output_keys_match_the_committed_record(bench):
    # The committed r13 headline and detail file are the contract the
    # table must reproduce key for key.
    detail, line = _filled(bench).build(0.1, "local[4]", None)
    head = json.loads(line)
    ref_head = json.loads((ROOT / "BENCH_r13.json").read_text())["parsed"]
    ref_detail = json.loads((ROOT / "bench_detail.json").read_text())
    assert set(head["queries"]) == set(ref_head["queries"])
    assert set(head["linearity"]) == set(ref_head["linearity"])
    assert set(head["probe"]) == set(ref_head["probe"])
    for key in ("iters", "times_detail", "scale_10x"):
        assert set(detail[key]) == set(ref_detail[key]), key
    for name, its in ref_detail["iters"].items():
        if name not in ref_detail["retimed"]:
            assert len(detail["iters"][name]) == len(its), name
    assert head["value"] == head["queries"]["canonical_onepass"]
    assert detail["master"] == head["master"] == "local[4]"
    assert len(line) <= bench.HEADLINE_CAP


def test_skipped_local12_stays_out_of_the_headline(bench):
    b = bench.Bench(None, 0.5)
    b.rec[bench.HEADLINE]["session_start"] = 1.0
    for row in bench.ROWS:
        if row not in bench.LOCAL12:
            b.record(row, [1.0] * row.n, [0.5, 0.5])
    b.skip(bench.LOCAL12, "4 CPUs, fewer than 12")
    detail, line = b.build(0.1, "local[4]", None)
    assert "canonical_onepass_local12" not in json.loads(line)["queries"]
    assert detail["skipped"] == {"canonical_onepass_local12": "4 CPUs, fewer than 12"}


def test_linearity_is_10x_over_ten_times_1x(bench):
    b = _filled(bench)
    b.rec[bench.SCALE_10X]["t16_bm25_10x"] = 5.0
    b.rec[bench.DETAIL]["t27_dup_ngram_char_fraction"] = 0.5
    lin = b.linearity()
    assert lin["t16_bm25"] == 0.5
    assert lin["t27"] == 0.2
    assert lin["canonical_onepass"] == 0.1


def test_hot_list_names_slow_suite_entries_worst_first(bench):
    b = _filled(bench)
    b.bracket["g3_angles"] = [0.5, 2.0]
    b.bracket["d24_pagerank_dangling_hashed"] = [3.0, 0.5]
    b.bracket["canonical_onepass_10x"] = [0.5, 9.0]  # not a suite entry
    detail, line = b.build(0.1, "local[4]", None)
    assert detail["probe_hot"] == ["d24_pagerank_dangling_hashed", "g3_angles"]
    assert json.loads(line)["probe"]["hot_n"] == 2


def test_headline_cap_keeps_the_driver_contract(bench):
    required = {"metric": "m", "value": 1.0, "unit": "sec", "queries": {"q": 1.0}, "sf": 0.1}
    # long hot names overflow the line: the names go first, hot_n stays
    head = dict(required, probe={"hot": ["x" * 500] * 4, "hot_n": 9}, spread={})
    line = bench._cap_headline(head)
    assert len(line) <= bench.HEADLINE_CAP
    assert json.loads(line)["probe"] == {"hot": [], "hot_n": 9}
    assert json.loads(line)["truncated"] is True
    # oversized sections go whole; the driver contract never does
    head = dict(required, linearity={f"k{i}": 1.0 for i in range(400)}, probe={"hot": []})
    line = bench._cap_headline(head)
    assert len(line) <= bench.HEADLINE_CAP
    assert set(json.loads(line)) == set(required) | {"truncated"}
    # a line under the cap is left alone
    assert "truncated" not in json.loads(bench._cap_headline(dict(required)))


def _write(path, rec):
    path.write_text(json.dumps(rec))


def test_prior_bests_takes_the_min_over_same_master_sources(bench, tmp_path):
    _write(tmp_path / "BENCH_r01.json", {"master": "local[4]", "queries": {"a": 0.1}})
    # the latest round wins; the driver wraps it under "parsed"
    _write(
        tmp_path / "BENCH_r02.json",
        {"parsed": {"master": "local[4]", "queries": {"a": 1.0, "b": 3.0}}},
    )
    # a variant file is not the round's record
    _write(tmp_path / "BENCH_r02_c8.json", {"master": "local[4]", "queries": {"b": 0.1}})
    _write(
        tmp_path / "bench_detail.json",
        {"master": "local[4]", "iters": {"a": [2.0, 0.5], "b": [4.0], "c": [1.5]}},
    )
    best, source = bench._prior_bests("local[4]", str(tmp_path))
    assert best == {"a": 0.5, "b": 3.0, "c": 1.5}
    assert source == "BENCH_r02.json"


def test_prior_bests_ignores_another_master(bench, tmp_path):
    _write(tmp_path / "BENCH_r03.json", {"master": "local[32]", "queries": {"a": 0.1}})
    # a detail file without a recorded master predates the field
    _write(tmp_path / "bench_detail.json", {"iters": {"a": [0.2]}})
    assert bench._prior_bests("local[4]", str(tmp_path)) == ({}, None)
    _write(tmp_path / "bench_detail.json", {"master": "local[4]", "iters": {"a": [0.2]}})
    assert bench._prior_bests("local[4]", str(tmp_path)) == ({"a": 0.2}, None)


def test_retime_adds_two_iterations_only_past_twice_the_prior(bench):
    b = _filled(bench)
    b._once = lambda row: 0.7
    b.retime(bench.SUITE + bench.SCALE, {"g3_angles": 0.4, "d2_minhash_lsh": 0.6})
    assert b.iters["g3_angles"] == [1.0, 1.0, 1.0, 0.7, 0.7]
    assert b.rec[bench.HEADLINE]["g3_angles"] == 0.7
    assert b.retimed == {"g3_angles": [1.0, 0.7]}
    assert len(b.iters["d2_minhash_lsh"]) == 3

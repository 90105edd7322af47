"""Unit tests of the benchmark's own helpers (no Spark).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import itertools
import os
import subprocess
import sys
import time
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import checks, fixtures, probes, run, stats


# ---------------------------------------------------------------- stats


def test_median_odd_even_and_empty():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.random(37).tolist()
    for q in (0, 10, 50, 90, 99, 100):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))
    with pytest.raises(ValueError):
        stats.percentile(xs, 101)


def test_supported_percentile_leaves_ten_samples_above():
    assert stats.supported_percentile(10) is None
    assert stats.supported_percentile(20) == 50
    assert stats.supported_percentile(1000) == 99
    for n in (11, 57, 400):
        p = stats.supported_percentile(n)
        assert n - int(np.ceil(n * p / 100)) >= 10


# --------------------------------------------------------------- probes


def test_read_proc_parses_own_process():
    p = probes.read_proc(os.getpid())
    assert p is not None and p.pid == os.getpid() and p.ppid == os.getppid()
    assert p.rss_bytes > 0 and p.cpu_s >= 0
    assert probes.read_proc(2**31 - 1) is None


def test_host_cpu_counters_are_monotone():
    a = probes.host_cpu()
    sum(range(10**6))  # some busy time
    b = probes.host_cpu()
    assert 0 <= a.busy_s <= b.busy_s and 0 <= a.steal_s <= b.steal_s
    assert 0.0 <= probes.stolen_share(a, b) <= 1.0


def test_stolen_share_is_steal_over_wanted_time(tmp_path):
    def stat(user, system, idle, steal):
        f = tmp_path / "stat"
        clk = os.sysconf("SC_CLK_TCK")
        # cpu user nice system idle iowait irq softirq steal guest guest_nice
        f.write_text(f"cpu {user * clk} 0 {system * clk} {idle * clk} 0 0 0 {steal * clk} 0 0\ncpu0 0\n")
        return probes.host_cpu(str(f))

    a = stat(10, 2, 100, 1)
    b = stat(16, 3, 400, 4)  # 7 s busy and 3 s stolen; idle time does not count
    assert probes.stolen_share(a, b) == pytest.approx(0.3)
    assert probes.stolen_share(a, a) == 0.0


def test_process_tree_sees_children_and_classifies():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        tree = probes.process_tree(os.getpid())
        assert child.pid in {p.pid for p in tree}
        s = probes.classify(tree, os.getpid())
        assert s.jvm_cpu_s == 0 and s.worker_rss_bytes > 0
        assert s.total_rss_bytes == sum(p.rss_bytes for p in tree)
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_classify_splits_jvm_python_and_driver():
    tree = [
        probes.Proc(1, 0, "python3", 1.0, 100),
        probes.Proc(2, 1, "java", 5.0, 1000),
        probes.Proc(3, 2, "python3", 2.0, 10),
        probes.Proc(4, 3, "python3", 0.5, 20),
    ]
    s = probes.classify(tree, root_pid=1)
    assert (s.driver_cpu_s, s.jvm_cpu_s, s.python_cpu_s) == (1.0, 5.0, 2.5)
    assert (s.jvm_rss_bytes, s.worker_rss_bytes, s.total_rss_bytes) == (1000, 30, 1130)
    d = s.minus(probes.TreeSample(0.5, 1.0, 0.5, 0, 0, 0))
    assert (d.driver_cpu_s, d.jvm_cpu_s, d.python_cpu_s, d.cpu_s) == (0.5, 4.0, 2.0, 6.5)


def test_rss_sampler_records_only_while_armed():
    with probes.RssSampler(interval_s=0.01) as s:
        time.sleep(0.05)
        assert s.samples == 0
        s.arm()
        ballast = bytearray(64 * 2**20)  # noqa: F841 — raises RSS while armed
        ballast[:: 4096] = b"x" * len(ballast[:: 4096])
        time.sleep(0.1)
        s.disarm()
        n = s.samples
        time.sleep(0.05)
        assert s.samples == n
    assert n >= 2 and s.peak_total >= 64 * 2**20
    assert not s._thread.is_alive()


def test_job_group_counts_from_status_tracker():
    stage = lambda sid, done, failed: SimpleNamespace(  # noqa: E731
        stageId=sid, numCompletedTasks=done, numFailedTasks=failed
    )
    stages = {1: stage(1, 4, 0), 2: stage(2, 0, 0), 3: stage(3, 3, 1)}
    tracker = SimpleNamespace(
        getJobIdsForGroup=lambda g: [10, 11] if g == "g" else [],
        getJobInfo=lambda j: SimpleNamespace(stageIds=[1, 2] if j == 10 else [3]),
        getStageInfo=lambda s: stages[s],
    )
    sc = SimpleNamespace(statusTracker=lambda: tracker)
    # stage 2 was skipped (no task ran): it does not count
    assert probes.job_group_counts(sc, "g") == probes.JobCounts(2, 2, 7, 1)
    assert probes.job_group_counts(sc, "other") == probes.JobCounts(0, 0, 0, 0)


# ------------------------------------------------------------- fixtures


def test_cached_fixture_reused_by_hash_and_rebuilt_when_damaged(tmp_path):
    calls = []

    def build(out):
        calls.append(out)
        with open(os.path.join(out, "data.bin"), "wb") as fh:
            fh.write(b"abc")

    d1, reused1 = fixtures.cached(str(tmp_path), "t", "k1", build)
    d2, reused2 = fixtures.cached(str(tmp_path), "t", "k1", build)
    assert (reused1, reused2) == (False, True) and d1 == d2 and len(calls) == 1
    with open(os.path.join(d1, "data.bin"), "ab") as fh:
        fh.write(b"!")
    _, reused3 = fixtures.cached(str(tmp_path), "t", "k1", build)
    assert not reused3 and len(calls) == 2
    _, reused4 = fixtures.cached(str(tmp_path), "t", "k2", build)
    assert not reused4 and len(calls) == 3
    assert not any(p.endswith(".partial") for p in os.listdir(tmp_path))


def test_interrupted_build_leaves_no_fixture(tmp_path):
    def build(out):
        raise RuntimeError("interrupted")

    with pytest.raises(RuntimeError):
        fixtures.cached(str(tmp_path), "t", "k", build)
    assert not os.path.exists(os.path.join(tmp_path, "t-k", "MANIFEST.json"))


def test_content_key_depends_on_parameters():
    a = fixtures.TrajSpec(16).key()
    assert a == fixtures.TrajSpec(16).key()
    assert a != fixtures.TrajSpec(17).key()
    assert fixtures.CorpusSpec(10, 1).key() != fixtures.CorpusSpec(10, 2).key()


def test_frame_coords_deterministic_quantized_and_in_box():
    spec = fixtures.TrajSpec(4, n_atoms=100)
    a = fixtures.frame_coords(spec, [0, 3])
    b = fixtures.frame_coords(spec, [3])
    assert a.dtype == np.float32 and a.shape == (2, 100, 3)
    np.testing.assert_array_equal(a[1], b[0])
    q = a.astype(np.float64) * fixtures.XTC_PRECISION
    assert np.abs(q - np.rint(q)).max() < 1e-3
    # oxygens wrap into the box; hydrogens sit 0.1 nm from them
    assert a[:, ::3].min() >= 0 and a[:, ::3].max() <= spec.box_nm
    oh = np.linalg.norm(a[0, 1::3][:33] - a[0, 0::3][:33], axis=-1)
    np.testing.assert_allclose(oh, 0.1, atol=2e-3)


def test_skewed_corpus_replicas_and_boilerplate():
    spec = fixtures.CorpusSpec(50, seed=7, reps=3)
    ids, texts = fixtures.skewed_corpus(spec)
    assert len(ids) == 150 and len(set(ids.tolist())) == 150
    by_id = dict(zip(ids.tolist(), texts))
    for d in range(50):
        if d % 5:
            assert by_id[d] == by_id[d + 10_000_000] == by_id[d + 20_000_000]
        else:
            assert by_id[d].startswith(fixtures.BOILERPLATE)
    assert fixtures.skewed_corpus(spec)[1] == texts


# ---------------------------------------------------------------- checks


def _small_reference(sample=(1,)):
    spec = fixtures.TrajSpec(3, n_atoms=40)
    xyz = fixtures.frame_coords(spec, range(3))
    pairs = np.array(list(itertools.combinations(range(10, 30), 2)))
    ref = checks.build_reference([(list(range(3)), xyz)], pairs, spec.box_nm, 1 / 64, list(sample))
    return spec, xyz, pairs, ref


def test_ref_distances_is_nearest_image():
    L = 2.0
    xyz = np.array([[[0.1, 0.1, 0.1], [1.9, 0.1, 0.1], [1.0, 1.0, 1.0]]], dtype=np.float32)
    d = checks.ref_distances(xyz, np.array([[0, 1], [0, 2]]), L)
    np.testing.assert_allclose(d[0], [0.2, np.sqrt(3 * 0.9**2)], atol=1e-6)


def test_ref_distances_brute_force_images():
    spec, xyz, pairs, ref = _small_reference()
    L = float(np.float32(spec.box_nm))
    x = xyz.astype(np.float64)
    shifts = np.array(list(itertools.product((-1, 0, 1), repeat=3))) * L
    d = x[:, pairs[:, 1], None, :] + shifts - x[:, pairs[:, 0], None, :]
    brute = np.sqrt((d * d).sum(-1)).min(-1)
    np.testing.assert_allclose(checks.ref_distances(xyz, pairs, spec.box_nm), brute, atol=1e-12)
    assert ref.n == brute.size and ref.total == pytest.approx(brute.sum())
    assert int(ref.hist.sum()) == ref.n


def test_check_aggregates_and_sample():
    _, _, pairs, ref = _small_reference()
    assert checks.check_aggregates(ref, ref.n, ref.total, ref.lo, ref.hi) == []
    assert checks.check_aggregates(ref, ref.n - 1, ref.total, ref.lo, ref.hi)
    assert checks.check_aggregates(ref, ref.n, ref.total + 1.0, ref.lo, ref.hi)
    assert checks.check_aggregates(ref, ref.n, ref.total, ref.lo + 1e-5, ref.hi)

    P = len(pairs)
    fids = np.full(P, 1)
    pids = np.arange(P)
    got = ref.sample[0].astype(np.float32)
    assert checks.check_sample(ref, fids, pids, got) == []
    bad = got.copy()
    bad[5] += 1e-5
    assert checks.check_sample(ref, fids, pids, bad)
    assert checks.check_sample(ref, fids[:-1], pids[:-1], got[:-1])
    assert checks.check_sample(ref, np.full(P, 2), pids, got)
    dup = pids.copy()
    dup[0] = 1  # pair 0 missing, pair 1 twice
    assert checks.check_sample(ref, fids, dup, got)


def test_check_histogram_exact_edges_and_failures():
    _, _, _, ref = _small_reference()
    bins = np.flatnonzero(ref.hist)
    counts = ref.hist[bins]
    assert checks.check_histogram(ref, bins, counts) == []
    moved = counts.copy()
    moved[0] -= 1
    moved[1] += 1
    errs = checks.check_histogram(ref, bins, moved)
    assert bool(errs) == (ref.ambiguous == 0)
    assert checks.check_histogram(ref, bins, counts + 1)
    assert checks.check_histogram(ref, bins[1:], counts[1:])


def test_check_pairs_recomputes_jaccard():
    text = {1: "a b c d e", 2: "a b c d e f", 3: "x y z"}
    assert checks.jaccard(text[1], text[2]) == pytest.approx(5 / 6)
    assert checks.check_pairs(text, [(1, 2, 5 / 6)], 0.8) == []
    assert checks.check_pairs(text, [(1, 3, 0.9)], 0.8)
    assert checks.check_pairs(text, [(1, 2, 0.9)], 0.8)
    assert checks.check_pairs(text, [(1, 1, 1.0)], 0.8)


# ------------------------------------------------------------------ run


def test_host_settings_from_this_host():
    s = run.host_settings()
    assert s["SPARK_GRAFT_CPUS"] == str(run.TASK_SLOTS)
    assert s["nproc"] == len(os.sched_getaffinity(0))
    assert s["SPARK_DRIVER_MEM"] in ("1g", "2g", "3g")
    assert s["SPARK_LOCAL_DIRS"].startswith(run.CACHE)
    assert s["mem_total_mb"] >= s["mem_available_mb"] > 0


def test_benchmark_json_names_every_metric_the_code_emits():
    spec = run.load_spec()
    e2e = {m["name"] for m in spec["end_to_end"]}
    assert e2e == {"setup_s", "wall_ex_steal_s", "peak_rss_mb", "success_frac"}
    from perfbench import workloads

    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    # every companion belongs to a timed workload, so its layers are measured
    assert {c for w in workloads.WORKLOADS.values() for c in w.companions} == set(workloads.COMPANIONS)
    assert spec["command"] == ["python3", "perfbench/run.py"]

"""XTC decoder tests, validated against the reference's GROMACS-
written binary fixture (read-only input data; skipped when absent).

The fixture facts asserted here are documented in SURVEY.md §5:
101 frames × 2,722 atoms, steps 0–100, time 0–100,000 ps, triclinic
6.8555 nm 60/60/90 box, and ``test.pdb`` is the frame-0 snapshot."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

XTC = "/root/reference/dask_traj/tests/test.xtc"
PDB = "/root/reference/dask_traj/tests/test.pdb"

needs_fixture = pytest.mark.skipif(
    not os.path.exists(XTC), reason="reference fixture not present"
)


@needs_fixture
def test_index_matches_documented_fixture():
    from dask_traj_spark.sources.xtc import index_xtc

    idx = index_xtc(XTC)
    assert len(idx) == 101
    assert idx[0].natoms == 2722
    assert [fi.step for fi in idx] == list(range(101))
    assert idx[0].time == 0.0 and idx[-1].time == 100000.0
    np.testing.assert_allclose(idx[0].box[0, 0], 6.85548, atol=1e-4)


@needs_fixture
def test_decoded_frame0_matches_pdb_snapshot():
    from dask_traj_spark.sources.xtc import decode_frame, index_xtc

    idx = index_xtc(XTC)
    with open(XTC, "rb") as f:
        f.seek(idx[0].offset)
        _, _, _, xyz = decode_frame(f)
    pdb = []
    for line in open(PDB):
        if line.startswith(("ATOM", "HETATM")):
            pdb.append(
                (float(line[30:38]), float(line[38:46]), float(line[46:54]))
            )
    pdb = np.asarray(pdb) * 0.1  # Å → nm
    assert len(pdb) == 2722
    d = np.linalg.norm(xyz - pdb, axis=1)
    # XTC grid is 1/1000 nm; PDB is rounded to 1/1000 Å
    assert d.max() < 1e-3
    assert np.median(d) < 6e-4


@needs_fixture
def test_quantization_integrality():
    """A correct decode yields exact multiples of 1/precision (up to
    float32 storage) — garbage from a mis-read bit stream would not."""
    from dask_traj_spark.sources.xtc import decode_frame, index_xtc

    idx = index_xtc(XTC)
    with open(XTC, "rb") as f:
        f.seek(idx[50].offset)
        _, _, _, xyz = decode_frame(f)
    q = xyz.astype(np.float64) * 1000.0
    assert np.abs(q - np.round(q)).max() < 1e-2


@needs_fixture
def test_spark_load_xtc(spark):
    import dask_traj_spark as dts

    traj = dts.load(spark, XTC, chunks=40)
    assert traj.n_frames == 101 and traj.n_atoms == 2722
    t = traj.frames.orderBy("frame_id").toPandas()
    assert t["time"].iloc[-1] == 100000.0
    # triclinic box flows into the MIC path via derived lengths/angles
    la = traj.unitcell_lengths_angles.where(F.col("frame_id") == 0).first()
    np.testing.assert_allclose(la["a"], 6.85548, atol=1e-4)
    np.testing.assert_allclose(la["alpha"], 60.0, atol=0.05)
    # distances on the real system run end-to-end
    d = dts.compute_distances(traj, [(0, 1), (0, 2)], periodic=True, form="sql")
    pdf = d.where(F.col("frame_id") == 0).toPandas()
    assert (pdf["dist"] > 0).all() and (pdf["dist"] < 1.0).all()


def test_xtc_write_read_round_trip(spark, tmp_path):
    """write_xtc (whole-range-triple encoding) → load_xtc recovers
    coordinates to the quantization grid, box, and times."""
    import dask_traj_spark as dts
    from dask_traj_spark.sources.loaders import from_wide_pandas
    from dask_traj_spark.sources.xtc import write_xtc

    rng = np.random.default_rng(13)
    xyz = rng.uniform(-2, 5, (7, 50, 3)).astype(np.float32)
    traj = from_wide_pandas(
        spark,
        xyz,
        time=np.arange(7) * 10.0,
        unitcell_lengths=np.full((7, 3), 7.0),
        unitcell_angles=np.tile([90.0, 90.0, 90.0], (7, 1)),
    )
    p = str(tmp_path / "rt.xtc")
    write_xtc(traj, p)

    back = dts.load(spark, p, chunks=3)
    assert back.n_frames == 7 and back.n_atoms == 50
    got, t = back.to_numpy()
    np.testing.assert_allclose(got, xyz, atol=6e-4)  # 1/1000 nm grid
    np.testing.assert_allclose(t, np.arange(7) * 10.0)
    la = back.unitcell_lengths_angles.where(F.col("frame_id") == 2).first()
    np.testing.assert_allclose(la["a"], 7.0, atol=1e-5)


def test_xtc_write_tiny_uncompressed(spark, tmp_path):
    """≤9 atoms takes the plain-floats branch of the container."""
    import dask_traj_spark as dts
    from dask_traj_spark.sources.loaders import from_wide_pandas
    from dask_traj_spark.sources.xtc import write_xtc

    xyz = np.arange(2 * 3 * 3, dtype=np.float32).reshape(2, 3, 3) / 7.0
    traj = from_wide_pandas(spark, xyz)
    p = str(tmp_path / "tiny.xtc")
    write_xtc(traj, p)
    got, _ = dts.load(spark, p).to_numpy()
    np.testing.assert_allclose(got, xyz, atol=1e-6)


def test_unknown_format_still_raises(spark):
    import dask_traj_spark as dts

    # .h5 became a real loader in r5 (vendored backend), so the
    # gated-format probe moved to the permanently-unimplemented .tng
    with pytest.raises(NotImplementedError):
        dts.load(spark, "/tmp/nope.tng")
    with pytest.raises(NotImplementedError):
        dts.load(spark, "/tmp/nope.totally-unknown")
    # an implemented format with a missing file is a missing FILE,
    # not a missing format
    with pytest.raises(FileNotFoundError):
        dts.load(spark, "/tmp/nope.h5")


@needs_fixture
def test_delta_run_reencode_matches_gromacs_fixture(tmp_path):
    """Differential on real molecular data: decode the GROMACS-
    written fixture, re-encode with the delta-run compressor, decode
    again → bit-identical quantized coordinates, and the file is no
    larger than the original GROMACS encoding."""
    import os

    from dask_traj_spark.sources import xtc as X

    frames = []
    with open(XTC, "rb") as f:
        size = os.path.getsize(XTC)
        while f.tell() < size:
            frames.append(X.decode_frame(f))
    xyz = np.stack([fr[3] for fr in frames])
    time = np.array([fr[1] for fr in frames])
    boxes = np.stack([fr[2] for fr in frames])

    out = str(tmp_path / "reenc.xtc")
    X._write_xtc_file(out, xyz, time, boxes, precision=1000.0)
    assert os.path.getsize(out) <= os.path.getsize(XTC)

    frames2 = []
    with open(out, "rb") as f:
        size = os.path.getsize(out)
        while f.tell() < size:
            frames2.append(X.decode_frame(f))
    xyz2 = np.stack([fr[3] for fr in frames2])
    q1 = np.round(xyz.astype(np.float64) * 1000).astype(np.int64)
    q2 = np.round(xyz2.astype(np.float64) * 1000).astype(np.int64)
    assert (q1 == q2).all()


# ------------------------------------------------ native decode vs oracle


@pytest.fixture
def fresh_library():
    """Forget the memoized decoder library before and after the test,
    so a test that patches its lookup sees a fresh build or fallback
    and leaves none behind."""
    from dask_traj_spark.sources import xtc_native

    xtc_native.library.cache_clear()
    yield xtc_native
    xtc_native.library.cache_clear()


def native_library():
    """The built decoder library; skips where no C compiler is on the
    path, and fails where one is but the build did not load."""
    from dask_traj_spark.sources import xtc_native

    lib = xtc_native.library()
    if lib is None and xtc_native._compiler() is None:
        pytest.skip("no C compiler: only the Python loop runs here")
    assert lib is not None, "a C compiler is present, so the library must build"
    return lib


def _read_all(path, atoms):
    from dask_traj_spark.sources import xtc as X

    out = []
    with open(path, "rb") as f:
        size = os.path.getsize(path)
        while f.tell() < size:
            out.append(X.decode_frame(f, atoms)[3])
    return out


def _decode_with_python(monkeypatch, path, atoms):
    """Decode every frame of ``path`` with the Python loop →
    (float32 frames, [(payload args, (atoms decoded, ints))])."""
    from dask_traj_spark.sources import xtc as X
    from dask_traj_spark.sources import xtc_native

    calls = []
    py = X._decode_payload_py

    def spy(*args):
        res = py(*args)
        calls.append((args, res))
        return res

    with monkeypatch.context() as m:
        m.setattr(X, "_decode_payload_py", spy)
        m.setattr(xtc_native, "library", lambda: None)
        frames = _read_all(path, atoms)
    return frames, calls


def _written_xtcs(tmp_path):
    """The shapes of XTC file the tests write: uniform boxes of
    atoms (round trips, fuzz and scan fixtures), random walks of tiny
    and large steps (long delta runs, whole-range fallbacks), the
    session trajectory's walk, and a span wide enough (> 0xFFFFFF
    grid points) to take the per-axis ``bitsize == 0`` path."""
    from dask_traj_spark.sources.xtc import _write_xtc_file

    rng = np.random.default_rng(29)

    def walk(step, n):
        start = rng.uniform(0, 3, (1, n, 3))
        return np.cumsum(np.concatenate([start, rng.normal(0, step, (3, n, 3))]), axis=0)

    arrays = {
        "uniform50": rng.uniform(-2, 5, (7, 50, 3)),
        "uniform30": rng.uniform(0, 2, (3, 30, 3)),
        "uniform24": rng.uniform(0, 3, (6, 24, 3)),
        "walk_tiny": walk(0.001, 300),
        "walk_large": walk(0.5, 120),
        "walk_session": np.cumsum(rng.normal(0, 0.02, (4, 2722, 3)), axis=0) + 3.0,
        "wide_span": np.concatenate(
            [rng.uniform(0, 2, (2, 40, 3)), np.full((2, 1, 3), 20000.0)], axis=1
        ),
    }
    paths = {}
    for name, xyz in arrays.items():
        p = str(tmp_path / f"{name}.xtc")
        _write_xtc_file(p, xyz.astype(np.float32), None, None, precision=1000.0)
        paths[name] = (p, xyz.shape[1])
    return paths


def test_native_decode_is_bit_equal_to_the_python_loop(monkeypatch, tmp_path):
    """The compiled loop returns the oracle's atom count and int
    triples for every frame, and ``decode_frame`` the same float32
    bytes, over spans from atom 0, in the middle and at the last atom."""
    from dask_traj_spark.sources import xtc as X
    from dask_traj_spark.sources._arrow import ALL_ATOMS

    lib = native_library()
    saw_per_axis = False
    for name, (path, n) in _written_xtcs(tmp_path).items():
        for atoms in (ALL_ATOMS, (0, 0), (0, n // 3), (n // 3, n // 2), (n - 1, n - 1)):
            want, calls = _decode_with_python(monkeypatch, path, atoms)
            got = _read_all(path, atoms)
            assert len(got) == len(want) == len(calls), name
            for g, w in zip(got, want):
                assert g.dtype == w.dtype == np.float32
                assert g.tobytes() == w.tobytes(), (name, atoms)
            for args, (i, ints) in calls:
                saw_per_axis |= args[6] == 0  # bitsize
                ni, nints = X._decode_payload_native(lib, *args)
                assert ni == i and nints.dtype == np.int64
                np.testing.assert_array_equal(nints, ints)
    assert saw_per_axis


def test_native_decode_agrees_on_arbitrary_payloads():
    """Random payload bytes under random header ranges, with run
    headers that move the size class either way: both loops return
    the same atoms and ints, or raise the same ValueError."""
    import io

    from dask_traj_spark.sources import xtc as X
    from dask_traj_spark.sources import xtc_native
    from tests.test_properties import _xtc_compressed_frame

    lib = native_library()
    rng = np.random.default_rng(3)
    outcomes = set()
    for trial in range(600):
        natoms = int(rng.integers(10, 400))
        smallidx = int(rng.integers(X.FIRSTIDX, len(X.MAGICINTS)))
        wide = trial % 4 == 0
        maxint = [int(rng.integers(0, 2**26 if wide else 2**10)) for _ in range(3)]
        payload = bytes(rng.integers(0, 256, int(rng.integers(1, 200)), dtype=np.uint8))
        frame = _xtc_compressed_frame(natoms, 1000.0, (0, 0, 0), tuple(maxint), smallidx, payload)
        lo = int(rng.integers(0, natoms))
        span = (lo, lo + int(rng.integers(0, natoms)))
        results = []
        for use_lib in (lib, None):
            try:
                with pytest.MonkeyPatch.context() as m:
                    m.setattr(xtc_native, "library", lambda: use_lib)
                    results.append(X.decode_frame(io.BytesIO(frame), span)[3].tobytes())
            except ValueError as e:
                results.append(str(e))
        assert results[0] == results[1], (trial, results)
        outcomes.add(results[0] if isinstance(results[0], str) else "ok")
    # the trials reach each way out of the loop
    assert "ok" in outcomes and "corrupt XTC coordinate payload" in outcomes
    assert any("drifted" in o for o in outcomes)
    assert any("run decodes" in o for o in outcomes)


def test_no_compiler_falls_back_once_and_stays_bit_equal(
    fresh_library, monkeypatch, tmp_path, caplog
):
    import tempfile

    from dask_traj_spark.sources._arrow import ALL_ATOMS

    paths = _written_xtcs(tmp_path)
    native = {k: _read_all(p, ALL_ATOMS) for k, (p, _n) in paths.items()}
    fresh_library.library.cache_clear()
    cache = tmp_path / "empty_tmp"
    cache.mkdir()
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(cache))
    monkeypatch.setattr(fresh_library, "_compiler", lambda: None)
    with caplog.at_level("WARNING", logger=fresh_library.__name__):
        for k, (p, _n) in paths.items():
            for g, w in zip(_read_all(p, ALL_ATOMS), native[k]):
                assert g.tobytes() == w.tobytes()
    assert fresh_library.library() is None
    lines = [r for r in caplog.records if r.name == fresh_library.__name__]
    assert len(lines) == 1 and "Python loop" in lines[0].getMessage()


def test_library_is_built_into_a_private_cache(fresh_library, monkeypatch, tmp_path):
    import stat
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    native_library()
    d = tmp_path / f"dask_traj_spark-{os.getuid()}"
    assert stat.S_IMODE(d.stat().st_mode) == 0o700
    assert [p.suffix for p in d.iterdir()] == [".so"]  # no temporary left


@pytest.mark.parametrize("fault", [None, "group_writable", "other_owner", "symlink"])
def test_unsafe_cache_directory_is_not_loaded_from(
    fresh_library, monkeypatch, tmp_path, caplog, fault
):
    """A cache directory open to other users, owned by another user
    or reached through a symlink is refused before any library in it
    is opened, and the decoder falls back to the Python loop; a
    private one is loaded from."""
    import ctypes
    import shutil
    import tempfile

    built = native_library()._name
    fresh_library.library.cache_clear()
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    if fault == "other_owner":
        uid = os.getuid() + 1
        monkeypatch.setattr(os, "getuid", lambda: uid)
    d = tmp_path / f"dask_traj_spark-{os.getuid()}"
    if fault == "symlink":
        d.symlink_to(tmp_path / "elsewhere", target_is_directory=True)
        d = tmp_path / "elsewhere"
    d.mkdir(mode=0o700)
    planted = str(d / os.path.basename(built))
    shutil.copy(built, planted)
    if fault == "group_writable":
        d.chmod(0o775)
    opened = []
    real_cdll = ctypes.CDLL

    def cdll(path, *a, **k):
        opened.append(os.path.realpath(path))
        return real_cdll(path, *a, **k)

    monkeypatch.setattr(ctypes, "CDLL", cdll)
    with caplog.at_level("WARNING", logger=fresh_library.__name__):
        lib = fresh_library.library()
    if fault is None:
        assert lib is not None and opened == [os.path.realpath(planted)]
    else:
        assert lib is None and opened == []
        assert "Python loop" in caplog.text

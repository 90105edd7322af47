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

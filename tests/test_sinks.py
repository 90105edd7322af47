"""Every sink writes frames keyed by frame id, through one host gather.

A trajectory whose frame ids start above zero (``load_frame_range``
over a saved layout: ids 4..9) goes through ``to_numpy``, each
driver-side writer and the XTC/TRR/DCD part writer + merge; every
reloaded frame must carry its own coordinates, time and box.
"""

from __future__ import annotations

import numpy as np
import pytest

import dask_traj_spark as dts
from dask_traj_spark.sources import binpos, dcd, gro, hdf5, netcdf3, trr, xtc
from dask_traj_spark.sources._arrow import gather_host
from dask_traj_spark.sources.loaders import from_wide_pandas, load_frame_range, save_tables
from dask_traj_spark.sources.parts import merge_parts, write_traj_parts
from dask_traj_spark.sources.topology import write_pdb
from dask_traj_spark.trajectory import Trajectory

N_FRAMES, N_ATOMS, LO, HI = 10, 12, 4, 10
TIME = 100.0 + 2.5 * np.arange(N_FRAMES)
BOX_A = 3.0 + 0.25 * np.arange(N_FRAMES)


@pytest.fixture(scope="module")
def ranged(spark, tmp_path_factory):
    rng = np.random.default_rng(11)
    xyz = rng.uniform(0.0, 2.5, (N_FRAMES, N_ATOMS, 3)).astype(np.float32)
    lengths = np.stack([BOX_A, np.full(N_FRAMES, 4.0), np.full(N_FRAMES, 5.0)], axis=1)
    traj = from_wide_pandas(
        spark,
        xyz,
        time=TIME,
        unitcell_lengths=lengths,
        unitcell_angles=np.tile([90.0, 90.0, 90.0], (N_FRAMES, 1)),
    )
    base = str(tmp_path_factory.mktemp("ranged") / "layout")
    save_tables(traj, base)
    sub = load_frame_range(spark, base, LO, HI)
    return sub, xyz[LO:HI]


def _box_a(traj) -> np.ndarray:
    uc = traj.unitcell_lengths_angles.orderBy("frame_id").toPandas()
    return uc["a"].to_numpy(np.float64)


def test_to_numpy_keys_frames_by_id(ranged):
    traj, want = ranged
    xyz, time = traj.to_numpy()
    np.testing.assert_array_equal(xyz, want)
    np.testing.assert_array_equal(time, TIME[LO:HI])


def test_gather_matches_each_frame_to_its_box(ranged):
    traj, _ = ranged
    host = gather_host(traj)
    assert host.frame_ids.tolist() == list(range(LO, HI))
    np.testing.assert_allclose(host.box[:, 0, 0], BOX_A[LO:HI], rtol=1e-6)
    np.testing.assert_allclose(host.cell[:, 0], BOX_A[LO:HI], rtol=1e-6)


# writer, extension, xyz tolerance, stores time, stores box
WRITERS = [
    (xtc.write_xtc, "xtc", 6e-4, True, True),
    (trr.write_trr, "trr", 0.0, True, True),
    (dcd.write_dcd, "dcd", 2e-6, False, True),
    (gro.write_gro, "gro", 6e-4, True, True),
    (binpos.write_binpos, "binpos", 2e-6, False, False),
    (netcdf3.write_netcdf, "nc", 2e-6, True, True),
    (hdf5.write_h5_traj, "h5", 0.0, True, True),
    (hdf5.write_lh5, "lh5", 6e-4, False, False),
]


@pytest.mark.parametrize(
    "writer,ext,atol,has_time,has_box", WRITERS, ids=[w[1] for w in WRITERS]
)
def test_driver_writer_frame_range(spark, ranged, tmp_path, writer, ext, atol, has_time, has_box):
    traj, want = ranged
    path = str(tmp_path / f"out.{ext}")
    writer(traj, path)
    back = dts.load(spark, path, chunks=4)
    got, time = back.to_numpy()
    np.testing.assert_allclose(got, want, atol=atol)
    if has_time:
        np.testing.assert_allclose(time, TIME[LO:HI], rtol=1e-6)
    if has_box:
        np.testing.assert_allclose(_box_a(back), BOX_A[LO:HI], atol=1e-5)


def test_write_pdb_frame_range(ranged, tmp_path):
    traj, want = ranged
    path = tmp_path / "out.pdb"
    write_pdb(traj, str(path))
    lines = path.read_text().splitlines()
    # CRYST1 from the first frame (id 4), not from a frame 0 that is absent
    assert lines[0].startswith("CRYST1")
    assert float(lines[0][6:15]) == pytest.approx(BOX_A[LO] * 10, abs=1e-3)
    atoms = [ln for ln in lines if ln.startswith("ATOM")]
    assert len(atoms) == (HI - LO) * N_ATOMS
    got = np.array([[float(ln[30:38]), float(ln[38:46]), float(ln[46:54])] for ln in atoms])
    np.testing.assert_allclose(got.reshape(HI - LO, N_ATOMS, 3) / 10, want, atol=6e-5)


@pytest.mark.parametrize("fmt,atol", [("xtc", 6e-4), ("trr", 0.0), ("dcd", 2e-6)])
def test_parts_frame_range(spark, ranged, tmp_path, fmt, atol):
    traj, want = ranged
    d = str(tmp_path / "parts")
    manifest = write_traj_parts(traj, d, fmt, frames_per_part=4)
    # frame ids 4..9 → parts 1 (4..7) and 2 (8, 9)
    assert [(m[0], m[2]) for m in manifest] == [(1, 4), (2, 2)]
    out = str(tmp_path / f"merged.{fmt}")
    merge_parts(d, out, fmt)
    back = dts.load(spark, out, chunks=3)
    got, time = back.to_numpy()
    np.testing.assert_allclose(got, want, atol=atol)
    if fmt != "dcd":
        np.testing.assert_allclose(time, TIME[LO:HI], rtol=1e-6)
    np.testing.assert_allclose(_box_a(back), BOX_A[LO:HI], atol=1e-5)


def test_write_pdb_from_loaded_xtc(spark, tmp_path):
    """A loaded XTC's unit cell is vectors only; CRYST1 still comes
    from frame 0's lengths and angles."""
    rng = np.random.default_rng(4)
    xyz = rng.uniform(0.0, 2.0, (3, 12, 3)).astype(np.float32)
    boxes = np.array([np.diag([3.0 + f, 4.0, 5.0]) for f in range(3)])
    src = str(tmp_path / "src.xtc")
    xtc._write_xtc_file(src, xyz, np.arange(3.0), boxes)
    out = tmp_path / "out.pdb"
    write_pdb(dts.load(spark, src), str(out))
    cryst = out.read_text().splitlines()[0]
    assert cryst.startswith("CRYST1   30.000   40.000   50.000  90.00  90.00  90.00")


def test_frame_without_unitcell_row_raises(spark):
    coords = spark.createDataFrame(
        [(f, a, 0.1 * a, 0.0, 0.0) for f in range(3) for a in range(2)],
        "frame_id long, atom_id int, x float, y float, z float",
    )
    uc = spark.createDataFrame(
        [(f, 1.0, 1.0, 1.0, 90.0, 90.0, 90.0) for f in (0, 2)],
        "frame_id long, a float, b float, c float, alpha float, beta float, gamma float",
    )
    with pytest.raises(ValueError, match=r"no unitcell row for frame ids \[1\]"):
        gather_host(Trajectory(coords, unitcell=uc))

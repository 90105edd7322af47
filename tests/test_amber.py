"""AMBER restart and mdcrd sources."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _fmt_restart(xyz_ang, time=None, box=None, vel=False):
    n = len(xyz_ang)
    lines = ["test restart", f"{n:6d}" + (f"{time:15.7e}" if time else "")]
    flat = list(np.asarray(xyz_ang).ravel())
    if vel:
        flat += [0.0] * (3 * n)
    if box is not None:
        flat += list(box)
    for i in range(0, len(flat), 6):
        lines.append("".join(f"{v:12.7f}" for v in flat[i : i + 6]))
    return "\n".join(lines) + "\n"


class TestRestart:
    def test_round_trip_with_box(self, spark, tmp_path):
        import dask_traj_spark as dts

        xyz = np.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0], [7.0, 8.0, 9.0]])
        p = tmp_path / "m.rst7"
        p.write_text(
            _fmt_restart(xyz, time=12.5, box=[20.0, 21.0, 22.0, 90.0, 90.0, 90.0],
                         vel=True)
        )
        traj = dts.load(spark, str(p))
        assert traj.n_frames == 1 and traj.n_atoms == 3
        got, t = traj.to_numpy()
        np.testing.assert_allclose(got[0], xyz * 0.1, atol=1e-6)
        np.testing.assert_allclose(t, [12.5])
        la = traj.unitcell_lengths_angles.first()
        np.testing.assert_allclose([la["a"], la["gamma"]], [2.0, 90.0], atol=1e-5)

    def test_no_box_no_time(self, spark, tmp_path):
        import dask_traj_spark as dts

        xyz = np.arange(12.0).reshape(4, 3)
        p = tmp_path / "m.inpcrd"
        p.write_text(_fmt_restart(xyz))
        traj = dts.load(spark, str(p))
        assert not traj.have_unitcell
        got, _ = traj.to_numpy()
        np.testing.assert_allclose(got[0], xyz * 0.1, atol=1e-6)


class TestMdcrd:
    @pytest.fixture(scope="class")
    def mdcrd_file(self, tmp_path_factory):
        rng = np.random.default_rng(47)
        xyz = rng.uniform(0, 30, (3, 7, 3)).round(3)
        lines = ["generated mdcrd"]
        for fid in range(3):
            flat = list(xyz[fid].ravel())
            for i in range(0, len(flat), 10):
                lines.append("".join(f"{v:8.3f}" for v in flat[i : i + 10]))
            lines.append("".join(f"{v:8.3f}" for v in (25.0, 26.0, 27.0)))
        p = tmp_path_factory.mktemp("amber") / "t.mdcrd"
        p.write_text("\n".join(lines) + "\n")
        return str(p), xyz.astype(np.float64)

    def test_load_with_n_atoms(self, spark, mdcrd_file):
        import dask_traj_spark as dts

        path, xyz = mdcrd_file
        traj = dts.load(spark, path, n_atoms=7)
        assert traj.n_frames == 3 and traj.n_atoms == 7
        got, _ = traj.to_numpy()
        np.testing.assert_allclose(got, xyz * 0.1, atol=1e-6)
        la = traj.unitcell_lengths_angles.where(F.col("frame_id") == 2).first()
        # angles are 90 deg, NOT the reference's ones_like bug
        np.testing.assert_allclose(
            [la["a"], la["alpha"], la["beta"]], [2.5, 90.0, 90.0], atol=1e-5
        )

    def test_requires_atom_count(self, spark, mdcrd_file):
        import dask_traj_spark as dts

        path, _ = mdcrd_file
        with pytest.raises(ValueError, match="n_atoms"):
            dts.load(spark, path)

    def test_index_rejects_a_frame_without_atoms(self, mdcrd_file):
        from dask_traj_spark.sources.amber import index_mdcrd

        path, _ = mdcrd_file
        with pytest.raises(ValueError, match="n_atoms"):
            index_mdcrd(path, 0)

    def test_load_with_pdb_top(self, spark, tmp_path):
        import dask_traj_spark as dts

        # 2-atom mdcrd + tiny pdb topology supplying the atom count
        lines = ["t", "".join(f"{v:8.3f}" for v in (1, 2, 3, 4, 5, 6))]
        p = tmp_path / "two.crd"
        p.write_text("\n".join(lines) + "\n")
        pdb = tmp_path / "two.pdb"
        pdb.write_text(
            "ATOM      1  N   MET A   1       1.0     2.0     3.0  1.00  0.00"
            "           N\n"
            "ATOM      2  CA  MET A   1       4.0     5.0     6.0  1.00  0.00"
            "           C\n"
        )
        traj = dts.load(spark, str(p), top=str(pdb))
        assert traj.n_atoms == 2 and traj.n_frames == 1
        assert traj.topology.count() == 2
        assert not traj.have_unitcell

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


    def test_restart_carries_counts_and_sql_box_vectors(self, spark, tmp_path):
        import dask_traj_spark as dts
        from dask_traj_spark.operators.unitcell import with_box_vectors

        xyz = np.array([[1.0, 2.0, 3.0], [4.0, 5.0, 6.0], [7.0, 8.0, 9.0]])
        p = tmp_path / "tri.rst7"
        p.write_text(_fmt_restart(xyz, time=3.0, box=[20.0, 21.0, 22.0, 80.0, 95.0, 100.0]))
        traj = dts.load(spark, str(p))
        # the counts come from the parse, not from a job; the box
        # vectors stay SQL-derived, so the index holds none
        assert traj.index is not None and traj.index.box is None
        assert traj.index.n_atoms == 3 and list(traj.index.frame_ids) == [0]
        cell = traj.unitcell.select("frame_id", "a", "b", "c", "alpha", "beta", "gamma")
        assert cell.first() == (0, *np.float32([2.0, 2.1, 2.2, 80.0, 95.0, 100.0]).tolist())
        assert traj.unitcell_vectors.collect() == with_box_vectors(cell).select(
            *traj.unitcell_vectors.columns
        ).collect()


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

    @staticmethod
    def _one_atom(tmp_path, rows):
        p = tmp_path / "one.mdcrd"
        p.write_text("t\n" + "".join("".join(f"{v:8.3f}" for v in r) + "\n" for r in rows))
        return str(p)

    def test_one_atom_two_frames_without_box_is_ambiguous(self, tmp_path):
        from dask_traj_spark.sources.amber import index_mdcrd

        # two box-less frames read exactly like one frame with a box
        path = self._one_atom(tmp_path, [(1.0, 2.0, 3.0), (4.0, 5.0, 6.0)])
        with pytest.raises(ValueError, match="ambiguous"):
            index_mdcrd(path, 1)

    def test_one_atom_odd_line_count_has_no_box(self, spark, tmp_path):
        import dask_traj_spark as dts
        from dask_traj_spark.sources.amber import index_mdcrd

        rows = [(1.0, 2.0, 3.0), (4.0, 5.0, 6.0), (7.0, 8.0, 9.0)]
        path = self._one_atom(tmp_path, rows)
        specs, boxes = index_mdcrd(path, 1)
        assert [s[0] for s in specs] == [0, 1, 2] and boxes is None
        traj = dts.load(spark, path, n_atoms=1)
        assert not traj.have_unitcell
        np.testing.assert_allclose(traj.to_numpy()[0][:, 0], np.array(rows) * 0.1, atol=1e-6)

    def test_one_atom_with_box_is_ambiguous(self, tmp_path):
        from dask_traj_spark.sources.amber import index_mdcrd

        box = (25.0, 26.0, 27.0)
        path = self._one_atom(tmp_path, [(1.0, 2.0, 3.0), box, (4.0, 5.0, 6.0), box])
        with pytest.raises(ValueError, match="ambiguous"):
            index_mdcrd(path, 1)

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

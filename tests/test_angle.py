"""Differential tests for G3/G4 (angles) against the numpy golden."""

from __future__ import annotations

import numpy as np
import pytest

from dask_traj_spark.operators.angle import compute_angles
from tests import golden

ATOL = 1e-4  # arccos amplifies float32 error near 0/pi


def _collect(df):
    pdf = df.toPandas().sort_values(["frame_id", "triplet_id"])
    n_frames = pdf["frame_id"].nunique()
    return pdf["angle_rad"].to_numpy().reshape(n_frames, -1)


@pytest.mark.parametrize("form", ["sql", "vectorized"])
class TestAngles:
    def test_nonperiodic(self, traj_nocell, xyz_small, triplets120, form):
        got = _collect(compute_angles(traj_nocell, triplets120, periodic=False, form=form))
        want = golden.angles(xyz_small, triplets120)
        np.testing.assert_allclose(got, want, atol=ATOL)

    def test_ortho(self, traj_ortho, xyz_small, triplets120, box_ortho, form):
        got = _collect(compute_angles(traj_ortho, triplets120, periodic=True, form=form))
        want = golden.angles(xyz_small, triplets120, box=box_ortho)
        np.testing.assert_allclose(got, want, atol=ATOL)

    def test_triclinic(self, traj_triclinic, xyz_small, triplets120, box_triclinic, form):
        got = _collect(compute_angles(traj_triclinic, triplets120, periodic=True, form=form))
        want = golden.angles(xyz_small, triplets120, box=box_triclinic)
        np.testing.assert_allclose(got, want, atol=ATOL)


def test_empty_triplets(traj_nocell):
    df = compute_angles(traj_nocell, np.empty((0, 3), dtype=np.int32))
    assert df.count() == 0


def test_invalid_triplets_raise(traj_nocell):
    with pytest.raises(ValueError):
        compute_angles(traj_nocell, np.array([[0, 1, 999999]]))


class TestDihedrals:
    def test_known_geometries(self, spark):
        """cis (eclipsed) = 0, trans (anti) = pi, and the two
        gauche signs are opposite."""
        from dask_traj_spark.operators.angle import compute_dihedrals
        from dask_traj_spark.trajectory import Trajectory

        # frame 0: trans (zig-zag in a plane); frame 1: cis
        rows = [
            # trans: i=(0,1,0) j=(0,0,0) k=(1,0,0) l=(1,-1,0)
            (0, 0, 0.0, 1.0, 0.0), (0, 1, 0.0, 0.0, 0.0),
            (0, 2, 1.0, 0.0, 0.0), (0, 3, 1.0, -1.0, 0.0),
            # cis: l up on the same side as i
            (1, 0, 0.0, 1.0, 0.0), (1, 1, 0.0, 0.0, 0.0),
            (1, 2, 1.0, 0.0, 0.0), (1, 3, 1.0, 1.0, 0.0),
            # +gauche: l out of plane
            (2, 0, 0.0, 1.0, 0.0), (2, 1, 0.0, 0.0, 0.0),
            (2, 2, 1.0, 0.0, 0.0), (2, 3, 1.0, 0.5, 0.5),
            # -gauche: mirrored
            (3, 0, 0.0, 1.0, 0.0), (3, 1, 0.0, 0.0, 0.0),
            (3, 2, 1.0, 0.0, 0.0), (3, 3, 1.0, 0.5, -0.5),
        ]
        coords = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x double, y double, z double"
        )
        traj = Trajectory(coords)
        pdf = (
            compute_dihedrals(traj, [(0, 1, 2, 3)], periodic=False, form="sql")
            .toPandas().set_index("frame_id").sort_index()["dihedral_rad"]
        )
        assert abs(abs(pdf[0]) - np.pi) < 1e-6  # trans
        assert abs(pdf[1]) < 1e-6  # cis
        assert abs(pdf[2] + pdf[3]) < 1e-6 and abs(pdf[2]) > 0.3  # gauche signs

    @staticmethod
    def _forms_agree(traj, periodic):
        import itertools

        from dask_traj_spark.operators.angle import compute_dihedrals

        quartets = list(itertools.combinations(range(8), 4))
        a, b = (
            compute_dihedrals(traj, quartets, periodic=periodic, form=form)
            .toPandas().sort_values(["frame_id", "quartet_id"])["dihedral_rad"]
            .to_numpy()
            for form in ("sql", "vectorized")
        )
        np.testing.assert_allclose(a, b, atol=2e-5)

    def test_sql_and_vectorized_agree(self, spark, traj_nocell):
        self._forms_agree(traj_nocell, periodic=False)

    @pytest.mark.parametrize("traj_name", ["traj_ortho", "traj_triclinic"])
    def test_sql_and_vectorized_agree_periodic(self, request, traj_name):
        """The shared MIC step serves the three-vector dihedral path."""
        self._forms_agree(request.getfixturevalue(traj_name), periodic=True)


def test_hydrogen_bonds_flags_constructed_geometries(spark):
    import numpy as np

    from dask_traj_spark.operators.angle import hydrogen_bonds
    from dask_traj_spark.sources.loaders import from_wide_pandas

    # atoms: 0=donor, 1=hydrogen, then three acceptor candidates
    #   2: linear D-H...A, close      -> H-bond
    #   3: close but bent (~90 deg)   -> no (angle below threshold)
    #   4: linear but far             -> no (distance above cutoff)
    xyz = np.array(
        [[
            [0.0, 0.0, 0.0],
            [0.1, 0.0, 0.0],
            [0.3, 0.0, 0.0],
            [0.1, 0.2, 0.0],
            [1.5, 0.0, 0.0],
        ]],
        dtype=np.float32,
    )
    traj = from_wide_pandas(spark, xyz)
    out = hydrogen_bonds(
        traj, [(0, 1, 2), (0, 1, 3), (0, 1, 4)],
        dist_cutoff=0.5, angle_min=1.75, periodic=False,
    )
    flags = {r["triplet_id"]: r["is_hbond"] for r in out.collect()}
    assert flags == {0: True, 1: False, 2: False}

"""Differential tests for G1/G2 against the numpy golden oracle,
mirroring the reference's test matrix (tests/test_geometry.py:
opt × periodic parametrization → here sql-form × vectorized-form ×
{nocell, ortho, triclinic})."""

from __future__ import annotations

import numpy as np
import pytest

from dask_traj_spark.operators.distance import (
    compute_distances,
    compute_displacements,
)
from tests import golden

ATOL = 1e-5


def _collect_dist(df):
    pdf = df.toPandas().sort_values(["frame_id", "pair_id"])
    n_frames = pdf["frame_id"].nunique()
    return pdf["dist"].to_numpy().reshape(n_frames, -1)


def _collect_disp(df):
    pdf = df.toPandas().sort_values(["frame_id", "pair_id"])
    n_frames = pdf["frame_id"].nunique()
    return pdf[["dx", "dy", "dz"]].to_numpy().reshape(n_frames, -1, 3)


@pytest.mark.parametrize("form", ["sql", "vectorized"])
class TestDistances:
    def test_nonperiodic(self, traj_nocell, xyz_small, pairs45, form):
        got = _collect_dist(compute_distances(traj_nocell, pairs45, periodic=False, form=form))
        want = golden.distances(xyz_small, pairs45)
        np.testing.assert_allclose(got, want, atol=ATOL)

    def test_periodic_flag_ignored_without_cell(self, traj_nocell, xyz_small, pairs45, form):
        got = _collect_dist(compute_distances(traj_nocell, pairs45, periodic=True, form=form))
        want = golden.distances(xyz_small, pairs45)
        np.testing.assert_allclose(got, want, atol=ATOL)

    def test_ortho_mic(self, traj_ortho, xyz_small, pairs45, box_ortho, form):
        got = _collect_dist(compute_distances(traj_ortho, pairs45, periodic=True, form=form))
        want = golden.distances(xyz_small, pairs45, box=box_ortho)
        np.testing.assert_allclose(got, want, atol=ATOL)

    def test_triclinic_mic(self, traj_triclinic, xyz_small, pairs45, box_triclinic, form):
        got = _collect_dist(compute_distances(traj_triclinic, pairs45, periodic=True, form=form))
        want = golden.distances(xyz_small, pairs45, box=box_triclinic)
        np.testing.assert_allclose(got, want, atol=ATOL)

    def test_displacements_nonperiodic(self, traj_nocell, xyz_small, pairs45, form):
        got = _collect_disp(
            compute_displacements(traj_nocell, pairs45, periodic=False, form=form)
        )
        want = golden.displacements(xyz_small, pairs45)
        np.testing.assert_allclose(got, want, atol=ATOL)

    def test_displacements_triclinic(
        self, traj_triclinic, xyz_small, pairs45, box_triclinic, form
    ):
        got = _collect_disp(
            compute_displacements(traj_triclinic, pairs45, periodic=True, form=form)
        )
        want = golden.displacements(xyz_small, pairs45, box=box_triclinic)
        np.testing.assert_allclose(got, want, atol=ATOL)


def test_forms_agree(traj_triclinic, pairs45):
    a = _collect_dist(compute_distances(traj_triclinic, pairs45, periodic=True, form="sql"))
    b = _collect_dist(
        compute_distances(traj_triclinic, pairs45, periodic=True, form="vectorized")
    )
    np.testing.assert_allclose(a, b, atol=ATOL)


def test_triclinic_mic_literal_box_tight(spark):
    """Regression: Spark 4.1.2 whole-stage codegen miscompiled the
    27-image search when box columns were constant-foldable literals
    (the oracle-gate setup) and the box was small enough that distant
    images win often. Build the unitcell from F.lit and wrap hard."""
    import itertools

    from pyspark.sql import functions as F

    from dask_traj_spark.trajectory import Trajectory

    rng = np.random.default_rng(7)
    n_frames, n_atoms = 8, 16
    xyz = rng.uniform(-1.0, 1.0, size=(n_frames, n_atoms, 3)).astype(np.float32)
    box = np.array(
        [[0.25, 0.0, 0.0], [0.0625, 0.21875, 0.0], [0.046875, 0.03125, 0.1875]]
    )
    rows = [
        (int(f), int(a), float(x), float(y), float(z))
        for f in range(n_frames)
        for a, (x, y, z) in enumerate(xyz[f])
    ]
    coords = spark.createDataFrame(
        rows, "frame_id bigint, atom_id int, x float, y float, z float"
    )
    vals = dict(
        zip(
            ["ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz"],
            box.ravel().tolist(),
        )
    )
    vals.update({"a": 0.25, "b": 0.2273, "c": 0.1938, "alpha": 76.0, "beta": 73.0, "gamma": 74.0})
    uc = spark.range(n_frames).select(
        F.col("id").alias("frame_id"),
        *[F.lit(v).cast("float").alias(k) for k, v in vals.items()],
    )
    traj = Trajectory(coords, unitcell=uc)
    pairs = np.array(list(itertools.combinations(range(n_atoms), 2)), dtype=np.int32)
    got = _collect_dist(compute_distances(traj, pairs, periodic=True, form="sql"))
    want = golden.distances(xyz, pairs, box=box)
    np.testing.assert_allclose(got, want, atol=ATOL)


def test_distance_fastpath_agrees_with_component_path(spark):
    """The distance-only MIC fast path (array_min(transform) over
    d2) must agree with the displacement argmin HOF on mixed
    per-frame boxes: bitwise on orthorhombic rows (identical f32
    value chain) and to f32 tolerance on triclinic rows (fast path
    skips the intermediate f32 component rounding)."""
    import itertools

    from pyspark.sql import functions as F

    from dask_traj_spark.operators.distance import compute_displacements
    from dask_traj_spark.trajectory import Trajectory

    rng = np.random.default_rng(13)
    n_frames, n_atoms = 10, 12
    xyz = rng.uniform(-1.0, 1.0, size=(n_frames, n_atoms, 3)).astype(np.float32)
    rows = [
        (int(f), int(a), float(x), float(y), float(z))
        for f in range(n_frames)
        for a, (x, y, z) in enumerate(xyz[f])
    ]
    coords = spark.createDataFrame(
        rows, "frame_id bigint, atom_id int, x float, y float, z float"
    )
    # even frames orthorhombic, odd frames triclinic
    tri = dict(
        ax=0.25, ay=0.0, az=0.0, bx=0.0625, by=0.21875, bz=0.0,
        cx=0.046875, cy=0.03125, cz=0.1875,
        a=0.25, b=0.2273, c=0.1938, alpha=76.0, beta=73.0, gamma=74.0,
    )
    ort = dict(
        ax=0.25, ay=0.0, az=0.0, bx=0.0, by=0.21875, bz=0.0,
        cx=0.0, cy=0.0, cz=0.1875,
        a=0.25, b=0.21875, c=0.1875, alpha=90.0, beta=90.0, gamma=90.0,
    )
    even = F.col("frame_id") % 2 == 0
    uc = spark.range(n_frames).select(
        F.col("id").alias("frame_id"),
        *[
            F.when(even, F.lit(ort[k])).otherwise(F.lit(tri[k]))
            .cast("float").alias(k)
            for k in tri
        ],
    )
    traj = Trajectory(coords, unitcell=uc)
    pairs = np.array(list(itertools.combinations(range(n_atoms), 2)), dtype=np.int32)
    fast = (
        compute_distances(traj, pairs, periodic=True, form="sql")
        .orderBy("frame_id", "pair_id")
        .toPandas()
    )
    comp = (
        compute_displacements(traj, pairs, periodic=True, form="sql")
        .orderBy("frame_id", "pair_id")
        .toPandas()
    )
    d = comp[["dx", "dy", "dz"]].to_numpy().astype(np.float64)
    want = np.sqrt((d * d).sum(-1)).astype(np.float32)
    got = fast["dist"].to_numpy()
    ortho_rows = (fast["frame_id"].to_numpy() % 2) == 0
    np.testing.assert_array_equal(got[ortho_rows], want[ortho_rows])
    np.testing.assert_allclose(got[~ortho_rows], want[~ortho_rows], atol=1e-6)


def test_empty_pairs(traj_nocell):
    # P4: empty selection short-circuits (reference distance.py:107-108)
    df = compute_distances(traj_nocell, np.empty((0, 2), dtype=np.int32))
    assert df.count() == 0
    assert df.columns == ["frame_id", "pair_id", "dist"]


def test_invalid_pairs_raise(traj_nocell):
    # P3: out-of-range indices raise (reference distance.py:105-106)
    with pytest.raises(ValueError):
        compute_distances(traj_nocell, np.array([[0, 999999]]))
    with pytest.raises(ValueError):
        compute_distances(traj_nocell, np.array([[-1, 1]]))


def test_half_box_tie_rounding_sql_equals_vectorized(spark):
    """At displacements exactly half a box length, half-away-from-zero
    (F.round / np.round) and half-to-even (F.bround / np.rint) pick
    different images. Both engine forms must use HALF-TO-EVEN so the
    documented differential equivalence holds at the tie points."""
    from dask_traj_spark.sources.loaders import from_wide_pandas

    L = 0.25
    # dx/L hits exact ties: 0.125/0.25 = 0.5, -0.125/0.25 = -0.5,
    # 0.375/0.25 = 1.5; plus a non-tie control 0.1
    xs = np.array([0.0, 0.125, -0.125, 0.375, 0.1], dtype=np.float32)
    xyz = np.zeros((1, len(xs), 3), dtype=np.float32)
    xyz[0, :, 0] = xs
    traj = from_wide_pandas(
        spark,
        xyz,
        unitcell_lengths=np.full((1, 3), L),
        unitcell_angles=np.tile([90.0, 90.0, 90.0], (1, 1)),
    )
    pairs = [(0, i) for i in range(1, len(xs))]
    a = _collect_disp(compute_displacements(traj, pairs, periodic=True, form="sql"))
    b = _collect_disp(
        compute_displacements(traj, pairs, periodic=True, form="vectorized")
    )
    # bit-exact agreement, including at the ties
    np.testing.assert_array_equal(a, b)
    # half-to-even at 0.5: round to 0 -> displacement stays 0.125
    np.testing.assert_allclose(a[0, 0], [0.125, 0.0, 0.0], atol=1e-7)
    np.testing.assert_allclose(a[0, 1], [-0.125, 0.0, 0.0], atol=1e-7)
    # 1.5 rounds to 2 (even): 0.375 - 2*0.25 = -0.125
    np.testing.assert_allclose(a[0, 2], [-0.125, 0.0, 0.0], atol=1e-7)


def test_half_box_tie_rounding_triclinic_forms_agree(spark):
    """Same tie discipline on the triclinic 27-image path: the deskew
    rounds (bround vs np.rint) must agree at half-multiples of the
    box diagonal."""
    from pyspark.sql import functions as F

    from dask_traj_spark.trajectory import Trajectory

    # lower-triangular box with dyadic entries so the deskew ratios hit
    # exact ties: dz/cz = 0.09375/0.1875 = 0.5 exactly, 0.28125/0.1875
    # = 1.5 exactly
    xyz = np.zeros((1, 3, 3), dtype=np.float32)
    xyz[0, 1] = [0.03125, 0.109375, 0.09375]
    xyz[0, 2] = [-0.03125, -0.109375, 0.28125]
    rows = [
        (int(f), int(a), float(x), float(y), float(z))
        for f in range(1)
        for a, (x, y, z) in enumerate(xyz[f])
    ]
    coords = spark.createDataFrame(
        rows, "frame_id long, atom_id int, x float, y float, z float"
    )
    box = {
        "a": 0.25, "b": 0.2273, "c": 0.1938,
        "alpha": 76.0, "beta": 73.0, "gamma": 74.0,  # non-ortho branch
        "ax": 0.25, "ay": 0.0, "az": 0.0,
        "bx": 0.0625, "by": 0.21875, "bz": 0.0,
        "cx": 0.046875, "cy": 0.03125, "cz": 0.1875,
    }
    uc = spark.range(1).select(
        F.col("id").alias("frame_id"),
        *[F.lit(v).cast("float").alias(k) for k, v in box.items()],
    )
    traj = Trajectory(coords, unitcell=uc)
    pairs = [(0, 1), (0, 2)]
    a = _collect_disp(compute_displacements(traj, pairs, periodic=True, form="sql"))
    b = _collect_disp(
        compute_displacements(traj, pairs, periodic=True, form="vectorized")
    )
    np.testing.assert_array_equal(a, b)


def test_vacf_closed_form_constant_velocity(spark):
    """Atoms moving at constant velocity have VACF(lag) == |v|^2 for
    every lag (perfect correlation), with n_samples shrinking by
    n_atoms per unit lag."""
    import numpy as np

    from dask_traj_spark.operators.distance import velocity_autocorrelation
    from dask_traj_spark.sources.loaders import from_wide_pandas

    n_frames, n_atoms = 8, 5
    vel = np.array([[0.25, 0.0, -0.125]] * n_atoms, dtype=np.float32)
    base = np.arange(n_atoms * 3, dtype=np.float32).reshape(n_atoms, 3) / 16.0
    xyz = np.stack([base + t * vel for t in range(n_frames)])
    traj = from_wide_pandas(spark, xyz)
    out = {r["lag"]: r for r in velocity_autocorrelation(traj, max_lag=3).collect()}
    v2 = float((vel[0] ** 2).sum())
    n_v = n_frames - 1  # velocity series length per atom
    for lag in range(4):
        assert out[lag]["n_samples"] == n_atoms * (n_v - lag)
        assert abs(out[lag]["vacf"] - v2) < 1e-12


def test_gyration_tensor_matches_numpy_eigvalsh(spark):
    import numpy as np

    from dask_traj_spark.operators.distance import gyration_tensor
    from dask_traj_spark.sources.loaders import from_wide_pandas
    from dask_traj_spark.trajectory import Trajectory

    rng = np.random.default_rng(11)
    xyz = rng.uniform(0, 2, (3, 12, 3)).astype(np.float32)
    base = from_wide_pandas(spark, xyz)
    masses = np.arange(1, 13, dtype=np.float64)
    top = spark.createDataFrame(
        [(int(i), float(m)) for i, m in enumerate(masses)],
        "atom_id int, mass double",
    )
    traj = Trajectory(base.coords, unitcell=None, topology=top)
    out = {r["frame_id"]: r for r in gyration_tensor(traj).collect()}
    for f in range(3):
        p = xyz[f].astype(np.float64)
        com = (masses[:, None] * p).sum(0) / masses.sum()
        d = p - com
        S = (masses[:, None, None] * d[:, :, None] * d[:, None, :]).sum(0)
        S /= masses.sum()
        lam = np.linalg.eigvalsh(S)[::-1]
        r = out[f]
        got = [r["lambda1"], r["lambda2"], r["lambda3"]]
        np.testing.assert_allclose(got, lam, rtol=1e-6, atol=1e-9)
        np.testing.assert_allclose(r["rg2"], np.trace(S), rtol=1e-12)
        assert r["lambda1"] >= r["lambda2"] >= r["lambda3"] >= -1e-9

    # rod along x: lambda2 == lambda3 == 0, asphericity == lambda1
    rod = np.zeros((1, 5, 3), dtype=np.float32)
    rod[0, :, 0] = np.arange(5) / 4.0
    rt = from_wide_pandas(spark, rod)
    top5 = spark.createDataFrame(
        [(i, 1.0) for i in range(5)], "atom_id int, mass double"
    )
    r = gyration_tensor(
        Trajectory(rt.coords, unitcell=None, topology=top5)
    ).collect()[0]
    assert abs(r["lambda2"]) < 1e-9 and abs(r["lambda3"]) < 1e-9
    np.testing.assert_allclose(r["asphericity"], r["lambda1"], rtol=1e-9)


def test_native_contacts_constructed_fold_unfold(spark):
    """Frame 0 defines three native contacts (0-1, 0-2, and the
    diagonal 1-2 at ~0.354); frame 1 breaks the two involving atom 2,
    frame 2 breaks all -> Q = 1.0, 1/3, 0.0."""
    import numpy as np

    from dask_traj_spark.operators.distance import native_contact_fraction
    from dask_traj_spark.sources.loaders import from_wide_pandas

    # atoms 0-1 and 0-2 native (dist 0.25); atom 3 far always
    f0 = [[0, 0, 0], [0.25, 0, 0], [0, 0.25, 0], [5, 5, 5]]
    f1 = [[0, 0, 0], [0.25, 0, 0], [0, 2.0, 0], [5, 5, 5]]
    f2 = [[0, 0, 0], [2.0, 0, 0], [0, 2.0, 0], [5, 5, 5]]
    xyz = np.array([f0, f1, f2], dtype=np.float32)
    traj = from_wide_pandas(spark, xyz)
    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    out = {
        r["frame_id"]: r
        for r in native_contact_fraction(traj, pairs, r_cut=0.5).collect()
    }
    assert out[0]["n_native"] == 3 and out[0]["q"] == 1.0
    assert out[1]["n_formed"] == 1 and out[1]["q"] == 1 / 3
    assert out[2]["n_formed"] == 0 and out[2]["q"] == 0.0


def test_scalar_autocorrelation_closed_form(spark):
    """A constant series has sum_ab == n*c^2 at every lag; the
    counts shrink by one per lag step; and the centered ACF derived
    from the sufficient statistics is exactly zero."""
    from dask_traj_spark.operators.distance import scalar_autocorrelation

    c = 0.25  # dyadic — survives the 2^-20 snap exactly
    df = spark.createDataFrame(
        [(t, c) for t in range(10)], "frame_id long, val double"
    )
    out = {r["lag"]: r for r in scalar_autocorrelation(df, "val", 3).collect()}
    for lag in range(4):
        n = 10 - lag
        r = out[lag]
        assert r["n"] == n
        assert r["sum_ab"] == n * c * c
        assert r["sum_a"] == n * c and r["sum_b"] == n * c
        centered = r["sum_ab"] - r["sum_a"] * r["sum_b"] / r["n"]
        assert centered == 0.0


def test_compute_neighbors_matches_brute_force(spark):
    """Cell-list compute_neighbors vs the O(n·|query|) brute force,
    including the haystack restriction and self-exclusion."""
    import numpy as np

    from dask_traj_spark.operators.distance import compute_neighbors
    from dask_traj_spark.trajectory import Trajectory

    rng = np.random.default_rng(61)
    nf, na, cutoff = 3, 40, 0.3
    xyz = rng.uniform(0, 1.5, (nf, na, 3))
    rows = [
        (f, a, float(xyz[f, a, 0]), float(xyz[f, a, 1]), float(xyz[f, a, 2]))
        for f in range(nf) for a in range(na)
    ]
    traj = Trajectory(spark.createDataFrame(
        rows, "frame_id long, atom_id int, x double, y double, z double"
    ))
    qs = [0, 5, 11]
    got = {
        (r["frame_id"], r["atom_id"])
        for r in compute_neighbors(traj, cutoff, qs).collect()
    }
    want = set()
    for f in range(nf):
        for a in range(na):
            for q in qs:
                if a != q and np.linalg.norm(xyz[f, a] - xyz[f, q]) <= cutoff:
                    want.add((f, a))
    assert got == want
    # haystack restriction: only even atoms searchable
    hay = [a for a in range(na) if a % 2 == 0]
    got2 = {
        (r["frame_id"], r["atom_id"])
        for r in compute_neighbors(traj, cutoff, qs, haystack_indices=hay).collect()
    }
    assert got2 == {(f, a) for f, a in want if a % 2 == 0}


def test_missing_atoms_raise_a_valueerror_in_the_vectorized_form(spark):
    """A trajectory whose frames lack an atom the pairs read: the
    vectorized kernel is told so by name instead of indexing past the
    block, and the SQL form joins away the pairs it cannot form."""
    from pyspark.errors import PythonException
    from pyspark.sql import functions as F

    from dask_traj_spark.sources.loaders import from_wide_pandas
    from dask_traj_spark.trajectory import Trajectory

    xyz = np.arange(3 * 4 * 3, dtype=np.float32).reshape(3, 4, 3)
    full = from_wide_pandas(spark, xyz)
    holey = Trajectory(full.coords.where(F.col("atom_id") != 1), index=full.index)
    pairs = [(0, 1), (0, 2)]
    with pytest.raises(PythonException, match="ValueError: frame 0 holds 2 of the 3 atoms"):
        compute_distances(holey, pairs, periodic=False, form="vectorized").collect()
    rows = compute_distances(holey, pairs, periodic=False, form="sql").collect()
    assert sorted((r.frame_id, r.pair_id) for r in rows) == [(0, 1), (1, 1), (2, 1)]

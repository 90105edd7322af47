"""Angles (G3/G4) — SQL and vectorized forms.

Semantics per the reference's pure-array path
(``/root/reference/dask_traj/geometry/angle.py:142-176``): for each
triplet (i, j, k), u = MIC(r_i − r_j), v = MIC(r_k − r_j), angle =
arccos(û · v̂). Returned in radians, float32, as
(frame_id, triplet_id, angle_rad).

SQL form: the three-role stitch plus the MIC step
(``distance._role_stitch``, ``distance._displacements``) and a
codegen'd acos expression. Vectorized form: the numpy kernel over
packed frame blocks (``distance.map_frame_blocks``) — zero shuffles
when the trajectory is already frame-packed.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from dask_traj_spark import schemas
from dask_traj_spark.operators import kernels
from dask_traj_spark.operators.distance import (
    _VECTORIZED_THRESHOLD,
    _displacements,
    _long_rows,
    _map_index_blocks,
    _normalize_indices,
    _role_stitch,
)

def _angle_legs(traj, arr: np.ndarray, periodic: bool) -> DataFrame:
    """(frame_id, triplet_id, ux..uz, vx..vz) — the SQL angle plan up
    to its legs: the three-role stitch anchored on the mid atom, so
    the coords lineage is scanned once per role, and both legs share
    one box join."""
    df = _role_stitch(traj, arr, "triplet_id", ("i", "j", "k"), anchor=1)
    # u = r_i − r_j, v = r_k − r_j
    return _displacements(traj, df, {"u": ("j", "i"), "v": ("j", "k")}, periodic)


def _cos_angle() -> Column:
    """cos of the angle between the legs (u, v), clamped to [-1, 1]."""
    # x*x, not pow(x,2): multiplication is IEEE exact-rounded, pow is
    # not guaranteed — matters for bit-reproducibility vs the oracle
    sq = lambda c: F.col(c) * F.col(c)  # noqa: E731
    un = F.sqrt(sq("ux") + sq("uy") + sq("uz"))
    vn = F.sqrt(sq("vx") + sq("vy") + sq("vz"))
    dot = F.col("ux") * F.col("vx") + F.col("uy") * F.col("vy") + F.col("uz") * F.col("vz")
    return F.greatest(F.lit(-1.0), F.least(F.lit(1.0), dot / (un * vn)))


def compute_angles(
    traj,
    angle_indices: Iterable,
    periodic: bool = True,
    form: str = "auto",
    n_atoms: int | None = None,
    _round6_double: bool = False,
) -> DataFrame:
    """Angle at the middle atom of each (i, j, k) triplet.

    Reference driver: geometry/angle.py:58-139.

    SQL plan shape: ONE three-way stitch — broadcast the triplet
    table onto the mid-atom rows, then join the i- and k-atom rows by
    (frame_id, atom) — so the coords lineage is scanned three times
    (once per role), not four as the former two-pair-leg form did,
    and both MIC applications share a single box join.
    """
    arr = _normalize_indices(angle_indices, 3, n_atoms or traj.n_atoms, "angle_indices")
    if len(arr) == 0:  # empty short-circuit (angle.py:98-99)
        return traj.spark.createDataFrame([], schemas.ANGLES_SCHEMA)
    if _round6_double:
        form = "sql"  # the rounding knob only exists on the SQL path
    if form == "auto":
        form = "vectorized" if len(arr) >= _VECTORIZED_THRESHOLD else "sql"
    if form == "vectorized":
        return _vectorized_angles(traj, arr, periodic)

    acos = F.acos(_cos_angle())
    # transcendental-protection option (policy item 3, same knob as
    # compute_dihedrals): acos kept in DOUBLE and rounded to 1e-6 rad
    # for oracle-gated callers; public default stays float32
    ang = F.round(acos, 6) if _round6_double else acos.cast("float")
    return _angle_legs(traj, arr, periodic).select(
        "frame_id", "triplet_id", ang.alias("angle_rad")
    )


def _angles(fids, xyz, box, ortho, t, first):
    ang = kernels.angles_np(xyz, t[:, 0], t[:, 1], t[:, 2], box, ortho)
    return _long_rows(fids, "triplet_id", first, len(t), angle_rad=ang.ravel())


def _vectorized_angles(traj, arr: np.ndarray, periodic: bool) -> DataFrame:
    return _map_index_blocks(traj, arr, _angles, schemas.ANGLES_SCHEMA, periodic)


def compute_dihedrals(
    traj,
    quartets: Iterable,
    periodic: bool = True,
    form: str = "auto",
    n_atoms: int | None = None,
    _round6_double: bool = False,
) -> DataFrame:
    """Signed torsion angle of each (i, j, k, l) quartet →
    (frame_id, quartet_id, dihedral_rad FLOAT) in (-π, π].

    Beyond-reference (the reference stops at angles; this matches the
    public mdtraj ``compute_dihedrals`` semantics): with
    b1 = r_j−r_i, b2 = r_k−r_j, b3 = r_l−r_k (each MIC'd when
    periodic), dihedral = atan2(|b2|·(b1·(b2×b3)), (b1×b2)·(b2×b3)).

    SQL plan shape: the angles stitch widened to four roles — ONE
    broadcast of the quartet table onto the j-atom rows, then three
    (frame, atom) joins; every cross/dot product is a codegen'd
    column expression (products of dyadic-grid displacement
    components stay exact, so only the final atan2 is
    transcendental).  Vectorized form: numpy kernel over packed
    frame blocks, shuffle-free."""
    arr = _normalize_indices(quartets, 4, n_atoms or traj.n_atoms, "quartets")
    if len(arr) == 0:
        return traj.spark.createDataFrame(
            [], "frame_id long, quartet_id int, dihedral_rad float"
        )
    if form == "auto":
        form = "vectorized" if len(arr) >= _VECTORIZED_THRESHOLD else "sql"
    if form == "vectorized":
        return _vectorized_dihedrals(traj, arr, periodic)

    df = _role_stitch(traj, arr, "quartet_id", ("i", "j", "k", "l"), anchor=1)
    df = _displacements(
        traj, df, {"b1": ("i", "j"), "b2": ("j", "k"), "b3": ("k", "l")}, periodic
    )
    # cross products as explicit exact-rounded column expressions
    df = df.withColumns(
        {
            # c23 = b2 × b3
            "c23x": F.col("b2y") * F.col("b3z") - F.col("b2z") * F.col("b3y"),
            "c23y": F.col("b2z") * F.col("b3x") - F.col("b2x") * F.col("b3z"),
            "c23z": F.col("b2x") * F.col("b3y") - F.col("b2y") * F.col("b3x"),
            # c12 = b1 × b2
            "c12x": F.col("b1y") * F.col("b2z") - F.col("b1z") * F.col("b2y"),
            "c12y": F.col("b1z") * F.col("b2x") - F.col("b1x") * F.col("b2z"),
            "c12z": F.col("b1x") * F.col("b2y") - F.col("b1y") * F.col("b2x"),
        }
    )
    sq = lambda c: F.col(c) * F.col(c)  # noqa: E731
    b2n = F.sqrt(sq("b2x") + sq("b2y") + sq("b2z"))
    y = b2n * (
        F.col("b1x") * F.col("c23x")
        + F.col("b1y") * F.col("c23y")
        + F.col("b1z") * F.col("c23z")
    )
    x = (
        F.col("c12x") * F.col("c23x")
        + F.col("c12y") * F.col("c23y")
        + F.col("c12z") * F.col("c23z")
    )
    # public output is float32 (consistent with angles); the oracle-
    # parity wrapper keeps double + round(6) instead — the standard
    # transcendental-protection policy (queries.py docstring item 3):
    # y and x are EXACT doubles (products of dyadic grid values), so
    # only atan2's last-ulp can differ between engines, and round-6
    # collapses it.
    out = (
        F.round(F.atan2(y, x), 6)
        if _round6_double
        else F.atan2(y, x).cast("float")
    )
    return df.select(
        "frame_id",
        "quartet_id",
        out.alias("dihedral_rad"),
    )


def _dihedrals(fids, xyz, box, ortho, q, first):
    d = kernels.dihedrals_np(xyz, q[:, 0], q[:, 1], q[:, 2], q[:, 3], box, ortho)
    return _long_rows(fids, "quartet_id", first, len(q), dihedral_rad=d.reshape(-1))


def _vectorized_dihedrals(traj, arr: np.ndarray, periodic: bool) -> DataFrame:
    return _map_index_blocks(
        traj, arr, _dihedrals, "frame_id long, quartet_id int, dihedral_rad float", periodic
    )


def hydrogen_bonds(
    traj,
    triplets: Iterable,
    dist_cutoff: float = 0.5,
    angle_min: float = 1.75,
    periodic: bool = True,
    n_atoms: int | None = None,
    _round6_double: bool = False,
) -> DataFrame:
    """Geometric hydrogen-bond criterion over (donor, hydrogen,
    acceptor) triplets → (frame_id, triplet_id, dist, angle_rad,
    is_hbond): the H···A distance must fall below ``dist_cutoff``
    AND the D-H···A angle (at the hydrogen) must exceed
    ``angle_min`` radians — the mdtraj ``baker_hubbard`` geometry
    test as a composition of the two public primitives
    (``compute_distances`` on the (h, a) pairs, ``compute_angles``
    on the triplets), joined on (frame_id, id).

    Beyond-reference (the reference stops at distances/angles; its
    users run H-bond analysis through ``to_mdtraj``).

    Plan shape: the two primitive plans each scan the coords
    lineage with role-restricted atom pushdown, then meet in ONE
    equi-join on (frame_id, triplet_id) — both sides are already
    hash-partitioned by frame-dominated keys, and the triplet table
    is broadcast inside each primitive.  Pass dyadic thresholds
    (0.5, 1.75 are exact in f32/f64) so the flag comparison cannot
    straddle an engine rounding difference.
    """
    from dask_traj_spark.operators.distance import compute_distances

    arr = _normalize_indices(
        triplets, 3, n_atoms or traj.n_atoms, "triplets"
    )
    a = compute_angles(
        traj, arr, periodic=periodic, form="sql", n_atoms=n_atoms,
        _round6_double=_round6_double,
    )
    d = compute_distances(
        traj, arr[:, 1:3], periodic=periodic, form="sql", n_atoms=n_atoms
    ).select(
        F.col("frame_id").alias("_dfid"),
        F.col("pair_id").alias("_dpid"),
        "dist",
    )
    j = a.join(
        d,
        (F.col("frame_id") == F.col("_dfid"))
        & (F.col("triplet_id") == F.col("_dpid")),
    )
    return j.select(
        "frame_id",
        "triplet_id",
        "dist",
        "angle_rad",
        (
            (F.col("dist") < F.lit(dist_cutoff))
            & (F.col("angle_rad") > F.lit(angle_min))
        ).alias("is_hbond"),
    )

"""Unit-cell algebra (G9/G10) as pure SQL expression sets.

The reference implements these as numpy trig kernels
(``/root/reference/dask_traj/utils/validation.py:146-229`` lengths/
angles → Bravais vectors, ``:232-292`` the inverse via einsum dot
products). Both are embarrassingly per-row, so here they are plain
column expressions — whole-stage-codegen'd JVM math, no UDF, no
shuffle, applied to the per-frame ``unitcell`` dimension table.

Conventions (same as the reference): lengths in nm, angles in
degrees; vector layout is the reduced (lower-triangular) Bravais
form: a=(ax,0,0), b=(bx,by,0), c=(cx,cy,cz). Values with
|v| < 1e-6 snap to zero (reference ``:224-227``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

_SNAP_TOL = 1e-6


def _snap(col: Column) -> Column:
    return F.when(F.abs(col) < _SNAP_TOL, F.lit(0.0)).otherwise(col)


def box_vector_exprs(
    a: Column, b: Column, c: Column, alpha: Column, beta: Column, gamma: Column
) -> dict[str, Column]:
    """(a,b,c,alpha,beta,gamma degrees) → 9 box-vector components.

    Reference math: validation.py:206-223 —
      av = (a, 0, 0)
      bv = (b cosγ, b sinγ, 0)
      cv = (c cosβ, c (cosα − cosβ cosγ)/sinγ, sqrt(c² − cx² − cy²))
    """
    ar, br, gr = F.radians(alpha), F.radians(beta), F.radians(gamma)
    cx = c * F.cos(br)
    cy = c * (F.cos(ar) - F.cos(br) * F.cos(gr)) / F.sin(gr)
    cz = F.sqrt(c * c - cx * cx - cy * cy)
    out = {
        "ax": a,
        "ay": F.lit(0.0),
        "az": F.lit(0.0),
        "bx": b * F.cos(gr),
        "by": b * F.sin(gr),
        "bz": F.lit(0.0),
        "cx": cx,
        "cy": cy,
        "cz": cz,
    }
    return {k: _snap(v) for k, v in out.items()}


def lengths_angles_exprs(
    ax: Column, ay: Column, az: Column,
    bx: Column, by: Column, bz: Column,
    cx: Column, cy: Column, cz: Column,
) -> dict[str, Column]:
    """Inverse: box vectors → lengths + angles in degrees.

    Reference math: validation.py:277-292 — norms, then
    α = deg(acos(b·c / (|b||c|))) etc.
    """
    na = F.sqrt(ax * ax + ay * ay + az * az)
    nb = F.sqrt(bx * bx + by * by + bz * bz)
    nc = F.sqrt(cx * cx + cy * cy + cz * cz)
    dot_bc = bx * cx + by * cy + bz * cz
    dot_ca = cx * ax + cy * ay + cz * az
    dot_ab = ax * bx + ay * by + az * bz
    clamp = lambda e: F.greatest(F.lit(-1.0), F.least(F.lit(1.0), e))  # noqa: E731
    return {
        "a": na,
        "b": nb,
        "c": nc,
        "alpha": F.degrees(F.acos(clamp(dot_bc / (nb * nc)))),
        "beta": F.degrees(F.acos(clamp(dot_ca / (nc * na)))),
        "gamma": F.degrees(F.acos(clamp(dot_ab / (na * nb)))),
    }


def lengths_angles_np(box: np.ndarray) -> np.ndarray:
    """NumPy twin of :func:`with_lengths_and_angles` for box vectors
    the driver already holds: (F, 3, 3) → (F, 6) float32 (a, b, c,
    alpha, beta, gamma). The same float64 operations (on the vectors
    widened to float64, as the SQL form casts its columns) in the same
    order as :func:`lengths_angles_exprs`, the same clamp, degrees
    and float32 cast, so the result matches the SQL columns bit for
    bit."""
    v = np.asarray(box, dtype=np.float64)
    (ax, ay, az), (bx, by, bz), (cx, cy, cz) = (
        (v[:, r, 0], v[:, r, 1], v[:, r, 2]) for r in range(3)
    )
    na = np.sqrt(ax * ax + ay * ay + az * az)
    nb = np.sqrt(bx * bx + by * by + bz * bz)
    nc = np.sqrt(cx * cx + cy * cy + cz * cz)
    dot_bc = bx * cx + by * cy + bz * cz
    dot_ca = cx * ax + cy * ay + cz * az
    dot_ab = ax * bx + ay * by + az * bz
    # a zero-length vector gives NaN here where the SQL form raises
    # DIVIDE_BY_ZERO; callers keep such boxes on the SQL path
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = [dot_bc / (nb * nc), dot_ca / (nc * na), dot_ab / (na * nb)]
    ang = [np.degrees(np.arccos(np.clip(c, -1.0, 1.0))) for c in cos]
    return np.stack([na, nb, nc, *ang], axis=-1).astype(np.float32)


def with_box_vectors(unitcell: DataFrame) -> DataFrame:
    """Append ax..cz columns derived from a..gamma (G9). Lazy — a
    projection on the per-frame dimension table."""
    e = box_vector_exprs(
        F.col("a").cast("double"), F.col("b").cast("double"), F.col("c").cast("double"),
        F.col("alpha").cast("double"), F.col("beta").cast("double"), F.col("gamma").cast("double"),
    )
    out = unitcell
    for k, v in e.items():
        out = out.withColumn(k, v.cast("float"))
    return out


def with_lengths_and_angles(unitcell: DataFrame) -> DataFrame:
    """Append a..gamma columns derived from ax..cz (G10)."""
    cols = [F.col(c).cast("double") for c in ("ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz")]
    e = lengths_angles_exprs(*cols)
    out = unitcell
    for k, v in e.items():
        out = out.withColumn(k, v.cast("float"))
    return out


def lengths_and_angles_to_box_vectors(df: DataFrame) -> DataFrame:
    """Public G9: df with (a,b,c,alpha,beta,gamma[,frame_id]) →
    + (ax..cz)."""
    return with_box_vectors(df)


def box_vectors_to_lengths_and_angles(df: DataFrame) -> DataFrame:
    """Public G10: df with (ax..cz[,frame_id]) → + (a..gamma)."""
    return with_lengths_and_angles(df)


def frame_orthogonality(traj, eps: float = 1e-4) -> DataFrame:
    """G8: the per-frame orthogonality predicate — every box angle
    within ``eps`` of 90° (reference computes it lazily per chunk to
    steer the MIC fast path, geometry/distance.py:128; the
    vectorized kernels here branch on the same predicate inside the
    UDF via ``_BoxLookup``). Exposed as a DataFrame op so the
    audit/oracle path can gate it."""
    from pyspark.sql import functions as F

    la = traj.unitcell_lengths_angles
    if la is None:
        raise ValueError("trajectory has no unitcell")
    cond = (
        (F.abs(F.col("alpha") - 90.0) < eps)
        & (F.abs(F.col("beta") - 90.0) < eps)
        & (F.abs(F.col("gamma") - 90.0) < eps)
    )
    return la.select("frame_id", cond.alias("orthogonal"))

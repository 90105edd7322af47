"""Numpy kernels for the Arrow-vectorized fast paths.

These are the engine's own vectorized implementations of the math
whose semantics the reference documents (it delegates the hot loops
to MDTraj's C/SSE extension — ``geometry/distance.py:53-63``,
``geometry/angle.py:48-52``; the pure-array slow paths at
``distance.py:209-236`` and ``angle.py:142-176`` define the
semantics we reproduce). They run inside the frame-block
``mapInArrow`` of ``distance.map_frame_blocks``, so each invocation
sees whole frames and is fully vectorized over (frames × pairs): a
tile of a block (``distance._index_tiles``) of at most the session's
Arrow batch size of output rows, so the same math runs on any cut of
the (frame, index row) grid.

All inputs float32; intermediate MIC math in float32 (matching the
reference's float32 envelope); means accumulate in float64 (as the
reference's COM kernel does, ``distance.py:295``).
"""

from __future__ import annotations

import numpy as np


def displacements_np(
    xyz: np.ndarray,  # (B, n_atoms, 3) float32
    pairs_i: np.ndarray,  # (P,) int
    pairs_j: np.ndarray,
    box: np.ndarray | None = None,  # (B, 3, 3): rows are vectors a, b, c
    orthogonal: np.ndarray | None = None,  # (B,) bool
) -> np.ndarray:
    """Pair displacements r_j - r_i with optional MIC. → (B, P, 3) f32."""
    d = xyz[:, pairs_j, :]  # gather makes a fresh array we can mutate
    np.subtract(d, xyz[:, pairs_i, :], out=d)
    if box is None:
        return d.astype(np.float32, copy=False)
    ortho = (
        orthogonal
        if orthogonal is not None
        else np.zeros(len(d), dtype=bool)
    )
    if ortho.all():
        L = np.stack(
            [box[:, 0, 0], box[:, 1, 1], box[:, 2, 2]], axis=-1
        )[:, None, :]  # (B, 1, 3)
        q = d / L
        np.rint(q, out=q)
        q *= L
        d -= q
        return d.astype(np.float32, copy=False)
    out = np.empty_like(d, dtype=np.float32)
    if ortho.any():
        L = np.stack(
            [box[ortho, 0, 0], box[ortho, 1, 1], box[ortho, 2, 2]], axis=-1
        )[:, None, :]  # (b, 1, 3)
        dd = d[ortho]
        q = dd / L
        np.rint(q, out=q)
        q *= L
        dd -= q
        out[ortho] = dd
    if (~ortho).any():
        out[~ortho] = _triclinic_mic(d[~ortho], box[~ortho])
    return out


def _triclinic_mic(d: np.ndarray, box: np.ndarray) -> np.ndarray:
    """Deskew against the reduced lower-triangular box then minimize
    over the 27 neighbor images. d: (B, P, 3); box: (B, 3, 3)."""
    a = box[:, 0][:, None, :]  # (B,1,3)
    b = box[:, 1][:, None, :]
    c = box[:, 2][:, None, :]
    d = d - c * np.rint(d[..., 2:3] / c[..., 2:3])
    d = d - b * np.rint(d[..., 1:2] / b[..., 1:2])
    d = d - a * np.rint(d[..., 0:1] / a[..., 0:1])
    best = d.copy()
    best_n2 = (best ** 2).sum(-1)
    for si in (-1, 0, 1):
        for sj in (-1, 0, 1):
            for sk in (-1, 0, 1):
                if si == sj == sk == 0:
                    continue
                cand = d - si * a - sj * b - sk * c
                n2 = (cand ** 2).sum(-1)
                better = n2 < best_n2
                best[better] = cand[better]
                best_n2[better] = n2[better]
    return best.astype(np.float32, copy=False)


def distances_np(xyz, pairs_i, pairs_j, box=None, orthogonal=None) -> np.ndarray:
    """Pair distances → (B, P) float32."""
    d = displacements_np(xyz, pairs_i, pairs_j, box, orthogonal)
    d2 = np.einsum("...c,...c->...", d, d)
    return np.sqrt(d2, out=d2).astype(np.float32, copy=False)


def angles_np(xyz, trip_i, trip_j, trip_k, box=None, orthogonal=None) -> np.ndarray:
    """Angle at the middle atom j of each (i,j,k) → (B, T) float32
    radians. Semantics per the reference's ``_angle``
    (angle.py:142-176): u = r_i - r_j, v = r_k - r_j (each MIC'd),
    angle = arccos(û · v̂)."""
    u = displacements_np(xyz, trip_j, trip_i, box, orthogonal)
    v = displacements_np(xyz, trip_j, trip_k, box, orthogonal)
    un = np.sqrt((u ** 2).sum(-1))
    vn = np.sqrt((v ** 2).sum(-1))
    cosang = (u * v).sum(-1) / (un * vn)
    np.clip(cosang, -1.0, 1.0, out=cosang)
    return np.arccos(cosang).astype(np.float32)


def is_orthogonal_np(angles_deg: np.ndarray, tol: float = 1e-5) -> np.ndarray:
    """(B, 3) degrees → (B,) bool, allclose(angles, 90)."""
    return (np.abs(angles_deg - 90.0) < tol).all(axis=-1)


def dihedrals_np(xyz, q_i, q_j, q_k, q_l, box=None, orthogonal=None) -> np.ndarray:
    """Signed torsion of each (i,j,k,l) quartet → (B, Q) float32
    radians in (-π, π].  mdtraj-style atan2 formulation (public
    ``geometry.dihedral``): b1 = r_j−r_i, b2 = r_k−r_j, b3 = r_l−r_k
    (each MIC'd), angle = atan2(|b2|·(b1·(b2×b3)), (b1×b2)·(b2×b3))."""
    b1 = displacements_np(xyz, q_i, q_j, box, orthogonal).astype(np.float64)
    b2 = displacements_np(xyz, q_j, q_k, box, orthogonal).astype(np.float64)
    b3 = displacements_np(xyz, q_k, q_l, box, orthogonal).astype(np.float64)
    c23 = np.cross(b2, b3)
    c12 = np.cross(b1, b2)
    y = np.sqrt((b2 ** 2).sum(-1)) * (b1 * c23).sum(-1)
    x = (c12 * c23).sum(-1)
    return np.arctan2(y, x).astype(np.float32)

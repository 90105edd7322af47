"""Trajectory principal-component analysis (conformational PCA).

The standard dimensionality-reduction step of trajectory analysis:
reference users export with ``to_mdtraj()`` and run sklearn PCA on
the flattened coordinates (the workflow mdtraj's own PCA example
documents publicly).  Here it is Spark-first:

- **fit** = one distributed pass of sufficient statistics: each
  frame-complete Arrow block contributes its count, column sums and
  Gram matrix ``XᵀX`` (a (3m)² partial — m is the selected atom
  count, so the partial is tiny); the driver sums partials, forms
  the covariance, and runs one (3m)×(3m) ``eigh``.  No frame data
  ever leaves the executors.
- **project** = a map-only Arrow pass with the (k, 3m) component
  matrix broadcast — zero shuffle.

Determinism: sign convention is "largest-|loading| component
positive" per PC (ties broken by lowest index), so the fitted basis
is reproducible across runs and partitionings.  Exact bit-equality
across engines is NOT claimed (eigendecomposition is iterative);
the x20 gate pins the CONTRACT instead: orthonormal basis,
eigenvalue/variance agreement, non-increasing order, and the exact
variance budget (Σ per-PC variance ≤ total variance, equality at
full rank) — the invariants that pin a correct covariance + eigh
without an SQL-expressible decomposition (the x3/v4 pattern).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from dask_traj_spark.operators.distance import _arrow_schema, _list_column, _record_batch, map_frame_blocks
from dask_traj_spark.sources._arrow import numpy_column


def pca_fit(traj, atoms, k: int = 3):
    """Fit conformational PCA on the selected atoms → (mean (3m,),
    components (k, 3m), eigvals (k,), n_frames).  One distributed
    sufficient-statistics pass + a driver-side (3m)×(3m) eigh."""
    sel = np.unique(np.asarray(list(atoms), dtype=np.int64))
    m = len(sel)
    dim = 3 * m

    def partials(fids, xyz, _box, _ortho, _const):
        x = xyz.reshape(len(fids), dim).astype(np.float64)
        g = x.T @ x
        return {
            "n": np.array([len(fids)]),
            "s": _list_column(x.sum(axis=0)[None]),
            "g": _list_column(g.reshape(1, -1)),
        }

    schema = "n long, s array<double>, g array<double>"
    rows = map_frame_blocks(traj, partials, schema, atoms=sel).collect()
    if not rows:
        raise ValueError("empty trajectory")
    n = sum(r["n"] for r in rows)
    s = np.zeros(dim)
    g = np.zeros((dim, dim))
    for r in rows:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(dim, dim)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    cov = (cov + cov.T) / 2.0
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    eigvals = w[order]
    comps = v[:, order].T  # (k, dim)
    # deterministic sign: largest-|loading| entry positive
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mean, comps, eigvals, int(n)


def pca_project(traj, atoms, mean, components) -> DataFrame:
    """Project every frame onto the fitted components → (frame_id,
    pc ARRAY<double>): map-only Arrow pass, (k, 3m) matrix
    broadcast, zero shuffle."""
    sel = np.unique(np.asarray(list(atoms), dtype=np.int64))
    dim = 3 * len(sel)
    const = (np.asarray(mean, dtype=np.float64),
             np.asarray(components, dtype=np.float64))

    def gen(fids, xyz, _box, _ortho, c):
        mu, comps = c
        x = xyz.reshape(len(fids), dim).astype(np.float64) - mu
        proj = x @ comps.T  # (B, k)
        return {"frame_id": fids, "pc": _list_column(proj)}

    return map_frame_blocks(
        traj, gen, "frame_id long, pc array<double>", atoms=sel, const=const
    )


def principal_components(traj, atoms, k: int = 3) -> DataFrame:
    """Fit + project in one call → (frame_id, pc ARRAY<double>)."""
    mean, comps, _, _ = pca_fit(traj, atoms, k)
    return pca_project(traj, atoms, mean, comps)


def _features_df(traj, sel) -> DataFrame:
    """(frame_id, f ARRAY<double>) — flattened selected-atom
    coordinates per frame, one map-only pass."""
    dim = 3 * len(sel)

    def gen(fids, xyz, _box, _ortho, _const):
        x = xyz.reshape(len(fids), dim).astype(np.float64)
        return {"frame_id": fids, "f": _list_column(x)}

    return map_frame_blocks(traj, gen, "frame_id long, f array<double>", atoms=sel)


def tica_fit(traj, atoms, lag: int, k: int = 3, eps: float = 1e-10):
    """Time-lagged independent component analysis (Molgedey & Schuster
    1994 / Pérez-Hernández et al. 2013, both public): find the
    directions with the SLOWEST decorrelation — the kinetics-aware
    counterpart of PCA, which only finds the largest-variance
    directions.  Returns (mean (3m,), components (k, 3m) — columns of
    the C0-orthonormal basis, eigvals (k,) — lag-τ autocorrelations,
    n_pairs).

    Distributed shape: one map pass builds per-frame feature rows,
    ONE shuffle joins (t, t+lag) pairs (n_frames rows of 3m doubles —
    tiny next to the fact table), and per-batch outer-product partials
    reduce to the symmetrized C00/C0τ on the driver; the
    whitened-space eigh is (3m)×(3m).  Symmetrized estimator:
    C00 = (Caa + Cbb)/2, C0τ = (Cab + Cba)/2 over the pair set, which
    keeps the whitened matrix symmetric and eigvals real."""
    sel = np.unique(np.asarray(list(atoms), dtype=np.int64))
    dim = 3 * len(sel)
    feats = _features_df(traj, sel)
    a = feats.select(
        (F.col("frame_id") + int(lag)).alias("tt"), F.col("f").alias("fa")
    )
    b = feats.select(F.col("frame_id").alias("tt"), F.col("f").alias("fb"))
    pairs = a.join(b, "tt")

    schema = (
        "n long, sa array<double>, sb array<double>, "
        "gaa array<double>, gbb array<double>, gab array<double>"
    )
    out_schema = _arrow_schema(schema)

    def partials(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            xa, xb = (
                numpy_column(batch.column(c).flatten()).reshape(batch.num_rows, dim)
                for c in ("fa", "fb")
            )
            yield _record_batch(
                {
                    "n": np.array([len(xa)]),
                    "sa": _list_column(xa.sum(0)[None]),
                    "sb": _list_column(xb.sum(0)[None]),
                    "gaa": _list_column((xa.T @ xa).reshape(1, -1)),
                    "gbb": _list_column((xb.T @ xb).reshape(1, -1)),
                    "gab": _list_column((xa.T @ xb).reshape(1, -1)),
                },
                out_schema,
            )

    rows = pairs.mapInArrow(partials, schema).collect()
    if not rows:
        raise ValueError(f"no (t, t+{lag}) pairs — trajectory too short")
    n = sum(r["n"] for r in rows)
    sa = sum((np.asarray(r["sa"]) for r in rows), np.zeros(dim))
    sb = sum((np.asarray(r["sb"]) for r in rows), np.zeros(dim))
    gaa = sum((np.asarray(r["gaa"]).reshape(dim, dim) for r in rows),
              np.zeros((dim, dim)))
    gbb = sum((np.asarray(r["gbb"]).reshape(dim, dim) for r in rows),
              np.zeros((dim, dim)))
    gab = sum((np.asarray(r["gab"]).reshape(dim, dim) for r in rows),
              np.zeros((dim, dim)))
    mu = (sa + sb) / (2.0 * n)
    caa = gaa / n - np.outer(sa / n, mu) - np.outer(mu, sa / n) + np.outer(mu, mu)
    cbb = gbb / n - np.outer(sb / n, mu) - np.outer(mu, sb / n) + np.outer(mu, mu)
    cab = gab / n - np.outer(sa / n, mu) - np.outer(mu, sb / n) + np.outer(mu, mu)
    c00 = (caa + cbb) / 2.0
    c0t = (cab + cab.T) / 2.0
    # whiten: C00^-1/2 with a spectral cutoff for near-null directions
    w0, v0 = np.linalg.eigh((c00 + c00.T) / 2.0)
    keep = w0 > eps * w0.max()
    winv = v0[:, keep] / np.sqrt(w0[keep])
    m = winv.T @ c0t @ winv
    m = (m + m.T) / 2.0
    lam, u = np.linalg.eigh(m)
    order = np.argsort(lam)[::-1][:k]
    eigvals = lam[order]
    comps = (winv @ u[:, order]).T  # (k, dim), C00-orthonormal
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return mu, comps, eigvals, int(n)

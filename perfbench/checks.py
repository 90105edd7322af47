"""Output checks that do not use the package's own kernels.

Distances are recomputed in float64 NumPy from the fixture
generator's coordinates (orthogonal box, nearest image), and
compared at the reference's cross-engine tolerance. Jaccard
similarity is recomputed with Python sets.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

#: cross-engine tolerance of the reference against MDTraj
ATOL = 2e-6


def ref_distances(xyz: np.ndarray, pairs: np.ndarray, box_nm: float) -> np.ndarray:
    """(F, n_atoms, 3) coordinates, (P, 2) atom pairs → (F, P)
    float64 nearest-image distances in a cubic box."""
    x = xyz.astype(np.float64)
    L = float(np.float32(box_nm))
    d = x[:, pairs[:, 1], :] - x[:, pairs[:, 0], :]
    d -= L * np.rint(d / L)
    return np.sqrt((d * d).sum(-1))


@dataclass
class DistanceReference:
    """Everything the per-iteration checks compare against."""

    n: int
    total: float
    lo: float
    hi: float
    hist: np.ndarray  # counts per bin, index = bin id
    ambiguous: int  # distances within ATOL of a bin edge
    sample_frames: list[int]
    sample: np.ndarray  # (len(sample_frames), P)


def build_reference(
    frames_xyz, pairs: np.ndarray, box_nm: float, bin_width: float, sample_frames: list[int]
) -> DistanceReference:
    """``frames_xyz`` yields ``(frame_ids, xyz block)``."""
    n = 0
    total = 0.0
    lo, hi = np.inf, -np.inf
    hist = np.zeros(0, dtype=np.int64)
    ambiguous = 0
    sample = {}
    for fids, xyz in frames_xyz:
        d = ref_distances(xyz, pairs, box_nm)
        n += d.size
        total += float(d.sum())
        lo = min(lo, float(d.min()))
        hi = max(hi, float(d.max()))
        u = d / bin_width
        b = np.bincount(np.floor(u).astype(np.int64).ravel())
        if len(b) > len(hist):
            b[: len(hist)] += hist
            hist = b
        else:
            hist[: len(b)] += b
        ambiguous += int((np.abs(u - np.rint(u)) <= ATOL / bin_width).sum())
        for k, f in enumerate(fids):
            if f in sample_frames:
                sample[f] = d[k]
    return DistanceReference(
        n, total, lo, hi, hist, ambiguous, list(sample_frames),
        np.stack([sample[f] for f in sample_frames]),
    )


def check_aggregates(ref: DistanceReference, n: int, total: float, lo: float, hi: float) -> list[str]:
    """Row count exact; sum, min and max within what a per-element
    ``ATOL`` allows."""
    errs = []
    if n != ref.n:
        errs.append(f"row count {n} != {ref.n}")
    if not abs(total - ref.total) <= ref.n * ATOL:
        errs.append(f"distance sum {total!r} vs {ref.total!r}")
    if not abs(lo - ref.lo) <= ATOL:
        errs.append(f"min distance {lo!r} vs {ref.lo!r}")
    if not abs(hi - ref.hi) <= ATOL:
        errs.append(f"max distance {hi!r} vs {ref.hi!r}")
    return errs


def check_sample(ref: DistanceReference, frame_ids, pair_ids, dists) -> list[str]:
    """Long rows of the sampled frames against the reference: one row
    per (sampled frame, pair), each within ``ATOL``."""
    if len(dists) != ref.sample.size:
        return [f"{len(dists)} sampled rows, expected {ref.sample.size}"]
    row = {f: k for k, f in enumerate(ref.sample_frames)}
    fi = np.array([row.get(int(f), -1) for f in frame_ids])
    if (fi < 0).any():
        return ["rows returned for frames outside the sample"]
    got = np.full(ref.sample.shape, np.nan)
    got[fi, np.asarray(pair_ids)] = np.asarray(dists, dtype=np.float64)
    if np.isnan(got).any():
        return [f"{int(np.isnan(got).sum())} sampled (frame, pair) rows missing"]
    err = float(np.abs(got - ref.sample).max())
    return [] if err <= ATOL else [f"sampled distances off by {err:.3g} > {ATOL}"]


def check_histogram(ref: DistanceReference, bins, counts) -> list[str]:
    """RDF total exact; per-bin counts equal the reference's except
    for distances within ``ATOL`` of a bin edge, each of which may
    move one count between two neighbouring bins."""
    bins = np.asarray(bins, dtype=np.int64)
    counts = np.asarray(counts, dtype=np.int64)
    errs = []
    if int(counts.sum()) != ref.n:
        errs.append(f"histogram total {int(counts.sum())} != {ref.n}")
    if len(bins) and bins.min() < 0:
        return errs + ["negative bin id"]
    width = max(len(ref.hist), int(bins.max()) + 1 if len(bins) else 0)
    got = np.zeros(width, dtype=np.int64)
    got[bins] = counts
    want = np.zeros(width, dtype=np.int64)
    want[: len(ref.hist)] = ref.hist
    moved = int(np.abs(got - want).sum())
    if moved > 2 * ref.ambiguous:
        errs.append(f"histogram differs by {moved} counts (edge allowance {2 * ref.ambiguous})")
    return errs


def jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split(" ")), set(b.split(" "))
    return len(sa & sb) / len(sa | sb)


def check_pairs(text_of: dict[int, str], rows, threshold: float) -> list[str]:
    """``rows`` are (doc1, doc2, jaccard) results: each must pair two
    distinct documents whose word-set Jaccard, from Python sets,
    clears the threshold and equals the engine's."""
    errs = []
    for d1, d2, j in rows:
        if d1 == d2:
            errs.append(f"self pair {d1}")
            continue
        ref = jaccard(text_of[int(d1)], text_of[int(d2)])
        if ref < threshold or abs(ref - j) > 1e-9:
            errs.append(f"pair ({d1}, {d2}): engine {j!r}, Python sets {ref!r}")
    return errs[:5]

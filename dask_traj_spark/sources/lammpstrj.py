"""LAMMPS dump (``.lammpstrj``) trajectory source — text,
self-describing.

Public block layout per frame:

    ITEM: TIMESTEP            → step
    ITEM: NUMBER OF ATOMS     → n
    ITEM: BOX BOUNDS [xy xz yz] ...
        xlo xhi [xy] / ylo yhi [xz] / zlo zhi [yz]
    ITEM: ATOMS id ... x y z ...   (column labels declared inline)

Reference: ``file_returns['.lammpstrj'] = [xyz, unitcell_lengths,
unitcell_angles]`` (core/dask_traj.py:47). Coordinates are taken
from the ``x y z`` (or unwrapped ``xu yu zu``) columns, sorted by
atom ``id`` (LAMMPS dumps rows in arbitrary order!), and scaled
Å → nm like mdtraj does. Orthogonal bounds → lengths + 90° angles;
tilted bounds (xy/xz/yz) → triclinic vectors. Scaled coordinates
(``xs ys zs``) are rejected explicitly.

Index pass records byte offsets (coordinates skipped); decode runs
in partitions via the shared frame-chunk scan (``_arrow.py``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.sources._arrow import atom_range, load_indexed
from dask_traj_spark.trajectory import Trajectory

ANGSTROM_TO_NM = 0.1


def _box_from_bounds(bounds: np.ndarray, tilts: np.ndarray) -> np.ndarray:
    """LAMMPS (xlo xhi)×3 + (xy xz yz) → (3,3) row-vector matrix, Å."""
    (xlo, xhi), (ylo, yhi), (zlo, zhi) = bounds
    xy, xz, yz = tilts
    # tilted boxes store *bounding* extents; recover the cell edges
    xlo -= min(0.0, xy, xz, xy + xz)
    xhi -= max(0.0, xy, xz, xy + xz)
    ylo -= min(0.0, yz)
    yhi -= max(0.0, yz)
    return np.array(
        [
            [xhi - xlo, 0.0, 0.0],
            [xy, yhi - ylo, 0.0],
            [xz, yz, zhi - zlo],
        ]
    )


def index_lammpstrj(path: str):
    """One pass → [(frame_id, atoms_offset, n, step, box (3,3) Å,
    cols (list of ATOMS column labels))]."""
    frames = []
    with open(path, "rb") as f:
        fid = 0
        while True:
            line = f.readline()
            if not line:
                break
            if not line.startswith(b"ITEM: TIMESTEP"):
                raise ValueError(f"expected ITEM: TIMESTEP, got {line!r}")
            step = int(f.readline())
            nline = f.readline()
            if not nline.startswith(b"ITEM: NUMBER OF ATOMS"):
                # explicit ValueError, not a bare assert: asserts
                # vanish under -O and are not the documented contract
                raise ValueError(
                    f"expected ITEM: NUMBER OF ATOMS, got {nline!r}"
                )
            n = int(f.readline())
            if n < 0:
                raise ValueError(f"negative LAMMPS atom count {n}")
            bline = f.readline().decode(errors="replace")
            if not bline.startswith("ITEM: BOX BOUNDS"):
                raise ValueError(f"expected ITEM: BOX BOUNDS, got {bline!r}")
            tilted = " xy " in bline or bline.rstrip().endswith("xy xz yz")
            bounds = np.zeros((3, 2))
            tilts = np.zeros(3)
            for d in range(3):
                vals = [float(v) for v in f.readline().split()]
                bounds[d] = vals[:2]
                if tilted and len(vals) > 2:
                    tilts[d] = vals[2]
            aline = f.readline().decode(errors="replace")
            cols = aline.split()[2:]  # after 'ITEM: ATOMS'
            atoms_offset = f.tell()
            for _ in range(n):
                f.readline()
            frames.append(
                (fid, atoms_offset, n, step, _box_from_bounds(bounds, tilts), cols)
            )
            fid += 1
    return frames


def _coord_indices(cols: list[str]) -> tuple[int, int, int, int]:
    """(id_idx, x_idx, y_idx, z_idx) from the ATOMS column labels."""
    def find(*names):
        for nm in names:
            if nm in cols:
                return cols.index(nm)
        return -1

    idi = find("id")
    xi, yi, zi = find("x", "xu"), find("y", "yu"), find("z", "zu")
    if min(xi, yi, zi) < 0:
        if find("xs") >= 0:
            raise NotImplementedError(
                "scaled (xs ys zs) LAMMPS dumps are not supported — "
                "dump unscaled x y z"
            )
        raise ValueError(f"no x/y/z columns in ATOMS: {cols}")
    return idi, xi, yi, zi


def decode_chunk(path: str, specs, atoms: tuple[int, int]):
    """specs: [(frame_id, atoms_offset, n, cols)] → yield
    (frame_id, xyz (m,3) float32 nm), rows sorted by atom id, then
    cut to the ``atoms`` span (a dump's rows need not be in id order,
    so every line is read)."""
    with open(path, "rb") as f:
        for fid, offset, n, cols in specs:
            idi, xi, yi, zi = _coord_indices(cols)
            f.seek(offset)
            ids = np.empty(n, dtype=np.int64)
            xyz = np.empty((n, 3), dtype=np.float64)
            need = max(idi, xi, yi, zi) + 1
            for r in range(n):
                parts = f.readline().split()
                if len(parts) < need:
                    raise ValueError(
                        f"malformed LAMMPS atom line in frame {fid}"
                    )
                ids[r] = int(parts[idi]) if idi >= 0 else r
                xyz[r, 0] = float(parts[xi])
                xyz[r, 1] = float(parts[yi])
                xyz[r, 2] = float(parts[zi])
            lo, stop = atom_range(atoms, n)
            order = np.argsort(ids, kind="stable")[lo:stop]
            yield fid, (xyz[order] * ANGSTROM_TO_NM).astype(np.float32)


def load_lammpstrj(spark: SparkSession, path: str, chunks: int = 10) -> Trajectory:
    """Load a .lammpstrj dump: chunked lazy coords scan, box vectors
    (nm) from the bounds lines, step from TIMESTEP (time = step,
    format has no time unit)."""
    idx = index_lammpstrj(path)
    if not idx:
        raise ValueError(f"empty lammpstrj file: {path}")
    fids, offsets, natoms, steps, boxes, cols = zip(*idx)
    return load_indexed(
        spark, "lammpstrj", path, list(zip(fids, offsets, natoms, cols)), chunks,
        time=steps,
        step=steps,
        n_atoms=natoms,
        box=np.asarray(boxes) * ANGSTROM_TO_NM,
    )

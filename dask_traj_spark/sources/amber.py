"""AMBER text formats: restart (.inpcrd/.restrt/.rst7) and ASCII
trajectory (.crd/.mdcrd).

Public layouts:

- **restart**: title line; ``natoms [time]``; coordinates as 6F12.7
  (6 values per line, Å); optionally velocities (same extent);
  optionally one box line (a b c alpha beta gamma). Single frame.
  Reference: ``file_returns`` lists [xyz, time, lengths, angles]
  (core/dask_traj.py:42-45).
- **mdcrd**: title line; then per frame 3·natoms values as 10F8.3
  lines, followed by one 3-value box-lengths line when the run was
  periodic. The format does NOT carry the atom count — callers pass
  ``n_atoms=`` or ``top=`` (the reference likewise needs a topology).
  Box angles are not stored; we emit 90° — NOT the reference's
  ``ones_like`` 1.0° bug (SURVEY.md §8, core/dask_traj.py:316-318).

Both are Å → nm on read (G11).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.trajectory import Trajectory

ANGSTROM_TO_NM = 0.1


# ------------------------------------------------------------ restart


def read_restart(path: str):
    """→ (xyz (1, n, 3) nm f32, time|None, box (a,b,c,al,be,ga)|None
    in nm/deg)."""
    with open(path, errors="replace") as f:
        f.readline()  # title
        head = f.readline().split()
        if not head:
            raise ValueError("truncated AMBER restart (missing atom count)")
        n = int(head[0])
        time = float(head[1]) if len(head) > 1 else None
        vals = []
        for line in f:
            # fixed 12-char fields (values can abut when negative)
            s = line.rstrip("\n")
            row = [s[i : i + 12] for i in range(0, len(s), 12)]
            vals.extend(float(v) for v in row if v.strip())
    coords = np.array(vals[: 3 * n], dtype=np.float64).reshape(1, n, 3)
    rest = vals[3 * n :]
    box = None
    if len(rest) >= 3 * n + 6:  # velocities + box
        box = rest[3 * n : 3 * n + 6]
    elif len(rest) == 6:
        box = rest[:6]
    # len(rest) == 3n → velocities only; 0 → neither
    if box is not None:
        box = (
            box[0] * ANGSTROM_TO_NM,
            box[1] * ANGSTROM_TO_NM,
            box[2] * ANGSTROM_TO_NM,
            box[3],
            box[4],
            box[5],
        )
    return (coords * ANGSTROM_TO_NM).astype(np.float32), time, box


def load_restart(spark: SparkSession, path: str, **_options) -> Trajectory:
    """Single-frame AMBER restart → Trajectory (driver-side parse —
    the file is one frame by definition)."""
    import pandas as pd

    xyz, time, box = read_restart(path)
    n = xyz.shape[1]
    coords = spark.createDataFrame(
        pd.DataFrame(
            {
                "frame_id": np.zeros(n, dtype=np.int64),
                "atom_id": np.arange(n, dtype=np.int32),
                "x": xyz[0, :, 0],
                "y": xyz[0, :, 1],
                "z": xyz[0, :, 2],
            }
        ),
        schema="frame_id long, atom_id int, x float, y float, z float",
    )
    frames = spark.createDataFrame(
        [(0, float(time) if time is not None else 0.0, 0)],
        "frame_id long, time double, step long",
    )
    unitcell = None
    if box is not None:
        unitcell = spark.createDataFrame(
            [(0, *[float(v) for v in box])],
            "frame_id long, a float, b float, c float, "
            "alpha float, beta float, gamma float",
        )
    return Trajectory(coords, frames=frames, unitcell=unitcell)


# -------------------------------------------------------------- mdcrd


def index_mdcrd(path: str, n_atoms: int):
    """→ (has_box, [(frame_id, byte_offset)]). Frame extent is a
    fixed line count (ceil(3n/10) coord lines [+1 box line]), so one
    cheap line pass indexes the file; box presence is auto-detected
    from the first candidate box line (exactly 3 values)."""
    import os

    coord_lines = (3 * n_atoms + 9) // 10
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.readline()  # title
        first = f.tell()
        for _ in range(coord_lines):
            f.readline()
        pos = f.tell()
        nxt = f.readline()
        has_box = len(nxt.split()) == 3 if nxt else False
        frame_lines = coord_lines + (1 if has_box else 0)
        # frames are fixed BYTE stride only if lines are; re-scan
        # line-wise (text widths can vary) recording offsets
        f.seek(first)
        offsets = []
        fid = 0
        while f.tell() < size:
            offsets.append((fid, f.tell()))
            for _ in range(frame_lines):
                if not f.readline():
                    offsets.pop()
                    break
            else:
                fid += 1
                continue
            break
    return has_box, offsets


def _decode_frames(path: str, n_atoms: int, has_box: bool, specs):
    coord_lines = (3 * n_atoms + 9) // 10
    with open(path, "rb") as f:
        for fid, off in specs:
            f.seek(off)
            vals: list[float] = []
            for _ in range(coord_lines):
                s = f.readline().decode(errors="replace")
                s = s.rstrip("\n")
                vals.extend(
                    float(s[i : i + 8]) for i in range(0, len(s), 8) if s[i : i + 8].strip()
                )
            xyz = np.array(vals[: 3 * n_atoms], dtype=np.float64).reshape(n_atoms, 3)
            yield fid, (xyz * ANGSTROM_TO_NM).astype(np.float32)


def load_mdcrd(
    spark: SparkSession,
    path: str,
    n_atoms: int | None = None,
    top: "str | None" = None,
    chunks: int = 100,
) -> Trajectory:
    """AMBER ASCII trajectory. The atom count comes from ``n_atoms=``
    or a ``top=`` topology file (the format itself has none)."""
    import pandas as pd

    if n_atoms is None:
        if top is None:
            raise ValueError(
                ".crd/.mdcrd carries no atom count — pass n_atoms= or top="
            )
        from dask_traj_spark.sources.topology import load_topology

        topo = load_topology(spark, top)
        n_atoms = topo.count()
    else:
        topo = None
    has_box, offsets = index_mdcrd(path, n_atoms)

    # text frames are variable-width → decode per chunk via pandas
    # (the file set for this niche format is small; the partitioned
    # chunked scan of the binary formats applies if ever needed)
    boxes = []
    frames_iter = _decode_frames(path, n_atoms, has_box, offsets)
    coord_pdfs = []
    for fid, xyz in frames_iter:
        coord_pdfs.append(
            pd.DataFrame(
                {
                    "frame_id": np.full(n_atoms, fid, dtype=np.int64),
                    "atom_id": np.arange(n_atoms, dtype=np.int32),
                    "x": xyz[:, 0],
                    "y": xyz[:, 1],
                    "z": xyz[:, 2],
                }
            )
        )
    coords = spark.createDataFrame(
        pd.concat(coord_pdfs, ignore_index=True),
        schema="frame_id long, atom_id int, x float, y float, z float",
    )
    if has_box:
        coord_lines = (3 * n_atoms + 9) // 10
        with open(path, "rb") as f:
            for fid, off in offsets:
                f.seek(off)
                for _ in range(coord_lines):
                    f.readline()
                a, b, c = (float(v) for v in f.readline().split()[:3])
                boxes.append((fid, a * ANGSTROM_TO_NM, b * ANGSTROM_TO_NM,
                              c * ANGSTROM_TO_NM, 90.0, 90.0, 90.0))
    frames = spark.createDataFrame(
        [(fid, float(fid), fid) for fid, _off in offsets],
        "frame_id long, time double, step long",
    )
    unitcell = None
    if boxes:
        unitcell = spark.createDataFrame(
            boxes,
            "frame_id long, a float, b float, c float, "
            "alpha float, beta float, gamma float",
        )
    traj = Trajectory(coords, frames=frames, unitcell=unitcell)
    if topo is not None:
        traj.topology = topo
    return traj

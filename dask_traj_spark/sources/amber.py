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

from dask_traj_spark.sources._arrow import atom_range, load_indexed
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
    from dask_traj_spark.sources.loaders import from_wide_pandas

    xyz, time, box = read_restart(path)
    return from_wide_pandas(
        spark, xyz,
        time=[time if time is not None else 0.0],
        unitcell_lengths=None if box is None else [box[:3]],
        unitcell_angles=None if box is None else [box[3:]],
    )


# -------------------------------------------------------------- mdcrd


def index_mdcrd(path: str, n_atoms: int):
    """One line pass → (specs [(frame_id, offset, n_atoms)], box
    lengths [(a, b, c)] in Å, or None for a file without box lines).
    A frame is ceil(3n/10) coordinate lines [+1 box line]; lines can
    vary in width, so offsets are read, not computed. Box presence is
    auto-detected from the first candidate box line (exactly 3
    values; for one atom, from the line count: :func:`_one_atom_box`);
    a trailing partial frame is dropped."""
    if n_atoms < 1:
        raise ValueError(f"an mdcrd frame needs n_atoms >= 1, got {n_atoms}")
    coord_lines = (3 * n_atoms + 9) // 10
    specs: list[tuple[int, int, int]] = []
    boxes: list[tuple[float, float, float]] = []
    has_box = None
    with open(path, "rb") as f:
        f.readline()  # title
        while True:
            offset = f.tell()
            if not all([f.readline() for _ in range(coord_lines)]):
                break
            if has_box is None:
                pos = f.tell()
                has_box = len(f.readline().split()) == 3
                if has_box and n_atoms == 1:
                    has_box = _one_atom_box(path, f)
                f.seek(pos)
            if has_box:
                line = f.readline()
                if not line:
                    break
                a, b, c = (float(v) for v in line.split()[:3])
                boxes.append((a, b, c))
            specs.append((len(specs), offset, n_atoms))
    return specs, boxes if has_box else None


def _one_atom_box(path: str, f) -> bool:
    """Box presence in a 1-atom mdcrd, where every line (coordinates
    and box alike) has 3 values: a box-bearing file has 2 lines a
    frame, so an odd count of lines after the title means no box; an
    even count fits both layouts and raises."""
    f.seek(0)
    f.readline()  # title
    n_lines = sum(1 for _ in f)
    if n_lines % 2 == 0:
        raise ValueError(
            f"{path}: ambiguous 1-atom mdcrd — its {n_lines} lines read as "
            f"{n_lines} frames without a box or {n_lines // 2} with one"
        )
    return False


def decode_chunk(path: str, specs, atoms: tuple[int, int]):
    """specs: [(frame_id, offset, n_atoms)] → yield (frame_id,
    xyz (m, 3) float32 nm) of the ``atoms`` span; lines after it are
    not read."""
    with open(path, "rb") as f:
        for fid, offset, n in specs:
            lo, stop = atom_range(atoms, n)
            f.seek(offset)
            vals: list[float] = []
            for _ in range((3 * stop + 9) // 10):
                s = f.readline().decode(errors="replace").rstrip("\n")
                vals.extend(
                    float(s[i : i + 8]) for i in range(0, len(s), 8) if s[i : i + 8].strip()
                )
            if len(vals) < 3 * stop:
                raise ValueError(f"malformed mdcrd coordinates in frame {fid}")
            xyz = np.array(vals[3 * lo : 3 * stop], dtype=np.float64).reshape(-1, 3)
            yield fid, (xyz * ANGSTROM_TO_NM).astype(np.float32)


def load_mdcrd(
    spark: SparkSession,
    path: str,
    n_atoms: int | None = None,
    top: "str | None" = None,
    chunks: int = 100,
) -> Trajectory:
    """AMBER ASCII trajectory: a lazy scan of the one-pass frame
    index, time = frame number, box lengths (90° angles) from the
    same pass. The atom count comes from ``n_atoms=`` or a ``top=``
    topology file (the format itself has none)."""
    topo = None
    if n_atoms is None:
        if top is None:
            raise ValueError(
                ".crd/.mdcrd carries no atom count — pass n_atoms= or top="
            )
        from dask_traj_spark.sources.topology import load_topology

        topo = load_topology(spark, top)
        n_atoms = topo.count()
    specs, boxes = index_mdcrd(path, n_atoms)
    cells = None
    if boxes is not None:
        cells = [
            (fid, *(v * ANGSTROM_TO_NM for v in box), 90.0, 90.0, 90.0)
            for fid, box in enumerate(boxes)
        ]
    return load_indexed(
        spark, "amber", path, specs, chunks,
        time=np.arange(len(specs), dtype=np.float64),
        n_atoms=n_atoms,
        cell=cells,
        topology=topo,
    )

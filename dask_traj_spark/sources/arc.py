"""Tinker ARC (.arc) trajectory source — text, multi-frame.

Public layout per frame: ``natoms [title]`` line; optionally one
box line (``a b c alpha beta gamma``); then one line per atom:
``serial name x y z type [bonded...]`` (Å, free format). Reference:
``file_returns['.arc'] = [xyz, unitcell_lengths, unitcell_angles]``
(core/dask_traj.py:27). Same chunked shape as XYZ; the
box line is auto-detected (6 floats, first token non-integer-like
position — an atom line always starts with an integer serial AND
has a name token in position 2).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.sources._arrow import atom_range, load_indexed
from dask_traj_spark.trajectory import Trajectory

ANGSTROM_TO_NM = 0.1


def _is_box_line(parts: list[bytes]) -> bool:
    """Box = exactly 6 floats; atom lines have a non-numeric name in
    field 2."""
    if len(parts) != 6:
        return False
    try:
        [float(p) for p in parts]
        return True
    except ValueError:
        return False


def index_arc(path: str):
    """→ [(frame_id, atoms_offset, n_atoms, box|None)] where box is
    (a,b,c,alpha,beta,gamma) in Å/deg."""
    frames = []
    with open(path, "rb") as f:
        fid = 0
        while True:
            head = f.readline()
            if not head.strip():
                break
            n = int(head.split()[0])
            pos = f.tell()
            nxt = f.readline()
            parts = nxt.split()
            if _is_box_line(parts):
                box = tuple(float(p) for p in parts)
                atoms_offset = f.tell()
            else:
                box = None
                atoms_offset = pos
                f.seek(pos)
            for _ in range(n):
                f.readline()
            frames.append((fid, atoms_offset, n, box))
            fid += 1
    return frames


def decode_chunk(path: str, specs, atoms: tuple[int, int]):
    """specs: [(frame_id, atoms_offset, n)] → (frame_id, xyz f32 nm)
    of the ``atoms`` span; lines after it are not read."""
    with open(path, "rb") as f:
        for fid, offset, n in specs:
            lo, stop = atom_range(atoms, n)
            f.seek(offset)
            rows = []
            for _ in range(stop):
                parts = f.readline().split()
                if len(parts) < 5:
                    # short/truncated atom line: documented contract is
                    # ValueError, not IndexError out of a Spark task
                    raise ValueError(
                        f"malformed ARC atom line in frame {fid}"
                    )
                rows.append((parts[2], parts[3], parts[4]))
            xyz = (
                np.array(rows[lo:], dtype=np.float64).reshape(-1, 3) * ANGSTROM_TO_NM
            ).astype(np.float32)
            yield fid, xyz


def load_arc(spark: SparkSession, path: str, chunks: int = 10) -> Trajectory:
    """Load a Tinker .arc trajectory (time = arange fallback, S8)."""
    idx = index_arc(path)
    if not idx:
        raise ValueError(f"empty ARC file: {path}")
    cells = [
        (fid, *(v * ANGSTROM_TO_NM for v in b[:3]), *b[3:])
        for fid, _o, _n, b in idx
        if b is not None
    ]
    specs = [(f, off, n) for f, off, n, _b in idx]
    return load_indexed(
        spark, "arc", path, specs, chunks,
        time=np.arange(len(idx), dtype=np.float64),
        n_atoms=[n for _f, _o, n in specs],
        cell=cells or None,
    )

"""BINPOS (AMBER/Scripps) trajectory source + sink.

Public layout: 4-byte magic ``fxyz`` then, per frame, int32 natoms
followed by 3·natoms float32 coordinates (Å, little-endian). Fixed
frame stride ⇒ header-free chunked partition planning like DCD.
Reference: ``file_returns['.binpos'] = ['xyz']``
(core/dask_traj.py:29). Å → nm on read (G11).
"""

from __future__ import annotations

import os
import struct

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.sources._arrow import atom_range, gather_host, load_indexed
from dask_traj_spark.trajectory import Trajectory

MAGIC = b"fxyz"
ANGSTROM_TO_NM = 0.1


class BinposInfo:
    def __init__(self, n_frames: int, n_atoms: int):
        self.n_frames = n_frames
        self.n_atoms = n_atoms
        self.frame_size = 4 + 12 * n_atoms


def read_info(path: str) -> BinposInfo:
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        if f.read(4) != MAGIC:
            raise ValueError(f"not a BINPOS file: {path}")
        n_atoms = struct.unpack("<i", f.read(4))[0]
    frame_size = 4 + 12 * n_atoms
    return BinposInfo((size - 4) // frame_size, n_atoms)


def _read_frames(path: str, info: BinposInfo, start: int, count: int, atoms: tuple[int, int]):
    """Yield (frame_id, xyz (m, 3) float32 nm), reading only the byte
    span of the ``atoms`` span."""
    lo, stop = atom_range(atoms, info.n_atoms)
    with open(path, "rb") as f:
        for fid in range(start, min(start + count, info.n_frames)):
            f.seek(4 + fid * info.frame_size)
            n = struct.unpack("<i", f.read(4))[0]
            if n != info.n_atoms:
                raise ValueError(f"frame {fid}: natoms {n} != {info.n_atoms}")
            f.seek(12 * lo, 1)
            xyz = np.frombuffer(f.read(12 * (stop - lo)), dtype="<f4").reshape(-1, 3)
            yield fid, (xyz.astype(np.float64) * ANGSTROM_TO_NM).astype(np.float32)


def write_binpos(traj: Trajectory, path: str) -> None:
    """Sink: driver-side BINPOS export (nm → Å)."""
    xyz = gather_host(traj).xyz
    n_frames, n_atoms, _ = xyz.shape
    ang = (xyz.astype(np.float64) / ANGSTROM_TO_NM).astype("<f4")
    with open(path, "wb") as f:
        f.write(MAGIC)
        for fid in range(n_frames):
            f.write(struct.pack("<i", n_atoms))
            f.write(ang[fid].tobytes())


def decode_chunk(path: str, payload: tuple[int, int], atoms: tuple[int, int]):
    start, count = payload
    return _read_frames(path, read_info(path), start, count, atoms)


def load_binpos(spark: SparkSession, path: str, chunks: int = 100) -> Trajectory:
    """Load a .binpos trajectory (xyz only — no time/box in the
    format; time falls back to arange, reference S8)."""
    info = read_info(path)
    return load_indexed(
        spark, "binpos", path, info.n_frames, chunks,
        time=np.arange(info.n_frames, dtype=np.float64),
        n_atoms=info.n_atoms,
    )

"""XYZ-format trajectory source.

The analog of the reference's chunked lazy loader (S1-S3:
``core/dask_traj.py:61-140`` builds one delayed ``read_chunk`` per
frame-chunk; ``:329-361`` seeks and decodes one chunk), through the
shared frame-chunk scan in ``_arrow.py``:

- ``index_xyz`` → the driver scans the file once to index frame byte
  offsets and atom counts (the equivalent of the reference's eager
  ``len(f)`` frame count; for cluster-scale files the index would
  live in a sidecar, the read path is unchanged), which
  ``load_indexed`` cuts into chunks;
- ``decode_chunk`` → seek to the chunk's byte offsets and decode its
  frames.

XYZ text format: per frame, a line with n_atoms, a comment line,
then n_atoms lines of ``element x y z`` (Å). Coordinates are scaled
to nm on read (G11 — reference converts via ``in_units_of``,
core/dask_traj.py:241-242).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.sources._arrow import atom_range, load_indexed
from dask_traj_spark.trajectory import Trajectory

ANGSTROM_TO_NM = 0.1


def _open(path: str):
    """Binary opener, gzip-transparent (.xyz.gz — the stream is
    unsplittable, so gz partitions re-inflate up to their offset;
    fine for the archival single-file case this exists for)."""
    if path.endswith(".gz"):
        import gzip

        return gzip.open(path, "rb")
    return open(path, "rb")


def index_xyz(path: str) -> list[tuple[int, int, int]]:
    """One pass over the file → [(frame_id, byte_offset, n_atoms)]."""
    frames = []
    off = 0
    fid = 0
    with _open(path) as f:
        while True:
            start = off
            line = f.readline()
            if not line:
                break
            off += len(line)
            n = int(line.strip())
            comment = f.readline()
            off += len(comment)
            for _ in range(n):
                row = f.readline()
                off += len(row)
            frames.append((fid, start, n))
            fid += 1
    return frames


def decode_chunk(path: str, specs: list[tuple[int, int, int]], atoms: tuple[int, int]):
    """specs: [(frame_id, offset, n_atoms)] → yield (frame_id,
    xyz (m, 3) float32 nm) of the ``atoms`` span; lines after it are
    not read."""
    with _open(path) as f:
        for fid, offset, n in specs:
            lo, stop = atom_range(atoms, n)
            f.seek(offset)
            f.readline()  # n_atoms
            f.readline()  # comment
            rows = []
            for _ in range(stop):
                parts = f.readline().split()
                if len(parts) < 4:
                    # short/truncated atom line: the documented
                    # corrupt-file contract is ValueError, and a
                    # ragged row list would otherwise IndexError (or
                    # silently mis-shape) downstream
                    raise ValueError(
                        f"malformed XYZ atom line in frame {fid}"
                    )
                rows.append(parts[1:4])
            # parse + scale in float64, then narrow once to FLOAT
            xyz = (np.array(rows[lo:], dtype=np.float64).reshape(-1, 3) * ANGSTROM_TO_NM).astype(np.float32)
            yield fid, xyz


def load_xyz(spark: SparkSession, path: str, chunks: int = 10) -> Trajectory:
    """Load an .xyz text trajectory as a Trajectory: a lazy scan of
    the one-pass frame index; time falls back to synthetic frame
    numbering (reference S8, core/dask_traj.py:267-273)."""
    specs = index_xyz(path)
    return load_indexed(spark, "xyz", path, specs, chunks, n_atoms=[n for _f, _o, n in specs])

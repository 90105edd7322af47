"""DCD (CHARMM/NAMD) binary trajectory source + sink.

A real binary trajectory format, implemented from the public CHARMM
/X-PLOR container description (Fortran-record framing: every block
is wrapped in 4-byte little-endian length prefix/suffix):

- header record: ``'CORD'`` + 20 int32 control words (icntrl):
  [0]=n_frames, [1]=first step, [2]=step interval, [10]=unit-cell
  flag, [19]=CHARMM version tag;
- title record: int32 count + 80-byte title lines;
- natoms record: one int32;
- per frame: optional unit-cell record (6 float64 — the XTLA layout
  ``[a, cos γ, b, cos β, cos α, c]``), then three float32 records
  (all x, all y, all z) in Å.

Fixed frame stride ⇒ byte offsets are computable from the header
alone, so the load needs NO file scan (unlike text XYZ): the header's
frame count is cut into one ``(start, count)`` payload per
frame-chunk, decoded by seek — the
reference's chunked lazy load (core/dask_traj.py:103-140,329-361)
through the shared frame-chunk scan (``_arrow.py``).
Coordinates are converted Å → nm on read (G11).

Two writers: ``write_dcd`` (driver-side collect → one file, for
small exports) and ``parts.write_traj_parts(traj, dir, "dcd")``
(distributed — every partition writes a standalone part file for
its frame range; ``parts.merge_parts`` stitches them into a single
file when needed).
"""

from __future__ import annotations

import math
import struct

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.sources._arrow import (
    ALL_ATOMS,
    atom_range,
    gather_host,
    load_indexed,
)
from dask_traj_spark.trajectory import Trajectory

ANGSTROM_TO_NM = 0.1
_HDR = struct.Struct("<i4s20i i")  # reclen, 'CORD', icntrl, reclen


class DCDInfo:
    def __init__(self, n_frames, n_atoms, has_cell, data_offset, frame_size):
        self.n_frames = n_frames
        self.n_atoms = n_atoms
        self.has_cell = has_cell
        self.data_offset = data_offset
        self.frame_size = frame_size


def _must_read(f, n: int, what: str) -> bytes:
    b = f.read(n)
    if len(b) < n:
        # the documented corrupt-file contract is ValueError, never a
        # raw struct.error out of a Spark task
        raise ValueError(f"truncated DCD file (short {what})")
    return b


def read_info(path: str) -> DCDInfo:
    import os

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        rl = struct.unpack("<i", _must_read(f, 4, "header record length"))[0]
        if rl != 84:
            raise ValueError(f"not a DCD file (header record {rl} != 84)")
        magic = f.read(4)
        if magic != b"CORD":
            raise ValueError(f"not a DCD file (magic {magic!r})")
        icntrl = struct.unpack("<20i", _must_read(f, 80, "icntrl block"))
        f.read(4)  # trailing reclen
        hdr_frames = icntrl[0]
        has_cell = icntrl[10] == 1
        # title record
        trl = struct.unpack("<i", _must_read(f, 4, "title record length"))[0]
        if trl < 0 or trl > size:
            raise ValueError(f"corrupt DCD title record length {trl}")
        f.seek(trl, 1)
        f.read(4)
        # natoms record
        f.read(4)
        n_atoms = struct.unpack("<i", _must_read(f, 4, "atom count"))[0]
        if n_atoms <= 0:
            raise ValueError(f"corrupt DCD atom count {n_atoms}")
        f.read(4)
        data_offset = f.tell()
        coord_block = 4 + 4 * n_atoms + 4
        cell_block = (4 + 48 + 4) if has_cell else 0
        frame_size = cell_block + 3 * coord_block
        # bound the frame count by what the file can actually hold:
        # simulations killed mid-write leave a stale header count
        # (reading by file size is the ecosystem convention), and a
        # CORRUPT header claiming 2^31 frames would otherwise turn
        # any full-file read into a multi-hour empty-read spin
        avail = max(0, (size - data_offset) // frame_size)
        n_frames = avail if hdr_frames <= 0 else min(hdr_frames, avail)
        return DCDInfo(n_frames, n_atoms, has_cell, data_offset, frame_size)


def _read_frames(
    path: str, info: DCDInfo, start: int, count: int, atoms: tuple[int, int] = ALL_ATOMS
):
    """Yield (frame_id, xyz_nm (m, 3) float32) for frames
    [start, start+count), reading only the byte span of the
    ``atoms`` span from each of a frame's x, y and z records."""
    lo, stop = atom_range(atoms, info.n_atoms)
    record = 4 + 4 * info.n_atoms + 4
    with open(path, "rb") as f:
        for fid in range(start, min(start + count, info.n_frames)):
            base = info.data_offset + fid * info.frame_size + (4 + 48 + 4 if info.has_cell else 0)
            cols = []
            for d in range(3):
                f.seek(base + d * record + 4 + 4 * lo)
                raw = _must_read(f, 4 * (stop - lo), "coordinate block")
                cols.append(np.frombuffer(raw, dtype="<f4"))
            xyz = np.stack(cols, axis=-1) * np.float32(ANGSTROM_TO_NM)
            yield fid, xyz


def read_cells(path: str) -> list[tuple[int, float, float, float, float, float, float]]:
    """(frame_id, a, b, c, alpha, beta, gamma) per frame, lengths nm.

    The XTLA layout ``[a, X γ, b, X β, X α, c]`` stores the angle
    slots either as cosines (CHARMM ≥ c22 XTLA convention) or as
    plain degrees (many NAMD / older CHARMM writers). Sniff per
    frame, the same heuristic the MD tool ecosystem settled on: all
    three values in [-1, 1] → cosines, else degrees. (A real cell
    angle below ~57.3° = 1 rad is chemically implausible, so the
    ranges don't collide in practice; a stored 90.0 interpreted as a
    cosine would clamp to cos=1 → 0° and silently corrupt every MIC
    distance downstream.)"""
    info = read_info(path)
    if not info.has_cell:
        return []
    out = []
    with open(path, "rb") as f:
        for fid in range(info.n_frames):
            f.seek(info.data_offset + fid * info.frame_size + 4)
            a, g_, b, b_, a_, c = struct.unpack("<6d", _must_read(f, 48, "cell record"))
            if all(abs(v) <= 1.0 for v in (g_, b_, a_)):
                conv = lambda x: math.degrees(  # noqa: E731
                    math.acos(max(-1.0, min(1.0, x)))
                )
            else:
                conv = lambda x: float(x)  # noqa: E731  (already degrees)
            out.append(
                (
                    fid,
                    a * ANGSTROM_TO_NM,
                    b * ANGSTROM_TO_NM,
                    c * ANGSTROM_TO_NM,
                    conv(a_),
                    conv(b_),
                    conv(g_),
                )
            )
    return out


def _write_dcd_file(
    path: str,
    xyz: "np.ndarray",
    cells: "np.ndarray | None",
    step_interval: int = 1,
) -> None:
    """Serialize one standalone DCD file: xyz (n_frames, n_atoms, 3)
    in nm, cells (n_frames, 6) lengths nm / angles deg or None."""
    n_frames, n_atoms, _ = xyz.shape
    with open(path, "wb") as f:
        icntrl = [0] * 20
        icntrl[0] = n_frames
        icntrl[1] = 0
        icntrl[2] = step_interval
        icntrl[10] = 1 if cells is not None else 0
        icntrl[19] = 24  # CHARMM version tag
        f.write(struct.pack("<i", 84))
        f.write(b"CORD")
        f.write(struct.pack("<20i", *icntrl))
        f.write(struct.pack("<i", 84))
        title = b"Written by dask_traj_spark".ljust(80)[:80]
        f.write(struct.pack("<i", 84 + 0))  # 4 + 80
        f.write(struct.pack("<i", 1))
        f.write(title)
        f.write(struct.pack("<i", 84))
        f.write(struct.pack("<i", 4))
        f.write(struct.pack("<i", n_atoms))
        f.write(struct.pack("<i", 4))
        ang = xyz.astype(np.float64) / ANGSTROM_TO_NM
        for fid in range(n_frames):
            if cells is not None:
                a, b, c, al, be, ga = cells[fid]
                rec = struct.pack(
                    "<6d",
                    a / ANGSTROM_TO_NM,
                    math.cos(math.radians(ga)),
                    b / ANGSTROM_TO_NM,
                    math.cos(math.radians(be)),
                    math.cos(math.radians(al)),
                    c / ANGSTROM_TO_NM,
                )
                f.write(struct.pack("<i", 48) + rec + struct.pack("<i", 48))
            for d in range(3):
                col = ang[fid, :, d].astype("<f4").tobytes()
                f.write(struct.pack("<i", 4 * n_atoms))
                f.write(col)
                f.write(struct.pack("<i", 4 * n_atoms))


def write_dcd(
    traj: Trajectory, path: str, step_interval: int = 1
) -> None:
    """Sink: driver-side DCD export (nm → Å). Writes the unit-cell
    records when the trajectory has one."""
    host = gather_host(traj)
    _write_dcd_file(path, host.xyz, host.cell, step_interval)


def decode_chunk(path: str, payload: tuple[int, int], atoms: tuple[int, int]):
    start, count = payload
    return _read_frames(path, read_info(path), start, count, atoms)


def load_dcd(spark: SparkSession, path: str, chunks: int = 100) -> Trajectory:
    """Load a .dcd binary trajectory (lazy chunked scan). Unit-cell
    records (tiny: 48 bytes/frame) are indexed driver-side into the
    per-frame unitcell dimension."""
    info = read_info(path)
    # the header counts decode_chunk trusts; no frames table, as
    # before (the format has no time)
    return load_indexed(
        spark, "dcd", path, info.n_frames, chunks,
        n_atoms=info.n_atoms,
        cell=read_cells(path) or None,
    )

"""TRR (GROMACS full-precision) trajectory source + sink.

Implemented from the public trn container description (XDR
big-endian records per frame):

- int32 magic (1993),
- the version string ``GMX_trn_file`` (XDR string: int32 length
  incl. NUL, bytes, pad to 4),
- 10 section sizes (ir, e, box, vir, pres, top, sym, x, v, f) as
  int32 — float vs double is inferred from ``box_size``/``x_size``
  (36/72 resp. natoms·12/natoms·24),
- int32 natoms, int32 step, int32 nre, float t, float lambda,
- the sections themselves: box 3×3, then x/v/f arrays (natoms, 3).

Fixed per-frame stride (header + constant sections) ⇒ chunked
partition planning from the first header, like DCD. Reader consumes
positions (x); velocities/forces are skipped. Writer emits
float32 x-only frames. Units are nm natively — no conversion.
"""

from __future__ import annotations

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

MAGIC = 1993
_TITLE = b"GMX_trn_file"


class TRRInfo:
    def __init__(self, n_frames, n_atoms, frame_size, double, has_v, has_f, box_size):
        self.n_frames = n_frames
        self.n_atoms = n_atoms
        self.frame_size = frame_size
        self.double = double
        self.has_v = has_v
        self.has_f = has_f
        self.box_size = box_size


def _must_read(f, n: int, what: str) -> bytes:
    b = f.read(n)
    if len(b) < n:
        # the documented corrupt-file contract is ValueError, never a
        # raw struct.error out of a Spark task
        raise ValueError(f"truncated TRR file (short {what})")
    return b


def _read_header(f):
    """Parse one frame header at the current position → dict or None
    at EOF."""
    head = f.read(4)
    if len(head) < 4:
        return None
    magic = struct.unpack(">i", head)[0]
    if magic != MAGIC:
        raise ValueError(f"not a TRR frame (magic {magic})")
    slen = struct.unpack(">i", _must_read(f, 4, "title length"))[0]
    if slen < 0:
        raise ValueError(f"corrupt TRR title length {slen}")
    f.read((slen + 3) // 4 * 4)  # title bytes, padded
    (ir, e, box, vir, pres, top, sym, x, v, ffs) = struct.unpack(
        ">10i", _must_read(f, 40, "section sizes")
    )
    if min(ir, e, box, vir, pres, top, sym, x, v, ffs) < 0:
        raise ValueError("corrupt TRR header (negative section size)")
    natoms, step, nre = struct.unpack(">3i", _must_read(f, 12, "atom count"))
    if natoms < 0:
        raise ValueError(f"corrupt TRR atom count {natoms}")
    double = box == 72 or (natoms > 0 and x == natoms * 24)
    fw = 8 if double else 4
    t, lam = struct.unpack(
        ">2d" if double else ">2f", _must_read(f, 2 * fw, "time/lambda")
    )
    return {
        "ir": ir, "e": e, "box": box, "vir": vir, "pres": pres,
        "top": top, "sym": sym, "x": x, "v": v, "f": ffs,
        "natoms": natoms, "step": step, "t": t, "lambda": lam,
        "double": double, "data_start": f.tell(),
    }


def read_info(path: str) -> TRRInfo:
    with open(path, "rb") as f:
        h = _read_header(f)
        if h is None:
            raise ValueError("empty TRR file")
        start = 0
        data = h["box"] + h["vir"] + h["pres"] + h["x"] + h["v"] + h["f"]
        frame_size = (h["data_start"] - start) + data
        if frame_size <= 0:
            raise ValueError("corrupt TRR header (non-positive frame size)")
        import os

        n_frames = os.path.getsize(path) // frame_size
        return TRRInfo(
            n_frames,
            h["natoms"],
            frame_size,
            h["double"],
            h["v"] > 0,
            h["f"] > 0,
            h["box"],
        )


def _read_frames(
    path: str, info: TRRInfo, start: int, count: int, atoms: tuple[int, int] = ALL_ATOMS
):
    """Yield (frame_id, step, t, box (3,3), xyz (m,3) f32) frames,
    reading only the byte span of the ``atoms`` span."""
    with open(path, "rb") as f:
        for fid in range(start, min(start + count, info.n_frames)):
            f.seek(fid * info.frame_size)
            h = _read_header(f)
            if h is None:
                raise ValueError(f"truncated TRR file (missing frame {fid})")
            fw = 8 if h["double"] else 4
            dt = ">9d" if h["double"] else ">9f"
            box = np.zeros((3, 3))
            if h["box"]:
                box = np.array(
                    struct.unpack(dt, _must_read(f, 9 * fw, "box record"))
                ).reshape(3, 3)
            f.seek(h["vir"] + h["pres"], 1)
            lo, stop = atom_range(atoms, h["natoms"])
            xdtype = ">f8" if h["double"] else ">f4"
            f.seek(3 * fw * lo, 1)
            xyz = np.frombuffer(
                _must_read(f, 3 * (stop - lo) * fw, "coordinate block"), dtype=xdtype
            ).reshape(-1, 3)
            yield fid, h["step"], h["t"], box, xyz.astype(np.float32)


def _read_meta(path: str, info: TRRInfo):
    """Header-only pass: yield (frame_id, step, t, box, natoms)
    without decoding coordinates (seeks past x/v/f)."""
    with open(path, "rb") as f:
        for fid in range(info.n_frames):
            f.seek(fid * info.frame_size)
            h = _read_header(f)
            if h is None:
                raise ValueError(f"truncated TRR file (missing frame {fid})")
            fw = 8 if h["double"] else 4
            box = np.zeros((3, 3))
            if h["box"]:
                dt = ">9d" if h["double"] else ">9f"
                box = np.array(
                    struct.unpack(dt, _must_read(f, 9 * fw, "box record"))
                ).reshape(3, 3)
            yield fid, h["step"], h["t"], box, h["natoms"]


def write_trr(traj: Trajectory, path: str) -> None:
    """Sink: driver-side float32 x-only TRR export."""
    host = gather_host(traj)
    _write_trr_file(path, host.xyz, host.time, host.box)


def _write_trr_file(
    path: str,
    xyz: "np.ndarray",
    time: "np.ndarray | None",
    boxes: "np.ndarray | None",
    step_offset: int = 0,
) -> None:
    """Serialize one standalone TRR file (per-frame headers, so
    part files concatenate by byte append)."""
    n_frames, n_atoms, _ = xyz.shape
    with open(path, "wb") as f:
        for fid in range(n_frames):
            f.write(struct.pack(">i", MAGIC))
            f.write(struct.pack(">i", len(_TITLE) + 1))
            padded = _TITLE + b"\x00"
            padded += b"\x00" * ((-len(padded)) % 4)
            f.write(padded)
            x_size = 3 * n_atoms * 4
            box_size = 36 if boxes is not None else 0
            f.write(
                struct.pack(
                    ">10i", 0, 0, box_size, 0, 0, 0, 0, x_size, 0, 0
                )
            )
            f.write(struct.pack(">3i", n_atoms, step_offset + fid, 0))
            t = float(time[fid]) if time is not None else float(step_offset + fid)
            f.write(struct.pack(">2f", t, 0.0))
            if boxes is not None:
                f.write(struct.pack(">9f", *boxes[fid].ravel()))
            f.write(xyz[fid].astype(">f4").tobytes())


def decode_chunk(path: str, payload: tuple[int, int], atoms: tuple[int, int]):
    start, count = payload
    for fid, _step, _t, _box, xyz in _read_frames(path, read_info(path), start, count, atoms):
        yield fid, xyz


def load_trr(spark: SparkSession, path: str, chunks: int = 100) -> Trajectory:
    """Load a .trr trajectory (chunked lazy scan + driver-side
    frame/box index)."""
    info = read_info(path)
    meta = list(_read_meta(path, info))
    return load_indexed(
        spark, "trr", path, info.n_frames, chunks,
        time=[t for _f, _s, t, _b, _n in meta],
        step=[s for _f, s, _t, _b, _n in meta],
        n_atoms=[n for _f, _s, _t, _b, n in meta],
        box=[b for _f, _s, _t, b, _n in meta] if info.box_size else None,
    )

"""GRO (GROMACS coordinate) trajectory source — text, multi-frame.

Reference parity: ``file_returns['.gro'] = [xyz, time,
unitcell_vectors]`` (core/dask_traj.py:49). Frame block layout
(public GROMACS spec, fixed columns):

- title line (optionally ``... t= <time ps>``),
- atom count,
- one line per atom: resid[0:5] resname[5:10] name[10:15]
  serial[15:20] x y z (%8.3f each, nm) [vx vy vz],
- box line: ``v1x v2y v3z [v1y v1z v2x v2z v3x v3y]`` (free format).

Like the XYZ source: one driver index pass records per-frame byte
offsets (plus time and box, which live in the frame header/footer —
no coordinate parsing), then the shared frame-chunk scan
decodes frame chunks in parallel. GRO is topology-bearing:
``load_gro`` attaches the topology parsed from the first frame
(the reference instead hits an unbound-name bug on topology-bearing
extensions — SURVEY.md §8; we do the right thing).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.sources._arrow import atom_range, gather_host, load_indexed
from dask_traj_spark.trajectory import Trajectory


def _parse_time(title: str) -> float | None:
    if " t=" in title:
        try:
            return float(title.rsplit("t=", 1)[1].split()[0])
        except (ValueError, IndexError):
            return None
    return None


def _parse_box(line: str) -> np.ndarray:
    """GROMACS box line → (3,3) row-vector matrix."""
    v = [float(x) for x in line.split()]
    if len(v) < 3:
        # truncated box line: documented contract is ValueError, not
        # an IndexError out of a Spark task
        raise ValueError(f"malformed GRO box line {line.strip()!r}")
    m = np.zeros((3, 3))
    m[0, 0], m[1, 1], m[2, 2] = v[0], v[1], v[2]
    if len(v) >= 9:
        m[0, 1], m[0, 2] = v[3], v[4]
        m[1, 0], m[1, 2] = v[5], v[6]
        m[2, 0], m[2, 1] = v[7], v[8]
    return m


def index_gro(path: str) -> list[tuple[int, int, int, float | None, np.ndarray]]:
    """One pass → [(frame_id, byte_offset, n_atoms, time|None,
    box (3,3))]; coordinates are skipped, not parsed."""
    frames = []
    with open(path, "rb") as f:
        fid = 0
        while True:
            start = f.tell()
            title = f.readline()
            if not title.strip():
                break
            n = int(f.readline().strip())
            for _ in range(n):
                f.readline()
            box = _parse_box(f.readline().decode(errors="replace"))
            t = _parse_time(title.decode(errors="replace"))
            frames.append((fid, start, n, t, box))
            fid += 1
    return frames


def decode_chunk(path: str, specs, atoms: tuple[int, int]):
    """specs: [(frame_id, offset, n_atoms)] → yield (frame_id,
    xyz (m,3) float32 nm) of the ``atoms`` span; lines after it are
    not read."""
    with open(path, "rb") as f:
        for fid, offset, n in specs:
            lo, stop = atom_range(atoms, n)
            f.seek(offset)
            f.readline()  # title
            f.readline()  # count
            rows = []
            for _ in range(stop):
                line = f.readline()
                if len(line) < 44:
                    raise ValueError(
                        f"malformed GRO atom line in frame {fid}"
                    )
                rows.append((line[20:28], line[28:36], line[36:44]))
            xyz = np.array(rows[lo:], dtype=np.float64).reshape(-1, 3).astype(np.float32)
            yield fid, xyz


def load_gro(spark: SparkSession, path: str, chunks: int = 10) -> Trajectory:
    """Load a (multi-frame) .gro file: chunked lazy coords scan,
    driver-side time/box index, topology from the first frame."""
    idx = index_gro(path)
    if not idx:
        raise ValueError(f"empty GRO file: {path}")
    from dask_traj_spark.sources.topology import load_topology

    fids, offsets, natoms, times, boxes = zip(*idx)
    return load_indexed(
        spark, "gro", path, list(zip(fids, offsets, natoms)), chunks,
        # time: from 't=' titles when present, else the arange
        # fallback (reference S8, core/dask_traj.py:267-273)
        time=[float(fid) if t is None else t for fid, t in zip(fids, times)],
        n_atoms=natoms,
        box=boxes if any(np.abs(b).sum() > 0 for b in boxes) else None,
        topology=load_topology(spark, path),
    )


def write_gro(traj: Trajectory, path: str) -> None:
    """Sink: driver-side multi-frame GRO export. Fixed-width records
    (``%5d%-5s%5s%5d`` then ``%8.3f`` coords in nm), title line
    carrying ``t=`` so the reader round-trips time, box line from
    the unitcell vectors (row-major, GROMACS order
    ``v1x v2y v3z v1y v1z v2x v2z v3x v3y``, trailing zeros
    trimmed to the diagonal form when orthorhombic). Residue/atom
    names come from the topology when present, ``MOL``/``X``
    placeholders otherwise."""
    host = gather_host(traj)
    xyz, time, boxes = host.xyz, host.time, host.box
    n_frames, n_atoms, _ = xyz.shape
    names = [("MOL", "X")] * n_atoms
    resids = [1] * n_atoms
    if traj.topology is not None:
        trows = (
            traj.topology.select("atom_id", "name", "residue_id", "residue_name")
            .orderBy("atom_id")
            .collect()
        )
        if len(trows) == n_atoms:
            names = [(r.residue_name or "MOL", r.name or "X") for r in trows]
            resids = [int(r.residue_id) + 1 for r in trows]
    with open(path, "w") as f:
        for fid in range(n_frames):
            f.write(f"frame {fid} t= {float(time[fid]):.5f}\n")
            f.write(f"{n_atoms:5d}\n")
            for a in range(n_atoms):
                resname, atom = names[a]
                f.write(
                    f"{resids[a] % 100000:5d}{resname[:5]:<5s}"
                    f"{atom[:5]:>5s}{(a + 1) % 100000:5d}"
                    f"{xyz[fid, a, 0]:8.3f}{xyz[fid, a, 1]:8.3f}"
                    f"{xyz[fid, a, 2]:8.3f}\n"
                )
            if boxes is not None:
                b = boxes[fid]
                off = [b[0, 1], b[0, 2], b[1, 0], b[1, 2], b[2, 0], b[2, 1]]
                line = f"{b[0, 0]:10.5f}{b[1, 1]:10.5f}{b[2, 2]:10.5f}"
                if any(abs(v) > 1e-9 for v in off):
                    line += "".join(f"{v:10.5f}" for v in off)
                f.write(line + "\n")
            else:
                f.write(f"{0.0:10.5f}{0.0:10.5f}{0.0:10.5f}\n")

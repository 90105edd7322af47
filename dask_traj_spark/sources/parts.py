"""Distributed sinks for the binary trajectory formats (XTC, TRR, DCD).

Every partition serializes its frame range to a standalone part file
(``part-00000.xtc``, ...) with the format's one serializer.
``merge_parts`` concatenates a part directory into a single valid
file: XTC and TRR carry a full header per frame, so their parts join
by plain byte append; DCD has one global header, so the merge keeps
the first part's header with its frame count patched and appends
every part's frame payload.

Scale shape: one writer task per frame-range group (applyInPandas),
per-frame time/box metadata gathered once by frame id and broadcast
(it is ~n_frames × 16 floats — tiny even at 10^8 frames), no
coordinate materializes on the driver.
"""

from __future__ import annotations

import glob
import os
import struct

import numpy as np
from pyspark.sql import functions as F

from dask_traj_spark.session import shared_broadcast
from dask_traj_spark.sources._arrow import _rows_for, gather_host
from dask_traj_spark.sources.dcd import _write_dcd_file, read_info
from dask_traj_spark.sources.trr import _write_trr_file
from dask_traj_spark.sources.xtc import _write_xtc_file
from dask_traj_spark.trajectory import Trajectory

# format → serializer(path, xyz, time, box, cell, first_step)
_PART_WRITERS = {
    "xtc": lambda p, xyz, t, box, cell, step: _write_xtc_file(p, xyz, t, box, step_offset=step),
    "trr": lambda p, xyz, t, box, cell, step: _write_trr_file(p, xyz, t, box, step_offset=step),
    "dcd": lambda p, xyz, t, box, cell, step: _write_dcd_file(p, xyz, cell),
}


def write_traj_parts(
    traj: Trajectory,
    directory: str,
    fmt: str,
    frames_per_part: int = 100,
) -> list[tuple[int, str, int]]:
    """Distributed export: part files of ``frames_per_part`` frame ids
    each, written by executors. Paths assume a filesystem all
    executors can reach. Returns the frame-ordered manifest
    [(part_no, path, n_frames)]."""
    import pandas as pd

    try:
        serialize = _PART_WRITERS[fmt]
    except KeyError:
        raise ValueError(
            f"format {fmt!r}: expected one of {sorted(_PART_WRITERS)}"
        ) from None
    os.makedirs(directory, exist_ok=True)

    host = gather_host(traj, xyz=False)
    b_meta = shared_broadcast(
        traj.spark.sparkContext, (host.frame_ids, host.time, host.box, host.cell)
    )
    fpp = int(frames_per_part)
    coords = traj.coords.withColumn(
        "part_no", F.expr(f"frame_id div {fpp}").cast("int")
    )

    def write_part(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        (part,) = key
        pdf = pdf.sort_values(["frame_id", "atom_id"])
        frame_ids = pdf["frame_id"].unique()
        nf = len(frame_ids)
        xyz = pdf[["x", "y", "z"]].to_numpy(np.float32).reshape(nf, -1, 3)
        fids, time, box, cell = b_meta.value
        rows = _rows_for(fids, frame_ids, "frame")
        p = os.path.join(directory, f"part-{part:05d}.{fmt}")
        serialize(
            p,
            xyz,
            time[rows],
            None if box is None else box[rows],
            None if cell is None else cell[rows],
            int(frame_ids[0]),
        )
        return pd.DataFrame(
            [(int(part), p, nf)], columns=["part_no", "path", "n_frames"]
        )

    manifest = (
        coords.groupBy("part_no")
        .applyInPandas(write_part, "part_no int, path string, n_frames long")
        .collect()
    )
    return sorted((r["part_no"], r["path"], r["n_frames"]) for r in manifest)


def merge_parts(directory: str, out_path: str, fmt: str) -> None:
    """Concatenate a part directory into one file: byte append for
    XTC/TRR; for DCD, the first part's header with the total frame
    count, then every part's frame payload."""
    parts = sorted(glob.glob(os.path.join(directory, f"part-*.{fmt}")))
    if not parts:
        raise ValueError(f"no part-*.{fmt} files in {directory}")
    header, starts = b"", [0] * len(parts)
    if fmt == "dcd":
        infos = [read_info(p) for p in parts]
        for p, i in zip(parts, infos):
            if (i.n_atoms, i.has_cell) != (infos[0].n_atoms, infos[0].has_cell):
                raise ValueError(f"part {p} layout mismatch")
        with open(parts[0], "rb") as f:
            header = f.read(infos[0].data_offset)
        # the frame count is icntrl[0], at byte 8
        total = sum(i.n_frames for i in infos)
        header = header[:8] + struct.pack("<i", total) + header[12:]
        starts = [i.data_offset for i in infos]
    with open(out_path, "wb") as out:
        out.write(header)
        for p, start in zip(parts, starts):
            with open(p, "rb") as f:
                f.seek(start)
                out.write(f.read())

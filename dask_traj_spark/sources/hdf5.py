"""MDTraj HDF5 (``.h5``/``.hdf5``) trajectory source — import-gated
on ``h5py``.

The MDTraj HDF5 layout (public spec, mdtraj.org "HDF5 trajectory
format"; ``file_returns['.h5'] = ['data']`` special case in the
reference, core/dask_traj.py:32-33) stores root datasets:

- ``coordinates``  float32 (n_frames, n_atoms, 3), nm
- ``time``         float32 (n_frames,), ps            [optional]
- ``cell_lengths`` float32 (n_frames, 3), nm          [optional]
- ``cell_angles``  float32 (n_frames, 3), degrees     [optional]
- ``topology``     1-element string dataset, JSON     [optional]

h5py is not installed in every environment (not in this one), so the
loaders carry TWO backends behind one adapter (``_H5File``): h5py
when importable (full HDF5 — any superblock, any filter), else the
vendored pure-``struct`` subset reader (:mod:`.hdf5_pure` — v0 AND
v2/v3 superblocks, v1/v2 object headers, contiguous and chunked
layouts (v1 B-tree plus the v4 single-chunk/implicit/fixed-array
indexes) with shuffle/deflate/fletcher32 filters, i.e. the layouts
h5py/mdtraj actually write for trajectories under both the default
and the ``libver='latest'`` file format; szip, extensible-array/
v2-B-tree chunk indexes and dense links still need h5py).  Either
way the
read path is the same chunked design as the binary sources: frame
chunks → partitions, per-partition slice reads (both layouts make a
frame-range slice an O(range) read — contiguous by seek, chunked by
touching only the overlapping chunks via the B-tree index).

``write_h5_traj`` / ``write_lh5`` are beyond-reference sinks
emitting the same MDTraj layouts (contiguous, readable by h5py,
PyTables-free).
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.sources._arrow import atom_range, gather_host, load_indexed
from dask_traj_spark.trajectory import Trajectory

try:  # pragma: no cover - h5py absent in the test container
    import h5py  # noqa: F401

    HAVE_H5PY = True
except ImportError:
    HAVE_H5PY = False


class _H5File:
    """Backend adapter: h5py when available, else the vendored
    pure-struct subset reader (v0/v2/v3-superblock files, contiguous
    or chunked with shuffle/deflate/fletcher32 — the vendored reader
    raises a descriptive ValueError on anything fancier, naming h5py
    as the way out)."""

    def __init__(self, path: str):
        if HAVE_H5PY:
            import h5py as _h5

            self._h = _h5.File(path, "r")
            self._pure = None
        else:
            from dask_traj_spark.sources.hdf5_pure import PureH5

            self._h = None
            self._pure = PureH5(path)

    def __contains__(self, name: str) -> bool:
        return name in self._h if self._h is not None else name in self._pure

    def shape(self, name: str):
        if self._h is not None:
            return self._h[name].shape
        return self._pure.shape(name)

    def read(self, name: str, start: int = 0, count: int | None = None):
        if self._h is not None:
            ds = self._h[name]
            stop = ds.shape[0] if count is None else start + count
            return ds[start:stop]
        return self._pure.read(name, start, count)

    def close(self) -> None:
        (self._h or self._pure).close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()


def _topology_from_json(spark: SparkSession, topo_json: str):
    """MDTraj topology JSON (chains → residues → atoms) → the
    topology dimension table."""
    doc = json.loads(topo_json)
    rows = []
    for chain in doc.get("chains", []):
        for res in chain.get("residues", []):
            for atom in res.get("atoms", []):
                rows.append(
                    (
                        int(atom["index"]),
                        atom.get("name", ""),
                        atom.get("element", ""),
                        0.0,  # masses are not stored in the JSON
                        int(res.get("index", 0)),
                        res.get("name", ""),
                        int(chain.get("index", 0)),
                    )
                )
    return spark.createDataFrame(
        rows,
        "atom_id int, name string, element string, mass double, "
        "residue_id int, residue_name string, chain_id int",
    )


def _coords_name(f) -> str:
    """MDTraj's ``coordinates`` when the file holds it, else the LH5
    ``XYZList``."""
    return "coordinates" if "coordinates" in f else "XYZList"


def decode_chunk(path: str, payload: tuple[int, int], atoms: tuple[int, int]):
    """Slice one frame range, then the ``atoms`` span; LH5's int16
    fixed point is nm × 1000."""
    start, count = payload
    with _H5File(path) as f:
        name = _coords_name(f)
        xyz = f.read(name, start, count)
    lo, stop = atom_range(atoms, xyz.shape[1])
    xyz = xyz[:, lo:stop]
    if name == "XYZList":
        xyz = xyz.astype("float32") / np.float32(1000.0)
    for i, frame in enumerate(xyz):
        yield start + i, frame


def load_hdf5(spark: SparkSession, path: str, chunks: int = 100) -> Trajectory:
    """Load an MDTraj HDF5 trajectory. Frame chunks parallelize
    through the shared frame-chunk scan (each task opens the file
    and slices its own frame range) via the h5py-or-vendored backend
    adapter."""
    with _H5File(path) as f:
        n_frames, n_atoms, _ = f.shape("coordinates")
        have_time = "time" in f
        have_cell = "cell_lengths" in f and "cell_angles" in f
        time = f.read("time").tolist() if have_time else None
        cells = None
        if have_cell:
            lengths, angles = f.read("cell_lengths").tolist(), f.read("cell_angles").tolist()
            cells = [
                (i, *map(float, lengths[i]), *map(float, angles[i]))
                for i in range(n_frames)
            ]
        topo_json = None
        # string datasets are h5py-only (the vendored subset reader
        # covers numeric types; topology is optional in the layout)
        if HAVE_H5PY and "topology" in f:
            raw = f._h["topology"][0]
            topo_json = raw.decode() if isinstance(raw, bytes) else str(raw)

    # the dataset shape decode_chunk trusts
    return load_indexed(
        spark, "hdf5", path, n_frames, chunks,
        time=time if time else np.arange(n_frames, dtype=np.float64),
        n_atoms=n_atoms,
        cell=cells,
        topology=_topology_from_json(spark, topo_json) if topo_json else None,
    )


def load_lh5(spark: SparkSession, path: str, chunks: int = 100) -> Trajectory:
    """Load a legacy MSMBuilder2 "lossy HDF5" (``.lh5``) trajectory
    (``file_returns['.lh5'] = ['xyz']``, core/dask_traj.py:40).

    Public layout (MDTraj's LH5 format doc): one root dataset
    ``XYZList`` of int16 with shape (n_frames, n_atoms, 3); physical
    coordinates in nm are the stored fixed-point values divided by
    1000. No time, no unit cell. Same chunked scan and backend
    adapter as :func:`load_hdf5`."""
    with _H5File(path) as f:
        # fails on the driver if the dataset is absent
        n_frames, n_atoms, _ = f.shape("XYZList")
    return load_indexed(spark, "hdf5", path, n_frames, chunks, n_atoms=n_atoms)


def write_h5_traj(
    traj: Trajectory, path: str, chunk_frames: int | None = None,
    gzip: bool = False, fmt_version: int = 0,
    extensible: bool = False,
) -> None:
    """Sink: MDTraj-HDF5 export through the vendored pure-struct
    writer (readable by h5py and by :func:`load_hdf5` alike).
    Writes ``coordinates`` (f32 nm), ``time`` (f32 ps) and, when the
    trajectory has a unit cell, ``cell_lengths``/``cell_angles``
    (f32).  ``chunk_frames`` switches the coordinate dataset to
    CHUNKED layout (that many frames per chunk); ``gzip`` adds the
    shuffle+deflate pipeline h5py/mdtraj write by default — the
    layout real ``.h5`` trajectories actually use.
    ``fmt_version=2`` writes the ``libver='latest'`` new file format
    (v3 superblock, OHDR headers, layout-v4 chunk indexes) instead
    of the library-default old format.  ``extensible=True`` (requires
    ``fmt_version=2`` and chunking) indexes the coordinates with the
    Extensible Array — the on-disk shape libhdf5 emits for
    unlimited-maxshape (append-mode) trajectory files."""

    from dask_traj_spark.sources.hdf5_pure import write_h5

    host = gather_host(traj)
    xyz, time = host.xyz, host.time
    nf, na, _ = xyz.shape
    datasets = {
        "coordinates": ((nf, na, 3), "f32",
                        np.ascontiguousarray(xyz, dtype="<f4").tobytes()),
        "time": ((nf,), "f32",
                 np.ascontiguousarray(time, dtype="<f4").tobytes()),
    }
    if host.cell is not None:
        cell = np.ascontiguousarray(host.cell, dtype="<f4")
        datasets["cell_lengths"] = ((nf, 3), "f32", cell[:, :3].tobytes())
        datasets["cell_angles"] = ((nf, 3), "f32", cell[:, 3:].tobytes())
    chunks = filters = None
    if extensible and chunk_frames is None:
        chunk_frames = max(1, min(nf, 64))
    if gzip and chunk_frames is None:
        chunk_frames = max(1, min(nf, 64))
    if chunk_frames is not None:
        chunks = {"coordinates": int(chunk_frames)}
        if gzip:
            filters = {"coordinates": ["shuffle", "gzip"]}
    write_h5(path, datasets, chunks=chunks, filters=filters,
             fmt_version=fmt_version,
             chunk_index={"coordinates": "earr"} if extensible else None)


def write_lh5(traj: Trajectory, path: str) -> None:
    """Sink: legacy MSMBuilder2 lossy-HDF5 export — ``XYZList`` int16
    fixed-point (nm × 1000, rounded), contiguous."""
    from dask_traj_spark.sources.hdf5_pure import write_h5

    xyz = gather_host(traj).xyz
    nf, na, _ = xyz.shape
    fixed = np.clip(np.round(xyz * 1000.0), -32768, 32767).astype("<i2")
    write_h5(path, {"XYZList": ((nf, na, 3), "i16", fixed.tobytes())})

"""AMBER NetCDF trajectory (.nc/.netcdf/.ncdf) — pure-Python
NetCDF3 classic reader/writer (no netCDF4/scipy in the stack).

NetCDF3 classic container (public spec): big-endian; header =
``CDF`` magic + version byte (1 = classic, 2 = 64-bit offsets),
numrecs, dimension list, global attributes, variable list (each
with name, dimension ids, attributes, external type, vsize, begin
offset). Variables whose first dimension is the UNLIMITED dimension
are *record* variables: record r of variable v lives at
``v.begin + r * recsize`` where recsize is the sum of all record
variables' vsizes (special case: a single record variable is
unpadded).

AMBER convention (public): dims ``frame`` (unlimited), ``atom``,
``spatial``; record vars ``coordinates(frame, atom, spatial)``
float32 Å, ``time(frame)`` float32 ps, ``cell_lengths(frame,
cell_spatial)`` double Å, ``cell_angles(frame, cell_angular)``
double degrees.

Record-variable layout means every frame is a fixed-stride seek —
the chunked-partition scan pattern of the binary sources applies
unchanged (reference S1-S3 analog). Å → nm on read (G11).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.sources._arrow import atom_range, gather_host, load_indexed
from dask_traj_spark.trajectory import Trajectory

ANGSTROM_TO_NM = 0.1

_NC_DIMENSION = 10
_NC_VARIABLE = 11
_NC_ATTRIBUTE = 12
_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 4, 6: 8}
_TYPE_NP = {1: ">i1", 2: "S1", 3: ">i2", 4: ">i4", 5: ">f4", 6: ">f8"}


class _Var:
    __slots__ = ("name", "dimids", "nc_type", "vsize", "begin", "shape", "record")

    def __init__(self, name, dimids, nc_type, vsize, begin):
        self.name = name
        self.dimids = dimids
        self.nc_type = nc_type
        self.vsize = vsize
        self.begin = begin
        self.shape = ()
        self.record = False


class NC3File:
    """Parsed header of a NetCDF3 classic file."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            magic = f.read(3)
            if magic != b"CDF":
                raise ValueError(f"not a NetCDF3 classic file: {path}")
            self.version = f.read(1)[0]
            if self.version not in (1, 2):
                raise ValueError(f"unsupported NetCDF version byte {self.version}")
            self.numrecs = self._u32(f)
            self.dims: list[tuple[str, int]] = []
            tag = self._u32(f)
            count = self._u32(f)
            if tag == _NC_DIMENSION:
                for _ in range(count):
                    self.dims.append((self._name(f), self._u32(f)))
            self._skip_atts(f)
            self.vars: dict[str, _Var] = {}
            tag = self._u32(f)
            count = self._u32(f)
            rec_vars = []
            if tag == _NC_VARIABLE:
                for _ in range(count):
                    name = self._name(f)
                    ndims = self._u32(f)
                    dimids = [self._u32(f) for _ in range(ndims)]
                    self._skip_atts(f)
                    nc_type = self._u32(f)
                    vsize = self._u32(f)
                    begin = (
                        struct.unpack(">Q", f.read(8))[0]
                        if self.version == 2
                        else self._u32(f)
                    )
                    v = _Var(name, dimids, nc_type, vsize, begin)
                    v.record = bool(dimids) and self.dims[dimids[0]][1] == 0
                    v.shape = tuple(
                        self.dims[d][1] for d in (dimids[1:] if v.record else dimids)
                    )
                    self.vars[name] = v
                    if v.record:
                        rec_vars.append(v)
            # record stride: sum of record vars' vsizes; single record
            # var is packed without padding
            if len(rec_vars) == 1:
                v = rec_vars[0]
                n = int(np.prod(v.shape, dtype=np.int64)) if v.shape else 1
                self.recsize = n * _TYPE_SIZES[v.nc_type]
            else:
                self.recsize = sum(v.vsize for v in rec_vars)

    @staticmethod
    def _u32(f) -> int:
        return struct.unpack(">I", f.read(4))[0]

    @classmethod
    def _name(cls, f) -> str:
        n = cls._u32(f)
        s = f.read(n).decode(errors="replace")
        f.read((-n) % 4)  # pad
        return s

    @classmethod
    def _skip_atts(cls, f) -> None:
        tag = cls._u32(f)
        count = cls._u32(f)
        if tag != _NC_ATTRIBUTE:
            return
        for _ in range(count):
            cls._name(f)
            t = cls._u32(f)
            n = cls._u32(f)
            nbytes = n * _TYPE_SIZES[t]
            f.seek(nbytes + ((-nbytes) % 4), 1)

    def read_record(
        self, f, var: str, rec: int, rows: tuple[int, int] | None = None
    ) -> np.ndarray:
        """Record ``rec`` of ``var``; ``rows = (lo, stop)`` reads only
        those rows of its leading axis."""
        v = self.vars[var]
        lo, stop = rows or (0, v.shape[0] if v.shape else 1)
        row_bytes = int(np.prod(v.shape[1:], dtype=np.int64)) * _TYPE_SIZES[v.nc_type]
        f.seek(v.begin + rec * self.recsize + lo * row_bytes)
        shape = (stop - lo, *v.shape[1:]) if v.shape else ()
        return np.frombuffer(
            f.read((stop - lo) * row_bytes), dtype=_TYPE_NP[v.nc_type]
        ).reshape(shape)

    def read_nonrecord(self, f, var: str) -> np.ndarray:
        v = self.vars[var]
        n = int(np.prod(v.shape, dtype=np.int64)) if v.shape else 1
        f.seek(v.begin)
        return np.frombuffer(
            f.read(n * _TYPE_SIZES[v.nc_type]), dtype=_TYPE_NP[v.nc_type]
        ).reshape(v.shape)


def decode_chunk(path: str, payload: tuple[int, int], atoms: tuple[int, int]):
    start, count = payload
    nc = NC3File(path)
    rows = atom_range(atoms, nc.vars["coordinates"].shape[0])
    with open(path, "rb") as f:
        for fid in range(start, start + count):
            xyz = nc.read_record(f, "coordinates", fid, rows).astype(np.float64)
            yield fid, (xyz * ANGSTROM_TO_NM).astype(np.float32)


def load_netcdf(spark: SparkSession, path: str, chunks: int = 100) -> Trajectory:
    """Load an AMBER NetCDF trajectory: chunked lazy coords scan;
    time and cell lengths/angles from the (tiny) per-frame record
    vars, read driver-side."""
    nc = NC3File(path)
    if "coordinates" not in nc.vars:
        raise ValueError(f"{path}: no 'coordinates' variable (not AMBER layout)")
    with open(path, "rb") as f:
        times = (
            [float(nc.read_record(f, "time", r)) for r in range(nc.numrecs)]
            if "time" in nc.vars
            else [float(r) for r in range(nc.numrecs)]
        )
        cells = None
        if "cell_lengths" in nc.vars and "cell_angles" in nc.vars:
            cells = [
                (
                    r,
                    *(float(v) * ANGSTROM_TO_NM for v in nc.read_record(f, "cell_lengths", r)[:3]),
                    *map(float, nc.read_record(f, "cell_angles", r)[:3]),
                )
                for r in range(nc.numrecs)
            ]
    # numrecs and the coordinates shape are what decode_chunk trusts
    return load_indexed(
        spark, "netcdf3", path, nc.numrecs, chunks,
        time=times,
        n_atoms=nc.vars["coordinates"].shape[0],
        cell=cells,
    )


def load_ncrestart(spark: SparkSession, path: str, **_options) -> Trajectory:
    """AMBER NetCDF restart (.ncrst): single frame, non-record
    ``coordinates(atom, spatial)`` double + scalar time + cell vars.
    Driver-side parse (one frame by definition)."""
    from dask_traj_spark.sources.loaders import from_wide_pandas

    nc = NC3File(path)
    if "coordinates" not in nc.vars or nc.vars["coordinates"].record:
        raise ValueError(f"{path}: not an AMBER NetCDF restart layout")
    with open(path, "rb") as f:
        xyz = nc.read_nonrecord(f, "coordinates").astype(np.float64)
        time = (
            float(nc.read_nonrecord(f, "time").ravel()[0])
            if "time" in nc.vars
            else 0.0
        )
        cell = None
        if "cell_lengths" in nc.vars and "cell_angles" in nc.vars:
            ln = nc.read_nonrecord(f, "cell_lengths").astype(np.float64).ravel()
            an = nc.read_nonrecord(f, "cell_angles").astype(np.float64).ravel()
            cell = (*(v * ANGSTROM_TO_NM for v in ln[:3]), *an[:3])
    return from_wide_pandas(
        spark, (xyz * ANGSTROM_TO_NM).astype(np.float32)[None],
        time=[time],
        unitcell_lengths=None if cell is None else [cell[:3]],
        unitcell_angles=None if cell is None else [cell[3:]],
    )


# --------------------------------------------------------------- sink


def write_netcdf(traj: Trajectory, path: str) -> None:
    """Driver-side AMBER NetCDF export (classic format, version 1):
    coordinates/time record vars (+ cell vars when the trajectory
    has a unitcell), nm → Å."""
    host = gather_host(traj)
    xyz, time, cells = host.xyz, host.time, host.cell
    n_frames, n_atoms, _ = xyz.shape

    def name(s: bytes) -> bytes:
        return struct.pack(">I", len(s)) + s + b"\x00" * ((-len(s)) % 4)

    dims = [(b"frame", 0), (b"spatial", 3), (b"atom", n_atoms)]
    if cells is not None:
        dims += [(b"cell_spatial", 3), (b"cell_angular", 3)]
    dim_ids = {d[0]: i for i, d in enumerate(dims)}

    # (name, dimids, nc_type)
    vars_: list[tuple[bytes, list[int], int]] = [
        (b"time", [dim_ids[b"frame"]], 5),
        (b"coordinates", [dim_ids[b"frame"], dim_ids[b"atom"], dim_ids[b"spatial"]], 5),
    ]
    if cells is not None:
        vars_ += [
            (b"cell_lengths", [dim_ids[b"frame"], dim_ids[b"cell_spatial"]], 6),
            (b"cell_angles", [dim_ids[b"frame"], dim_ids[b"cell_angular"]], 6),
        ]

    def vsize(dimids, t):
        n = 1
        for d in dimids[1:]:
            n *= dims[d][1]
        raw = n * _TYPE_SIZES[t]
        return raw + ((-raw) % 4)

    # header size: compute by serializing with placeholder offsets
    def header(begins):
        out = b"CDF\x01" + struct.pack(">I", n_frames)
        out += struct.pack(">II", _NC_DIMENSION, len(dims))
        for dname, dlen in dims:
            out += name(dname) + struct.pack(">I", dlen)
        out += struct.pack(">II", 0, 0)  # no global atts
        out += struct.pack(">II", _NC_VARIABLE, len(vars_))
        for (vname, dimids, t), begin in zip(vars_, begins):
            out += name(vname)
            out += struct.pack(">I", len(dimids))
            for d in dimids:
                out += struct.pack(">I", d)
            out += struct.pack(">II", 0, 0)  # no atts
            out += struct.pack(">III", t, vsize(dimids, t), begin)
        return out

    hlen = len(header([0] * len(vars_)))
    begins = []
    off = hlen
    for vname, dimids, t in vars_:
        begins.append(off)
        off += vsize(dimids, t)
    recsize = sum(vsize(d, t) for _n, d, t in vars_)

    ang = (xyz.astype(np.float64) / ANGSTROM_TO_NM).astype(">f4")
    with open(path, "wb") as f:
        f.write(header(begins))
        for r in range(n_frames):
            t = float(time[r]) if time is not None else float(r)
            f.write(struct.pack(">f", t))
            f.write(ang[r].tobytes())
            pad = (-(n_atoms * 3 * 4)) % 4
            if pad:
                f.write(b"\x00" * pad)
            if cells is not None:
                ln = cells[r]
                f.write(
                    np.array(
                        [ln[0] / ANGSTROM_TO_NM, ln[1] / ANGSTROM_TO_NM,
                         ln[2] / ANGSTROM_TO_NM],
                        dtype=">f8",
                    ).tobytes()
                )
                f.write(np.array(ln[3:6], dtype=">f8").tobytes())

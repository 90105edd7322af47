"""Corrupt-file exception contract for the trajectory format readers.

Every index/read entry point runs inside Spark tasks on files the
engine does not control; single-byte mutations, burst mutations and
truncations of valid files may only raise the documented error
classes (ValueError; EOFError for clean end-of-stream;
NotImplementedError for detected-but-unsupported variants) — never
struct.error / IndexError / KeyError / AssertionError /
ZeroDivisionError / OSError / RecursionError out of a task.  A
5-second alarm per probe additionally pins the no-CPU-bomb property
(a mutated DCD header once claimed 2^31 frames and spun for minutes
reading empty blocks).

No Spark session needed — these drive the pure readers directly.
"""

from __future__ import annotations

import os
import signal
import zlib

import numpy as np
import pytest

ALLOWED = (ValueError, EOFError, zlib.error, NotImplementedError)


class _ProbeTimeout(Exception):
    pass


def _alarm_handler(signum, frame):
    raise _ProbeTimeout()


@pytest.fixture(scope="module")
def fixtures(tmp_path_factory):
    """Small valid files per format + a reader callable per format."""
    from dask_traj_spark.sources import amber as A
    from dask_traj_spark.sources import arc as R
    from dask_traj_spark.sources import dcd as D
    from dask_traj_spark.sources import gro as G
    from dask_traj_spark.sources import lammpstrj as L
    from dask_traj_spark.sources import trr as T
    from dask_traj_spark.sources import xtc as X
    from dask_traj_spark.sources import xyz as XY
    from dask_traj_spark.sources._arrow import ALL_ATOMS

    td = tmp_path_factory.mktemp("fmt_fuzz")
    rng = np.random.default_rng(5)
    nf, na = 3, 5
    xyz = rng.uniform(0, 2, (nf, na, 3)).astype(np.float64)
    time = np.arange(nf, dtype=np.float64)
    boxes = np.tile(np.diag([2.0, 2.0, 2.0]), (nf, 1, 1))

    # XTC gets a LARGER fixture: natoms <= 9 takes the plain-float
    # path, and the compressed 3dfcoord bit stream (the hot path, and
    # where the truncated-payload guard lives) only runs beyond it
    xyz_big = rng.uniform(0, 2, (nf, 30, 3)).astype(np.float32)
    px = str(td / "f.xtc")
    X._write_xtc_file(px, xyz_big, time, boxes, precision=1000.0)
    pdcd = str(td / "f.dcd")
    D._write_dcd_file(pdcd, xyz.astype(np.float32) * 10, None)
    ptrr = str(td / "f.trr")
    T._write_trr_file(ptrr, xyz.astype(np.float32), time, boxes)

    xyzt = b""
    for f in range(nf):
        xyzt += b"5\nframe\n"
        for a_ in range(na):
            xyzt += b"C %.4f %.4f %.4f\n" % tuple(xyz[f, a_] * 10)
    grot = b""
    for f in range(nf):
        grot += b"MD t= %.3f\n    5\n" % f
        for a_ in range(na):
            # spec columns: resid[0:5] resname[5:10] name[10:15]
            # serial[15:20], coords at 20:44
            grot += b"%5d%-5s%5s%5d%8.3f%8.3f%8.3f\n" % (
                1, b"RES", b"C", a_ + 1, *xyz[f, a_],
            )
        grot += b"   2.00000   2.00000   2.00000\n"
    lmp = b""
    for f in range(nf):
        lmp += b"ITEM: TIMESTEP\n%d\nITEM: NUMBER OF ATOMS\n5\n" % f
        lmp += b"ITEM: BOX BOUNDS pp pp pp\n0 20\n0 20\n0 20\n"
        lmp += b"ITEM: ATOMS id type x y z\n"
        for a_ in range(na):
            lmp += b"%d 1 %.4f %.4f %.4f\n" % (a_ + 1, *(xyz[f, a_] * 10))
    arct = b""
    for f in range(nf):
        arct += b"     5  frame\n"
        for a_ in range(na):
            arct += b"   %d  C   %.6f  %.6f  %.6f   1\n" % (
                a_ + 1, *(xyz[f, a_] * 10),
            )
    rst = b"title\n%5d%15.7e\n" % (na, 0.0)
    vals = (xyz[0] * 10).reshape(-1)
    for i in range(0, len(vals), 6):
        rst += b"".join(b"%12.7f" % v for v in vals[i:i + 6]) + b"\n"
    mdcrd = b"title\n"
    for f in range(nf):
        vals = (xyz[f] * 10).reshape(-1)
        for i in range(0, len(vals), 10):
            mdcrd += b"".join(b"%8.3f" % v for v in vals[i:i + 10]) + b"\n"

    def read_xtc(p):
        X.index_xtc(p)
        with open(p, "rb") as f:
            size = os.path.getsize(p)
            while f.tell() < size:
                X.decode_frame(f)

    def read_dcd(p):
        info = D.read_info(p)
        list(D._read_frames(p, info, 0, info.n_frames))
        D.read_cells(p)

    def read_trr(p):
        info = T.read_info(p)
        list(T._read_frames(p, info, 0, info.n_frames))
        list(T._read_meta(p, info))

    def read_xyz(p):
        list(XY.decode_chunk(p, XY.index_xyz(p), ALL_ATOMS))

    def read_gro(p):
        list(G.decode_chunk(
            p, [(f, o, n) for f, o, n, _t, _b in G.index_gro(p)], ALL_ATOMS
        ))

    def read_lmp(p):
        list(L.decode_chunk(
            p, [(f, o, n, c) for f, o, n, _s, _b, c in L.index_lammpstrj(p)], ALL_ATOMS
        ))

    def read_arc(p):
        list(R.decode_chunk(
            p, [(f, o, n) for f, o, n, _b in R.index_arc(p)], ALL_ATOMS
        ))

    def read_rst(p):
        A.read_restart(p)

    def read_mdcrd(p):
        specs, _boxes = A.index_mdcrd(p, na)
        list(A.decode_chunk(p, specs, ALL_ATOMS))

    return td, [
        (".xtc", open(px, "rb").read(), read_xtc),
        (".dcd", open(pdcd, "rb").read(), read_dcd),
        (".trr", open(ptrr, "rb").read(), read_trr),
        (".xyz", xyzt, read_xyz),
        (".gro", grot, read_gro),
        (".lammpstrj", lmp, read_lmp),
        (".arc", arct, read_arc),
        (".rst", rst, read_rst),
        (".mdcrd", mdcrd, read_mdcrd),
    ]


def _mutants(src: bytes, rng):
    """The corpus of one valid file: single-byte mutations, 4-byte
    bursts, then prefixes, suffixes and doubled prefixes."""
    for _ in range(150):
        b = bytearray(src)
        b[rng.integers(0, len(b))] = rng.integers(0, 256)
        yield bytes(b)
    for _ in range(60):
        b = bytearray(src)
        p0 = int(rng.integers(0, max(1, len(b) - 4)))
        b[p0:p0 + 4] = bytes(rng.integers(0, 256, 4))
        yield bytes(b)
    for cut in range(1, len(src), max(1, len(src) // 30)):
        yield from (src[:cut], src[cut:], src[:cut] * 2)


def test_format_readers_exception_contract_under_mutation(fixtures):
    td, targets = fixtures
    rng = np.random.default_rng(97)
    old = signal.signal(signal.SIGALRM, _alarm_handler)
    try:
        for ext, src, reader in targets:
            p = str(td / ("m" + ext))

            def probe(payload):
                open(p, "wb").write(payload)
                signal.alarm(5)
                try:
                    reader(p)
                finally:
                    signal.alarm(0)

            probe(src)  # the unmutated fixture must parse
            for b in _mutants(src, rng):
                try:
                    probe(b)
                except ALLOWED:
                    pass
    finally:
        signal.signal(signal.SIGALRM, old)


def test_xtc_corpus_fails_alike_under_both_decoders(fixtures, monkeypatch):
    """Every XTC file of the mutation corpus decodes to the same
    float32 frames with the compiled loop and the Python loop, or
    raises the same ValueError under both. XTC is the first target,
    so seed 97 draws the very corpus the contract test above runs."""
    import io

    from dask_traj_spark.sources import xtc as X
    from dask_traj_spark.sources import xtc_native
    from tests.test_xtc import native_library

    _td, targets = fixtures
    ext, src, _reader = targets[0]
    assert ext == ".xtc"
    lib = native_library()

    def read(payload, use_lib):
        frames = []
        with monkeypatch.context() as m:
            m.setattr(xtc_native, "library", lambda: use_lib)
            f = io.BytesIO(payload)
            try:
                while f.tell() < len(payload):
                    frames.append(X.decode_frame(f)[3].tobytes())
            except ValueError as e:
                return frames, str(e)
        return frames, None

    failed = 0
    old = signal.signal(signal.SIGALRM, _alarm_handler)
    try:
        for b in _mutants(src, np.random.default_rng(97)):
            signal.alarm(5)
            try:
                native, python = read(b, lib), read(b, None)
            finally:
                signal.alarm(0)
            assert native == python
            failed += python[1] is not None
    finally:
        signal.signal(signal.SIGALRM, old)
    assert failed > 100


def test_dcd_header_frame_count_bounded_by_file_size(fixtures, tmp_path):
    """A DCD header claiming 2^31 frames must clamp to what the file
    holds (the multi-hour empty-read spin this guards against), and
    a stale-but-small header count stays authoritative."""
    import struct

    from dask_traj_spark.sources import dcd as D

    td, targets = fixtures
    src = bytearray(next(s for e, s, _ in targets if e == ".dcd"))
    # icntrl[0] (n_frames) sits right after reclen+magic
    struct.pack_into("<i", src, 8, 0x7FFFFFFF)
    p = str(tmp_path / "huge.dcd")
    open(p, "wb").write(bytes(src))
    info = D.read_info(p)
    assert info.n_frames == 3  # what the bytes actually hold
    frames = list(D._read_frames(p, info, 0, info.n_frames))
    assert len(frames) == 3

"""XTC (GROMACS) compressed binary trajectory source.

Implemented from the PUBLIC xdrfile/XDR container description (the
format behind ``xdr3dfcoord``): XDR big-endian framing, per frame —

- int32 magic (1995), int32 natoms, int32 step, float32 time,
- 9 × float32 box vectors (nm, row-major a,b,c),
- the compressed coordinate block: int32 natoms again; if ≤ 9 atoms,
  plain floats; else float32 precision, int32 minint[3]/maxint[3],
  int32 smallidx, int32 nbytes + that many opaque bytes (padded to a
  4-byte boundary) holding a big-endian bit stream.

The bit stream encodes quantized integer coordinates
(``round(x * precision)``) as either whole-range triples
(``sizeofints`` bits across the min→max range) or runs of small
deltas from a sliding ``magicints`` window, with the classic
water-molecule first/second-atom interchange. ``decode_frame``
parses and checks the frame header in Python and hands the bit
stream to a small C loop (``xtc_decode.c``, built on first use and
loaded through ctypes by ``xtc_native``) that bounds-checks every
byte it reads; the int→float step stays in NumPy. Where no C
compiler is present it runs ``_decode_payload_py``, a pure-Python
implementation of the same public algorithm (bit_length arithmetic
replaces the C big-int byte loops), which the tests also hold the
compiled loop to, triple for triple.

Frame blocks are variable-length ⇒ ``index_xtc`` scans headers once
(seek-skip per frame, reading ~60 bytes each) to build the offset
index, which ``load_indexed`` cuts into chunks for parallel reads
exactly like the DCD/XYZ sources. Decoding runs inside partitions —
parallel across frame-chunks.

``write_xtc`` emits real delta-run compression
(``_encode_frame_coords``): consecutive atoms whose delta fits the
frame's size class are packed as ~``smallidx``-bit triples chained
off the previous atom, with the format's water-interchange and
sticky run headers. The size class is chosen per frame by cost
estimate rather than adapted mid-frame (``is_smaller`` never
emitted — the format permits this), which on the reference's own
GROMACS-written fixture yields files ~3% *smaller* than the
original encoder, decoding bit-identically. The reference itself
cannot write any format (SURVEY.md S11).
"""

from __future__ import annotations

import ctypes
import struct

import numpy as np
from pyspark.sql import SparkSession

from dask_traj_spark.sources import xtc_native
from dask_traj_spark.sources._arrow import (
    ALL_ATOMS,
    atom_range,
    gather_host,
    load_indexed,
)
from dask_traj_spark.trajectory import Trajectory

MAGIC = 1995

MAGICINTS = [
    0, 0, 0, 0, 0, 0, 0, 0, 0,
    8, 10, 12, 16, 20, 25, 32, 40, 50, 64, 80, 101, 128, 161, 203, 256,
    322, 406, 512, 645, 812, 1024, 1290, 1625, 2048, 2580, 3250, 4096,
    5060, 6501, 8192, 10321, 13003, 16384, 20642, 26007, 32768, 41285,
    52015, 65536, 82570, 104031, 131072, 165140, 208063, 262144, 330280,
    416127, 524287, 660561, 832255, 1048576, 1321122, 1664510, 2097152,
    2642245, 3329021, 4194304, 5284491, 6658042, 8388608, 10568983,
    13316085, 16777216,
]
FIRSTIDX = 9


def _read_xdr_int(f) -> int:
    b = f.read(4)
    if len(b) < 4:
        # the documented corrupt-file contract is ValueError, never a
        # raw struct.error out of a Spark task
        raise ValueError("truncated XTC stream")
    return struct.unpack(">i", b)[0]


def _read_xdr_float(f) -> float:
    b = f.read(4)
    if len(b) < 4:
        raise ValueError("truncated XTC stream")
    return struct.unpack(">f", b)[0]


class XTCFrameInfo:
    def __init__(self, frame_id, offset, natoms, step, time, box):
        self.frame_id = frame_id
        self.offset = offset
        self.natoms = natoms
        self.step = step
        self.time = time
        self.box = box  # (3,3) nm


def index_xtc(path: str) -> list[XTCFrameInfo]:
    """One header-scan pass → per-frame offsets + step/time/box
    (the coordinate payload is skipped, not decoded)."""
    frames = []
    with open(path, "rb") as f:
        fid = 0
        while True:
            offset = f.tell()
            head = f.read(4)
            if len(head) < 4:
                break
            magic = struct.unpack(">i", head)[0]
            if magic != MAGIC:
                raise ValueError(f"bad XTC magic {magic} at offset {offset}")
            natoms = _read_xdr_int(f)
            step = _read_xdr_int(f)
            time = _read_xdr_float(f)
            box = np.array(
                [[_read_xdr_float(f) for _ in range(3)] for _ in range(3)]
            )
            if natoms < 0:
                raise ValueError(f"negative XTC atom count {natoms}")
            if natoms <= 9:
                f.seek(4 + 12 * natoms, 1)  # natoms + plain floats
            else:
                f.seek(4 + 4, 1)  # natoms again + precision
                f.seek(4 * 6 + 4, 1)  # minint, maxint, smallidx
                nbytes = _read_xdr_int(f)
                if nbytes < 0:
                    raise ValueError(f"negative XTC payload size {nbytes}")
                f.seek((nbytes + 3) // 4 * 4, 1)
            frames.append(XTCFrameInfo(fid, offset, natoms, step, time, box))
            fid += 1
    return frames


def decode_frame(
    f, atoms: tuple[int, int] = ALL_ATOMS
) -> tuple[int, float, np.ndarray, np.ndarray]:
    """Decode one frame at the current file position →
    (step, time, box (3,3), xyz (m, 3) float32 nm) holding atoms
    ``lo..min(hi, natoms - 1)`` of the inclusive span ``atoms``.

    The stream is delta-coded in atom order, so every atom below
    ``lo`` is still decoded; the bit-stream loop stops once atom
    ``hi`` is known. Only the prefix it decodes is validated: a
    corrupt bit stream raises ValueError when the fault lies at or
    before atom ``hi``, and goes unseen when it lies after. The
    header and payload-length guards check the whole frame, whatever
    the span."""
    magic = _read_xdr_int(f)
    if magic != MAGIC:
        raise ValueError(f"bad XTC magic {magic}")
    natoms = _read_xdr_int(f)
    step = _read_xdr_int(f)
    time = _read_xdr_float(f)
    box = np.array([[_read_xdr_float(f) for _ in range(3)] for _ in range(3)])
    size2 = _read_xdr_int(f)
    if size2 != natoms:
        raise ValueError("natoms mismatch in coordinate block")
    if natoms < 0:
        raise ValueError(f"negative XTC atom count {natoms}")
    if natoms <= 9:
        raw = f.read(12 * natoms)
        if len(raw) < 12 * natoms:
            raise ValueError("truncated XTC coordinate block")
        flat = struct.unpack(f">{3 * natoms}f", raw)
        lo, stop = atom_range(atoms, natoms)
        return step, time, box, np.array(flat, dtype=np.float32).reshape(-1, 3)[lo:stop]

    precision = _read_xdr_float(f)
    minint = [_read_xdr_int(f) for _ in range(3)]
    maxint = [_read_xdr_int(f) for _ in range(3)]
    smallidx = _read_xdr_int(f)
    if not (FIRSTIDX <= smallidx < len(MAGICINTS)):
        # xdrfile's own bound; a mutated index would IndexError below
        raise ValueError(f"XTC smallidx {smallidx} out of range")
    nbytes = _read_xdr_int(f)
    if nbytes < 0:
        raise ValueError(f"negative XTC payload size {nbytes}")
    if natoms > 8 * nbytes + 64:
        # each atom triple consumes >= 1 bit of payload even in the
        # densest run-length encoding; a header that declares vastly
        # more atoms than the payload can hold is corrupt, and the
        # decode loop below would otherwise spin natoms times (a
        # multi-minute CPU bomb on a 2^31 count) before failing
        raise ValueError(
            f"XTC atom count {natoms} impossible for {nbytes}-byte payload"
        )
    want = (nbytes + 3) // 4 * 4
    data = f.read(want)
    if len(data) < nbytes:
        # mid-frame truncation: the bit reader below would otherwise
        # IndexError off the short buffer inside a Spark task
        raise ValueError("truncated XTC coordinate payload")

    sizeint = [maxint[d] - minint[d] + 1 for d in range(3)]
    if not (precision > 0):
        # NaN fails this comparison too; inv = 1/precision below would
        # otherwise ZeroDivisionError out of a Spark task
        raise ValueError(f"XTC precision {precision} must be positive")
    if any(s < 1 for s in sizeint):
        # maxint < minint makes a sizeint 0/negative and `big % sz`
        # below would ZeroDivisionError; xdrfile rejects this too
        raise ValueError(f"XTC corrupt integer ranges {sizeint}")
    if any(s > 0xFFFFFF for s in sizeint):
        bitsizeint = [s.bit_length() for s in sizeint]
        bitsize = 0
    else:
        bitsizeint = [0, 0, 0]
        bitsize = (sizeint[0] * sizeint[1] * sizeint[2]).bit_length()

    lo, stop = atom_range(atoms, natoms)
    args = (data, nbytes, lo, stop, minint, sizeint, bitsize, bitsizeint, smallidx)
    lib = xtc_native.library()
    i, ints = _decode_payload_py(*args) if lib is None else _decode_payload_native(lib, *args)
    if i > natoms:
        raise ValueError(f"XTC run decodes {i} atoms of {natoms}")
    return step, time, box, (ints * (1.0 / precision)).astype(np.float32)


def _decode_payload_native(
    lib, data, nbytes, lo, stop, minint, sizeint, bitsize, bitsizeint, smallidx
) -> tuple[int, np.ndarray]:
    """:func:`_decode_payload_py` run by the compiled loop of
    ``xtc_decode.c`` (``lib``, from :func:`xtc_native.library`)."""
    if not (0 <= lo <= stop and 0 <= nbytes <= len(data)):
        raise ValueError(f"XTC decode span {lo}..{stop} or size {nbytes} out of range")
    trip = ctypes.c_int64 * 3
    out = np.empty((stop - lo, 3), dtype=np.int64)
    info = ctypes.c_int64(0)
    n = lib.xtc_decode_ints(
        data, nbytes, lo, stop, trip(*minint), trip(*sizeint),
        bitsize, trip(*bitsizeint), smallidx, out.ctypes.data, ctypes.byref(info),
    )
    if n == xtc_native.OVERRUN:
        raise ValueError("corrupt XTC coordinate payload")
    if n == xtc_native.DRIFT:
        raise ValueError(f"XTC smallidx {info.value} drifted out of range")
    return n, out


def _decode_payload_py(
    data, nbytes, lo, stop, minint, sizeint, bitsize, bitsizeint, smallidx
) -> tuple[int, np.ndarray]:
    """The integer bit-stream loop of one frame's payload (the first
    ``nbytes`` bytes of ``data``) → (atoms decoded, int64 (stop - lo,
    3) triples of the emitted atoms ``lo..stop-1``). It decodes atoms
    until ``stop`` is reached; a run can carry it past ``stop`` (and
    past the frame's atom count, which the caller checks).
    ``bitsize == 0`` selects the per-axis ``bitsizeint`` fields.

    The reference for ``xtc_decode.c``, which mirrors it line for
    line, and the decoder wherever that cannot be built. All state
    lives in locals: ~5× fewer Python-level calls than a bit-reader
    object, ~275k atoms/s."""
    smaller = MAGICINTS[max(FIRSTIDX, smallidx - 1)] // 2
    small = MAGICINTS[smallidx] // 2
    ssmall = MAGICINTS[smallidx]
    try:
        buf = data[:nbytes]
        cnt = 0
        lastbyte = 0
        lastbits = 0
        vals: list[int] = []  # interleaved integer x,y,z per emitted atom
        append = vals.append
        minx, miny, minz = minint
        sy, sz = sizeint[1], sizeint[2]
        b0, b1, b2 = bitsizeint
        i = 0
        run = 0
        while i < stop:
            # ---- whole-range triple --------------------------------------
            if bitsize == 0:
                trip = []
                for nb in (b0, b1, b2):
                    num = 0
                    while nb >= 8:
                        lastbyte = ((lastbyte << 8) | buf[cnt]) & 0xFFFFFFFF
                        cnt += 1
                        num |= ((lastbyte >> lastbits) & 0xFF) << (nb - 8)
                        nb -= 8
                    if nb > 0:
                        if lastbits < nb:
                            lastbits += 8
                            lastbyte = ((lastbyte << 8) | buf[cnt]) & 0xFFFFFFFF
                            cnt += 1
                        lastbits -= nb
                        num |= (lastbyte >> lastbits) & ((1 << nb) - 1)
                    trip.append(num)
                x0, y0, z0 = trip
            else:
                big = 0
                shift = 0
                nb = bitsize
                while nb > 8:
                    lastbyte = ((lastbyte << 8) | buf[cnt]) & 0xFFFFFFFF
                    cnt += 1
                    big |= ((lastbyte >> lastbits) & 0xFF) << shift
                    shift += 8
                    nb -= 8
                if nb > 0:
                    if lastbits < nb:
                        lastbits += 8
                        lastbyte = ((lastbyte << 8) | buf[cnt]) & 0xFFFFFFFF
                        cnt += 1
                    lastbits -= nb
                    big |= ((lastbyte >> lastbits) & ((1 << nb) - 1)) << shift
                z0 = big % sz
                big //= sz
                y0 = big % sy
                x0 = big // sy
            i += 1
            px = x0 + minx
            py = y0 + miny
            pz = z0 + minz

            # ---- run flag (1 bit) + optional 5-bit run header ------------
            if lastbits < 1:
                lastbits += 8
                lastbyte = ((lastbyte << 8) | buf[cnt]) & 0xFFFFFFFF
                cnt += 1
            lastbits -= 1
            flag = (lastbyte >> lastbits) & 1
            is_smaller = 0
            if flag:
                nb = 5
                if lastbits < nb:
                    lastbits += 8
                    lastbyte = ((lastbyte << 8) | buf[cnt]) & 0xFFFFFFFF
                    cnt += 1
                lastbits -= nb
                run = (lastbyte >> lastbits) & 0x1F
                is_smaller = run % 3
                run -= is_smaller
                is_smaller -= 1
            if run > 0:
                for k in range(0, run, 3):
                    # small-delta triple: smallidx bits, sizes (s,s,s)
                    big = 0
                    shift = 0
                    nb = smallidx
                    while nb > 8:
                        lastbyte = ((lastbyte << 8) | buf[cnt]) & 0xFFFFFFFF
                        cnt += 1
                        big |= ((lastbyte >> lastbits) & 0xFF) << shift
                        shift += 8
                        nb -= 8
                    if nb > 0:
                        if lastbits < nb:
                            lastbits += 8
                            lastbyte = ((lastbyte << 8) | buf[cnt]) & 0xFFFFFFFF
                            cnt += 1
                        lastbits -= nb
                        big |= ((lastbyte >> lastbits) & ((1 << nb) - 1)) << shift
                    dz = big % ssmall
                    big //= ssmall
                    dy = big % ssmall
                    dx = big // ssmall
                    i += 1
                    dx += px - small
                    dy += py - small
                    dz += pz - small
                    if k == 0:
                        # water-optimization interchange: the first small
                        # atom is emitted before the whole-range atom
                        append(dx)
                        append(dy)
                        append(dz)
                        append(px)
                        append(py)
                        append(pz)
                    else:
                        append(dx)
                        append(dy)
                        append(dz)
                    # deltas chain off the last DECODED small atom (the
                    # emit-order interchange does not change the chain)
                    px, py, pz = dx, dy, dz
            else:
                append(px)
                append(py)
                append(pz)

            smallidx += is_smaller
            if not (FIRSTIDX <= smallidx < len(MAGICINTS)):
                # repeated is_smaller updates on a corrupt stream can
                # drift smallidx into MAGICINTS' leading-zero region
                # (ssmall=0 → ZeroDivisionError) or negative, where
                # Python indexing silently reads MAGICINTS[-1] and
                # decodes garbage; xdrfile errors when sizesmall==0
                raise ValueError(f"XTC smallidx {smallidx} drifted out of range")
            if is_smaller < 0:
                small = smaller
                smaller = MAGICINTS[smallidx - 1] // 2 if smallidx > FIRSTIDX else 0
            elif is_smaller > 0:
                smaller = small
                small = MAGICINTS[smallidx] // 2
            ssmall = MAGICINTS[smallidx]

        ints = np.array(vals[3 * lo : 3 * stop], dtype=np.int64).reshape(-1, 3)
    except (IndexError, ZeroDivisionError) as e:
        # a corrupt bit stream can claim runs that consume more
        # bytes than the payload holds (IndexError) or degenerate
        # divisors the guards above didn't anticipate; the documented
        # contract is ValueError, never a raw internal error out of
        # a Spark task
        raise ValueError("corrupt XTC coordinate payload") from e
    return i, ints


class _BitWriter:
    """Big-endian bit stream writer (the inverse of the decode loop's
    byte feeder)."""

    __slots__ = ("out", "acc", "nacc")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def bits(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nacc += nbits
        while self.nacc >= 8:
            self.nacc -= 8
            self.out.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def ints(self, nums: list[int], num_of_bits: int, sizes: tuple[int, int, int]) -> None:
        """receiveints(3, ...) inverted: pack into one big int then
        emit as 8-bit chunks, little-endian byte significance."""
        big = (nums[0] * sizes[1] + nums[1]) * sizes[2] + nums[2]
        nb = num_of_bits
        while nb > 8:
            self.bits(big & 0xFF, 8)
            big >>= 8
            nb -= 8
        if nb > 0:
            self.bits(big, nb)

    def finish(self) -> bytes:
        if self.nacc > 0:
            self.out.append((self.acc << (8 - self.nacc)) & 0xFF)
            self.acc = 0
            self.nacc = 0
        return bytes(self.out)


def _choose_smallidx(q: np.ndarray, whole_bits: int) -> int:
    """Pick the per-frame delta size class: estimate encoded bits
    for each candidate (atoms whose consecutive delta fits cost
    ~``idx`` bits, the rest a whole-range triple + run header) and
    take the argmin. Conservative fit test ``|delta| < magicints/2``
    keeps every candidate exactly encodable."""
    if len(q) < 2:
        return FIRSTIDX
    maxabs = np.abs(np.diff(q, axis=0)).max(axis=1)
    best_idx, best_cost = FIRSTIDX, None
    for idx in range(FIRSTIDX, len(MAGICINTS)):
        small = MAGICINTS[idx] // 2
        n_fit = int((maxabs < small).sum())
        cost = n_fit * idx + (len(q) - n_fit) * (whole_bits + 6)
        if best_cost is None or cost < best_cost:
            best_idx, best_cost = idx, cost
    return best_idx


def _encode_frame_coords(
    q: np.ndarray,
    minint: np.ndarray,
    sizeint: list[int],
    bitsize: int,
    bitsizeint: list[int],
    smallidx: int,
) -> bytes:
    """Delta-run compression of one frame's quantized coords — the
    exact inverse of ``decode_frame``'s coordinate loop: whole-range
    triple, 1-bit run flag (0 = reuse previous run header), 5-bit
    header ``3·k + is_smaller + 1``, then k small triples of
    ``smallidx`` bits whose components are ``coord - prev + small``
    chained through the run, with the water-interchange (the first
    run atom is emitted before its whole-range anchor, which is the
    *next* atom in original order). ``is_smaller`` transitions are
    never emitted — the size class is fixed per frame by
    ``_choose_smallidx``, which the format permits."""
    ssmall = MAGICINTS[smallidx]
    small = ssmall // 2
    sizes = (ssmall, ssmall, ssmall)
    bw = _BitWriter()
    n = len(q)

    def emit_whole(row: np.ndarray) -> None:
        rel = row - minint
        if bitsize == 0:
            for d in range(3):
                bw.bits(int(rel[d]), bitsizeint[d])
        else:
            bw.ints([int(rel[0]), int(rel[1]), int(rel[2])], bitsize, tuple(sizeint))

    def fits(delta: np.ndarray) -> bool:
        d = delta + small
        return bool(((d >= 0) & (d < ssmall)).all())

    prevrun = 0  # decoder state starts at run=0
    i = 0
    while i < n:
        runatoms: list[np.ndarray] = []
        if i + 1 < n and fits(q[i] - q[i + 1]):
            runatoms.append(q[i])
            prev = q[i]
            j = i + 2
            while j < n and len(runatoms) < 8 and fits(q[j] - prev):
                runatoms.append(q[j])
                prev = q[j]
                j += 1
        if runatoms:
            whole = q[i + 1]
            emit_whole(whole)
            run = 3 * len(runatoms)
            if run != prevrun:
                bw.bits(1, 1)
                bw.bits(run + 1, 5)  # is_smaller = 0
                prevrun = run
            else:
                bw.bits(0, 1)
            prev = whole
            for atom in runatoms:
                d = atom - prev + small
                bw.ints([int(d[0]), int(d[1]), int(d[2])], smallidx, sizes)
                prev = atom
            i += 1 + len(runatoms)
        else:
            emit_whole(q[i])
            if prevrun != 0:
                bw.bits(1, 1)
                bw.bits(1, 5)  # run = 0, is_smaller = 0
                prevrun = 0
            else:
                bw.bits(0, 1)
            i += 1
    return bw.finish()


def write_xtc(traj: Trajectory, path: str, precision: float = 1000.0) -> None:
    """Sink: driver-side XTC export with real delta-run compression
    (``_encode_frame_coords``). Quantizes to ``precision`` (default
    1/1000 nm — the GROMACS convention). Box comes from the
    trajectory's unitcell (vectors), zeros when absent."""
    host = gather_host(traj)
    _write_xtc_file(path, host.xyz, host.time, host.box, precision)


def _write_xtc_file(
    path: str,
    xyz: "np.ndarray",
    time: "np.ndarray | None",
    boxes: "np.ndarray | None",
    precision: float = 1000.0,
    step_offset: int = 0,
) -> None:
    """Serialize one standalone XTC file (frames are self-framed, so
    part files concatenate by byte append)."""
    import numpy as np

    n_frames, n_atoms, _ = xyz.shape

    with open(path, "wb") as f:
        for fid in range(n_frames):
            f.write(struct.pack(">i", MAGIC))
            f.write(struct.pack(">i", n_atoms))
            f.write(struct.pack(">i", int(step_offset + fid)))
            f.write(struct.pack(">f", float(time[fid]) if time is not None else float(step_offset + fid)))
            box = boxes[fid] if boxes is not None else np.zeros((3, 3))
            for r in range(3):
                for c in range(3):
                    f.write(struct.pack(">f", float(box[r, c])))
            f.write(struct.pack(">i", n_atoms))
            if n_atoms <= 9:
                f.write(struct.pack(f">{3 * n_atoms}f", *xyz[fid].ravel()))
                continue
            q = np.round(xyz[fid].astype(np.float64) * precision).astype(np.int64)
            minint = q.min(axis=0)
            maxint = q.max(axis=0)
            sizeint = (maxint - minint + 1).tolist()
            if any(s > 0xFFFFFF for s in sizeint):
                bitsizeint = [int(s).bit_length() for s in sizeint]
                bitsize = 0
            else:
                bitsizeint = [0, 0, 0]
                bitsize = int(sizeint[0] * sizeint[1] * sizeint[2]).bit_length()
            whole_bits = bitsize if bitsize else sum(bitsizeint)
            smallidx = _choose_smallidx(q, whole_bits)
            f.write(struct.pack(">f", float(precision)))
            for d in range(3):
                f.write(struct.pack(">i", int(minint[d])))
            for d in range(3):
                f.write(struct.pack(">i", int(maxint[d])))
            f.write(struct.pack(">i", smallidx))
            data = _encode_frame_coords(
                q, minint, sizeint, bitsize, bitsizeint, smallidx
            )
            f.write(struct.pack(">i", len(data)))
            f.write(data)
            pad = (-len(data)) % 4
            if pad:
                f.write(b"\x00" * pad)


def decode_chunk(path: str, offsets: list[tuple[int, int]], atoms: tuple[int, int]):
    """Yield (frame_id, xyz of the ``atoms`` span) for
    [(frame_id, byte_offset)]."""
    with open(path, "rb") as f:
        for fid, off in offsets:
            f.seek(off)
            _step, _time, _box, xyz = decode_frame(f, atoms)
            yield fid, xyz


def load_xtc(spark: SparkSession, path: str, chunks: int = 100) -> Trajectory:
    """Load a .xtc trajectory: chunked lazy coords scan; its chunk
    plan, frames (step/time), per-frame box and the atom and frame
    counts all come from one driver-side header index (no coordinate
    decode)."""
    idx = index_xtc(path)
    return load_indexed(
        spark, "xtc", path, [(fi.frame_id, fi.offset) for fi in idx], chunks,
        time=[fi.time for fi in idx],
        step=[fi.step for fi in idx],
        n_atoms=[fi.natoms for fi in idx],
        box=[fi.box for fi in idx],
    )

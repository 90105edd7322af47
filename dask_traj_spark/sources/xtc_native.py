"""The compiled XTC bit-stream decoder (``xtc_decode.c``), built on
first use and loaded through ctypes.

The first process that needs the library compiles it with the C
compiler on the path (``gcc -O2 -shared -fPIC``) into a per-user
cache directory under :func:`tempfile.gettempdir`, keyed by a hash
of the C source and the flags, so each process after that (a Spark
Python worker, the driver) only loads the file. The directory is
created with mode 0700 and its owner and mode are checked before any
library in it is loaded, so another user of a shared temporary
directory cannot plant one. A build goes to a temporary name and is
renamed into place, so processes compiling at once never load a
partial file.

With no compiler, a failed build or an unsafe cache directory,
:func:`library` logs one line and returns None, and the caller
decodes with the pure-Python loop (``xtc._decode_payload_py``),
which is also the reference the tests compare this library against.
"""

from __future__ import annotations

import ctypes
import functools
import hashlib
import logging
import os
import shutil
import stat
import subprocess
import tempfile

log = logging.getLogger(__name__)

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "xtc_decode.c")
CFLAGS = ["-O2", "-shared", "-fPIC"]

#: xtc_decode_ints return codes (see xtc_decode.c)
OVERRUN = -1
DRIFT = -2

_I64 = ctypes.c_int64
_I64P = ctypes.POINTER(ctypes.c_int64)


def _compiler() -> str | None:
    return shutil.which("gcc") or shutil.which("cc")


def _cache_dir() -> str:
    """This user's library cache directory, created 0700 if absent.
    Raises OSError when it is not a directory owned by this user and
    closed to every other user."""
    d = os.path.join(tempfile.gettempdir(), f"dask_traj_spark-{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.lstat(d)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o077:
        raise OSError(
            f"{d} is not a private directory of uid {os.getuid()} "
            f"(owner {st.st_uid}, mode {stat.filemode(st.st_mode)})"
        )
    return d


def _build(cc: str, out: str) -> None:
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(out), suffix=".so.tmp")
    os.close(fd)
    try:
        subprocess.run(
            [cc, *CFLAGS, "-o", tmp, SOURCE], check=True, capture_output=True, timeout=120
        )
        os.replace(tmp, out)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


@functools.cache
def library():
    """The loaded decoder (memoized per process), or None after one
    logged line when it cannot be built or loaded safely."""
    try:
        with open(SOURCE, "rb") as fh:
            key = hashlib.sha256(fh.read() + " ".join(CFLAGS).encode()).hexdigest()[:16]
        path = os.path.join(_cache_dir(), f"xtc_decode-{key}.so")
        if not os.path.exists(path):
            cc = _compiler()
            if cc is None:
                log.warning("no C compiler on PATH: XTC decodes with the Python loop")
                return None
            _build(cc, path)
        lib = ctypes.CDLL(path)
    except (OSError, subprocess.SubprocessError) as e:
        detail = getattr(e, "stderr", None) or b""
        log.warning(
            "XTC native decoder unavailable, decoding with the Python loop: %s %s",
            e, " | ".join(detail.decode(errors="replace").split("\n"))[:500],
        )
        return None
    fn = lib.xtc_decode_ints
    fn.argtypes = [
        ctypes.c_char_p, _I64, _I64, _I64, _I64P, _I64P,
        ctypes.c_int, _I64P, ctypes.c_int, ctypes.c_void_p, _I64P,
    ]
    fn.restype = _I64
    return lib

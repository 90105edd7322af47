"""The one chunked-frame scan every trajectory file format reads through.

The reference's loader is one idea (core/dask_traj.py:61-140,
329-361): index a file's frames, cut the index into chunks, decode
each chunk lazily. Here that idea is written once. A loader indexes
its file on the driver (header fields, a text pass, or a fixed-stride
frame count) and hands the index to :func:`load_indexed`, the one way
a trajectory file becomes a :class:`Trajectory` and the one place its
frames are cut into chunks. The scan (:func:`scan_frames`) is
``spark.range`` over the chunk ids feeding one ``mapInArrow`` that
decodes each chunk through the format module's only read function:

- ``decode_chunk(path, payload, atoms) -> Iterator[(frame_id, xyz)]``
  runs in the scan task and yields each frame of its chunk as an
  ``(m, 3)`` array in nm holding only the atoms of the inclusive
  atom-id span ``atoms = (lo, hi)``: atoms ``lo..min(hi, n - 1)``
  of the frame's ``n`` (:func:`atom_range` clips the span). An
  unfiltered scan passes :data:`ALL_ATOMS`. A payload is either a
  run of the loader's per-frame specs, each a tuple whose first item
  is the frame id (byte offsets of a scanned text or XTC file), or a
  ``(start, count)`` frame range of a fixed-stride format.

A ``mapInArrow`` over a ``range`` is planned in the JVM, so a query
on a loaded file starts no Python worker before its decode tasks; a
Python DataSource would cost every query two worker round trips to
build the source and plan its partitions (~0.25 s each on a 4-core
host).

A scan can be cut to an atom span and to a set of frames: the atom
span is the ``atoms`` every ``decode_chunk`` call gets, so XTC stops
its bit-stream loop after atom ``hi``, the text formats stop reading
lines there and the fixed-stride formats read only that byte span;
the frames drop whole chunks, and the frames of a spec-list payload
(the frame range of a ``(start, count)`` one) that are not asked for.
:func:`select_ids` — the one atom or frame selection every operator,
``select_frames``, ``atom_slice`` and ``join`` use — makes that cut
when its input is a bare file scan, from the plan the scan already
holds, and keeps its literal predicate over the cut scan, so a format
that returns a superset stays exact. A frame-block map over a bare
scan (``operators.distance.map_frame_blocks``) does not read the
scan's output: :func:`frame_feed` runs the scan task's own decode in
the map task, over the same cut and predicate, so decode and kernel
share one Python stage; over a table load whose footers prove the
frame order it reads the Parquet row groups itself, the same way
(``loaders.RowGroupPlan``).

A scan partition is one chunk: whole frames in (frame_id, atom_id)
order, the ``packed=True`` contract of :class:`Trajectory`, so every
loaded trajectory is packed and carries the :class:`FrameIndex` of
its driver-side index. Every writer goes the other way through
:func:`gather_host`. Every format shares one output schema
``(frame_id long, atom_id int, x float, y float, z float)``, and the
decode yields ``pyarrow.RecordBatch`` objects instead of per-row
tuples: for a frame of N atoms that replaces N tuple constructions +
N row pickles with one columnar hand-off (zero-copy into the JVM via
Arrow IPC). Batches hold ~``rows_per_batch`` rows (several frames per
batch — Arrow overhead is per-batch, so tiny frames are coalesced).
"""

from __future__ import annotations

import importlib
from collections.abc import Iterable, Iterator
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from dask_traj_spark.operators.mic import BOX_COLS
from dask_traj_spark.operators.unitcell import lengths_angles_np
from dask_traj_spark.session import shared_broadcast
from dask_traj_spark.trajectory import FrameIndex, Trajectory


def _fields(*cols: tuple[str, DataType]) -> StructType:
    """A schema of nullable fields, as Spark parses a DDL string (built
    in Python: a DDL string is parsed by the JVM on every use)."""
    return StructType([StructField(name, typ) for name, typ in cols])


_CELL_COLS = ["a", "b", "c", "alpha", "beta", "gamma"]
_FRAMES_SCHEMA = _fields(("frame_id", LongType()), ("time", DoubleType()), ("step", LongType()))
_BOX_SCHEMA = _fields(("frame_id", LongType()), *((c, FloatType()) for c in BOX_COLS))
_CELL_SCHEMA = _fields(("frame_id", LongType()), *((c, FloatType()) for c in _CELL_COLS))
_COORDS_SCHEMA = _fields(("frame_id", LongType()), ("atom_id", IntegerType()), *((c, FloatType()) for c in "xyz"))

#: the atom span of an unfiltered scan
ALL_ATOMS = (0, 2**63 - 1)


def atom_range(atoms: tuple[int, int], n: int) -> tuple[int, int]:
    """The inclusive atom-id span ``atoms`` clipped to a frame of
    ``n`` atoms → ``(lo, stop)``, its half-open row range (empty when
    the span misses the frame)."""
    lo = min(max(atoms[0], 0), n)
    return lo, max(lo, min(atoms[1] + 1, n))


def _numpy_dtype(arrow_type) -> np.dtype | None:
    """The NumPy dtype of a fixed-width numeric Arrow type, else None."""
    import pyarrow as pa

    for kind, test in (
        ("f", pa.types.is_floating),
        ("i", pa.types.is_signed_integer),
        ("u", pa.types.is_unsigned_integer),
    ):
        if test(arrow_type):
            return np.dtype(f"{kind}{arrow_type.bit_width // 8}")
    return None


def numpy_column(col) -> np.ndarray:
    """An Arrow array as NumPy, equal to ``col.to_numpy(zero_copy_only=
    False)``: a read-only view of a numeric array's value buffer (from
    its slice offset), or, with nulls, a copy with NaN at the nulls
    (integers as float64).  Read from the buffers, because pyarrow's
    own conversion imports pandas, which adds ~60 MB to every Python
    worker that reads a batch; other types still go through it."""
    dtype = _numpy_dtype(col.type)
    if dtype is None:
        return col.to_numpy(zero_copy_only=False)
    if not len(col):
        return np.empty(0, dtype)
    validity, data = col.buffers()
    values = np.frombuffer(data, dtype, len(col), col.offset * dtype.itemsize)
    if not col.null_count:
        return values
    bits = np.unpackbits(
        np.frombuffer(validity, np.uint8), count=col.offset + len(col), bitorder="little"
    )
    out = values.astype(dtype if dtype.kind == "f" else np.float64)
    out[bits[col.offset :] == 0] = np.nan
    return out


def arrow_column(values, arrow_type=None):
    """A 1-D NumPy column as an Arrow array of ``arrow_type`` (default:
    the column's own type) built over its buffer, equal to
    ``pa.array(values, type=arrow_type, safe=False)``: the cast is
    NumPy's ``astype``, which rounds and wraps as Arrow's unsafe cast
    does.  Built from the buffer, because ``pa.array`` imports pandas
    (see :func:`numpy_column`); other types still go through it."""
    import pyarrow as pa

    values = np.asarray(values)
    dtype = values.dtype if arrow_type is None else _numpy_dtype(arrow_type)
    if dtype is None or values.ndim != 1 or values.dtype.kind not in "iuf":
        return pa.array(values, type=arrow_type, safe=False)
    values = np.ascontiguousarray(values.astype(dtype, copy=False))
    if arrow_type is None:
        arrow_type = pa.from_numpy_dtype(dtype)
    return pa.Array.from_buffers(arrow_type, len(values), [None, pa.py_buffer(values)])


def numpy_batch(columns: list, names) -> "object":
    """A record batch of the 1-D NumPy ``columns`` named ``names``,
    built over their buffers (:func:`arrow_column`)."""
    import pyarrow as pa

    return pa.record_batch([arrow_column(c) for c in columns], names=list(names))


def take_rows(batch, keep: np.ndarray) -> "object":
    """The rows of the numeric record batch ``batch`` where ``keep``
    holds, through NumPy: ``RecordBatch.take`` or ``filter`` would
    import ``pyarrow.compute`` into the task, ~5 MB of RSS and ~50 ms
    a worker."""
    return numpy_batch([numpy_column(c)[keep] for c in batch.columns], batch.schema.names)


def frames_to_record_batches(
    frame_iter: Iterable[tuple[int, "np.ndarray"]],
    lo: int = 0,
    rows_per_batch: int = 131072,
) -> Iterator["object"]:
    """(frame_id, xyz (m, 3) float-ish) → pyarrow.RecordBatch stream
    in the shared coords schema; a frame's rows are atoms
    ``lo..lo+m-1``."""
    fids: list[np.ndarray] = []
    aids: list[np.ndarray] = []
    cols: list[np.ndarray] = []
    nrows = 0

    def flush():
        xyz = np.concatenate(cols, axis=0)
        batch = numpy_batch(
            [np.concatenate(fids), np.concatenate(aids), *(xyz[:, k] for k in range(3))],
            ["frame_id", "atom_id", "x", "y", "z"],
        )
        fids.clear()
        aids.clear()
        cols.clear()
        return batch

    for fid, xyz in frame_iter:
        n = xyz.shape[0]
        fids.append(np.full(n, fid, dtype=np.int64))
        aids.append(np.arange(lo, lo + n, dtype=np.int32))
        cols.append(xyz.astype(np.float32, copy=False))
        nrows += n
        if nrows >= rows_per_batch:
            yield flush()
            nrows = 0
    if nrows:
        yield flush()


def chunk_list(items: list, chunks: int) -> list[list]:
    """Cut a per-frame index into consecutive runs of ``chunks``."""
    return [items[i : i + chunks] for i in range(0, len(items), chunks)]


def chunk_range(n_frames: int, chunks: int) -> list[tuple[int, int]]:
    """Cut frames ``0..n_frames-1`` of a fixed-stride format into
    exact ``(start, count)`` runs of ``chunks``."""
    return [(s, min(chunks, n_frames - s)) for s in range(0, n_frames, chunks)]


def _format_module(fmt: str):
    return importlib.import_module(f"{__package__}.{fmt}")


def _narrow(payload, frames: tuple[int, int], listed: frozenset | None):
    """A payload cut to the frames in the span ``frames`` (and in
    ``listed``, unless None), or None when none is left. A
    ``(start, count)`` range keeps the span of its admitted frames; a
    spec list keeps exactly them."""
    lo, hi = frames
    if isinstance(payload, tuple):
        start, count = payload
        lo, hi = max(lo, start), min(hi, start + count - 1)
        if listed is not None:
            ids = [i for i in listed if lo <= i <= hi]
            lo, hi = (min(ids), max(ids)) if ids else (1, 0)
        return (lo, hi - lo + 1) if lo <= hi else None
    kept = [
        s for s in payload
        if lo <= s[0] <= hi and (listed is None or s[0] in listed)
    ]
    return kept or None


class _Scan(NamedTuple):
    """The arguments of a bare :func:`scan_frames` DataFrame: the
    chunk payloads of file ``path`` left after any frame cut, decoded
    by format module ``fmt`` to the inclusive atom-id span ``atoms``."""

    fmt: str
    path: str
    payloads: list
    atoms: tuple[int, int]


def _task_ids(batches) -> Iterator[int]:
    """The ids of a ``range`` partition's record batches."""
    for batch in batches:
        yield from batch.column(0).to_pylist()


def _decode(fmt: str, path: str, atoms: tuple[int, int], plan: list, chunk_ids) -> Iterator["object"]:
    """The body of every scan task: chunks ``chunk_ids`` of the chunk
    plan ``plan`` of ``path``, decoded by format module ``fmt`` to the
    atom span ``atoms``, as record batches in the shared coords
    schema."""
    mod = _format_module(fmt)
    for i in chunk_ids:
        frames = mod.decode_chunk(path, plan[i], atoms)
        yield from frames_to_record_batches(frames, atoms[0])


def scan_frames(
    spark: SparkSession, fmt: str, path: str, plan: list, atoms: tuple[int, int] = ALL_ATOMS
) -> DataFrame:
    """Lazy coords scan of ``path`` through format module ``fmt``:
    partition ``i`` of a ``range`` holds chunk id ``i`` of the chunk
    plan ``plan`` (cut once per load on the driver by
    :func:`load_indexed`) and one ``mapInArrow`` decodes it to the
    atom span ``atoms``, so a partition is one chunk of whole frames
    in order.
    The plan travels in one broadcast, so a task carries only its
    chunk id. No chunk (an empty file, or every frame cut): an empty
    DataFrame, which decodes nothing."""
    n = len(plan)
    if not n:
        df = spark.createDataFrame([], _COORDS_SCHEMA)
    else:
        payloads = shared_broadcast(spark.sparkContext, plan)

        def decode(batches):
            yield from _decode(fmt, path, atoms, payloads.value, _task_ids(batches))

        df = spark.range(0, n, 1, n).mapInArrow(decode, _COORDS_SCHEMA)
    # kept on this DataFrame object only: a derived DataFrame
    # (``where``, ``select``, a join) is a new object without it
    df._frame_scan = _Scan(fmt, path, plan, atoms)
    return df


#: id selections up to this many distinct ids become LITERAL scan
#: filters (between + isin) instead of a broadcast semi-join. A
#: literal predicate pushes below projections/generators all the way
#: to the source (parquet row-group stats via the between; derived
#: sources like the oracle's embeddings→explode prune BEFORE the
#: explode multiplies rows) — a semi-join can never be pushed into
#: the scan. Larger atom selections keep the broadcast semi-join;
#: larger frame selections (``select_frames``) keep the between only.
LITERAL_IDS_MAX = 4096


def _bare_scan(df: DataFrame, record: str = "_frame_scan"):
    """The plan record ``record`` that ``df`` carries when it is a
    bare, uncached DataFrame, else None (a cached DataFrame is read
    from its cache, which a new scan would bypass): by default the
    :class:`_Scan` of a :func:`scan_frames` DataFrame."""
    # vars(), not getattr: DataFrame.__getattr__ looks a missing
    # name up in the schema
    scan = vars(df).get(record)
    if scan is None:
        return None
    level = df.storageLevel
    return None if level.useMemory or level.useDisk else scan


class _IdRange(NamedTuple):
    """The literal predicate of :func:`select_ids`: ids BETWEEN ``lo``
    and ``hi``, and IN ``listed`` unless it is None."""

    lo: int
    hi: int
    listed: list | None

    @classmethod
    def of(cls, ids, max_listed: int | None = None) -> "_IdRange":
        ids = sorted({int(i) for i in ids})
        sparse = len(ids) < ids[-1] - ids[0] + 1
        listed = sparse and (max_listed is None or len(ids) <= max_listed)
        return cls(ids[0], ids[-1], ids if listed else None)

    def column(self, col: str):
        pred = F.col(col).between(self.lo, self.hi)
        return pred if self.listed is None else pred & F.col(col).isin(self.listed)

    def mask(self, values: np.ndarray) -> np.ndarray:
        """The predicate over a task's NumPy column."""
        keep = (values >= self.lo) & (values <= self.hi)
        return keep if self.listed is None else keep & np.isin(values, self.listed)

    def cut(self, scan: _Scan, col: str) -> _Scan:
        """``scan`` cut to the ids' atom span, or to their frames."""
        if col == "atom_id":
            lo, hi = scan.atoms
            return scan._replace(atoms=(max(lo, self.lo), min(hi, self.hi)))
        keep = None if self.listed is None else frozenset(self.listed)
        cut = (_narrow(p, (self.lo, self.hi), keep) for p in scan.payloads)
        return scan._replace(payloads=[p for p in cut if p])


def select_ids(df: DataFrame, col: str, ids, max_listed: int | None = None) -> DataFrame:
    """``df`` restricted to the rows whose ``col`` (``atom_id`` or
    ``frame_id``) is in the non-empty id set ``ids``.

    - The predicate is literal, so a file source can take it: BETWEEN
      the least and greatest id, plus an IN list when the ids are
      sparse — unless there are more than ``max_listed``, which
      leaves the BETWEEN a superset for a later join to make exact.
    - When ``df`` is a bare, uncached :func:`scan_frames` DataFrame,
      the predicate runs over a new scan of the same chunk plan cut
      to the ids' atom span, or to their frames: XTC then decodes no
      atom past the span and no frame outside it, a fixed-stride
      format reads only their bytes. The file is not planned again.
    """
    sel = _IdRange.of(ids, max_listed)
    scan = _bare_scan(df)
    if scan is not None:
        df = scan_frames(df.sparkSession, *sel.cut(scan, col))
    return df.where(sel.column(col))


class FrameFeed(NamedTuple):
    """Where a map task over frame blocks gets its coords: a task over
    ``source`` reads them as ``batches(its input batches)``, Arrow
    record batches holding at least ``frame_id, x, y, z``, frames
    whole and in order within a partition. ``scan`` is the cut scan
    the task decodes itself, and ``row_groups`` the Parquet row-group
    plan it reads itself (``loaders.RowGroupPlan``); both None when
    the JVM feeds it."""

    source: DataFrame
    batches: object
    scan: _Scan | None
    row_groups: object = None


#: rows per batch a fused table task decodes, at most: the session's
#: Arrow batch size when smaller. Measured on one 1.44M-row Spark-written
#: row group cut to 500 of 22,561 atoms: 65,536-row batches raised the
#: reading process's peak RSS by 10.9 MB and 16,384-row ones by 5.4 MB,
#: for 0.042 s against 0.056 s of read time
_READ_ROWS = 16384


def _passed_on(batches):
    return batches


def frame_feed(df: DataFrame, atom_ids=None) -> FrameFeed:
    """The coords of the frame-packed ``df``, restricted to the atom
    ids ``atom_ids`` (None: every atom), as a map task's feed.

    - ``df`` a bare, uncached :func:`scan_frames` DataFrame with a
      chunk left: ``source`` is the ``range`` over the chunk ids of
      the scan cut to the ids' atom span, and the map task decodes
      each chunk itself (the body of the scan's own task) and applies
      :func:`select_ids`' literal predicate, so a format that returns
      a superset stays exact. Decode and map share one Python stage;
      the coordinates never become a table.
    - ``df`` the uncached ``frame_packed()`` of a table load whose
      coords footers prove the frame order (one data file, row-group
      frame ranges ascending without overlap), with a row group in its
      frame range: ``source`` is a ``range`` over the runs of row
      groups Spark's scan would read as its splits, and the map task
      streams its run with pyarrow in batches of at most the session's
      Arrow batch size, cut to the frame range and by the same predicate,
      in (frame_id, atom_id) order (``loaders.RowGroupPlan``). The JVM
      neither scans, sorts nor feeds the coords. A session that skips
      corrupt or missing files, or a feed over cached data, keeps the
      JVM feed.
    - Otherwise (several files or a ``bucket_frames`` layout, derived,
      cached, streaming): ``source`` is ``df`` under the same
      predicate, projected to ``frame_id, x, y, z``, and the JVM feeds
      its Arrow batches to the task.
    """
    sel = None if atom_ids is None else _IdRange.of(atom_ids)
    spark = df.sparkSession
    scan = _bare_scan(df)
    if scan is not None and scan.payloads:
        if sel is not None:
            scan = sel.cut(scan, "atom_id")
        n = len(scan.payloads)
        payloads = shared_broadcast(spark.sparkContext, scan.payloads)
        # the task takes the plan from the broadcast, not from ``scan``
        fmt, path, atoms = scan.fmt, scan.path, scan.atoms

        def batches(chunk_ids):
            for batch in _decode(fmt, path, atoms, payloads.value, _task_ids(chunk_ids)):
                if sel is not None:
                    keep = sel.mask(numpy_column(batch.column("atom_id")))
                    if not keep.all():
                        batch = take_rows(batch, keep)
                yield batch

        return FrameFeed(spark.range(0, n, 1, n), batches, scan)
    groups = _bare_scan(df, "_row_groups")
    runs = [] if scan is not None or groups is None else groups.runs(df)
    if runs:
        n = len(runs)
        plan = shared_broadcast(spark.sparkContext, (groups, runs))
        cap = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        size = min(cap, _READ_ROWS) if cap > 0 else _READ_ROWS

        def batches(task_ids):
            row_groups, run_of = plan.value
            for i in _task_ids(task_ids):
                yield from row_groups.read(run_of[i], sel, size)

        return FrameFeed(spark.range(0, n, 1, n), batches, None, groups)
    if sel is not None:
        df = df.where(sel.column("atom_id"))
    return FrameFeed(df.select("frame_id", "x", "y", "z"), _passed_on, None)


def _table(spark: SparkSession, schema: StructType, *cols: np.ndarray) -> DataFrame:
    """A per-frame table of ``schema`` from its NumPy columns, handed
    to Spark as one Arrow table (a local relation: no Python rows, no
    RDD)."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(dict(zip(schema.names, cols))), schema)


def load_indexed(
    spark: SparkSession,
    fmt: str,
    path: str,
    frames,
    chunks: int,
    *,
    n_atoms,
    time=None,
    step=None,
    box=None,
    cell=None,
    topology: DataFrame | None = None,
) -> Trajectory:
    """The one way a trajectory file becomes a :class:`Trajectory`: a
    packed :func:`scan_frames` of format module ``fmt``, whose chunk
    plan, per-frame tables and :class:`FrameIndex` all come from the
    loader's own driver-side index, so they cannot disagree.

    - ``frames``: the per-frame specs the loader's index pass built,
      each a tuple whose first item is the frame id ``0..F-1``, cut
      into runs of ``chunks`` (:func:`chunk_list`); or, for a
      fixed-stride format, its frame count F, cut into exact
      ``(start, count)`` ranges (:func:`chunk_range`). Either way the
      chunk is ``decode_chunk``'s payload.
    - ``n_atoms``: the per-frame atom counts the index read, or the
      one header count ``decode_chunk`` trusts. Recorded only when
      every frame agrees; otherwise ``Trajectory.n_atoms`` counts.
    - ``time`` (F,) → the ``frames`` table, with ``step`` (F,) or
      the frame ids as steps; None → no ``frames`` table.
    - ``box`` (F, 3, 3) vectors in nm → a vector ``unitcell`` table.
      The float32 vectors also become the host-side box, unless a
      frame's lengths or angles are not finite (a zero box), which
      keeps the Spark-derived lookup and its error.
    - ``cell``: rows ``(frame_id, a, b, c, alpha, beta, gamma)`` in
      nm and degrees → a lengths/angles ``unitcell`` table, with no
      host-side box.
    """
    if isinstance(frames, list):
        n_frames, plan = len(frames), chunk_list(frames, chunks)
    else:
        n_frames = int(frames)
        plan = chunk_range(n_frames, chunks)
    ids = np.arange(n_frames, dtype=np.int64)
    frames_df = None
    if time is not None:
        # reshape, not zip: a per-frame array of the wrong length
        # raises instead of silently dropping frames
        times = np.asarray(time, dtype=np.float64).reshape(n_frames)
        steps = ids if step is None else np.asarray(step, dtype=np.int64).reshape(n_frames)
        frames_df = _table(spark, _FRAMES_SCHEMA, ids, times, steps)
    unitcell = host_box = None
    if box is not None:
        vecs = np.asarray(box, dtype=np.float32).reshape(n_frames, 3, 3)
        unitcell = _table(spark, _BOX_SCHEMA, ids, *vecs.reshape(-1, 9).T)
        if np.isfinite(lengths_angles_np(vecs)).all():
            host_box = vecs
    elif cell is not None:
        rows = np.asarray([tuple(r) for r in cell], dtype=np.float64).reshape(-1, 7)
        unitcell = _table(spark, _CELL_SCHEMA, rows[:, 0].astype(np.int64), *rows[:, 1:].astype(np.float32).T)
    counts = np.unique(np.asarray(n_atoms, dtype=np.int64))
    index = FrameIndex(ids, int(counts[0]) if len(counts) == 1 else None, host_box)
    coords = scan_frames(spark, fmt, path, plan)
    return Trajectory(coords, frames_df, unitcell, topology, packed=True, index=index)


class HostFrames(NamedTuple):
    """A trajectory gathered to the driver, one entry per frame in
    ascending ``frame_ids`` order: ``xyz`` (F, n_atoms, 3) float32 in
    nm (None when only the per-frame tables were gathered), ``time``
    (F,), and, with a unit cell, ``box`` (F, 3, 3) float64 vectors in
    nm and ``cell`` (F, 6) lengths in nm / angles in degrees."""

    frame_ids: np.ndarray
    xyz: np.ndarray | None
    time: np.ndarray
    box: np.ndarray | None
    cell: np.ndarray | None


def _rows_for(have: np.ndarray, fids: np.ndarray, table: str) -> np.ndarray:
    """Row of each id of ``fids`` in a table's frame-id column
    ``have``; a frame with no row raises."""
    # imported here: the scan tasks import this module, and pandas
    # would add ~60 MB to every one of them
    import pandas as pd

    rows = pd.Index(have).get_indexer(fids)
    if (rows < 0).any():
        raise ValueError(
            f"no {table} row for frame ids {fids[rows < 0][:5].tolist()}"
        )
    return rows


def gather_host(traj: Trajectory, *, xyz: bool = True) -> HostFrames:
    """The inverse of :func:`load_indexed`: a trajectory's tables back
    as host arrays, the one gather every writer serializes from.
    Every per-frame value is matched to its frame by frame id, never
    by position, so any ascending ids work (a frame range, a slice).

    - ``xyz=True`` collects coords, whose frame ids are the frames.
      ``xyz=False`` (a distributed sink's per-frame metadata) takes
      them from the ``FrameIndex``, else the ``frames`` table.
    - ``time``: the ``frames`` table's; without one, the frame ids
      (the ``frames`` property's own fallback).
    - ``box``/``cell``: one collect of the unit cell. A vector table
      gets lengths/angles from ``lengths_angles_np``, bit-equal to
      the SQL form, where a zero box gives NaN instead of the SQL
      form's DIVIDE_BY_ZERO; a lengths/angles table gets its vectors
      from ``unitcell_full()``. A frame with no unit-cell row raises.
    """
    coords = None
    if xyz:
        pdf = traj.coords.toPandas()
        fids, rank = np.unique(pdf["frame_id"].to_numpy(np.int64), return_inverse=True)
        aids = pdf["atom_id"].to_numpy()
        coords = np.zeros((len(fids), len(np.unique(aids)), 3), dtype=np.float32)
        coords[rank, aids] = pdf[["x", "y", "z"]].to_numpy()
    elif traj.index is not None:
        fids = traj.index.frame_ids
    else:
        fids = None
    if traj._frames is None and fids is not None:
        time = fids.astype(np.float64)
    else:
        tpdf = traj.frames.select("frame_id", "time").toPandas()
        have = tpdf["frame_id"].to_numpy(np.int64)
        if fids is None:
            fids = np.sort(have)
        time = tpdf["time"].to_numpy()[_rows_for(have, fids, "frames")]
    box = cell = None
    if traj.have_unitcell:
        uc = traj.unitcell if "ax" in traj.unitcell.columns else traj.unitcell_full()
        upd = uc.toPandas()
        rows = _rows_for(upd["frame_id"].to_numpy(np.int64), fids, "unitcell")
        box = upd[BOX_COLS].to_numpy(np.float64)[rows].reshape(-1, 3, 3)
        cell = upd[_CELL_COLS].to_numpy()[rows] if "a" in upd else lengths_angles_np(box)
    return HostFrames(fids, coords, time, box, cell)

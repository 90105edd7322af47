"""Trajectory loading (S1-S9) — Spark-native.

The reference's loader builds one delayed read per frame-chunk and
infers schema by computing a sample chunk
(``/root/reference/dask_traj/core/dask_traj.py:61-213``). In Spark
the canonical store is a directory of Parquet tables with STATIC
schemas (no sample-compute at plan time; scans are partitioned and
column-pruned by the Parquet source itself):

    <dir>/coords.parquet      (frame_id, atom_id, x, y, z)
    <dir>/frames.parquet      optional
    <dir>/unitcell.parquet    optional
    <dir>/topology.parquet    optional

Every multi-frame trajectory file loads the same way (analogous to
the reference's ``load_chunks`` — core/dask_traj.py:103-140): its
loader indexes the file once on the driver and hands the index to
``_arrow.load_indexed``, which cuts it into chunks and returns a
packed ``Trajectory`` with a ``FrameIndex``; one ``mapInArrow`` over
a ``range`` of chunk ids decodes them, so a query plans no Python
worker call. A format module supplies only the index pass its loader
runs and ``decode_chunk``. Single-frame restarts (AMBER restart,
``.ncrst``) are parsed on the driver.
``load`` picks the loader from the extension through the
``SUPPORTED_EXTENSIONS`` → ``LOADERS`` tables. Unknown extensions
raise NotImplementedError exactly like the reference's
unimplemented-format path (core/dask_traj.py:167-169).
"""

from __future__ import annotations

import functools
import importlib
import json
import os
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from dask_traj_spark import schemas
from dask_traj_spark.operators.mic import BOX_COLS
from dask_traj_spark.operators.unitcell import lengths_angles_np
from dask_traj_spark.sources._arrow import _CELL_COLS, numpy_batch, numpy_column, take_rows
from dask_traj_spark.trajectory import FrameIndex, Trajectory

#: extension → loader kind; mirrors the reference's ``file_returns``
#: dispatch (core/dask_traj.py:26-56). Formats we can parse today
#: map to a loader; known-but-unimplemented raise.
SUPPORTED_EXTENSIONS = {
    ".parquet": "parquet_dir",
    "": "parquet_dir",  # a directory of tables
    ".xyz": "xyz",
    ".xyz.gz": "xyz",
    ".dcd": "dcd",
    ".xtc": "xtc",
    ".trr": "trr",
    ".gro": "gro",
    ".binpos": "binpos",
    ".lammpstrj": "lammpstrj",
    ".inpcrd": "restart",
    ".restrt": "restart",
    ".rst7": "restart",
    ".crd": "mdcrd",
    ".mdcrd": "mdcrd",
    ".nc": "netcdf",
    ".netcdf": "netcdf",
    ".ncdf": "netcdf",
    ".ncrst": "ncrestart",
    ".arc": "arc",
    ".h5": "hdf5",
    ".hdf5": "hdf5",
    ".lh5": "lh5",
}
KNOWN_UNIMPLEMENTED = {
    ".pdb", ".pdb.gz", ".xml", ".mol2", ".hoomdxml",
    ".hdf", ".gsd", ".stk", ".dtr", ".tng",
}
#: loader kind → (module in this package, load function)
LOADERS = {
    "parquet_dir": ("loaders", "load_tables"),
    "xyz": ("xyz", "load_xyz"),
    "dcd": ("dcd", "load_dcd"),
    "xtc": ("xtc", "load_xtc"),
    "trr": ("trr", "load_trr"),
    "gro": ("gro", "load_gro"),
    "binpos": ("binpos", "load_binpos"),
    "lammpstrj": ("lammpstrj", "load_lammpstrj"),
    "restart": ("amber", "load_restart"),
    "mdcrd": ("amber", "load_mdcrd"),
    "netcdf": ("netcdf3", "load_netcdf"),
    "ncrestart": ("netcdf3", "load_ncrestart"),
    "arc": ("arc", "load_arc"),
    "hdf5": ("hdf5", "load_hdf5"),
    "lh5": ("hdf5", "load_lh5"),
}


def loader_for(kind: str):
    """The load function for a ``SUPPORTED_EXTENSIONS`` kind
    (imported on first use)."""
    module, fn = LOADERS[kind]
    return getattr(importlib.import_module(f"{__package__}.{module}"), fn)


def load(spark_or_path, path: str | None = None, **options) -> Trajectory:
    """``load(spark, path)`` or ``load(path)`` (reference-parity
    one-arg form, using the active SparkSession) → Trajectory. Lazy:
    nothing reads until an action runs (reference S1,
    core/dask_traj.py:61-100)."""
    if path is None:
        if not isinstance(spark_or_path, str):
            raise TypeError("usage: load(spark, path) or load(path)")
        path = spark_or_path
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            from dask_traj_spark.session import get_spark

            spark = get_spark()
    else:
        spark = spark_or_path
    top = options.pop("top", None)
    ext = _extension(path)
    kind = SUPPORTED_EXTENSIONS.get(ext)
    if kind is None:
        if ext in KNOWN_UNIMPLEMENTED:
            raise NotImplementedError(
                f"Format {ext!r} is recognized but not implemented yet"
            )
        raise NotImplementedError(f"Unknown trajectory format {ext!r}")
    if kind == "parquet_dir":
        options = {}  # a table directory has no frame chunks to tune
    elif kind == "mdcrd":
        # the topology supplies the atom count, so mdcrd consumes it
        options["top"], top = top, None
    traj = loader_for(kind)(spark, path, **options)
    if top is not None:
        # reference S1: load(traj, top=...) parses the topology file
        # eagerly and validates it against the trajectory
        # (core/dask_traj.py:80-83 — without reproducing its
        # unbound-name bug on topology-bearing extensions, §8)
        from dask_traj_spark.sources.topology import load_topology

        tdf = load_topology(spark, top)
        n_top = tdf.count()
        if n_top != traj.n_atoms:
            raise ValueError(
                f"topology has {n_top} atoms but trajectory has "
                f"{traj.n_atoms}"
            )
        traj.topology = tdf
    return traj


def load_multi(
    spark: SparkSession,
    paths: "list[str] | str",
    chunks: int = 100,
    check_topology: bool = False,
    **options,
) -> Trajectory:
    """Load a sequence of trajectory files (a glob pattern or an
    explicit ordered list) as ONE trajectory, frames renumbered
    across the file boundary.

    The reference is single-file; at real scale a trajectory is
    always a directory of segment files. Each file keeps its own
    chunked frame scan (per-file partitions ⇒ parallel decode
    across files AND chunks); concatenation is the lazy UNION ALL of
    ``Trajectory.join`` (U1), so nothing materializes here.
    """
    import glob as _glob

    if isinstance(paths, str):
        paths = sorted(_glob.glob(paths))
    if not paths:
        raise ValueError("load_multi: no input files")
    trajs = [load(spark, p, chunks=chunks, **options) for p in paths]
    out = trajs[0]
    for t in trajs[1:]:
        out = out.join(t, check_topology=check_topology)
    return out


def _extension(path: str) -> str:
    base = os.path.basename(path.rstrip("/"))
    if "." not in base:
        return ""
    for suffix in (".pdb.gz", ".xyz.gz"):
        if base.lower().endswith(suffix):
            return suffix
    return os.path.splitext(base)[1].lower()


#: the footer key under which Spark's Parquet writer stores the
#: table's Spark schema, as JSON
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _listed(name: str) -> bool:
    """Whether Spark's file listing reads the file or directory
    ``name``: not hidden (``.``), and not private (``_``) unless it is
    a hive ``k=v`` directory."""
    return not (name.startswith(".") or (name.startswith("_") and "=" not in name))


def _table_files(path: str) -> tuple[list[str], bool]:
    """The data files Spark's listing reads for table ``path`` (the
    path itself when it is a file, else every listed file under it, in
    sorted order), and whether summary files (``_metadata``,
    ``_common_metadata``) sit among them."""
    if os.path.isfile(path):
        return [path], False
    files, summary = [], False
    for root, dirs, names in os.walk(path):
        dirs[:] = sorted(d for d in dirs if _listed(d))
        for name in sorted(names):
            summary |= name in ("_metadata", "_common_metadata")
            if _listed(name):
                files.append(os.path.join(root, name))
    return files, summary


def _footer_schema(spark: SparkSession, path: str):
    """The schema Spark's Parquet inference gives table ``path``, read
    on the driver from its first data file's footer (about 1 ms, no
    Spark job), or None where only inference gives it: the footer has
    no Spark schema (another writer wrote the table), summary files
    (``_metadata``, ``_common_metadata``) exist, which inference reads
    first, schema merging is on, or the footer cannot be read.  Spark's
    inference reads this same key when it is there and assumes, as
    this does, that every data file agrees."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    files, summary = _table_files(path)
    if summary or not files:
        return None
    try:
        meta = pq.read_schema(files[0]).metadata or {}
        return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    except (KeyError, ValueError, OSError, pa.ArrowException):
        return None


class CoordsFooters(NamedTuple):
    """What a coords table's Parquet footers prove
    (:func:`coords_footers`): the atom count every frame holds, or
    None, and whether Spark's scan of the table gives whole frames per
    partition in ascending frame order."""

    n_atoms: int | None
    frame_ordered: bool


#: the frame range ``[lo, hi)`` of a whole table
ALL_FRAMES = (-(2**63), 2**63 - 1)
#: the columns a fused table task reads, in the coords schema's order
_COORDS_COLS = ("frame_id", "atom_id", "x", "y", "z")


class _Group(NamedTuple):
    """A non-empty row group of a coords data file, from its footer:
    its file's position in the table's file list, its own position in
    that file, its rows, its ``frame_id`` and ``atom_id`` ranges
    (:func:`_id_range`), and its first byte and compressed bytes."""

    file: int
    index: int
    rows: int
    frames: tuple[int, int] | None
    atoms: tuple[int, int] | None
    start: int
    size: int


class _DataFile(NamedTuple):
    """A coords data file as its footer was read: ``(st_size,
    st_mtime_ns)`` of the file read, every row group's row count, and
    the column paths."""

    path: str
    stamp: tuple[int, int]
    rows: tuple[int, ...]
    columns: frozenset


def _id_range(row_group, column: int | None):
    """``(min, max)`` of an integer column in a row group's statistics,
    or None when the column is absent, its statistics are missing, or
    it may hold a null."""
    stats = None if column is None else row_group.column(column).statistics
    if (
        stats is None
        or not stats.has_min_max
        or not stats.has_null_count
        or stats.null_count
        or stats.physical_type not in ("INT32", "INT64")
    ):
        return None
    return int(stats.min), int(stats.max)


def _first_byte(row_group) -> int:
    """Where a row group starts in its file, as Parquet's reader takes
    it when it assigns row groups to splits: its first column chunk's
    dictionary page, else its first data page."""
    c = row_group.column(0)
    dict_at = c.dictionary_page_offset if c.has_dictionary_page else None
    return dict_at if dict_at and dict_at < c.data_page_offset else c.data_page_offset


def _row_groups(path: str) -> tuple[list[_DataFile], list[_Group]] | None:
    """Every data file of the coords table ``path`` and its non-empty
    row groups, read from the footers on the driver with pyarrow (no
    Spark job); None when a footer cannot be read. Each file is
    stamped through the handle its footer is read from."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files, groups = [], []
    try:
        for f in _table_files(path)[0]:
            with open(f, "rb") as fh:
                st = os.fstat(fh.fileno())
                meta = pq.read_metadata(fh)
            col = {meta.schema.column(j).path: j for j in range(meta.num_columns)}
            rgs = [meta.row_group(i) for i in range(meta.num_row_groups)]
            groups += [
                _Group(
                    len(files),
                    i,
                    rg.num_rows,
                    _id_range(rg, col.get("frame_id")),
                    _id_range(rg, col.get("atom_id")),
                    _first_byte(rg),
                    sum(rg.column(j).total_compressed_size for j in range(rg.num_columns)),
                )
                for i, rg in enumerate(rgs)
                if rg.num_rows
            ]
            files.append(
                _DataFile(f, (st.st_size, st.st_mtime_ns), tuple(rg.num_rows for rg in rgs), frozenset(col))
            )
    except (OSError, pa.ArrowException):
        return None
    return files, groups


def coords_footers(
    path: str, frame_ids: np.ndarray | None, frames: tuple[int, int] = ALL_FRAMES, groups=None
) -> CoordsFooters:
    """Read the row-group statistics of every data file of the coords
    table ``path`` on the driver with pyarrow (no Spark job) and keep
    what they prove about its frames ``lo <= frame_id < hi``
    (``frames``); ``frame_ids`` are the index's ascending frame ids in
    that range, and ``groups`` what :func:`_row_groups` already read
    (None reads it).

    - ``n_atoms`` is ``max(atom_id) + 1`` when every row group has
      ``frame_id`` statistics and no null, and, over the row groups
      wholly inside the range, ``atom_id`` statistics and no null, the
      least ``atom_id`` is 0, the least and greatest ``frame_id`` are
      ``frame_ids``' first and last, and they hold ``len(frame_ids) *
      n_atoms`` rows. A row group that straddles the range holds an
      unknown share of its frames, so the frames it holds fall outside
      the counted span and nothing is proven.
    - ``frame_ordered`` holds when the rows sit in ONE data file whose
      row groups' ``frame_id`` ranges ascend and do not overlap, in
      file order. Spark reads each row group whole into one split and
      gives the splits of one file back in offset order, so every scan
      partition holds whole frames and the frames ascend across them.
      Several files do not qualify: Spark orders file splits by size,
      not by frame.
    """
    if groups is None:
        groups = _row_groups(path)
    if groups is None:
        return CoordsFooters(None, False)
    spans = [g.frames for g in groups[1]]
    ordered = (
        len({g.file for g in groups[1]}) == 1
        and None not in spans
        and all(a[1] < b[0] for a, b in zip(spans, spans[1:]))
    )
    lo, hi = frames
    inside = [g for g in groups[1] if g.frames and lo <= g.frames[0] and g.frames[1] < hi]
    n_atoms = None
    if frame_ids is not None and len(frame_ids) and inside and None not in spans and all(g.atoms for g in inside):
        n = max(g.atoms[1] for g in inside) + 1
        if (
            min(g.atoms[0] for g in inside) == 0
            and min(g.frames[0] for g in inside) == frame_ids[0]
            and max(g.frames[1] for g in inside) == frame_ids[-1]
            and sum(g.rows for g in inside) == len(frame_ids) * n
        ):
            n_atoms = n
    return CoordsFooters(n_atoms, ordered)


class RowGroupPlan(NamedTuple):
    """What a fused task over a table load whose footers prove the
    frame order reads itself (``_arrow.frame_feed``): the row groups
    of the coords table's one data file ``path`` that hold frames
    ``lo <= frame_id < hi`` (``frames``), as :class:`_Group` records,
    and the file's ``stamp`` ``(st_size, st_mtime_ns)`` and every row
    group's row count (``rows``) when its footer was read."""

    path: str
    stamp: tuple[int, int]
    rows: tuple[int, ...]
    groups: tuple[_Group, ...]
    frames: tuple[int, int]

    def runs(self, df: DataFrame) -> list[list[int]]:
        """The plan's row groups (positions in ``groups``) cut into the
        runs Spark's scan of the file reads as its splits, one run per
        task: splits of ``FilePartition.maxSplitBytes`` bytes, a row
        group in the split that holds its midpoint, splits with no row
        group dropped. Empty (the JVM feeds the map) when the session
        skips corrupt or missing files, or when the packed DataFrame
        ``df`` reads cached data: a task reading the file would not."""
        jspark = df.sparkSession._jsparkSession
        conf = jspark.sessionState().conf()
        cached = "InMemoryRelation" in df._jdf.queryExecution().withCachedData().toString()
        if conf.ignoreCorruptFiles() or conf.ignoreMissingFiles() or cached:
            return []
        open_cost = conf.filesOpenCostInBytes()
        least = conf.filesMinPartitionNum()
        least = least.get() if least.isDefined() else jspark.leafNodeDefaultParallelism()
        per_core = (self.stamp[0] + open_cost) // least
        split = max(1, min(conf.filesMaxPartitionBytes(), max(open_cost, per_core)))
        runs: dict[int, list[int]] = {}
        for i, g in enumerate(self.groups):
            runs.setdefault((g.start + g.size // 2) // split, []).append(i)
        return [runs[k] for k in sorted(runs)]

    def read(self, run: list[int], atoms, batch_size: int):
        """The body of a fused table task: the row groups ``run`` as
        record batches of the coords columns, cut to the frame range
        and to the rows whose ``atom_id`` the ``_arrow._IdRange``
        ``atoms`` admits (None: every atom), in (frame_id, atom_id)
        order. Raises, naming the file, when the file's stamp or row
        counts are not the ones its footer was read with."""
        import pyarrow.parquet as pq

        with open(self.path, "rb") as fh:
            st = os.fstat(fh.fileno())
            # buffered: pages stream through a 64 KiB buffer instead of
            # each column chunk being read whole
            pf = pq.ParquetFile(fh, buffer_size=1 << 16)
            meta = pf.metadata
            rows = tuple(meta.row_group(i).num_rows for i in range(meta.num_row_groups))
            if (st.st_size, st.st_mtime_ns) != self.stamp or rows != self.rows:
                raise RuntimeError(
                    f"{self.path} changed after its footers were read (size, mtime_ns "
                    f"{self.stamp} -> {(st.st_size, st.st_mtime_ns)}, row groups "
                    f"{len(self.rows)} -> {len(rows)}): load the table again"
                )
            for i in run:
                yield from self._group(pf, self.groups[i], atoms, batch_size)

    def _group(self, pf, group: _Group, atoms, batch_size: int):
        """One row group's cut rows. A check over its key columns comes
        first, in O(rows) as their batches stream, carrying the last
        key across batches; the rows are streamed when their keys
        ascend, else sorted whole."""
        lo, hi = self.frames
        straddles = group.frames[0] < lo or group.frames[1] >= hi

        def read(columns):
            # one thread: the task runs in one Spark slot, and each
            # decode thread holds its own buffers
            batches = pf.iter_batches(batch_size, row_groups=[group.index], columns=list(columns), use_threads=False)
            for batch in batches:
                f = numpy_column(batch.column("frame_id"))
                keep = None if atoms is None else atoms.mask(numpy_column(batch.column("atom_id")))
                if straddles:
                    keep = (f >= lo) & (f < hi) if keep is None else keep & (f >= lo) & (f < hi)
                if keep is None or keep.all():
                    yield batch
                elif keep.any():
                    yield take_rows(batch, keep)

        last = None
        for batch in read(_COORDS_COLS[:2]):
            f, a = (numpy_column(batch.column(k)) for k in _COORDS_COLS[:2])
            if last is not None:
                f, a = np.r_[last[0], f], np.r_[last[1], a]
            df, da = np.diff(f), np.diff(a)
            if ((df < 0) | ((df == 0) & (da < 0))).any():
                break
            last = f[-1:], a[-1:]
        else:
            yield from read(_COORDS_COLS)
            return
        parts = list(read(_COORDS_COLS))
        cols = {k: np.concatenate([numpy_column(b.column(k)) for b in parts]) for k in _COORDS_COLS}
        order = np.lexsort((cols["atom_id"], cols["frame_id"]))
        for s in range(0, len(order), batch_size):
            rows = order[s : s + batch_size]
            yield numpy_batch([c[rows] for c in cols.values()], cols)


def read_footers(path: str, frame_ids: np.ndarray | None, frames: tuple[int, int] = ALL_FRAMES):
    """One read of the coords table ``path``'s footers →
    (:func:`coords_footers`' proof, the :class:`RowGroupPlan` of its
    frames ``frames`` or None). The plan needs the proven frame order,
    every column of the coords schema in the file, ``atom_id``
    statistics with no null in every row group, and a row group that
    holds a frame of the range."""
    groups = _row_groups(path)
    footers = coords_footers(path, frame_ids, frames, groups)
    if not footers.frame_ordered:
        return footers, None
    data = groups[0][groups[1][0].file]
    lo, hi = frames
    kept = tuple(g for g in groups[1] if g.frames[1] >= lo and g.frames[0] < hi)
    if not kept or not set(_COORDS_COLS) <= data.columns or not all(g.atoms for g in groups[1]):
        return footers, None
    return footers, RowGroupPlan(data.path, data.stamp, data.rows, kept, frames)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``: the same schema, hive partition
    columns included, and the same rows, but with the schema from
    :func:`_footer_schema` where it gives one, so the load starts no
    schema-inference job."""
    schema = _footer_schema(spark, path)
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(path)


def _tables(spark: SparkSession, directory: str) -> dict[str, DataFrame | None]:
    """The layout's ``coords``/``frames``/``unitcell``/``topology``
    tables through :func:`read_table`, None where one is absent."""
    out = {}
    for name in ("coords", "frames", "unitcell", "topology"):
        p = os.path.join(directory, f"{name}.parquet")
        out[name] = read_table(spark, p) if os.path.exists(p) else None
    if out["coords"] is None:
        raise FileNotFoundError(f"{directory}/coords.parquet not found")
    return out


def _table_index(directory: str, tables: dict, lo: int = 0, hi: int = 2**63 - 1) -> FrameIndex | None:
    """The :class:`FrameIndex` of a table layout's frames ``lo <=
    frame_id < hi``, read on the driver with pyarrow from its small
    dimension tables; None without a ``frames`` table, or when its ids
    hold a null or repeat.

    - ``frame_ids``: the ``frames`` table's ids, sorted.
    - ``box``: the float32 ``ax..cz`` vectors, by the rule of
      ``_arrow.load_indexed``: only when ``unitcell`` stores float
      vectors and no lengths/angles, holds no null, its ids equal
      ``frame_ids``, and every frame's lengths and angles are finite
      (a zero box keeps the Spark-collected lookup and its error).
    - ``n_atoms``: None. No dimension table holds an atom count the
      coords must agree with; the first ``Trajectory.n_atoms`` of a
      ``load_tables`` trajectory takes it from the coords footers
      (:func:`coords_footers`) where they prove it, else counts.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import FloatType

    def read(name: str, cols: list[str]):
        """Table ``name``'s columns ``cols`` as NumPy, the first one
        its integer frame ids, rows in the frame range; None when the
        table cannot be read or a column holds a null."""
        try:
            t = pq.read_table(os.path.join(directory, f"{name}.parquet"), columns=cols)
        except (OSError, pa.ArrowException):
            return None
        if any(col.null_count for col in t.columns):
            return None
        arrays = [numpy_column(col.combine_chunks()) for col in t.columns]
        if arrays[0].dtype.kind not in "iu":
            return None
        keep = (arrays[0] >= lo) & (arrays[0] < hi)
        return [a[keep] for a in arrays]

    frames, unitcell = tables["frames"], tables["unitcell"]
    got = None if frames is None or "frame_id" not in frames.columns else read("frames", ["frame_id"])
    if got is None:
        return None
    ids = np.sort(got[0]).astype(np.int64)
    if (ids[1:] == ids[:-1]).any():
        return None
    box = None
    if (
        unitcell is not None
        and "frame_id" in unitcell.columns
        and all(c in unitcell.columns and unitcell.schema[c].dataType == FloatType() for c in BOX_COLS)
        and not set(_CELL_COLS) & set(unitcell.columns)
    ):
        got = read("unitcell", ["frame_id", *BOX_COLS])
        if got is not None:
            order = np.argsort(got[0], kind="stable")
            vecs = np.stack(got[1:], axis=-1)[order].reshape(-1, 3, 3)
            if np.array_equal(got[0][order], ids) and np.isfinite(lengths_angles_np(vecs)).all():
                box = vecs
    return FrameIndex(ids, None, box)


def load_tables(spark: SparkSession, directory: str) -> Trajectory:
    """Load the canonical Parquet table layout. A ``frame_bucket``
    hive-partition column (written by ``save_tables(...,
    bucket_frames=N)``) is dropped after the scan — it exists purely
    so frame-range predicates prune whole directories.

    The load starts no Spark job: every table's schema comes from a
    footer (:func:`read_table`), and the ``FrameIndex`` from the
    ``frames`` and ``unitcell`` tables read on the driver
    (:func:`_table_index`), so ``n_frames`` and a periodic vectorized
    operator's box start none either. The index carries frame ids and
    a vector box. The atom count and the frame order of the coords
    come from their Parquet footers (:func:`coords_footers`), read
    once, by the first ``n_atoms`` or ``frame_packed()``
    (:func:`read_footers`): where the footers prove them, ``n_atoms``
    starts no job, ``frame_packed()`` sorts each scan partition in
    place instead of range-shuffling the table, and a vectorized query
    reads the row groups in its own map tasks (:class:`RowGroupPlan`)."""
    t = _tables(spark, directory)
    # normalize column ORDER, not just the set: after a dynamic
    # partition-overwrite compaction the scan can surface data
    # columns in a different order, and positional consumers
    # (exceptAll, union, packed feeds) would silently mismatch
    coords = t["coords"].select("frame_id", "atom_id", "x", "y", "z")
    index = _table_index(directory, t)
    traj = Trajectory(coords, t["frames"], t["unitcell"], t["topology"], index=index)
    traj._read_footers = functools.partial(
        read_footers,
        os.path.join(directory, "coords.parquet"),
        None if index is None else index.frame_ids,
    )
    return traj


def save_tables(
    traj: Trajectory,
    directory: str,
    mode: str = "overwrite",
    bucket_frames: int | None = None,
) -> None:
    """Sink: write the trajectory back as Parquet tables (the
    reference has NO sinks at all — SURVEY.md S11; Spark gives us
    this for free).

    100 TB layout: coords range-partitioned on frame_id and sorted
    by (frame_id, atom_id) inside every file, so scans stream frames
    in order. With ``bucket_frames=N`` a ``frame_bucket =
    frame_id div N`` hive-partition column is added — frame-range
    predicates then prune whole directories before any I/O
    (PartitionFilters in the scan node), the parquet-source analog
    of the reference's chunk culling (core/dask_traj.py:212).
    """
    coords = traj.coords
    path = os.path.join(directory, "coords.parquet")
    if bucket_frames:
        (
            coords.withColumn(
                "frame_bucket", F.expr(f"frame_id div {int(bucket_frames)}")
            )
            .repartitionByRange("frame_bucket", "frame_id")
            .sortWithinPartitions("frame_id", "atom_id")
            .write.mode(mode)
            .partitionBy("frame_bucket")
            .parquet(path)
        )
    else:
        (
            coords.repartitionByRange("frame_id")
            .sortWithinPartitions("frame_id", "atom_id")
            .write.mode(mode)
            .parquet(path)
        )
    for name, df in (
        ("frames", traj._frames),
        ("unitcell", traj.unitcell),
        ("topology", traj.topology),
    ):
        if df is not None:
            df.write.mode(mode).parquet(os.path.join(directory, f"{name}.parquet"))
    with open(os.path.join(directory, "_traj_meta.json"), "w") as fh:
        json.dump({"bucket_frames": bucket_frames}, fh)


def load_frame_range(
    spark: SparkSession, directory: str, lo: int, hi: int
) -> Trajectory:
    """Load only frames ``lo <= frame_id < hi``. When the layout was
    written with ``bucket_frames=N`` this adds the derived
    ``frame_bucket`` predicate so whole hive partitions are pruned
    before any I/O — a frame_id predicate alone cannot prune a
    directory keyed on a derived column, so the engine derives it
    from the stored metadata. The coords footers are read as
    ``load_tables`` reads them, over the range (:func:`read_footers`):
    the atom count from the row groups wholly inside it, the frame
    order of one data file, and a fused feed that skips the row groups
    outside the range and cuts those that straddle it."""
    meta_path = os.path.join(directory, "_traj_meta.json")
    n = None
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            n = json.load(fh).get("bucket_frames")
    t = _tables(spark, directory)
    pred = (F.col("frame_id") >= lo) & (F.col("frame_id") < hi)
    coords = t["coords"]
    if n and "frame_bucket" in coords.columns:
        pred = (
            pred
            & (F.col("frame_bucket") >= lo // n)
            & (F.col("frame_bucket") <= max(lo, hi - 1) // n)
        )
    coords = coords.where(pred)
    if "frame_bucket" in coords.columns:
        coords = coords.drop("frame_bucket")

    def in_range(df: DataFrame | None) -> DataFrame | None:
        if df is None:
            return None
        return df.where((F.col("frame_id") >= lo) & (F.col("frame_id") < hi))

    index = _table_index(directory, t, lo, hi)
    traj = Trajectory(coords, in_range(t["frames"]), in_range(t["unitcell"]), t["topology"], index=index)
    traj._read_footers = functools.partial(
        read_footers,
        os.path.join(directory, "coords.parquet"),
        None if index is None else index.frame_ids,
        (lo, hi),
    )
    return traj


def from_wide_pandas(
    spark: SparkSession,
    xyz,
    time=None,
    unitcell_lengths=None,
    unitcell_angles=None,
    topology_rows=None,
) -> Trajectory:
    """Build a Trajectory from driver-side numpy arrays (tests,
    small data, single-frame restart files): xyz (n_frames, n_atoms,
    3) float32 → long coords, frame ids 0..n_frames-1.  The counts
    ride in a ``FrameIndex``; its box is left None, since the unit
    cell's vectors are derived in SQL."""
    import pandas as pd

    xyz = np.asarray(xyz, dtype=np.float32)
    n_frames, n_atoms, _ = xyz.shape
    fi = np.repeat(np.arange(n_frames, dtype=np.int64), n_atoms)
    ai = np.tile(np.arange(n_atoms, dtype=np.int32), n_frames)
    coords_pdf = pd.DataFrame(
        {
            "frame_id": fi,
            "atom_id": ai,
            "x": xyz[..., 0].ravel(),
            "y": xyz[..., 1].ravel(),
            "z": xyz[..., 2].ravel(),
        }
    )
    coords = spark.createDataFrame(coords_pdf, schema=schemas.COORDS_SCHEMA)

    frames = None
    if time is not None:
        frames = spark.createDataFrame(
            pd.DataFrame(
                {
                    "frame_id": np.arange(n_frames, dtype=np.int64),
                    "time": np.asarray(time, dtype=np.float64),
                    "step": np.arange(n_frames, dtype=np.int64),
                }
            ),
            schema=schemas.FRAMES_SCHEMA,
        )

    unitcell = None
    if unitcell_lengths is not None and unitcell_angles is not None:
        ul = np.asarray(unitcell_lengths, dtype=np.float32).reshape(n_frames, 3)
        ua = np.asarray(unitcell_angles, dtype=np.float32).reshape(n_frames, 3)
        uc_pdf = pd.DataFrame(
            {
                "frame_id": np.arange(n_frames, dtype=np.int64),
                "a": ul[:, 0], "b": ul[:, 1], "c": ul[:, 2],
                "alpha": ua[:, 0], "beta": ua[:, 1], "gamma": ua[:, 2],
            }
        )
        from dask_traj_spark.operators.unitcell import with_box_vectors

        unitcell = with_box_vectors(
            spark.createDataFrame(
                uc_pdf,
                schema="frame_id long, a float, b float, c float, "
                "alpha float, beta float, gamma float",
            )
        )

    topology = None
    if topology_rows is not None:
        topology = spark.createDataFrame(topology_rows, schema=schemas.TOPOLOGY_SCHEMA)

    index = FrameIndex(np.arange(n_frames, dtype=np.int64), n_atoms)
    return Trajectory(coords, frames, unitcell, topology, index=index)


def partition_file_stats(coords_path: str) -> dict[int, int]:
    """Data files per ``frame_bucket=`` hive partition of a coords
    layout written by ``save_tables(bucket_frames=N)``. Driver-side
    listing only — the compaction trigger. (On object stores the
    same numbers come from the catalog/manifest listing.)"""
    import glob

    stats: dict[int, int] = {}
    for d in glob.glob(os.path.join(coords_path, "frame_bucket=*")):
        b = int(d.rsplit("=", 1)[1])
        stats[b] = len(glob.glob(os.path.join(d, "*.parquet")))
    return stats


def compact_frame_partitions(
    spark: SparkSession,
    coords_path: str,
    min_files: int = 2,
    target_files: int = 1,
) -> list[int]:
    """Partition-scoped OPTIMIZE for the frame-range hive layout:
    rewrite only the ``frame_bucket=`` directories whose file count
    reached ``min_files``, coalescing each to ``target_files``
    frame-sorted files. Untouched partitions keep their files —
    at 100 TB you compact the tail the last ingest wrote, never the
    whole table. Uses dynamic partition overwrite so the rewrite
    replaces exactly the partitions it read (atomic per partition on
    HDFS-like stores; on object stores pair with a manifest commit).

    Returns the list of compacted bucket ids."""
    stats = partition_file_stats(coords_path)
    todo = sorted(b for b, n in stats.items() if n >= min_files)
    if not todo:
        return []
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        frag = spark.read.parquet(coords_path).where(
            F.col("frame_bucket").isin([int(b) for b in todo])
        )
        (
            frag.repartition(max(1, target_files * len(todo)), "frame_bucket")
            .sortWithinPartitions("frame_id", "atom_id")
            .write.mode("overwrite")
            .partitionBy("frame_bucket")
            .parquet(coords_path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return todo

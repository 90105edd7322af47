"""Distances, displacements, closest contact, centers (G1/G2/G5/G6/G7).

Each operator has two equivalent physical strategies (SURVEY.md §7.1):

- ``form="sql"`` — a declarative plan: broadcast the (tiny) index
  table onto the anchor role's coords, restricted to the atoms
  referenced, self-join the other roles per frame
  (:func:`_role_stitch`), compute the displacements with codegen'd
  column expressions, MIC included (:func:`_displacements`, see
  ``mic.py``). Catalyst gets full pushdown/pruning visibility; used
  as the auditable cross-check and for small pair sets.
- ``form="vectorized"`` — the throughput path: one ``mapInArrow``
  runs the numpy kernels in ``kernels.py`` over complete-frame blocks
  of ``traj.frame_packed()`` (:func:`map_frame_blocks`; one range
  shuffle, free on a packed trajectory) and hands each block's output
  back as Arrow record batches; zero further shuffles. An index
  kernel (pairs, triplets, quartets) runs tile by tile, each tile one
  record batch of at most the session's Arrow batch size of rows
  (:func:`_index_tiles`), so the JVM takes in one tile while the next
  is computed and a task never holds a whole block's output. On a
  loaded file the same task decodes the chunk, cut to the atoms the
  index set reads, and on a table load whose footers prove the frame
  order it streams its run of Parquet row groups, so the query runs
  one Python stage with no JVM scan.

A new operator is a kernel plus one :func:`map_frame_blocks` call,
or the role stitch plus the MIC step.  The trajectory analyses share
three relational shapes, each written once: the banded time-lag
self-join (:func:`_lag_join`: MSD, VACF, scalar ACF), the cell-list
join (:func:`_cell_join`: neighbor pairs, neighbors of a selection)
and the mass-weighted feed (:func:`_mass_weighted`: COM, Rg,
gyration tensor).

``form="auto"`` picks vectorized for ≥512 pairs.

The reference's equivalents: driver loops over frame-chunks wrapping
delayed numpy/C kernels (``geometry/distance.py:69-145`` distances,
``:202-279`` displacements, ``:299-337`` COM, ``:355-390`` COG,
``:393-464`` closest contact — single frame only there; ours does
all frames with a ``min_by`` aggregation, strictly more capable).
"""

from __future__ import annotations

import itertools
from typing import Iterable, Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F

from dask_traj_spark import schemas
from dask_traj_spark.operators import kernels
from dask_traj_spark.operators.mic import (
    BOX_COLS as _BOX_COLS,
    add_mic_displacement,
    add_mic_distance,
    orthogonality_expr,
)
from dask_traj_spark.operators.unitcell import lengths_angles_np
from dask_traj_spark.session import shared_broadcast
from dask_traj_spark.sources._arrow import (
    LITERAL_IDS_MAX,
    arrow_column,
    frame_feed,
    numpy_column,
    select_ids,
)

_VECTORIZED_THRESHOLD = 512


# ---------------------------------------------------------------- helpers


def _index_array(pairs, n_cols: int) -> np.ndarray:
    """``np.asarray(list(pairs))``, through one flat list where every
    row is a list or tuple of ``n_cols`` items that convert to an
    integer array: the same array, in 21 ms instead of 28 ms for
    124,750 pairs on a 4-core x86 host.  Any other input takes the
    nested conversion, and with it its dtype, shape and errors."""
    if isinstance(pairs, np.ndarray):
        return pairs
    rows = pairs if isinstance(pairs, list) else list(pairs)
    if rows and set(map(type, rows)) <= {list, tuple} and set(map(len, rows)) == {n_cols}:
        try:
            flat = np.asarray(list(itertools.chain.from_iterable(rows)))
        except ValueError:  # ragged items: the nested conversion raises
            flat = None
        if flat is not None and flat.ndim == 1 and flat.dtype.kind in "iu":
            return flat.reshape(len(rows), n_cols)
    return np.asarray(rows)


def _normalize_indices(
    pairs, n_cols: int, n_atoms: int | None, name: str
) -> np.ndarray:
    """Validate an index set eagerly (P3: reference raises ValueError
    on out-of-range — distance.py:105-106, angle.py:95-96)."""
    arr = _index_array(pairs, n_cols)
    if arr.size == 0:
        return arr.reshape(0, n_cols).astype(np.int32)
    if arr.ndim != 2 or arr.shape[1] != n_cols:
        raise ValueError(f"{name} must have shape (n, {n_cols}), got {arr.shape}")
    if not np.issubdtype(arr.dtype, np.integer):
        raise ValueError(f"{name} must be integers")
    if arr.min() < 0 or (n_atoms is not None and arr.max() >= n_atoms):
        raise ValueError(
            f"{name} contains atom indices outside [0, {n_atoms})"
        )
    return arr.astype(np.int32)


def _pairs_df(spark, arr: np.ndarray, cols: Sequence[str]) -> DataFrame:
    rows = [(int(i),) + tuple(int(v) for v in r) for i, r in enumerate(arr)]
    schema = ", ".join([f"{cols[0]} int"] + [f"{c} int" for c in cols[1:]])
    return spark.createDataFrame(rows, schema)


def _with_box(traj, df: DataFrame) -> DataFrame:
    """Join per-frame box vectors + the orthogonality predicate onto a
    frame-keyed DataFrame. The unitcell dimension has one row per
    frame — tiny relative to the fact table; an equi-join on
    frame_id that AQE turns into broadcast when it fits."""
    uc = traj.unitcell_full()
    sel = uc.select(
        "frame_id",
        *[F.col(c).cast("double").alias(c) for c in _BOX_COLS],
        orthogonality_expr(
            F.col("alpha").cast("double"),
            F.col("beta").cast("double"),
            F.col("gamma").cast("double"),
        ).alias("_ortho"),
    )
    return df.join(sel, "frame_id")


# ------------------------------------------------------------ SQL forms


def _atom_role_restrict(c: DataFrame, ids) -> DataFrame:
    """Restrict coords to a driver-known atom id set: literal pushdown
    filter for small sets (see ``LITERAL_IDS_MAX``), broadcast
    semi-join beyond."""
    uniq = np.unique(np.asarray(list(ids), dtype=np.int64))
    if len(uniq) <= LITERAL_IDS_MAX:
        return select_ids(c, "atom_id", uniq)
    sel = F.broadcast(
        c.sparkSession.createDataFrame(
            [(int(i),) for i in uniq], "atom_id int"
        )
    )
    return c.join(sel, "atom_id", "left_semi")


def _role_stitch(traj, arr: np.ndarray, id_col: str, roles, anchor: int):
    """(frame_id, <id_col>, x<r>, y<r>, z<r> for each role r) for every
    (frame, index row) — the one per-frame self-join every SQL
    geometry form runs, for any number of roles.

    ``arr`` is the (n, len(roles)) index array; ``roles`` names its
    columns.  Plan shape: broadcast the index table onto the ANCHOR
    role's coords (a broadcast hash join keyed on atom_id — no
    shuffle of the fact table), then join each other role's coords
    on (frame_id, atom).  Every role's coords are first restricted
    to the atoms that role references (:func:`_atom_role_restrict`),
    so the shuffles move only the atoms the query touches."""
    idx = F.broadcast(_pairs_df(traj.spark, arr, [id_col, *roles]))

    def role_coords(k: int, atom_col: str) -> DataFrame:
        r = roles[k]
        return _atom_role_restrict(traj.coords, arr[:, k]).select(
            "frame_id",
            F.col("atom_id").alias(atom_col),
            *[F.col(c).cast("double").alias(f"{c}{r}") for c in "xyz"],
        )

    a = roles[anchor]
    df = (
        role_coords(anchor, "_atom")
        .join(idx, F.col("_atom") == F.col(a))
        .drop("_atom", a)
    )
    for k, r in enumerate(roles):
        if k != anchor:
            # name-based (USING) join: every role shares one coords
            # lineage, so column-object references would be ambiguous
            df = df.join(role_coords(k, r), ["frame_id", r]).drop(r)
    return df


def _displacements(traj, df: DataFrame, legs: dict, periodic: bool) -> DataFrame:
    """Append one displacement vector per leg — ``legs[p] = (a, b)``
    gives columns (px, py, pz) = r_b − r_a from the stitched role
    coords — then, when periodic and the trajectory has a box, the
    MIC step: join the box ONCE and replace each vector by its
    minimum image in turn (``add_mic_displacement`` stages every
    vector with ``withColumns``, as ``mic.py`` requires)."""
    df = df.withColumns(
        {
            f"{p}{c}": F.col(f"{c}{b}") - F.col(f"{c}{a}")
            for p, (a, b) in legs.items()
            for c in "xyz"
        }
    )
    if not (periodic and traj.have_unitcell):
        return df
    df = _with_box(traj, df)
    for p in legs:
        df = add_mic_displacement(
            df, f"{p}x", f"{p}y", f"{p}z", out=tuple(f"_m{p}{c}" for c in "xyz")
        )
    return df.drop(
        "_ortho", *_BOX_COLS, *[f"{p}{c}" for p in legs for c in "xyz"]
    ).withColumnsRenamed({f"_m{p}{c}": f"{p}{c}" for p in legs for c in "xyz"})


def _pair_legs(traj, arr: np.ndarray, periodic: bool) -> DataFrame:
    """(frame_id, pair_id, _dx, _dy, _dz): r_j − r_i per (frame, pair)."""
    df = _role_stitch(traj, arr, "pair_id", ("i", "j"), anchor=0)
    return _displacements(traj, df, {"_d": ("i", "j")}, periodic)


def _displacements_sql(traj, arr: np.ndarray, periodic: bool) -> DataFrame:
    return _pair_legs(traj, arr, periodic).select(
        "frame_id",
        "pair_id",
        F.col("_dx").cast("float").alias("dx"),
        F.col("_dy").cast("float").alias("dy"),
        F.col("_dz").cast("float").alias("dz"),
    )


def _mass_weighted(traj, topology: DataFrame | None, op: str) -> DataFrame:
    """coords ⋈ broadcast(atom_id, mass DOUBLE): the feed of every
    mass-weighted aggregate (COM, Rg, gyration tensor).  ``topology``
    defaults to the trajectory's own; ``op`` names the caller in the
    error raised when neither has masses."""
    top = topology if topology is not None else traj.topology
    if top is None:
        raise ValueError(f"{op} requires a topology with masses")
    m = F.broadcast(top.select("atom_id", F.col("mass").cast("double").alias("mass")))
    return traj.coords.join(m, "atom_id")


def _lag_join(df: DataFrame, t: str, lo: int, hi: int, target: dict, key: str | None = None):
    """The banded time-lag self-join, grouped by lag (BIGINT): each
    origin row explodes lags ``lo..hi`` and shifts its time ``t`` by
    the lag; the target side carries ``target`` (alias → column of
    ``df``); the sides equi-join on (``key``, shifted time).  O(rows·L)
    with L small — no per-lag rescan and no all-(t, t') quadratic
    join; the explode bounds the band like the binned range join in
    rangejoin.py.  The origin keeps ``df``'s own columns, so an
    aggregate reads a value at t as its name and at t+lag as its
    alias."""
    origin = df.select(
        *[c for c in df.columns if c != t],
        F.explode(F.sequence(F.lit(lo), F.lit(int(hi)))).alias("lag"),
        (F.col(t) + F.col("lag")).alias("_tf"),
    )
    tgt = df.select(
        *([F.col(key).alias("_tkey")] if key else []),
        F.col(t).alias("_tt"),
        *[F.col(c).alias(a) for a, c in target.items()],
    )
    on = F.col("_tf") == F.col("_tt")
    if key:
        on = (F.col(key) == F.col("_tkey")) & on
    return origin.join(tgt, on).groupBy(F.col("lag").cast("long").alias("lag"))


def _cell_join(traj, cutoff: float, fixed: dict, shifted: dict, fixed_ids=None, shifted_ids=None) -> DataFrame:
    """The cell-list spatial join: atoms are binned into cubic cells of
    edge ``cutoff``; a pair can only be within range if its cells
    differ by ≤1 in every axis, so the ``shifted`` side explodes to
    its 27 neighboring cells and the join is a plain equi-join on
    (frame_id, cell).  Each candidate pair matches EXACTLY once (the
    unique offset = cell_fixed − cell_shifted).  ``fixed``/``shifted``
    map each side's output columns to the binned coords' (atom_id and
    DOUBLE x, y, z); ``*_ids`` restrict a side to those atoms
    (:func:`_atom_role_restrict`)."""
    inv = 1.0 / float(cutoff)
    cell = lambda col: F.floor(F.col(col).cast("double") * F.lit(inv)).cast("long")  # noqa: E731
    base = traj.coords.select(
        "frame_id",
        "atom_id",
        *[F.col(c).cast("double").alias(c) for c in "xyz"],
        *[cell(c).alias(f"c{c}") for c in "xyz"],
    )

    def side(cols: dict, ids) -> DataFrame:
        b = base if ids is None else _atom_role_restrict(base, ids)
        return b.select("frame_id", *[F.col(c).alias(a) for a, c in cols.items()], "cx", "cy", "cz")

    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("ox"), F.lit(dy).alias("oy"), F.lit(dz).alias("oz"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            for dz in (-1, 0, 1)
        ]
    )
    near = side(shifted, shifted_ids).select(
        "frame_id", *shifted, F.explode(offsets).alias("o"), "cx", "cy", "cz"
    ).select(
        "frame_id", *shifted, *[(F.col(f"c{c}") + F.col(f"o.o{c}")).alias(f"c{c}") for c in "xyz"]
    )
    return side(fixed, fixed_ids).join(near, ["frame_id", "cx", "cy", "cz"])


# ----------------------------------------------------- vectorized forms
#
# Input layout: traj.frame_packed() — long-format PRIMITIVE columns,
# frame-contiguous and (frame_id, atom_id)-sorted per partition.
# Primitive columns take Arrow's zero-boxing fast path across the
# JVM→Python boundary; ARRAY<FLOAT> columns do not (measured ~10×
# slower end-to-end — per-element boxing on the JVM side). The numpy
# reshape to (frames, atoms, 3) happens Python-side, where it's a
# single memcpy-shaped operation. The per-frame unitcell is tiny and
# rides along as a broadcast numpy lookup, not as joined columns on
# 10^8 rows.


class _BoxLookup:
    """Driver-collected per-frame box: frame_id → (3,3) vectors +
    orthogonality flag, queried with searchsorted inside kernels.

    Scale note: one row per frame (n_frames ≪ n_rows), built once per
    trajectory and unit-cell table, and broadcast with each operator
    call's kernel constants."""

    def __init__(self, ids, vecs, ortho):
        self.ids = ids
        self.vecs = vecs
        self.ortho = ortho

    @classmethod
    def from_traj(cls, traj):
        """The trajectory's lookup, kept on it (as ``frame_packed``
        keeps its DataFrame) for as long as its ``unitcell`` is the
        same table: from the index's box vectors, else collected from
        ``unitcell`` in one Spark job, which later calls skip."""
        kept = getattr(traj, "_box_lookup", None)
        if kept is not None and kept[0] is traj.unitcell:
            return kept[1]
        if traj.index is not None and traj.index.box is not None:
            # the loader's own box vectors: no Spark job
            ang = lengths_angles_np(traj.index.box)[:, 3:]
            lookup = cls(traj.index.frame_ids, traj.index.box, kernels.is_orthogonal_np(ang))
        else:
            pdf = (
                traj.unitcell_full()
                .select("frame_id", *_BOX_COLS, "alpha", "beta", "gamma")
                .toPandas()
                .sort_values("frame_id")
            )
            ids = pdf["frame_id"].to_numpy()
            vecs = pdf[_BOX_COLS].to_numpy(dtype=np.float32).reshape(-1, 3, 3)
            ang = pdf[["alpha", "beta", "gamma"]].to_numpy(dtype=np.float32)
            lookup = cls(ids, vecs, kernels.is_orthogonal_np(ang))
        traj._box_lookup = (traj.unitcell, lookup)
        return lookup

    def get(self, frame_ids):
        """→ (keep, box, ortho): ``keep`` masks the frames that have a
        unitcell row; box/ortho cover only those.  A frame without one
        is dropped, as the SQL form's inner join drops it — never
        given a neighbour's box."""
        idx = np.searchsorted(self.ids, frame_ids)
        keep = idx < len(self.ids)
        keep[keep] = self.ids[idx[keep]] == frame_ids[keep]
        return keep, self.vecs[idx[keep]], self.ortho[idx[keep]]


_NOT_PACKED = (
    "the trajectory is not frame-packed (a packed=True Trajectory must "
    "have whole frames per partition, in ascending frame_id order)"
)


def _frame_blocks(batches, cap: int, ascending: bool = True):
    """Regroup an Arrow-batch iterator into complete-frame blocks,
    each a dict of NumPy columns holding whole frames and at most
    ``cap`` rows (one frame, when a frame alone holds more).  A block
    is given out once the frame after it would not fit; the frames
    that still fit, the batch's last frame among them (it may go on in
    the next batch: input is frame-contiguous), are carried into the
    next batch, and given out as the last block when none follows.
    With ``ascending``, frame ids that descend anywhere in the
    partition raise: the carried frames join each batch, so every step
    is checked.  A stream's partition may hold its micro-batch's files
    in any order, so there frames ascend only within a file."""
    carry = None
    for batch in batches:
        if not batch.num_rows:
            continue
        cols = {
            name: numpy_column(col)
            for name, col in zip(batch.schema.names, batch.columns)
        }
        if carry is not None:
            cols = {name: np.concatenate([carry[name], col]) for name, col in cols.items()}
        fids = cols["frame_id"]
        if ascending and (fids[1:] < fids[:-1]).any():
            bad = int(np.argmax(fids[1:] < fids[:-1]))
            raise ValueError(
                f"frame ids are not ascending ({fids[bad]} then "
                f"{fids[bad + 1]}) — {_NOT_PACKED}"
            )
        starts = np.flatnonzero(np.r_[True, fids[1:] != fids[:-1]])
        i, last = 0, len(starts) - 1
        while i < last:
            # frames i..j-1 fit the cap, frame j does not (or is last)
            j = max(int(np.searchsorted(starts, starts[i] + cap, "right")) - 1, i + 1)
            if j == last and len(fids) - starts[i] <= cap:
                break
            yield {name: col[starts[i] : starts[j]] for name, col in cols.items()}
            i = j
        carry = {name: col[starts[i] :] for name, col in cols.items()}
    if carry is not None:
        yield carry


def _block_arrays(block, box_lookup, n_atoms: int | None = None):
    """Complete-frame block → (frame_ids (B,), xyz (B, n_atoms, 3),
    box (B,3,3)|None, ortho (B,)|None).  The box comes from the
    driver-collected ``box_lookup`` when given, else there is none
    (non-periodic).  With ``n_atoms``, every frame must hold exactly
    that many atoms (a kernel indexes them by position)."""
    f = block["frame_id"]
    starts = np.flatnonzero(np.r_[True, f[1:] != f[:-1]])
    fids, counts = f[starts], np.diff(np.r_[starts, len(f)])
    n_at = int(counts[0])
    if not (counts == n_at).all():
        raise ValueError(
            f"frame blocks have unequal atom counts — {_NOT_PACKED}; "
            f"counts={dict(zip(fids, counts))}"
        )
    if n_atoms is not None and n_at != n_atoms:
        raise ValueError(
            f"frame {fids[0]} holds {n_at} of the {n_atoms} atoms the "
            "query reads: atoms are missing from the trajectory"
        )
    xyz = np.stack(
        [block[c].astype(np.float32, copy=False).reshape(-1, n_at) for c in "xyz"],
        axis=-1,
    )
    if box_lookup is not None:
        keep, box, ortho = box_lookup.get(fids)
        if not keep.all():
            fids, xyz = fids[keep], xyz[keep]
        return fids, xyz, box, ortho
    return fids, xyz, None, None


def _arrow_schema(schema):
    """The Arrow schema of a Spark schema (a StructType or DDL)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    return to_arrow_schema(DataType.fromDDL(schema) if isinstance(schema, str) else schema)


def _record_batch(cols: dict, schema):
    """A kernel's NumPy (or Arrow) columns as one record batch of the
    Arrow ``schema``, cast as ``mapInPandas`` casts."""
    import pyarrow as pa

    arrays = []
    for f in schema:
        col = cols[f.name]
        arrays.append(col if isinstance(col, pa.Array) else arrow_column(col, f.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def _block_cap(spark) -> int:
    """Rows per frame block: the session's Arrow batch size, the cap
    of the batches the JVM feeds a map (none when it is not
    positive)."""
    cap = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return cap if cap > 0 else 2**62


def map_frame_blocks(
    traj,
    fn,
    schema,
    *,
    atoms: np.ndarray | None = None,
    periodic: bool = False,
    const=None,
) -> DataFrame:
    """Run a NumPy kernel over every complete-frame block of the
    vectorized feed — the one fan-out / kernel / concatenate loop
    every NumPy operator shares (the reference's per-frame-chunk
    ``delayed`` map, geometry/distance.py:69-145).

    ``fn(fids, xyz, box, ortho, const)`` gets a block's frame ids
    (B,), coordinates (B, n_atoms, 3) float32, box (B, 3, 3) and
    orthogonality flags (B,) (both None unless ``periodic`` and the
    trajectory has a unitcell), and ``const``; it returns a dict of
    ``schema``'s columns, NumPy arrays or Arrow arrays, which becomes
    one record batch, or an iterable of such dicts, each its own
    record batch, given out as it is made (:func:`_index_tiles`).
    ``const`` and the box lookup travel in ONE
    broadcast.  ``atoms`` (sorted, unique) restricts the feed to
    those atoms, so a block's atom axis holds exactly them in that
    order — with 500 of 22k atoms selected this cuts the feed ~45×.
    Frames with no unitcell row are dropped on the periodic path.  A
    block holds at most ``spark.sql.execution.arrow.maxRecordsPerBatch``
    rows of whole frames, in feed order: ascending, except on a
    stream (:func:`_frame_blocks`).

    Plan: one ``mapInArrow``, no shuffle on a packed trajectory.  On
    a loaded file it runs over the ``range`` of chunk ids and decodes
    each chunk in the same task, cut to the atoms' span; on a table
    load whose coords footers prove the frame order (one data file,
    row-group frame ranges ascending without overlap) it runs over a
    ``range`` of row-group runs and each task streams its run with
    pyarrow, in (frame_id, atom_id) order
    (:func:`~dask_traj_spark.sources._arrow.frame_feed`): one Python
    stage per task, no file scan.  Any other feed (several Parquet
    files, derived, cached, streaming) reaches the same loop through
    the JVM."""
    return _map_blocks(traj, fn, schema, atoms, periodic, const, _block_cap(traj.spark))


def _map_blocks(traj, fn, schema, atoms, periodic: bool, const, cap: int) -> DataFrame:
    """:func:`map_frame_blocks` with blocks of at most ``cap`` rows."""
    lookup = _BoxLookup.from_traj(traj) if periodic and traj.have_unitcell else None
    feed = frame_feed(traj.frame_packed(), atoms)
    b = shared_broadcast(traj.spark.sparkContext, (const, lookup))
    ascending = not feed.source.isStreaming
    n_atoms = None if atoms is None else len(atoms)
    out_schema = _arrow_schema(schema)
    # the task closes over this, not over ``feed``: a DataFrame does
    # not pickle
    batches_of = feed.batches

    def task(batches):
        c, box_lookup = b.value
        for block in _frame_blocks(batches_of(batches), cap, ascending):
            fids, xyz, box, ortho = _block_arrays(block, box_lookup, n_atoms)
            if len(fids):
                result = fn(fids, xyz, box, ortho, c)
                for cols in [result] if isinstance(result, dict) else result:
                    yield _record_batch(cols, out_schema)

    out = feed.source.mapInArrow(task, schema)
    # kept on this DataFrame object only: the cut scan its tasks
    # decode and the row groups they read, None when the JVM feeds them
    out._fused_scan, out._fused_row_groups = feed.scan, feed.row_groups
    return out


def _map_index_blocks(
    traj, arr: np.ndarray, fn, schema, periodic: bool, frames_only: bool = False
) -> DataFrame:
    """:func:`map_frame_blocks` for an atom-index kernel (pairs,
    triplets, quartets): the feed carries only the atoms ``arr``
    references, and the kernel ``fn(fids, xyz, box, ortho, idx,
    first)`` runs over each block in tiles (:func:`_index_tiles`) of
    at most the session's Arrow batch size of rows, ``idx`` being the
    tile's run of ``arr`` remapped to positions on that restricted
    atom axis."""
    sel, pos = np.unique(arr, return_inverse=True)
    const = pos.reshape(arr.shape).astype(np.int32)
    cap = _block_cap(traj.spark)

    def tiles(fids, xyz, box, ortho, idx):
        return _index_tiles(fn, fids, xyz, box, ortho, idx, cap, frames_only)

    return _map_blocks(traj, tiles, schema, sel, periodic, const, cap)


def _index_tiles(fn, fids, xyz, box, ortho, idx, cap: int, frames_only: bool = False):
    """Run the index kernel ``fn`` over a block's (frame, index row)
    grid one tile at a time, in row order, and yield each tile's
    columns.  While a frame's ``n`` index rows fit ``cap``, a tile is
    ``max(1, cap // n)`` whole frames; past it, one frame with its
    index rows cut into runs of ``cap``.  ``frames_only`` (one output
    row per frame, a list of ``n`` values) never cuts a frame.  ``fn``
    gets the tile's frames and index rows, and the position of the
    first of these in the whole index set (its first output id).  The
    kernels are elementwise over (frame, index row), so the tiles hold
    the bits of one call on the whole block."""
    n = len(idx)
    per = max(1, n if frames_only else min(n, cap))
    step = max(1, cap // per)
    for a in range(0, len(fids), step):
        f = slice(a, a + step)
        b, o = (None, None) if box is None else (box[f], ortho[f])
        for lo in range(0, n, per):
            yield fn(fids[f], xyz[f], b, o, idx[lo : lo + per], lo)


def _long_rows(fids: np.ndarray, id_col: str, first: int, n: int, **values) -> dict:
    """Long output of an index kernel's tile: frame_id repeated,
    ``id_col`` first..first+n-1 tiled, then the raveled value
    columns."""
    return {
        "frame_id": np.repeat(fids, n),
        id_col: np.tile(np.arange(first, first + n, dtype=np.int32), len(fids)),
        **values,
    }


def _list_column(rows: np.ndarray):
    """One Arrow list per row of a 2-D array, zero-copy: the flat
    values under row offsets."""
    import pyarrow as pa

    offsets = np.arange(rows.shape[0] + 1, dtype=np.int32) * rows.shape[1]
    return pa.ListArray.from_arrays(arrow_column(offsets), arrow_column(rows.reshape(-1)))


def _wide(fids, xyz, box, ortho, p, _first):
    d = kernels.distances_np(xyz, p[:, 0], p[:, 1], box, ortho)
    return {"frame_id": fids, "dists": _list_column(d)}


def _dists(fids, xyz, box, ortho, p, first):
    d = kernels.distances_np(xyz, p[:, 0], p[:, 1], box, ortho)
    return _long_rows(fids, "pair_id", first, len(p), dist=d.ravel())


def _vectors(fids, xyz, box, ortho, p, first):
    d = kernels.displacements_np(xyz, p[:, 0], p[:, 1], box, ortho)
    return _long_rows(
        fids, "pair_id", first, len(p),
        dx=d[..., 0].ravel(), dy=d[..., 1].ravel(), dz=d[..., 2].ravel(),
    )


def _vectorized_pair_op(
    traj, arr: np.ndarray, periodic: bool, want_vectors: bool, wide_output: bool = False
) -> DataFrame:
    if want_vectors:
        fn, schema = _vectors, schemas.DISPLACEMENTS_SCHEMA
    elif wide_output:
        fn, schema = _wide, schemas.DISTANCES_WIDE_SCHEMA
    else:
        fn, schema = _dists, schemas.DISTANCES_SCHEMA
    return _map_index_blocks(traj, arr, fn, schema, periodic, frames_only=wide_output)


# ------------------------------------------------------------ public API


def compute_distances(
    traj,
    atom_pairs: Iterable,
    periodic: bool = True,
    form: str = "auto",
    n_atoms: int | None = None,
    wide_output: bool = False,
) -> DataFrame:
    """Euclidean distance per (frame, atom-pair), optional MIC.

    Returns DataFrame(frame_id, pair_id, dist FLOAT); pair_id is the
    position in ``atom_pairs``. With ``wide_output=True`` returns
    (frame_id, dists ARRAY<FLOAT>) — one row per frame, the
    reference's native result shape; it selects the vectorized form
    (``form="sql"`` raises ValueError). Reference:
    compute_distances, geometry/distance.py:69-145.
    """
    arr = _normalize_indices(atom_pairs, 2, n_atoms or traj.n_atoms, "atom_pairs")
    if wide_output:
        if form == "sql":
            raise ValueError("wide_output=True needs the vectorized form")
        form = "vectorized"
    if len(arr) == 0:  # P4 empty short-circuit (distance.py:107-108)
        schema = schemas.DISTANCES_WIDE_SCHEMA if wide_output else schemas.DISTANCES_SCHEMA
        return traj.spark.createDataFrame([], schema)
    if form == "auto":
        form = "vectorized" if len(arr) >= _VECTORIZED_THRESHOLD else "sql"
    if form == "vectorized":
        return _vectorized_pair_op(
            traj, arr, periodic, want_vectors=False, wide_output=wide_output
        )
    if periodic and traj.have_unitcell:
        # distance-only MIC fast path: min(d2) via codegen'd least()
        # instead of the interpreted 27-image argmin HOF
        df = add_mic_distance(
            _with_box(traj, _pair_legs(traj, arr, periodic=False)),
            "_dx", "_dy", "_dz", out="_dist",
        )
        return df.select("frame_id", "pair_id", F.col("_dist").alias("dist"))
    d = _displacements_sql(traj, arr, periodic)
    # x*x, not pow(x,2) — exact-rounded, bit-reproducible vs the oracle
    sq = lambda c: F.col(c).cast("double") * F.col(c).cast("double")  # noqa: E731
    dist = F.sqrt(sq("dx") + sq("dy") + sq("dz"))
    return d.select("frame_id", "pair_id", dist.cast("float").alias("dist"))


def compute_displacements(
    traj,
    atom_pairs: Iterable,
    periodic: bool = True,
    form: str = "auto",
    n_atoms: int | None = None,
) -> DataFrame:
    """Displacement vector r_j − r_i per (frame, pair), optional MIC.

    Returns DataFrame(frame_id, pair_id, dx, dy, dz FLOAT).
    Reference: compute_displacements, geometry/distance.py:202-279.
    """
    arr = _normalize_indices(atom_pairs, 2, n_atoms or traj.n_atoms, "atom_pairs")
    if len(arr) == 0:
        return traj.spark.createDataFrame([], schemas.DISPLACEMENTS_SCHEMA)
    if form == "auto":
        form = "vectorized" if len(arr) >= _VECTORIZED_THRESHOLD else "sql"
    if form == "vectorized":
        return _vectorized_pair_op(traj, arr, periodic, want_vectors=True)
    return _displacements_sql(traj, arr, periodic)


def compute_center_of_mass(traj, topology: DataFrame | None = None) -> DataFrame:
    """Mass-weighted mean position per frame → (frame_id, x, y, z
    DOUBLE). A pure partial+final aggregation: the map-side combine
    collapses n_atoms rows to one per frame before any exchange.
    Reference: geometry/distance.py:282-337 (float64 accumulation,
    masses normalized to sum 1 — :319-320)."""
    j = _mass_weighted(traj, topology, "compute_center_of_mass")
    return (
        j.groupBy("frame_id")
        .agg(
            (F.sum(F.col("x").cast("double") * F.col("mass")) / F.sum("mass")).alias("x"),
            (F.sum(F.col("y").cast("double") * F.col("mass")) / F.sum("mass")).alias("y"),
            (F.sum(F.col("z").cast("double") * F.col("mass")) / F.sum("mass")).alias("z"),
        )
    )


def compute_center_of_geometry(traj) -> DataFrame:
    """Unweighted mean position per frame → (frame_id, x, y, z
    DOUBLE). Reference: geometry/distance.py:340-390."""
    return traj.coords.groupBy("frame_id").agg(
        F.avg(F.col("x").cast("double")).alias("x"),
        F.avg(F.col("y").cast("double")).alias("y"),
        F.avg(F.col("z").cast("double")).alias("z"),
    )


def find_closest_contact(
    traj,
    group1: Iterable[int],
    group2: Iterable[int],
    frame: int | None = None,
    periodic: bool = True,
) -> DataFrame:
    """Closest atom pair between two groups → (frame_id, i, j, dist).

    The reference computes a single frame only and calls this shape
    its worst case (geometry/distance.py:393-464, note :452-454);
    relationally it is a per-frame cross join of two tiny filtered
    sets followed by a ``min_by`` — we generalize to all frames
    (``frame=None``) and the aggregation is partial+final, so it
    scales with n_frames, not with driver round-trips.
    Ties break deterministically on (dist, i, j).
    """
    g1 = sorted({int(a) for a in group1})
    g2 = sorted({int(a) for a in group2})
    if not g1 or not g2:
        raise ValueError("find_closest_contact requires non-empty groups")
    c = traj.coords
    if frame is not None:
        c = c.filter(F.col("frame_id") == frame)
    c1 = c.filter(F.col("atom_id").isin(g1)).select(
        "frame_id",
        F.col("atom_id").alias("i"),
        F.col("x").cast("double").alias("x1"),
        F.col("y").cast("double").alias("y1"),
        F.col("z").cast("double").alias("z1"),
    )
    c2 = c.filter(F.col("atom_id").isin(g2)).select(
        "frame_id",
        F.col("atom_id").alias("j"),
        F.col("x").cast("double").alias("x2"),
        F.col("y").cast("double").alias("y2"),
        F.col("z").cast("double").alias("z2"),
    )
    df = _displacements(traj, c1.join(c2, "frame_id"), {"_d": ("1", "2")}, periodic)
    dist = F.sqrt(
        F.col("_dx") * F.col("_dx")
        + F.col("_dy") * F.col("_dy")
        + F.col("_dz") * F.col("_dz")
    )
    scored = df.select("frame_id", "i", "j", dist.alias("dist"))
    best = (
        scored.groupBy("frame_id")
        .agg(F.min(F.struct("dist", "i", "j")).alias("best"))
        .select(
            "frame_id",
            F.col("best.i").alias("i"),
            F.col("best.j").alias("j"),
            F.col("best.dist").cast("float").alias("dist"),
        )
    )
    return best


def compute_radius_of_gyration(traj, topology: DataFrame | None = None) -> DataFrame:
    """Mass-weighted radius of gyration per frame → (frame_id, rg
    DOUBLE): Rg² = Σmᵢ|rᵢ−com|²/Σm, computed from sufficient
    statistics (Σm·r², Σm·r, Σm) so it is ONE partial+final
    aggregation — no com join-back, no second pass over coords.
    Beyond-reference (the reference has no Rg; mdtraj's
    ``compute_rg`` is the public API shape being matched)."""
    x, y, z = (F.col(c).cast("double") for c in ("x", "y", "z"))
    j = _mass_weighted(traj, topology, "compute_radius_of_gyration")
    agg = j.groupBy("frame_id").agg(
        F.sum(F.col("mass") * (x * x + y * y + z * z)).alias("srr"),
        F.sum(F.col("mass") * x).alias("sx"),
        F.sum(F.col("mass") * y).alias("sy"),
        F.sum(F.col("mass") * z).alias("sz"),
        F.sum("mass").alias("sm"),
    )
    cx, cy, cz = (F.col(c) / F.col("sm") for c in ("sx", "sy", "sz"))
    rg2 = F.col("srr") / F.col("sm") - (cx * cx + cy * cy + cz * cz)
    return agg.select("frame_id", F.sqrt(F.greatest(rg2, F.lit(0.0))).alias("rg"))


def rdf_histogram(
    traj,
    atom_pairs: Iterable,
    bin_width: float = 1.0 / 64.0,
    periodic: bool = False,
    n_atoms: int | None = None,
) -> DataFrame:
    """Radial distribution histogram: pair distances bucketed into
    ``bin_width`` shells → (bin BIGINT, r_lo DOUBLE, n_pairs BIGINT),
    summed over all frames.  The classic MD structure analysis — one
    distances plan (same operator as G1) plus one partial+final
    aggregate on the bin id; with a dyadic ``bin_width`` the floor
    is engine-exact.  Beyond-reference (mdtraj ``compute_rdf`` shape,
    un-normalized counts — normalization constants are a driver-side
    multiply)."""
    d = compute_distances(traj, atom_pairs, periodic=periodic, n_atoms=n_atoms)
    inv = 1.0 / float(bin_width)
    b = F.floor(F.col("dist").cast("double") * F.lit(inv)).cast("long")
    return (
        d.select(b.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin",
            (F.col("bin").cast("double") * F.lit(float(bin_width))).alias("r_lo"),
            "n_pairs",
        )
    )


def neighbor_pairs(traj, cutoff: float) -> DataFrame:
    """All atom pairs within ``cutoff`` per frame WITHOUT enumerating
    the O(n²) pair list — the cell-list spatial self-join every
    neighbor-search / contact-map workload needs at scale.

    One symmetric :func:`_cell_join` (the j side explodes its 27
    neighbor cells) kept at i < j: each candidate pair matches
    exactly once, so no dedup pass is needed; the exact distance
    filter then trims the shell corners.  Cost is O(n · local
    density), one shuffle on
    (frame, cell) — vs the O(n²) broadcast-pairs join of
    ``compute_distances``, which is the right tool only for a
    driver-enumerated pair list.

    Returns (frame_id, i, j, dist FLOAT) with i < j, non-periodic
    (minimum-image neighbor lists additionally shift the 27 offsets
    by the box vectors; same plan shape).  Value path matches G1:
    float32 components, float32 final sqrt.
    """
    cand = _cell_join(
        traj, cutoff,
        {"i": "atom_id", "x1": "x", "y1": "y", "z1": "z"},
        {"j": "atom_id", "x2": "x", "y2": "y", "z2": "z"},
    ).where(F.col("i") < F.col("j"))
    fx = (F.col("x2") - F.col("x1")).cast("float").cast("double")
    fy = (F.col("y2") - F.col("y1")).cast("float").cast("double")
    fz = (F.col("z2") - F.col("z1")).cast("float").cast("double")
    dist = F.sqrt(fx * fx + fy * fy + fz * fz).cast("float")
    return (
        cand.select("frame_id", "i", "j", dist.alias("dist"))
        .where(F.col("dist") <= F.lit(float(cutoff)).cast("float"))
    )


def mean_squared_displacement(traj, max_lag: int) -> DataFrame:
    """MSD(τ) = ⟨|r(t+τ) − r(t)|²⟩ over atoms and start frames, for
    τ = 1..max_lag → (lag BIGINT, n_samples BIGINT, msd DOUBLE) —
    the diffusion analysis every MD workflow runs.

    Plan shape: the banded time-lag self-join (:func:`_lag_join`) —
    one side explodes its ``max_lag`` target frames, the other joins
    on the (atom_id, frame_id) equi-key; partial+final average per
    lag."""
    c = traj.coords.select(
        "atom_id",
        "frame_id",
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        F.col("z").cast("double").alias("z"),
    )
    dx = F.col("x2") - F.col("x")
    dy = F.col("y2") - F.col("y")
    dz = F.col("z2") - F.col("z")
    return _lag_join(
        c, "frame_id", 1, max_lag, {"x2": "x", "y2": "y", "z2": "z"}, key="atom_id"
    ).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.avg(dx * dx + dy * dy + dz * dz).alias("msd"),
    )


def velocity_autocorrelation(traj, max_lag: int) -> DataFrame:
    """VACF(τ) = ⟨v(t)·v(t+τ)⟩ over atoms and start frames for
    τ = 0..max_lag → (lag BIGINT, n_samples BIGINT, vacf DOUBLE),
    with v(t) = r(t+1) − r(t) (forward finite difference — the
    standard estimator when the source stores only positions).

    Plan shape: ONE window (partition atom_id, order frame_id) builds
    the velocity series with ``lead`` — a single shuffle keyed on
    atom_id, each partition a bounded per-atom time series — then the
    same banded time-lag self-join as ``mean_squared_displacement``
    (explode ≤max_lag+1 target frames, equi-join, partial+final
    average).  Velocity components are exact dyadic differences, so
    their dot products aggregate order-independently (oracle-gate
    requirement)."""
    from pyspark.sql import Window

    c = traj.coords.select(
        "atom_id",
        "frame_id",
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
        F.col("z").cast("double").alias("z"),
    )
    w = Window.partitionBy("atom_id").orderBy("frame_id")
    v = c.select(
        "atom_id",
        "frame_id",
        (F.lead("x").over(w) - F.col("x")).alias("vx"),
        (F.lead("y").over(w) - F.col("y")).alias("vy"),
        (F.lead("z").over(w) - F.col("z")).alias("vz"),
    ).where(F.col("vx").isNotNull())
    dot = (
        F.col("vx") * F.col("wx")
        + F.col("vy") * F.col("wy")
        + F.col("vz") * F.col("wz")
    )
    return _lag_join(
        v, "frame_id", 0, max_lag, {"wx": "vx", "wy": "vy", "wz": "vz"}, key="atom_id"
    ).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.avg(dot).alias("vacf"),
    )


_TWO_PI_3 = 2.0943951023931953  # 2*pi/3, exact double literal both engines


def gyration_tensor(traj, topology: DataFrame | None = None,
                    _round6_double: bool = False) -> DataFrame:
    """Per-frame gyration-tensor shape analysis → (frame_id, rg2,
    lambda1, lambda2, lambda3, asphericity, acylindricity):
    S = (1/M)·Σ mᵢ(rᵢ−com)(rᵢ−com)ᵀ assembled from ONE
    partial+final aggregation of the 6 second moments + 3 first
    moments + mass, eigenvalues by the closed-form symmetric-3×3
    (Cardano) solution — λ₁ ≥ λ₂ ≥ λ₃, asphericity b = λ₁−(λ₂+λ₃)/2,
    acylindricity c = λ₂−λ₃ (the polymer-physics shape descriptors;
    mdtraj computes the same tensor in ``compute_gyration_tensor``).

    Everything up to the Cardano angle is exact-or-correctly-rounded
    arithmetic on dyadic-grid inputs (bit-identical across engines);
    acos/cos are transcendental, so gated callers pass
    ``_round6_double`` to round λ₁/λ₃ at 1e-6 (policy item 3) — λ₂
    is recovered as trace−λ₁−λ₃ so the triple still sums exactly to
    rg².  Degenerate frames (p = 0: single atom, perfect isotropy)
    short-circuit to λ = trace/3.

    100-TB posture: one agg keyed on frame_id; the eigen math is 21
    scalar expressions per frame row, fused in codegen."""
    x, y, z = (F.col(c).cast("double") for c in ("x", "y", "z"))
    w = F.col("mass")
    agg = _mass_weighted(traj, topology, "gyration_tensor").groupBy("frame_id").agg(
        F.sum(w * x * x).alias("sxx"), F.sum(w * y * y).alias("syy"),
        F.sum(w * z * z).alias("szz"), F.sum(w * x * y).alias("sxy"),
        F.sum(w * x * z).alias("sxz"), F.sum(w * y * z).alias("syz"),
        F.sum(w * x).alias("sx"), F.sum(w * y).alias("sy"),
        F.sum(w * z).alias("sz"), F.sum(w).alias("sm"),
    )
    cx, cy, cz = (F.col(c) / F.col("sm") for c in ("sx", "sy", "sz"))
    df = agg.withColumns(
        {
            "s11": F.col("sxx") / F.col("sm") - cx * cx,
            "s22": F.col("syy") / F.col("sm") - cy * cy,
            "s33": F.col("szz") / F.col("sm") - cz * cz,
            "s12": F.col("sxy") / F.col("sm") - cx * cy,
            "s13": F.col("sxz") / F.col("sm") - cx * cz,
            "s23": F.col("syz") / F.col("sm") - cy * cz,
        }
    )
    tr = F.col("s11") + F.col("s22") + F.col("s33")
    mean = tr / 3.0
    df = df.withColumns(
        {
            "b11": F.col("s11") - mean, "b22": F.col("s22") - mean,
            "b33": F.col("s33") - mean, "tr": tr,
        }
    )
    sq = lambda c: F.col(c) * F.col(c)  # noqa: E731
    p2 = (
        sq("b11") + sq("b22") + sq("b33")
        + 2.0 * (sq("s12") + sq("s13") + sq("s23"))
    ) / 6.0
    det_b = (
        F.col("b11") * (F.col("b22") * F.col("b33") - sq("s23"))
        - F.col("s12") * (F.col("s12") * F.col("b33") - F.col("s23") * F.col("s13"))
        + F.col("s13") * (F.col("s12") * F.col("s23") - F.col("b22") * F.col("s13"))
    )
    df = df.withColumns({"p2": p2, "detb": det_b})
    p = F.sqrt(F.col("p2"))
    q = F.greatest(
        F.lit(-1.0),
        F.least(F.lit(1.0), F.col("detb") / (2.0 * F.col("p2") * p)),
    )
    phi = F.acos(q) / 3.0
    rnd = (lambda c: F.round(c, 6)) if _round6_double else (lambda c: c)
    m3 = F.col("tr") / 3.0
    l1_raw = m3 + 2.0 * p * F.cos(phi)
    l3_raw = m3 + 2.0 * p * F.cos(phi + F.lit(_TWO_PI_3))
    degenerate = F.col("p2") <= F.lit(0.0)
    l1 = F.when(degenerate, m3).otherwise(rnd(l1_raw))
    l3 = F.when(degenerate, m3).otherwise(rnd(l3_raw))
    df = df.withColumns({"l1": l1, "l3": l3})
    l2 = F.col("tr") - F.col("l1") - F.col("l3")
    return df.select(
        "frame_id",
        F.col("tr").alias("rg2"),
        F.col("l1").alias("lambda1"),
        l2.alias("lambda2"),
        F.col("l3").alias("lambda3"),
        (F.col("l1") - (l2 + F.col("l3")) / 2.0).alias("asphericity"),
        (l2 - F.col("l3")).alias("acylindricity"),
    )


def native_contact_fraction(
    traj,
    atom_pairs: Iterable,
    r_cut: float = 0.5,
    lam: float = 1.25,
    ref_frame: int = 0,
    periodic: bool = False,
    n_atoms: int | None = None,
) -> DataFrame:
    """Fraction of native contacts Q(t) per frame → (frame_id,
    n_native, n_formed, q): the reference contact set is every pair
    closer than ``r_cut`` in ``ref_frame``; a contact counts as
    formed at frame t when its distance is below ``lam·r_cut``
    (the simplified Best-Hummer Q — the folding/order-parameter
    analysis; reference users run it through ``to_mdtraj``).

    Pass dyadic ``r_cut``/``lam·r_cut`` (0.5 and 0.625 by default)
    so threshold comparisons on float32 distances cannot straddle
    engine rounding.

    Plan shape: ONE distance computation over all (pair, frame)
    rows; the reference set is a self-filter of that result
    broadcast back onto it (pair_id equi-join, no shuffle of the
    distance stream); one partial+final agg per frame."""
    d = compute_distances(
        traj, atom_pairs, periodic=periodic, form="sql", n_atoms=n_atoms
    )
    ref = F.broadcast(
        d.where(
            (F.col("frame_id") == int(ref_frame))
            & (F.col("dist") < float(r_cut))
        ).select("pair_id")
    )
    formed = (F.col("dist") < float(lam) * float(r_cut)).cast("long")
    return (
        d.join(ref, "pair_id")
        .groupBy("frame_id")
        .agg(
            F.count(F.lit(1)).alias("n_native"),
            F.sum(formed).alias("n_formed"),
        )
        .select(
            "frame_id",
            "n_native",
            "n_formed",
            (
                F.col("n_formed").cast("double")
                / F.col("n_native").cast("double")
            ).alias("q"),
        )
    )


ACF_GRID = 1048576.0  # 2^-20 snap — products exact, sums order-free


def scalar_autocorrelation(
    series: DataFrame,
    value_col: str,
    max_lag: int,
    key_col: str = "frame_id",
) -> DataFrame:
    """Time-autocorrelation SUFFICIENT STATISTICS of a per-frame
    scalar → (lag, n, sum_ab, sum_a, sum_b) for lag 0..max_lag:
    the banded lag self-join pattern (x9/x12) applied to a derived
    series.  Values are snapped to the 2^-20 dyadic grid FIRST, so
    every product and sum is exact and partial-agg order cannot
    perturb the result (the t9 trick); the centered ACF
    (sum_ab − sum_a·sum_b/n) / n follows from the emitted columns.

    100-TB posture: the series is one row per frame (≪ the fact
    table); the banded join and agg are over n_frames·L rows."""
    q = (
        F.round(F.col(value_col).cast("double") * ACF_GRID, 0) / ACF_GRID
    ).alias("va")
    s = series.select(F.col(key_col).alias("t"), q)
    return _lag_join(s, "t", 0, max_lag, {"vb": "va"}).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("va") * F.col("vb")).alias("sum_ab"),
        F.sum("va").alias("sum_a"),
        F.sum("vb").alias("sum_b"),
    )


def rg_autocorrelation(traj, max_lag: int) -> DataFrame:
    """Autocorrelation statistics of the radius-of-gyration time
    series — the order-parameter relaxation analysis (how long a
    conformational size fluctuation persists): x4's one-agg Rg per
    frame feeds ``scalar_autocorrelation``."""
    rg = compute_radius_of_gyration(traj)
    return scalar_autocorrelation(rg, "rg", max_lag)


def block_average_stats(
    series: DataFrame,
    value_col: str,
    block_sizes: "list[int]",
    key_col: str = "frame_id",
) -> DataFrame:
    """Block-averaging sufficient statistics (Flyvbjerg & Petersen's
    error-analysis scheme, public J. Chem. Phys. 1989) →
    (block_size, n_blocks, sum_m, sum_m2): the 2^-20-snapped series
    is cut into consecutive blocks of each POWER-OF-TWO size, each
    complete block contributes its mean m; SEM(B) and the statistical
    inefficiency follow from the emitted sums driver-side.

    Exactness: block sizes must be powers of two so the block-mean
    division (sum/2^k) is exact on the dyadic grid — then every
    emitted aggregate is an exact sum, partial-agg-order independent
    (the t9/x15 discipline).  Incomplete trailing blocks are
    dropped, matching the textbook estimator.

    100-TB posture: one explode of the per-frame series (rows =
    n_frames × |block_sizes|) and two keyed aggs — the series is
    already ≪ the fact table."""
    for b in block_sizes:
        if b < 1 or (b & (b - 1)):
            raise ValueError(f"block sizes must be powers of two, got {b}")
    q = (
        F.round(F.col(value_col).cast("double") * ACF_GRID, 0) / ACF_GRID
    ).alias("v")
    s = series.select(F.col(key_col).alias("t"), q)
    expanded = s.select(
        "t", "v",
        F.explode(F.array(*[F.lit(int(b)) for b in block_sizes])).alias("bsz"),
    )
    blocks = (
        expanded.groupBy("bsz", F.floor(F.col("t") / F.col("bsz")).alias("blk"))
        .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") == F.col("bsz"))  # complete blocks only
        .select("bsz", (F.col("sv") / F.col("bsz")).alias("m"))
    )
    return blocks.groupBy(F.col("bsz").cast("long").alias("block_size")).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("m").alias("sum_m"),
        F.sum(F.col("m") * F.col("m")).alias("sum_m2"),
    )


def _sasa_sphere_offsets(radius: float, n_points: int):
    """Deterministic golden-spiral unit-sphere points scaled by
    ``radius`` and snapped to the 2^-12 grid — dyadic constants, so
    point positions (atom + offset) and all occlusion distances stay
    exact in both engines."""
    import math

    pts = []
    phi = math.pi * (3.0 - math.sqrt(5.0))
    for k in range(n_points):
        y = 1.0 - 2.0 * (k + 0.5) / n_points
        r = math.sqrt(max(0.0, 1.0 - y * y))
        th = phi * k
        pts.append((math.cos(th) * r, y, math.sin(th) * r))
    q = lambda v: round(v * float(radius) * 4096.0) / 4096.0  # noqa: E731
    return [(i, q(x), q(y), q(z)) for i, (x, y, z) in enumerate(pts)]


def sasa_exposure(
    traj, radius: float = 0.03125, n_points: int = 32
) -> DataFrame:
    """Shrake–Rupley-style solvent-exposure counting (public
    Shrake & Rupley, J. Mol. Biol. 1973 — mdtraj's
    ``shrake_rupley``) → (frame_id, atom_id, n_points, n_exposed):
    place ``n_points`` sphere points at ``radius`` around every
    atom; a point is EXPOSED iff no other atom's center lies
    strictly within ``radius`` of it.  Exposed fraction × sphere
    area is the per-atom SASA; emitting integer COUNTS keeps the
    gate exact (π never enters the compared values).

    Exactness: sphere offsets are 2^-12-grid constants, so point
    positions and every occlusion d² are exact dyadic values —
    the strict `<` comparison is engine-identical.

    Scale posture: occluders are pruned with the cell-list
    ``neighbor_pairs`` at cutoff 2·radius (triangle inequality: a
    center ≥ 2r away can never reach a point strictly within r), so
    cost is O(n_atoms · n_points · local density) — never the
    O(n²·points) brute force the oracle runs at gate scale."""
    rr = float(radius)
    pts = _sasa_sphere_offsets(rr, n_points)
    spark = traj.coords.sparkSession
    pdf = F.broadcast(
        spark.createDataFrame(pts, "pt int, ox double, oy double, oz double")
    )
    q = lambda c: F.round(F.col(c).cast("double") * 4096, 0) / 4096  # noqa: E731
    atoms = traj.coords.select(
        "frame_id", "atom_id", q("x").alias("x"), q("y").alias("y"),
        q("z").alias("z"),
    )
    # padded prune cutoff (ADVICE r5): the grid-snapped offsets can
    # reach |offset| ≤ r + √3/8192, so the triangle-inequality bound
    # is 2r + √3/8192, not 2r — an occluder in that band (or one
    # nudged across the cutoff by float32 rounding in the cell-list
    # distance) would be wrongly pruned and overcount n_exposed.
    # √3/4096 doubles the band: inclusion is always safe, the exact
    # dyadic d² < r² test below decides.
    nb = neighbor_pairs(traj, cutoff=2.0 * rr + 3.0 ** 0.5 / 4096.0)
    # symmetric neighbor list (i sees j AND j sees i) via ONE explode
    # pass — a self-union here would evaluate the whole cell-list
    # neighbor join once per branch
    nbs = nb.select(
        "frame_id",
        F.explode(
            F.array(
                F.struct(F.col("i").alias("atom_id"), F.col("j").alias("nbid")),
                F.struct(F.col("j").alias("atom_id"), F.col("i").alias("nbid")),
            )
        ).alias("e"),
    ).select("frame_id", "e.atom_id", "e.nbid")
    nb_coords = nbs.join(
        atoms.select(
            "frame_id", F.col("atom_id").alias("nbid"),
            F.col("x").alias("nx"), F.col("y").alias("ny"), F.col("z").alias("nz"),
        ),
        ["frame_id", "nbid"],
    )
    ap = atoms.join(pdf).select(
        "frame_id", "atom_id", "pt",
        (F.col("x") + F.col("ox")).alias("px"),
        (F.col("y") + F.col("oy")).alias("py"),
        (F.col("z") + F.col("oz")).alias("pz"),
    )
    r2 = rr * rr
    d2 = (
        (F.col("px") - F.col("nx")) * (F.col("px") - F.col("nx"))
        + (F.col("py") - F.col("ny")) * (F.col("py") - F.col("ny"))
        + (F.col("pz") - F.col("nz")) * (F.col("pz") - F.col("nz"))
    )
    occluded = (
        ap.join(nb_coords, ["frame_id", "atom_id"])
        .where(d2 < F.lit(r2))
        .select("frame_id", "atom_id", "pt")
        .distinct()
    )
    per_point = ap.select("frame_id", "atom_id", "pt").join(
        occluded.withColumn("_occ", F.lit(1)), ["frame_id", "atom_id", "pt"],
        "left",
    )
    return per_point.groupBy("frame_id", "atom_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(
            F.when(F.col("_occ").isNull(), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_exposed"),
    )


def compute_neighbors(
    traj, cutoff: float, query_indices, haystack_indices=None
) -> DataFrame:
    """Per-frame atoms within ``cutoff`` of ANY query atom → DISTINCT
    (frame_id, atom_id) — mdtraj ``compute_neighbors`` parity
    (geometry/neighbors, public API; the geometric "within X of
    selection" every solvation/binding-site analysis starts with).
    The query atoms themselves are excluded; ``haystack_indices``
    restricts the searched side (default: all atoms).

    Plan: :func:`_cell_join`, asymmetric — the (tiny) query side
    explodes its 27 neighbor cells and the haystack joins on
    (frame_id, cell); cost O((|query|·27 +
    n_haystack) · local density), never the O(n·|query|) brute
    force the oracle runs at gate scale."""
    qset = sorted({int(i) for i in query_indices})
    if not qset:
        raise ValueError("query_indices must be non-empty")
    d2 = (
        (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
        + (F.col("y") - F.col("qy")) * (F.col("y") - F.col("qy"))
        + (F.col("z") - F.col("qz")) * (F.col("z") - F.col("qz"))
    )
    r2 = float(cutoff) * float(cutoff)
    return (
        _cell_join(
            traj, cutoff,
            {"atom_id": "atom_id", "x": "x", "y": "y", "z": "z"},
            {"qid": "atom_id", "qx": "x", "qy": "y", "qz": "z"},
            fixed_ids=haystack_indices, shifted_ids=qset,
        )
        .where((F.col("atom_id") != F.col("qid")) & (d2 <= F.lit(r2)))
        .select("frame_id", "atom_id")
        .distinct()
    )


def transition_counts(
    series: DataFrame,
    value_col: str,
    bin_width: float,
    lag: int = 1,
    key_col: str = "frame_id",
) -> DataFrame:
    """Markov-state-model transition counting over a binned order
    parameter → (from_state, to_state, n): frames are assigned to
    states by flooring the (2^-20-snapped) scalar into
    ``bin_width``-wide bins, and every (t, t+lag) pair increments its
    state-pair count — the count matrix row-normalized downstream is
    the MSM transition matrix (Prinz et al. 2011, public JCP).

    Exactness: dyadic ``bin_width`` makes the state assignment an
    exact integer floor on grid values — engine-identical; counts are
    integers.  One lag equi-join on the per-frame series + one
    bounded groupBy (states², not frames)."""
    bw = float(bin_width)
    q = F.round(F.col(value_col).cast("double") * ACF_GRID, 0) / ACF_GRID
    st = series.select(
        F.col(key_col).alias("t"),
        F.floor(q / F.lit(bw)).cast("long").alias("state"),
    )
    a = st.select((F.col("t") + int(lag)).alias("tt"),
                  F.col("state").alias("from_state"))
    b = st.select(F.col("t").alias("tt"), F.col("state").alias("to_state"))
    return (
        a.join(b, "tt")
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )

"""The Trajectory facade — a thin Python object over 3-4 DataFrames.

Mirrors the surface of the reference's ``Trajectory`` class
(``/root/reference/dask_traj/core/dask_traj.py:364-669``, itself a
subclass of ``mdtraj.Trajectory``) without any of its array
machinery: every property is a lazy DataFrame (logical plan), every
method builds a new plan; nothing executes until the caller runs an
action. Lazy derived unit-cell representations (vectors ⇄
lengths/angles, reference ``:445-560``) are plain projections
computed on access.

Scale notes (100 TB posture):
- ``coords`` is the only big table; everything else is per-frame or
  per-atom dimensions.
- ``frame_packed()`` lays coords out frame-contiguous and
  (frame_id, atom_id)-sorted per partition: one range shuffle, free
  when the trajectory is ``packed=True`` — every trajectory loaded
  from a file is, as its scan's chunks already hold whole sorted
  frames — and a sort in place when a table load's coords footers
  prove the scan's frame order (whose vectorized ops then read the row
  groups in their own tasks). It is the feed of every vectorized
  geometry op, which then runs partition-local. Cache it when running
  >1 op.
- slicing/striding are pure frame_id predicates → partition pruning
  against a frame-range-partitioned Parquet layout, and chunk and
  frame pruning in a file scan.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from functools import cached_property

import numpy as np
from pyspark.sql import DataFrame, functions as F

from dask_traj_spark.operators.unitcell import (
    with_box_vectors,
    with_lengths_and_angles,
)


@dataclass(frozen=True)
class FrameIndex:
    """Dimensions a loader already read on the driver, so that asking
    for them starts no Spark job (the reference counts frames and atoms
    eagerly at load the same way, core/dask_traj.py:61-100): a file
    loader's header index, or a table load's ``frames`` and
    ``unitcell`` tables (``sources.loaders._table_index``).

    ``frame_ids`` (F,) int64 ascending: one per frame of ``coords``.
    ``n_atoms``: the atom count every frame agrees on, else None. A
    table load starts with None (no small table holds it); its first
    ``Trajectory.n_atoms`` fills it from the coords Parquet footers
    where they prove it (``sources.loaders.coords_footers``: no null,
    atom ids from 0, the index's first and last frame, and F × n_atoms
    rows). One limit: footers cannot tell a table that repeats a
    ``(frame_id, atom_id)`` key while dropping another from a whole
    one; the per-frame atom-count check of a geometry query's frame
    blocks is what catches it.
    ``box``: (F, 3, 3) float32 box vectors in nm, bit-equal to the
    trajectory's ``unitcell`` vector columns, or None.
    """

    frame_ids: np.ndarray
    n_atoms: int | None = None
    box: np.ndarray | None = None


class Trajectory:
    """Topology (static) + per-frame tables (dynamic), all lazy.

    Parameters
    ----------
    coords : DataFrame(frame_id, atom_id, x, y, z)
    frames : DataFrame(frame_id, time, step) or None
    unitcell : DataFrame(frame_id, a..gamma and/or ax..cz) or None
    topology : DataFrame(atom_id, name, element, mass, ...) or None
    index : FrameIndex or None — every multi-frame file loader passes
        the one its driver-side index pass built, with the tables
        above (``sources._arrow.load_indexed``); a table load passes
        frame ids and a vector box, and its coords footers may give
        the atom count later (``sources.loaders.load_tables``);
        ``select_frames`` and ``atom_slice`` derive one from their
        input's where it provably holds (see each); other derived
        trajectories (joins) carry none and count instead.
    """

    #: ``load_tables`` and ``load_frame_range`` set this to a function
    #: of no arguments that reads the coords table's Parquet footers
    #: (``sources.loaders.read_footers``: what they prove, and the row
    #: groups a fused feed reads); None on any other trajectory
    _read_footers = None

    def __init__(
        self,
        coords: DataFrame,
        frames: DataFrame | None = None,
        unitcell: DataFrame | None = None,
        topology: DataFrame | None = None,
        packed: bool = False,
        index: FrameIndex | None = None,
    ):
        self.coords = coords
        self._frames = frames
        self.unitcell = unitcell
        self.topology = topology
        self.spark = coords.sparkSession
        #: packed=True asserts the coords layout contract: every
        #: partition holds only WHOLE frames, rows sorted by
        #: (frame_id, atom_id) — e.g. a file scan (``scan_frames``:
        #: a chunk plan made on the driver, then one ``mapInArrow``
        #: partition per chunk decoding its whole frames in order;
        #: every loader marks it packed), frame-bucketed parquet or
        #: per-frame generation. Lets the vectorized geometry path skip its one
        #: shuffle. Derived trajectories (``select_frames``,
        #: ``atom_slice``, ``join``) and ``load_tables`` (a Parquet
        #: split can cut a frame) are not packed; a table load whose
        #: footers prove its frame order gets a sort in place instead
        #: (``frame_packed``). Violations surface
        #: as a clear error in the kernel's frame-block check
        #: (descending frame ids, unequal atom counts).
        self.packed = packed
        self.index = index

    # ---- dimensions -------------------------------------------------

    @cached_property
    def n_frames(self) -> int:
        if self.index is not None:
            return len(self.index.frame_ids)
        if self._frames is not None:
            # one row per frame: a scan of the small table, no shuffle
            return self._frames.count()
        return self.coords.select("frame_id").distinct().count()

    @cached_property
    def _footer_read(self):
        """The coords Parquet footers of a table load, read on the
        driver at most once, by the first ``n_atoms`` or
        ``frame_packed()``: (what they prove, the
        ``sources.loaders.RowGroupPlan`` or None); (None, None) for
        any other trajectory."""
        return (None, None) if self._read_footers is None else self._read_footers()

    @property
    def _footers(self):
        """What the coords footers prove
        (``sources.loaders.CoordsFooters``), or None."""
        return self._footer_read[0]

    @cached_property
    def n_atoms(self) -> int:
        """Atoms per frame: the index's count; for a table load, the
        count its coords footers prove (kept on the index, so
        ``select_frames`` and ``atom_slice`` carry it on); else one
        ``countDistinct`` job over coords."""
        if self._footers is not None and self._footers.n_atoms is not None:
            self.index = replace(self.index, n_atoms=self._footers.n_atoms)
        if self.index is not None and self.index.n_atoms is not None:
            return self.index.n_atoms
        # a full countDistinct over coords: only a trajectory whose
        # index holds no atom count (derived, a table its footers do
        # not prove, or a file whose frames disagree) pays it; for a
        # file scan it decodes every frame
        row = self.coords.agg(F.countDistinct("atom_id").alias("n")).first()
        return int(row["n"])

    @property
    def have_unitcell(self) -> bool:
        # reference: _have_unitcell (core/dask_traj.py:439-443)
        return self.unitcell is not None

    # ---- frame/time table -------------------------------------------

    @property
    def frames(self) -> DataFrame:
        """Per-frame dimension; synthesizes time=frame_id when the
        source had no time column (reference arange fallback,
        core/dask_traj.py:267-273)."""
        if self._frames is not None:
            return self._frames
        return self.coords.select("frame_id").distinct().select(
            "frame_id",
            F.col("frame_id").cast("double").alias("time"),
            F.col("frame_id").alias("step"),
        )

    @property
    def time(self) -> DataFrame:
        return self.frames.select("frame_id", "time")

    # ---- unitcell dual representation -------------------------------

    @property
    def unitcell_vectors(self) -> DataFrame | None:
        """(frame_id, ax..cz); derives from lengths/angles lazily if
        the vector columns are absent (reference
        core/dask_traj.py:519-560)."""
        if self.unitcell is None:
            return None
        uc = self.unitcell
        if "ax" not in uc.columns:
            uc = with_box_vectors(uc)
        return uc.select("frame_id", "ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz")

    @property
    def unitcell_lengths_angles(self) -> DataFrame | None:
        """(frame_id, a, b, c, alpha, beta, gamma); derives from
        vectors lazily when absent (reference :445-517)."""
        if self.unitcell is None:
            return None
        uc = self.unitcell
        if "a" not in uc.columns:
            uc = with_lengths_and_angles(uc)
        return uc.select("frame_id", "a", "b", "c", "alpha", "beta", "gamma")

    def unitcell_full(self) -> DataFrame | None:
        """Both representations materialized as columns."""
        if self.unitcell is None:
            return None
        uc = self.unitcell
        if "ax" not in uc.columns:
            uc = with_box_vectors(uc)
        if "a" not in uc.columns:
            uc = with_lengths_and_angles(uc)
        return uc

    # ---- packed long view (the vectorized hot path) -----------------

    def frame_packed(self) -> DataFrame:
        """Long coords arranged so every partition holds whole frames,
        rows sorted by (frame_id, atom_id). This — NOT ``wide()`` —
        is the input layout of the Arrow-vectorized geometry path:
        primitive columns cross the JVM→Arrow boundary on the fast
        (zero-boxing) path, and the Python side reshapes to
        (frames, atoms, 3) numpy blocks for the kernels.

        Costs one range-shuffle + in-partition sort, unless the
        trajectory was constructed with ``packed=True`` (a loaded
        file, frame-sorted parquet, ordered generation), in which
        case it is the coords themselves: a loaded file's geometry
        query is then one stage and one Python node (a
        ``mapInArrow`` over the chunk ids that decodes each chunk,
        cut to the atoms the operator reads, and runs the kernel in
        the same task: ``sources._arrow.frame_feed``). A
        ``load_tables`` or ``load_frame_range`` trajectory whose coords
        footers prove the scan's frame order (one data file, row-group
        frame ranges ascending without overlap:
        ``sources.loaders.coords_footers``) gets only the in-partition
        sort, which restores the atom order footers cannot prove: one
        stage, no ``Exchange``, no sampling job. A vectorized query does
        not read that DataFrame: its map tasks stream the file's row
        groups themselves and restore the order there
        (``sources.loaders.RowGroupPlan``, kept on the DataFrame), so
        the JVM neither scans nor sorts. Memoized;
        ``traj.frame_packed().cache()`` before running several geometry
        ops (a cached one feeds them through the JVM).

        At 100 TB this is the layout the storage should already have:
        parquet bucketed/sorted by frame ranges makes every geometry
        op a narrow scan.
        """
        if getattr(self, "_packed_df", None) is not None:
            return self._packed_df
        if self.packed:
            self._packed_df = self.coords
        elif self._footers is not None and self._footers.frame_ordered:
            self._packed_df = self.coords.sortWithinPartitions("frame_id", "atom_id")
            # kept on this DataFrame object only, as a file scan keeps
            # its chunk plan: the row groups a fused map task reads
            # itself (``sources._arrow.frame_feed``)
            self._packed_df._row_groups = self._footer_read[1]
        else:
            self._packed_df = self.coords.repartitionByRange(
                "frame_id"
            ).sortWithinPartitions("frame_id", "atom_id")
        return self._packed_df

    # ---- slicing (P1/P2) --------------------------------------------

    def slice_frames(self, start=None, stop=None, step=None) -> "Trajectory":
        """``traj[start:stop:step]`` with frame renumbering.

        Pure frame_id predicates (partition-prunable); renumbering
        via dense_rank keeps downstream ops working (the reference
        gets renumbering free from array semantics —
        tests/test_geometry.py:30, test_dask_traj.py:143).
        Negative step reverses order (``traj[::-1]``).
        """
        n = self.n_frames
        start_, stop_, step_ = slice(start, stop, step).indices(n)
        ids = list(range(start_, stop_, step_))
        return self.select_frames(ids)

    def select_frames(self, frame_ids: list[int]) -> "Trajectory":
        """Keep exactly these frames, renumbered to 0..len-1 in the
        given order (supports reversal and repeats). A literal
        ``frame_id`` predicate (BETWEEN, plus IN for sparse ids) goes
        before the broadcast join, so a file scan decodes only the
        chunks and frames it admits and Parquet prunes on it.

        When every id is one of the index's frame ids, the result's
        index holds ``0..len-1``, the atom count and the box rows in
        the given order, so its counts start no job; an id the index
        lacks leaves it without one."""
        from dask_traj_spark.sources._arrow import LITERAL_IDS_MAX, select_ids

        spark = self.spark
        mapping = spark.createDataFrame(
            [(int(f), i) for i, f in enumerate(frame_ids)],
            "frame_id long, new_frame_id long",
        )
        b = F.broadcast(mapping)

        def remap(df: DataFrame | None) -> DataFrame | None:
            if df is None:
                return None
            if len(frame_ids):
                df = select_ids(df, "frame_id", frame_ids, LITERAL_IDS_MAX)
            return (
                df.join(b, "frame_id")
                .drop("frame_id")
                .withColumnRenamed("new_frame_id", "frame_id")
            )

        index = None
        if self.index is not None and len(frame_ids):
            have = self.index.frame_ids
            want = np.asarray(frame_ids, dtype=np.int64)
            rows = np.minimum(np.searchsorted(have, want), len(have) - 1)
            if len(have) and (have[rows] == want).all():
                box = None if self.index.box is None else self.index.box[rows]
                index = FrameIndex(np.arange(len(want), dtype=np.int64), self.index.n_atoms, box)
        return Trajectory(
            remap(self.coords),
            remap(self._frames),
            remap(self.unitcell),
            self.topology,
            index=index,
        )

    def atom_slice(self, atom_ids: list[int]) -> "Trajectory":
        """Restrict to a subset of atoms, renumbered densely; rebuilds
        the topology dimension (reference inherits mdtraj's eager
        atom_slice — exercised at tests/test_dask_traj.py:129). A
        literal ``atom_id`` predicate goes before the broadcast join,
        so a file scan decodes only the ids' atom span. Repeated ids
        count once, and ids no atom has (negative, or past a known
        atom count) are dropped, so the new ids are dense.

        With a known atom count the index carries on: the same frames
        and box, and as many atoms as the distinct ids kept."""
        from dask_traj_spark.sources._arrow import LITERAL_IDS_MAX, select_ids

        spark = self.spark
        known = None if self.index is None else self.index.n_atoms
        atom_ids = sorted({int(a) for a in atom_ids if a >= 0 and (known is None or a < known)})
        mapping = spark.createDataFrame(
            [(a, i) for i, a in enumerate(atom_ids)],
            "atom_id int, new_atom_id int",
        )
        b = F.broadcast(mapping)
        coords = self.coords
        if len(atom_ids):
            coords = select_ids(coords, "atom_id", atom_ids, LITERAL_IDS_MAX)
        coords = (
            coords.join(b, "atom_id")
            .drop("atom_id")
            .withColumnRenamed("new_atom_id", "atom_id")
            .select("frame_id", "atom_id", "x", "y", "z")
        )
        topology = None
        if self.topology is not None:
            topology = (
                self.topology.join(b, "atom_id")
                .drop("atom_id")
                .withColumnRenamed("new_atom_id", "atom_id")
            )
        index = replace(self.index, n_atoms=len(atom_ids)) if known and atom_ids else None
        return Trajectory(coords, self._frames, self.unitcell, topology, index=index)

    def select_atoms(self, predicate: str) -> "Trajectory":
        """``atom_slice`` by a SQL predicate over the topology
        dimension — e.g. ``"element = 'C'"`` or
        ``"residue_name = 'ALA' AND name LIKE 'C%'"``. The selection
        language of the reference stack is mdtraj's
        ``topology.select``; here the topology is a table, so the
        selection language is SQL. The matching atom ids are
        collected driver-side (topology is a broadcast-scale
        dimension, ~n_atoms rows) and fed to :meth:`atom_slice`."""
        if self.topology is None:
            raise ValueError("select_atoms requires a topology")
        ids = [
            r.atom_id
            for r in self.topology.where(predicate).select("atom_id").collect()
        ]
        if not ids:
            raise ValueError(f"selection {predicate!r} matched no atoms")
        return self.atom_slice(ids)

    def select_atoms_mdtraj(self, selection: str) -> "Trajectory":
        """``select_atoms`` with mdtraj's selection mini-language —
        the grammar reference users already write (``"name CA and
        resid 1 to 10"``), compiled to a SQL predicate over the
        topology table by
        :func:`dask_traj_spark.functions.selection.mdtraj_selection_to_sql`
        (see that module for the supported subset)."""
        from dask_traj_spark.functions.selection import mdtraj_selection_to_sql

        return self.select_atoms(mdtraj_selection_to_sql(selection))

    # ---- concatenation (U1) -----------------------------------------

    def join(
        self,
        other: "Trajectory",
        check_topology: bool = True,
        discard_overlapping_frames: bool = False,
        overlap_atol: float = 2e-3,
    ) -> "Trajectory":
        """Concatenate trajectories along the frame axis (UNION ALL
        with renumbered frame_id) — the reference's ``join`` is
        concatenation, not a relational join
        (core/dask_traj.py:591-659).

        Validation mirrors the reference (:608-627): same n_atoms,
        same topology, matching have-unitcell. Optional boundary
        dedup drops this trajectory's last frame when all its coords
        agree with the other's first frame within ``overlap_atol``
        nm (:630-640).
        """
        if self.n_atoms != other.n_atoms:
            raise ValueError(
                f"Number of atoms differ: {self.n_atoms} vs {other.n_atoms}"
            )
        if check_topology and self.topology is not None and other.topology is not None:
            # one driver action, not two: either direction's surplus
            # rows prove inequality (symmetric difference is empty iff
            # the multisets match); unionByName keeps it a single job
            diff = self.topology.exceptAll(other.topology).unionByName(
                other.topology.exceptAll(self.topology)
            )
            if not diff.isEmpty():
                raise ValueError("Topologies are not identical")
        if self.have_unitcell != other.have_unitcell:
            raise ValueError(
                "Cannot join trajectories where only one has a unitcell"
            )

        n_left = self.n_frames
        left = self
        if discard_overlapping_frames:
            mismatch = self._boundary_mismatch(other, n_left - 1, overlap_atol)
            if mismatch.limit(1).count() == 0:
                left = self.slice_frames(0, n_left - 1)
                n_left -= 1

        off = F.lit(n_left).cast("long")

        def shift(df: DataFrame | None) -> DataFrame | None:
            if df is None:
                return None
            return df.withColumn("frame_id", F.col("frame_id") + off)

        def cat(a: DataFrame | None, b: DataFrame | None) -> DataFrame | None:
            if a is None or b is None:
                return None
            return a.unionByName(shift(b), allowMissingColumns=True)

        return Trajectory(
            cat(left.coords, other.coords),
            cat(left._frames, other._frames),
            cat(left.unitcell, other.unitcell),
            self.topology,
        )

    def _boundary_mismatch(self, other: "Trajectory", last: int, atol: float) -> DataFrame:
        """The atoms whose coords in frame ``last`` of this trajectory
        and frame 0 of ``other`` differ by more than ``atol`` nm. Each
        frame is picked through ``select_ids``, so a file scan decodes
        only that one frame."""
        from dask_traj_spark.sources._arrow import select_ids

        a = select_ids(self.coords, "frame_id", [last]).alias("l")
        b = select_ids(other.coords, "frame_id", [0]).alias("r")
        return a.join(b, "atom_id").where(
            (F.abs(F.col("l.x") - F.col("r.x")) > atol)
            | (F.abs(F.col("l.y") - F.col("r.y")) > atol)
            | (F.abs(F.col("l.z") - F.col("r.z")) > atol)
        )

    # ---- equality / content hash (U2) -------------------------------

    def content_hash(self) -> int:
        """Order-insensitive content hash over coords (+ time,
        + unitcell when present): xxhash64 per row, bit_xor across
        rows. Replaces the reference's dask-token/array-hash equality
        (core/dask_traj.py:661-669) with actual content hashing —
        distributed, one pass, no collect."""
        parts = [
            self.coords.select(
                F.xxhash64("frame_id", "atom_id", "x", "y", "z").alias("h")
            )
        ]
        if self._frames is not None:
            parts.append(self._frames.select(F.xxhash64(*self._frames.columns).alias("h")))
        if self.unitcell is not None:
            parts.append(
                self.unitcell.select(F.xxhash64(*self.unitcell.columns).alias("h"))
            )
        allh = parts[0]
        for p in parts[1:]:
            allh = allh.unionAll(p)
        row = allh.agg(F.expr("bit_xor(h)").alias("h")).first()
        return int(row["h"]) if row["h"] is not None else 0

    def __eq__(self, other) -> bool:  # noqa: D105
        if not isinstance(other, Trajectory):
            return NotImplemented
        return self.content_hash() == other.content_hash()

    def __hash__(self) -> int:  # noqa: D105
        return self.content_hash()

    # ---- materialization (S10) --------------------------------------

    def to_numpy(self):
        """Collect to driver-side numpy arrays ``(xyz, time)`` with
        xyz shaped (n_frames, n_atoms, 3) float32 in ascending
        frame-id order — the analog of the reference's ``to_mdtraj``
        (core/dask_traj.py:390-404). Only for small trajectories, by
        definition."""
        from dask_traj_spark.sources._arrow import gather_host

        host = gather_host(self)
        return host.xyz, host.time

    def to_mdtraj(self):
        """Materialize to an ``mdtraj.Trajectory`` when mdtraj is
        installed (reference S10, core/dask_traj.py:390-404) — the
        escape hatch to the wider MDTraj analysis surface. This
        container has no mdtraj; the import guard raises with a
        clear message while ``to_numpy`` remains always available."""
        try:
            import mdtraj  # noqa: F401
        except ImportError as e:  # pragma: no cover - env-dependent
            raise NotImplementedError(
                "to_mdtraj requires the optional mdtraj dependency; "
                "use to_numpy() for raw arrays"
            ) from e
        import mdtraj as md

        xyz, time = self.to_numpy()
        topo = md.Topology()
        chain = topo.add_chain()
        res = topo.add_residue("UNK", chain)
        for i in range(xyz.shape[1]):
            topo.add_atom(f"A{i}", md.element.carbon, res)
        t = md.Trajectory(xyz, topo, time=np.asarray(time))
        return t

    def cache(self) -> "Trajectory":
        self.coords.cache()
        return self

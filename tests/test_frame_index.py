"""Driver-known trajectory dimensions (``FrameIndex``).

Loaders that index every frame on the driver hand ``n_atoms``,
``n_frames`` and, for formats that store box vectors, the per-frame
box to the ``Trajectory``; a Parquet table load hands frame ids and a
vector box. These tests pin that the index equals what Spark would
count or derive, that geometry calls on a loaded file start no Spark
job before the action, that a periodic call's box lookup is collected
once per trajectory, and that derived trajectories keep the
dimensions they provably know.
"""

from __future__ import annotations

import itertools
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest

from dask_traj_spark.operators.distance import _BoxLookup, compute_distances
from dask_traj_spark.operators.angle import compute_angles
from dask_traj_spark.operators.unitcell import lengths_angles_np, with_lengths_and_angles
from dask_traj_spark.sources.loaders import from_wide_pandas, load, save_tables
from dask_traj_spark.trajectory import Trajectory
from tests.golden import box_vectors_from_lengths_angles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_FRAMES, N_ATOMS = 4, 12
#: two orthogonal frames, then two triclinic ones
ANGLES = [(90.0, 90.0, 90.0), (90.0, 90.0, 90.0), (60.0, 60.0, 90.0), (70.0, 80.0, 100.0)]
LENGTHS = [(3.0, 3.0, 3.0), (3.1, 2.9, 3.0), (3.0, 3.0, 3.0), (3.2, 3.1, 2.8)]

VECTOR_FORMATS = [".xtc", ".trr", ".gro", ".lammpstrj"]
INDEXED_FORMATS = VECTOR_FORMATS + [".arc", ".dcd", ".binpos", ".nc", ".h5", ".xyz", ".lh5", ".mdcrd"]
#: load options a format needs: mdcrd carries no atom count
LOAD_OPTIONS = {".mdcrd": {"n_atoms": N_ATOMS}}


def load_written(spark, written, ext, **options):
    """``load`` one of the ``written`` files with its format's options."""
    return load(spark, written[ext], **LOAD_OPTIONS.get(ext, {}), **options)


def _lammpstrj(xyz_nm, boxes_nm) -> str:
    """A LAMMPS dump with a tilted box on the triclinic frames."""
    out = []
    for f, (xyz, box) in enumerate(zip(xyz_nm * 10, boxes_nm * 10)):
        (lx, _, _), (xy, ly, _), (xz, yz, lz) = box
        out += [f"ITEM: TIMESTEP\n{f}\nITEM: NUMBER OF ATOMS\n{len(xyz)}\n"]
        if xy or xz or yz:
            # bounding extents of the tilted cell (LAMMPS convention)
            lo = min(0.0, xy, xz, xy + xz)
            hi = max(0.0, xy, xz, xy + xz)
            out += [
                "ITEM: BOX BOUNDS xy xz yz pp pp pp\n",
                f"{lo!r} {lx + hi!r} {xy!r}\n",
                f"{min(0.0, yz)!r} {ly + max(0.0, yz)!r} {xz!r}\n",
                f"0.0 {lz!r} {yz!r}\n",
            ]
        else:
            out += [f"ITEM: BOX BOUNDS pp pp pp\n0.0 {lx!r}\n0.0 {ly!r}\n0.0 {lz!r}\n"]
        out += ["ITEM: ATOMS id type x y z\n"]
        out += [f"{a + 1} 1 {x!r} {y!r} {z!r}\n" for a, (x, y, z) in enumerate(xyz)]
    return "".join(out)


def _xyz(xyz_nm) -> str:
    out = []
    for f, xyz in enumerate(xyz_nm * 10):
        out += [f"{len(xyz)}\nframe {f}\n"]
        out += [f"C {x!r} {y!r} {z!r}\n" for x, y, z in xyz]
    return "".join(out)


def _mdcrd(xyz_nm, lengths_nm) -> str:
    """10F8.3 coordinate lines, then the box lengths line (Å)."""
    out = ["title\n"]
    for xyz, ln in zip(xyz_nm * 10, np.asarray(lengths_nm) * 10):
        vals = xyz.ravel()
        out += ["".join(f"{v:8.3f}" for v in vals[i : i + 10]) + "\n" for i in range(0, len(vals), 10)]
        out += ["".join(f"{v:8.3f}" for v in ln) + "\n"]
    return "".join(out)


def _arc(xyz_nm, lengths_nm, angles) -> str:
    out = []
    for xyz, ln, an in zip(xyz_nm * 10, np.asarray(lengths_nm) * 10, angles):
        out += [f"{len(xyz):6d}  frame\n", " ".join(f"{v:.6f}" for v in (*ln, *an)) + "\n"]
        out += [
            f"{a + 1:6d}  C   {x:.6f}  {y:.6f}  {z:.6f}   1\n"
            for a, (x, y, z) in enumerate(xyz)
        ]
    return "".join(out)


@pytest.fixture(scope="module")
def written(spark, tmp_path_factory):
    """One small varied-box trajectory, written by each format's own
    writer (text fixtures for LAMMPS, Tinker, XYZ and mdcrd, which have
    none)."""
    from dask_traj_spark.sources.binpos import write_binpos
    from dask_traj_spark.sources.dcd import write_dcd
    from dask_traj_spark.sources.gro import write_gro
    from dask_traj_spark.sources.hdf5 import write_h5_traj, write_lh5
    from dask_traj_spark.sources.netcdf3 import write_netcdf
    from dask_traj_spark.sources.trr import write_trr
    from dask_traj_spark.sources.xtc import write_xtc

    d = tmp_path_factory.mktemp("frame_index")
    rng = np.random.default_rng(7)
    xyz = rng.uniform(0.0, 2.5, (N_FRAMES, N_ATOMS, 3)).astype(np.float32)
    traj = from_wide_pandas(
        spark, xyz, time=np.arange(N_FRAMES) * 2.0,
        unitcell_lengths=LENGTHS, unitcell_angles=ANGLES,
    )
    paths = {ext: str(d / f"t{ext}") for ext in INDEXED_FORMATS}
    for ext, write in (
        (".xtc", write_xtc), (".trr", write_trr), (".gro", write_gro),
        (".dcd", write_dcd), (".binpos", write_binpos), (".nc", write_netcdf),
        (".h5", write_h5_traj), (".lh5", write_lh5),
    ):
        write(traj, paths[ext])
    boxes = np.stack([box_vectors_from_lengths_angles(*ln, *an) for ln, an in zip(LENGTHS, ANGLES)])
    with open(paths[".lammpstrj"], "w") as fh:
        fh.write(_lammpstrj(xyz.astype(np.float64), boxes))
    with open(paths[".arc"], "w") as fh:
        fh.write(_arc(xyz.astype(np.float64), LENGTHS, ANGLES))
    with open(paths[".xyz"], "w") as fh:
        fh.write(_xyz(xyz.astype(np.float64)))
    with open(paths[".mdcrd"], "w") as fh:
        fh.write(_mdcrd(xyz.astype(np.float64), LENGTHS))
    # a Parquet table layout whose unit cell stores vectors only
    paths["tables"] = str(d / "tables")
    save_tables(Trajectory(traj.coords, traj._frames, traj.unitcell_vectors), paths["tables"])
    return paths


@pytest.mark.parametrize("ext", INDEXED_FORMATS)
def test_every_file_format_loads_packed_and_indexed(spark, written, ext):
    traj = load_written(spark, written, ext)
    assert traj.packed is True
    assert traj.index is not None
    np.testing.assert_array_equal(traj.index.frame_ids, np.arange(N_FRAMES))


@pytest.mark.parametrize("ext", INDEXED_FORMATS)
def test_index_dimensions_equal_counted(spark, written, ext):
    traj = load_written(spark, written, ext)
    assert traj.index is not None and traj.index.n_atoms is not None
    counted = Trajectory(traj.coords)
    assert (traj.n_atoms, traj.n_frames) == (counted.n_atoms, counted.n_frames)
    assert (traj.n_atoms, traj.n_frames) == (N_ATOMS, N_FRAMES)
    # only formats that index box vectors carry a host-side box
    assert (traj.index.box is not None) == (ext in VECTOR_FORMATS)


@pytest.mark.parametrize(
    "ext, module, index",
    [
        (".gro", "gro", "index_gro"),
        (".arc", "arc", "index_arc"),
        (".lammpstrj", "lammpstrj", "index_lammpstrj"),
        (".mdcrd", "amber", "index_mdcrd"),
    ],
)
def test_text_formats_index_their_file_once_per_load(spark, written, monkeypatch, ext, module, index):
    """A text loader's one index pass gives the chunk plan too: the
    plan is not made by a second pass over the file."""
    import importlib

    mod = importlib.import_module(f"dask_traj_spark.sources.{module}")
    real, calls = getattr(mod, index), []

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(mod, index, counted)
    traj = load_written(spark, written, ext, chunks=3)
    assert [len(p) for p in traj.coords._frame_scan.payloads] == [3, 1]
    assert len(calls) == 1


@pytest.mark.parametrize("ext", VECTOR_FORMATS + ["tables"])
def test_host_box_lookup_equals_spark_derived(spark, written, ext):
    traj = load(spark, written[ext])
    assert traj.index.box is not None
    host = _BoxLookup.from_traj(traj)
    derived = _BoxLookup.from_traj(Trajectory(traj.coords, unitcell=traj.unitcell))
    np.testing.assert_array_equal(host.ids, derived.ids)
    assert host.vecs.dtype == derived.vecs.dtype == np.float32
    np.testing.assert_array_equal(host.vecs.view(np.uint32), derived.vecs.view(np.uint32))
    np.testing.assert_array_equal(host.ortho, derived.ortho)
    assert host.ortho.tolist() == [True, True, False, False]


def test_lengths_angles_twin_is_bit_equal_to_sql(spark):
    rng = np.random.default_rng(11)
    n = 200
    tri = np.stack(
        [
            # angles in [65, 115] always make a valid cell
            box_vectors_from_lengths_angles(*rng.uniform(0.5, 10.0, 3), *rng.uniform(65.0, 115.0, 3))
            for _ in range(n)
        ]
    )
    # plus unreduced boxes: any three non-degenerate vectors
    full = rng.normal(0.0, 3.0, (n, 3, 3))
    boxes = np.concatenate([tri, full]).astype(np.float32)
    df = spark.createDataFrame(
        [(i, *b) for i, b in enumerate(boxes.reshape(-1, 9).tolist())],
        "frame_id long, ax float, ay float, az float, bx float, by float, "
        "bz float, cx float, cy float, cz float",
    )
    pdf = with_lengths_and_angles(df).orderBy("frame_id").toPandas()
    want = pdf[["a", "b", "c", "alpha", "beta", "gamma"]].to_numpy(dtype=np.float32)
    got = lengths_angles_np(boxes)
    assert got.dtype == np.float32
    np.testing.assert_array_equal(got.view(np.uint32), want.view(np.uint32))


def test_unequal_atom_counts_keep_n_atoms_lazy(spark, tmp_path):
    """XTC frames are self-framed, so two files with different atom
    counts concatenate into one valid file."""
    from dask_traj_spark.sources.xtc import _write_xtc_file

    rng = np.random.default_rng(3)
    parts = []
    for i, n in enumerate((12, 15)):
        p = str(tmp_path / f"p{i}.xtc")
        _write_xtc_file(p, rng.uniform(0, 2, (2, n, 3)).astype(np.float32), None, None)
        with open(p, "rb") as fh:
            parts.append(fh.read())
    path = str(tmp_path / "mixed.xtc")
    with open(path, "wb") as fh:
        fh.write(b"".join(parts))
    traj = load(spark, path)
    assert traj.index.n_atoms is None
    assert traj.n_atoms == Trajectory(traj.coords).n_atoms == 15
    assert traj.n_frames == 4


@pytest.fixture(scope="module")
def xtc_traj_path(tmp_path_factory):
    from dask_traj_spark.sources.xtc import _write_xtc_file

    rng = np.random.default_rng(5)
    n_frames, n_atoms = 6, 20
    xyz = rng.uniform(0, 3, (n_frames, n_atoms, 3)).astype(np.float32)
    box = np.tile(box_vectors_from_lengths_angles(3.0, 3.0, 3.0, 60.0, 60.0, 90.0), (n_frames, 1, 1))
    path = str(tmp_path_factory.mktemp("xtc_jobs") / "t.xtc")
    _write_xtc_file(path, xyz, np.arange(n_frames, dtype=np.float64), box)
    return path


def _jobs(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_geometry_on_loaded_xtc_starts_no_job_before_the_action(spark, xtc_traj_path):
    sc = spark.sparkContext
    traj = load(spark, xtc_traj_path, chunks=2)
    pairs = list(itertools.combinations(range(8), 2))
    sc.setJobGroup("frame_index_call", "call")
    try:
        d = compute_distances(traj, pairs, periodic=True, form="vectorized")
        compute_angles(traj, [(0, 1, 2), (3, 4, 5)], periodic=True)
        assert _jobs(sc, "frame_index_call") == []
        sc.setJobGroup("frame_index_sink", "sink")
        d.write.format("noop").mode("overwrite").save()
        assert _jobs(sc, "frame_index_sink")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    from tests.test_scan_narrowing import _decode_nodes

    plan = d._jdf.queryExecution().executedPlan()
    assert len(_decode_nodes(plan)) == 1, plan.toString()


def test_box_lookup_is_collected_once_per_trajectory(spark, written):
    """A DCD index holds no box, so the first periodic vectorized call
    collects the unit cell; the calls after it reuse that lookup and
    start no job before their action, with the rows a fresh
    trajectory gives."""
    sc = spark.sparkContext
    traj = load(spark, written[".dcd"])
    pairs = list(itertools.combinations(range(6), 2))
    triplets = [(0, 1, 2), (3, 4, 5), (7, 2, 9)]
    compute_distances(traj, pairs[:3], periodic=True, form="vectorized")
    sc.setJobGroup("box_lookup_kept", "kept")
    try:
        d = compute_distances(traj, pairs, periodic=True, form="vectorized")
        a = compute_angles(traj, triplets, periodic=True, form="vectorized")
        assert _jobs(sc, "box_lookup_kept") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    fresh = load(spark, written[".dcd"])
    for got, want in (
        (d, compute_distances(fresh, pairs, periodic=True, form="vectorized")),
        (a, compute_angles(load(spark, written[".dcd"]), triplets, periodic=True, form="vectorized")),
    ):
        cols = got.columns
        g = got.orderBy(*cols[:2]).toPandas()
        w = want.orderBy(*cols[:2]).toPandas()
        np.testing.assert_array_equal(g[cols[:2]].to_numpy(), w[cols[:2]].to_numpy())
        np.testing.assert_array_equal(
            g[cols[2]].to_numpy().view(np.uint32), w[cols[2]].to_numpy().view(np.uint32)
        )


def test_derived_trajectories_keep_the_index(spark, xtc_traj_path):
    """``atom_slice`` and ``select_frames`` carry the dimensions they
    provably know, so counting them starts no job and gives Spark's
    counts; a frame id the index lacks leaves ``select_frames``
    without an index."""
    sc = spark.sparkContext
    traj = load(spark, xtc_traj_path, chunks=2)
    assert traj.index is not None and traj.n_atoms == 20
    derived = {
        "atom_slice": (traj.atom_slice(range(5)), 5, 6),
        # a repeated id counts once; ids past the last atom, or
        # negative, name no atom
        "atom_slice_repeats": (traj.atom_slice([7, 3, 3, 19, 20, -1]), 3, 6),
        "select_frames": (traj.select_frames([0, 2]), 20, 2),
        "reversed": (traj.select_frames([5, 4, 3, 2, 1, 0]), 20, 6),
        "repeated": (traj.select_frames([1, 1, 3]), 20, 3),
        "sliced": (traj.slice_frames(step=2), 20, 3),
    }
    sc.setJobGroup("derived_index", "derived")
    try:
        for name, (t, n_atoms, n_frames) in derived.items():
            assert t.index is not None, name
            assert (t.n_atoms, t.n_frames) == (n_atoms, n_frames), name
        assert _jobs(sc, "derived_index") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for name, (t, n_atoms, n_frames) in derived.items():
        counted = Trajectory(t.coords)
        assert (counted.n_atoms, counted.n_frames) == (n_atoms, n_frames), name
        with pytest.raises(ValueError, match="outside"):
            compute_distances(t, [(0, n_atoms)], form="vectorized")
        # the carried box rows are the remapped unit cell's
        lookup = _BoxLookup.from_traj(Trajectory(t.coords, t._frames, t.unitcell))
        np.testing.assert_array_equal(lookup.ids, t.index.frame_ids)
        np.testing.assert_array_equal(lookup.vecs, t.index.box)
    np.testing.assert_array_equal(derived["reversed"][0].index.box, traj.index.box[::-1])
    absent = traj.select_frames([0, 6])
    assert absent.index is None
    assert absent.n_frames == 1 and absent.n_atoms == 20


def test_scan_runs_in_every_session_a_process_starts(xtc_traj_path):
    """A load reads in the session it is given: twice in one session,
    in a fresh ``get_spark()`` after ``spark.stop()``, and in a bare
    ``SparkSession.builder`` session, none of which registers a data
    source. Runs in a subprocess: the test session must not be
    stopped."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import SparkSession
        from dask_traj_spark.session import get_spark
        from dask_traj_spark.sources.loaders import load

        counts = []
        def load_and_count(spark):
            rows = load(spark, {xtc_traj_path!r}).coords.count()
            known = spark._jsparkSession.sessionState().dataSourceManager()
            counts.append((rows, known.dataSourceExists("trajframes")))

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        load_and_count(spark)
        load_and_count(spark)
        spark.stop()
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        load_and_count(spark)
        spark.stop()
        spark = SparkSession.builder.master("local[1]").getOrCreate()
        load_and_count(spark)
        spark.stop()
        print("COUNTS", counts)
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("COUNTS")][-1]
    assert line == "COUNTS " + str([(120, False)] * 4), line


def test_load_schemas_equal_their_ddl_parse(spark):
    """The schemas ``load_indexed`` builds its tables and scans with
    are built in Python; each equals Spark's parse of the DDL string it
    replaced, nullability included."""
    from pyspark.sql.types import DataType

    from dask_traj_spark.sources import _arrow

    box = ", ".join(f"{c} float" for c in _arrow.BOX_COLS)
    cell = ", ".join(f"{c} float" for c in ("a", "b", "c", "alpha", "beta", "gamma"))
    ddl = {
        "_FRAMES_SCHEMA": "frame_id long, time double, step long",
        "_BOX_SCHEMA": "frame_id long, " + box,
        "_CELL_SCHEMA": "frame_id long, " + cell,
        "_COORDS_SCHEMA": "frame_id long, atom_id int, x float, y float, z float",
    }
    for name, text in ddl.items():
        assert getattr(_arrow, name) == DataType.fromDDL(text), name

"""What a table load's coords Parquet footers prove.

``load_tables`` reads the row-group statistics of the coords data files
on the driver (``loaders.coords_footers``), once per trajectory, on the
first ``n_atoms`` or ``frame_packed()``. Where they prove the atom
count, ``n_atoms`` starts no job; where they prove the scan's frame
order (one data file, row-group frame ranges ascending without
overlap), the vectorized feed sorts each scan partition in place
instead of range-shuffling the table. These tests pin both proofs on a
layout that passes, and that each layout failing a condition keeps the
counted atom count or the range shuffle, with the same rows as a
trajectory that reads no footer.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dask_traj_spark.operators.distance import compute_distances
from dask_traj_spark.sources import loaders
from dask_traj_spark.sources._arrow import _BOX_SCHEMA, _FRAMES_SCHEMA, _table
from dask_traj_spark.sources.loaders import coords_footers, from_wide_pandas, load_tables, save_tables
from dask_traj_spark.trajectory import Trajectory
from tests.test_table_load import _JobGroup

N_FRAMES, N_ATOMS = 6, 8
IDS = np.arange(N_FRAMES, dtype=np.int64)
XYZ = np.random.default_rng(29).uniform(0.0, 3.0, (N_FRAMES, N_ATOMS + 1, 3)).astype(np.float32)
#: pairs that read neither the gapped atom nor the dropped row's atom
PAIRS = [(0, 1), (2, 7), (6, 4), (1, 2)]
#: an orthorhombic float32 vector cell, one ``ax..cz`` row per frame
BOX_ROWS = np.tile((np.eye(3, dtype=np.float32) * 3.0).reshape(1, 9), (N_FRAMES, 1))

#: layout → (atom ids, files as frame ranges, dropped (frame, atom)
#: row, rows per row group, pyarrow write options, atom count proven,
#: frame order proven)
LAYOUTS = {
    "one_file": (range(N_ATOMS), [(0, 6)], None, 2 * N_ATOMS, {}, True, True),
    "no_statistics": (range(N_ATOMS), [(0, 6)], None, 2 * N_ATOMS, {"write_statistics": False}, False, False),
    "gapped_atoms": ([0, 1, 2, 4, 5, 6, 7, 8], [(0, 6)], None, 2 * N_ATOMS, {}, False, True),
    "missing_row": (range(N_ATOMS), [(0, 6)], (2, 5), N_FRAMES * N_ATOMS, {}, False, True),
    "split_frame": (range(N_ATOMS), [(0, 6)], None, N_ATOMS + N_ATOMS // 2, {}, True, False),
    "multi_file": (range(N_ATOMS), [(0, 2), (2, 4), (4, 6)], None, 2 * N_ATOMS, {}, True, False),
}
#: layout → (atom count proven, frame order proven); ``bucketed`` is
#: ``save_tables(..., bucket_frames=2)``: one file per bucket
PROVEN = {name: spec[5:] for name, spec in LAYOUTS.items()} | {"bucketed": (True, False)}


def _coords(lo: int, hi: int, atoms, dropped) -> pa.Table:
    f = np.repeat(np.arange(lo, hi, dtype=np.int64), len(atoms))
    a = np.tile(np.asarray(atoms, dtype=np.int32), hi - lo)
    keep = np.ones(len(f), dtype=bool) if dropped is None else ~((f == dropped[0]) & (a == dropped[1]))
    f, a = f[keep], a[keep]
    xyz = XYZ[f, a]
    return pa.table({"frame_id": f, "atom_id": a, "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2]})


def _dimension_tables(spark, d: str) -> None:
    """The ``frames`` table and an orthorhombic float32 vector cell."""
    _table(spark, _FRAMES_SCHEMA, IDS, IDS * 0.5, IDS).write.parquet(os.path.join(d, "frames.parquet"))
    _table(spark, _BOX_SCHEMA, IDS, *BOX_ROWS.T).write.parquet(os.path.join(d, "unitcell.parquet"))


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("table_footers")
    out = {}
    for name, (atoms, files, dropped, group, options, _, _) in LAYOUTS.items():
        d = str(base / name)
        os.makedirs(os.path.join(d, "coords.parquet"))
        for i, (lo, hi) in enumerate(files):
            path = os.path.join(d, "coords.parquet", f"part-{i:05d}.parquet")
            pq.write_table(_coords(lo, hi, atoms, dropped), path, row_group_size=group, **options)
        _dimension_tables(spark, d)
        out[name] = d
    d = str(base / "bucketed")
    t = from_wide_pandas(spark, XYZ[:, :N_ATOMS], time=IDS * 0.5)
    save_tables(Trajectory(t.coords, t._frames, _table(spark, _BOX_SCHEMA, IDS, *BOX_ROWS.T)), d, bucket_frames=2)
    out["bucketed"] = d
    return out


def _parent(traj: Trajectory) -> Trajectory:
    """The same tables with no index and no footers: the counted atom
    count, the range shuffle and the Spark-collected box."""
    return Trajectory(traj.coords, traj._frames, traj.unitcell)


def _assert_bit_equal(got, want) -> None:
    cols = ["frame_id", "pair_id", "dist"]
    a = got.orderBy("frame_id", "pair_id").toPandas()[cols].to_numpy()
    b = want.orderBy("frame_id", "pair_id").toPandas()[cols].to_numpy()
    assert len(a) == len(b) > 0
    np.testing.assert_array_equal(a[:, :2], b[:, :2])
    np.testing.assert_array_equal(
        a[:, 2].astype(np.float32).view(np.uint32), b[:, 2].astype(np.float32).view(np.uint32)
    )


def _has_exchange(df) -> bool:
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("layout", PROVEN)
def test_footers_prove_what_the_layout_holds(spark, layouts, layout):
    n_proven, ordered = PROVEN[layout]
    got = coords_footers(os.path.join(layouts[layout], "coords.parquet"), IDS)
    assert got == (N_ATOMS if n_proven else None, ordered)
    # without the index's frame ids nothing proves the atom count
    assert coords_footers(os.path.join(layouts[layout], "coords.parquet"), None).n_atoms is None


def test_footers_are_read_once_and_not_at_load(spark, layouts, monkeypatch):
    calls = []

    def counted(*args):
        calls.append(args)
        return coords_footers(*args)

    monkeypatch.setattr(loaders, "coords_footers", counted)
    traj = load_tables(spark, layouts["one_file"])
    assert calls == []
    assert traj.n_atoms == N_ATOMS
    traj.frame_packed()
    compute_distances(traj, PAIRS, periodic=True, form="vectorized")
    assert len(calls) == 1


def test_proven_table_query_is_one_job_without_exchange(spark, layouts):
    traj = load_tables(spark, layouts["one_file"])
    with _JobGroup(spark, "footers_call") as g:
        got = compute_distances(traj, PAIRS, periodic=True, form="vectorized")
        with pytest.raises(ValueError, match="outside"):
            compute_distances(traj, [(0, N_ATOMS)], periodic=True, form="vectorized")
    assert g.jobs == []
    assert traj.index.n_atoms == N_ATOMS
    with _JobGroup(spark, "footers_action") as g:
        got.collect()
    assert len(g.jobs) == 1
    assert not _has_exchange(got)
    _assert_bit_equal(got, compute_distances(_parent(traj), PAIRS, periodic=True, form="vectorized"))


def test_one_file_cut_into_many_splits_keeps_whole_ascending_frames(spark, layouts):
    """Spark reads each row group whole into one split and gives a
    file's splits back in offset order: with splits smaller than a row
    group the rows come from several partitions, each holding whole
    frames, and the sort in place gives the parent's rows in frame
    order."""
    traj = load_tables(spark, layouts["one_file"])
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], "64")
    spark.conf.set(keys[1], "0")
    try:
        packed = traj.frame_packed()
        parts = packed.select(F.spark_partition_id().alias("p"), "frame_id", "atom_id").collect()
        got = compute_distances(traj, PAIRS, periodic=True, form="vectorized")
        rows = got.collect()
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)
    assert len({r.p for r in parts}) > 1
    assert [(r.frame_id, r.atom_id) for r in parts] == [(f, a) for f in range(N_FRAMES) for a in range(N_ATOMS)]
    by_part = {}
    for r in parts:
        by_part.setdefault(r.p, set()).add(r.frame_id)
    assert sum(len(f) for f in by_part.values()) == N_FRAMES  # no frame in two partitions
    assert [r.frame_id for r in rows] == sorted(r.frame_id for r in rows)
    assert not _has_exchange(got)
    _assert_bit_equal(got, compute_distances(_parent(traj), PAIRS, periodic=True, form="vectorized"))


@pytest.mark.parametrize("layout", [name for name in PROVEN if name != "one_file"])
def test_unproven_layouts_keep_the_count_and_the_shuffle(spark, layouts, layout):
    n_proven, ordered = PROVEN[layout]
    traj = load_tables(spark, layouts[layout])
    with _JobGroup(spark, f"footers_{layout}") as g:
        n_atoms = traj.n_atoms
    assert n_atoms == traj.coords.agg(F.countDistinct("atom_id")).first()[0]
    assert bool(g.jobs) != n_proven
    assert (traj.index.n_atoms is not None) == n_proven
    got = compute_distances(traj, PAIRS, periodic=True, form="vectorized")
    assert _has_exchange(traj.frame_packed()) != ordered
    rows = got.collect()
    assert [r.frame_id for r in rows] == sorted(r.frame_id for r in rows)
    _assert_bit_equal(got, compute_distances(_parent(traj), PAIRS, periodic=True, form="vectorized"))

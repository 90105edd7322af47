"""Table loads plan without a Spark job.

``load_tables`` and ``load_frame_range`` take every table's schema from
a data file's footer, where Spark's Parquet writer stores it, instead
of Spark's schema-inference job, and read the small ``frames`` and
``unitcell`` tables on the driver into a ``FrameIndex`` (frame ids and,
for a float32 vector unit cell, the box; no atom count). These tests
pin that the footer read equals Spark's own for every layout
``save_tables`` writes, that tables without Spark's footer key still
load through inference, which tables keep the Spark-collected box,
and that a load and a periodic vectorized call start no job before
the action (``tests/test_frame_index.py`` pins the host box against
the Spark-collected one).
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_traj_spark.operators.distance import _BoxLookup, compute_distances
from dask_traj_spark.sources._arrow import _BOX_SCHEMA, _CELL_SCHEMA, _table
from dask_traj_spark.sources.loaders import (
    _footer_schema,
    from_wide_pandas,
    load_frame_range,
    load_tables,
    read_table,
    save_tables,
)
from dask_traj_spark.trajectory import Trajectory
from tests.golden import box_vectors_from_lengths_angles

N_FRAMES, N_ATOMS = 6, 8
TABLES = ("coords", "frames", "unitcell", "topology")
CELLS = [
    (3.0, 3.0, 3.0, 90.0, 90.0, 90.0),
    (3.1, 2.9, 3.0, 90.0, 90.0, 90.0),
    (3.0, 3.0, 3.0, 90.0, 90.0, 90.0),
    (3.0, 3.0, 3.0, 60.0, 60.0, 90.0),
    (3.2, 3.1, 2.8, 70.0, 80.0, 100.0),
    (3.0, 3.1, 2.9, 60.0, 60.0, 90.0),
]
IDS = np.arange(N_FRAMES, dtype=np.int64)


class _JobGroup:
    """The Spark jobs started inside a ``with`` block."""

    def __init__(self, spark, name: str):
        self.sc, self.name = spark.sparkContext, name

    def __enter__(self):
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    @property
    def jobs(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(self.name))


def _vector_cell(spark):
    boxes = np.stack([box_vectors_from_lengths_angles(*c) for c in CELLS]).astype(np.float32)
    return _table(spark, _BOX_SCHEMA, IDS, *boxes.reshape(-1, 9).T)


def _lengths_angles_cell(spark):
    rows = np.asarray(CELLS, dtype=np.float32)
    return _table(spark, _CELL_SCHEMA, IDS, *rows.T)


def _traj(spark, unitcell=None, topology=False) -> Trajectory:
    rng = np.random.default_rng(17)
    xyz = rng.uniform(0.0, 2.5, (N_FRAMES, N_ATOMS, 3)).astype(np.float32)
    rows = [(a, "C", "C", 12.011, a // 2, "ALA", 0) for a in range(N_ATOMS)] if topology else None
    t = from_wide_pandas(spark, xyz, time=IDS * 0.5, topology_rows=rows)
    return Trajectory(t.coords, t._frames, unitcell, t.topology)


#: every layout ``save_tables`` writes: (bucket_frames, cell, topology)
LAYOUTS = {
    "plain": (None, None, False),
    "bucketed": (2, "vectors", False),
    "topology": (None, None, True),
    "vector_cell": (None, "vectors", False),
    "lengths_angles_cell": (None, "lengths_angles", False),
}


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("table_load")
    out = {}
    for name, (bucket, cell, topology) in LAYOUTS.items():
        unitcell = None
        if cell == "vectors":
            unitcell = _vector_cell(spark)
        elif cell == "lengths_angles":
            unitcell = _lengths_angles_cell(spark)
        out[name] = str(base / name)
        save_tables(_traj(spark, unitcell, topology), out[name], bucket_frames=bucket)
    return out


@pytest.mark.parametrize("layout", LAYOUTS)
def test_footer_schema_equals_spark_inference(spark, layouts, layout):
    d = layouts[layout]
    seen = []
    for name in TABLES:
        p = os.path.join(d, f"{name}.parquet")
        if not os.path.exists(p):
            continue
        seen.append(name)
        assert _footer_schema(spark, p) is not None, name
        with _JobGroup(spark, f"footer_{layout}_{name}") as g:
            got = read_table(spark, p)
        assert g.jobs == []
        want = spark.read.parquet(p)
        # names, types, nullability and order
        assert got.schema == want.schema, name
        assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty(), name
    assert "coords" in seen and "frames" in seen
    assert ("unitcell" in seen) == (LAYOUTS[layout][1] is not None)
    assert ("topology" in seen) == LAYOUTS[layout][2]
    if LAYOUTS[layout][0]:
        assert "frame_bucket" in read_table(spark, os.path.join(d, "coords.parquet")).columns


def test_table_without_spark_footer_loads_through_inference(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(3)
    xyz = rng.uniform(0.0, 2.0, (3, 4, 3)).astype(np.float32)
    d = tmp_path / "pyarrow_written"
    for name, cols in (
        (
            "coords",
            {
                "frame_id": np.repeat(np.arange(3, dtype=np.int64), 4),
                "atom_id": np.tile(np.arange(4, dtype=np.int32), 3),
                "x": xyz[..., 0].ravel(),
                "y": xyz[..., 1].ravel(),
                "z": xyz[..., 2].ravel(),
            },
        ),
        ("frames", {"frame_id": np.arange(3, dtype=np.int64), "time": np.arange(3.0)}),
    ):
        os.makedirs(d / f"{name}.parquet")
        pq.write_table(pa.table(cols), str(d / f"{name}.parquet" / "part-0.parquet"))
    assert _footer_schema(spark, str(d / "coords.parquet")) is None
    traj = load_tables(spark, str(d))
    want = spark.read.parquet(str(d / "coords.parquet"))
    assert traj.coords.schema == want.schema
    assert traj.coords.exceptAll(want).isEmpty() and want.exceptAll(traj.coords).isEmpty()
    assert traj.n_frames == 3 and traj.n_atoms == 4
    np.testing.assert_array_equal(traj.index.frame_ids, np.arange(3))


def test_load_and_periodic_call_start_no_job(spark, layouts):
    d = layouts["vector_cell"]
    pairs = [(0, 1), (2, 5), (3, 7), (1, 6)]
    with _JobGroup(spark, "table_load") as g:
        traj = load_tables(spark, d)
        assert traj.n_frames == N_FRAMES
        got = compute_distances(traj, pairs, n_atoms=N_ATOMS, periodic=True, form="vectorized")
    assert g.jobs == []
    assert traj.index.n_atoms is None and traj.index.box is not None
    # the same query over the Spark-collected box
    counted = Trajectory(traj.coords, traj._frames, traj.unitcell)
    want = compute_distances(counted, pairs, periodic=True, form="vectorized")
    cols = ["frame_id", "pair_id", "dist"]
    a = got.orderBy("frame_id", "pair_id").toPandas()[cols].to_numpy()
    b = want.orderBy("frame_id", "pair_id").toPandas()[cols].to_numpy()
    assert len(a) == N_FRAMES * len(pairs)
    np.testing.assert_array_equal(a[:, :2], b[:, :2])
    np.testing.assert_array_equal(
        a[:, 2].astype(np.float32).view(np.uint32), b[:, 2].astype(np.float32).view(np.uint32)
    )


def test_lengths_angles_table_keeps_the_spark_lookup(spark, layouts):
    traj = load_tables(spark, layouts["lengths_angles_cell"])
    np.testing.assert_array_equal(traj.index.frame_ids, IDS)
    assert traj.index.box is None
    with _JobGroup(spark, "lengths_angles_lookup") as g:
        lookup = _BoxLookup.from_traj(traj)
    assert g.jobs
    np.testing.assert_array_equal(lookup.ids, IDS)


def test_zero_box_table_keeps_the_spark_lookup_and_its_error(spark, tmp_path):
    d = str(tmp_path / "zero_box")
    zero = _table(spark, _BOX_SCHEMA, IDS, *np.zeros((9, N_FRAMES), dtype=np.float32))
    save_tables(_traj(spark, zero), d)
    traj = load_tables(spark, d)
    assert traj.index is not None and traj.index.box is None
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        compute_distances(traj, [(0, 1)], periodic=True, form="vectorized").collect()


def test_frame_ids_that_repeat_give_no_index(spark, tmp_path):
    d = str(tmp_path / "repeated")
    t = _traj(spark)
    save_tables(Trajectory(t.coords, t._frames.unionByName(t._frames.where("frame_id = 2"))), d)
    traj = load_tables(spark, d)
    assert traj.index is None
    assert traj.n_frames == N_FRAMES + 1


def test_load_frame_range_starts_no_job(spark, layouts):
    d = layouts["bucketed"]
    with _JobGroup(spark, "frame_range_load") as g:
        traj = load_frame_range(spark, d, 1, 4)
        assert traj.n_frames == 3
    assert g.jobs == []
    np.testing.assert_array_equal(traj.index.frame_ids, [1, 2, 3])
    boxes = np.stack([box_vectors_from_lengths_angles(*c) for c in CELLS[1:4]]).astype(np.float32)
    np.testing.assert_array_equal(traj.index.box, boxes)
    assert traj.coords.select(F.min("frame_id"), F.max("frame_id")).first() == (1, 3)
    assert traj.coords.count() == 3 * N_ATOMS

"""Form selection and box handling shared by the SQL and vectorized
geometry forms: ``wide_output`` always takes the vectorized form, and
a frame with no unitcell row is dropped by every periodic path."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_traj_spark import schemas
from dask_traj_spark.operators.distance import compute_distances


@pytest.mark.parametrize("n_pairs", [1, 0])
def test_wide_output_schema(traj_nocell, n_pairs):
    """Below the auto threshold (and for an empty pair set) the wide
    shape must still come back, not the long one."""
    pairs = np.array([[0, 1]] * n_pairs, dtype=np.int32).reshape(-1, 2)
    df = compute_distances(traj_nocell, pairs, periodic=False, wide_output=True)
    assert df.schema == schemas.DISTANCES_WIDE_SCHEMA
    rows = df.collect()
    if n_pairs:
        assert len(rows) == 101 and all(len(r["dists"]) == 1 for r in rows)
    else:
        assert rows == []


def test_wide_output_rejects_sql_form(traj_nocell):
    with pytest.raises(ValueError):
        compute_distances(traj_nocell, [(0, 1)], form="sql", wide_output=True)


def _gapped_box_traj(spark):
    """3 frames, unitcell rows for frames 0 and 2 only (1.5 nm cube)."""
    from dask_traj_spark.trajectory import Trajectory

    rows = [
        (f, a, float(x), 0.0, 0.0)
        for f in range(3)
        for a, x in enumerate([0.1, 0.1 + 0.4 * (f + 1)])
    ]
    coords = spark.createDataFrame(
        rows, "frame_id bigint, atom_id int, x float, y float, z float"
    )
    box = dict(
        ax=1.5, ay=0.0, az=0.0, bx=0.0, by=1.5, bz=0.0, cx=0.0, cy=0.0, cz=1.5,
        a=1.5, b=1.5, c=1.5, alpha=90.0, beta=90.0, gamma=90.0,
    )
    uc = spark.createDataFrame([(0,), (2,)], "frame_id bigint").select(
        "frame_id", *[F.lit(v).cast("float").alias(k) for k, v in box.items()]
    )
    return Trajectory(coords, unitcell=uc)


def _dists(df):
    pdf = df.toPandas().sort_values(["frame_id", "pair_id"])
    return pdf["frame_id"].tolist(), pdf["dist"].to_numpy()


def test_frame_without_unitcell_dropped_on_every_path(spark):
    """The box lookup must not hand frame 1 its neighbour's box: the
    lookup path and the SQL form both drop it."""
    traj = _gapped_box_traj(spark)
    lookup = _dists(compute_distances(traj, [(0, 1)], form="vectorized"))
    sql = _dists(compute_distances(traj, [(0, 1)], form="sql"))

    assert lookup[0] == sql[0] == [0, 2]
    # frame 2's 1.2 nm separation wraps to 0.3 nm in the 1.5 nm box
    np.testing.assert_allclose(sql[1], [0.4, 0.3], atol=1e-6)
    np.testing.assert_allclose(lookup[1], sql[1], atol=1e-6)


def test_box_lookup_get_masks_missing_frames():
    from dask_traj_spark.operators.distance import _BoxLookup

    vecs = np.arange(2 * 9, dtype=np.float32).reshape(2, 3, 3)
    lk = _BoxLookup(np.array([0, 2]), vecs, np.array([True, False]))
    keep, box, ortho = lk.get(np.array([0, 1, 2, 3]))
    assert keep.tolist() == [True, False, True, False]
    np.testing.assert_array_equal(box, vecs)
    assert ortho.tolist() == [True, False]
    keep, box, _ = _BoxLookup(np.array([], dtype=np.int64), vecs[:0], np.array([], bool)).get(
        np.array([5])
    )
    assert keep.tolist() == [False] and len(box) == 0

"""One broadcast per distinct content per SparkContext.

A loaded-file geometry query broadcasts the scan plan, the fused
feed's payloads and its kernel constants with the box lookup. PySpark
deletes a broadcast's driver file only when the broadcast is
destroyed, which no query may do while a DataFrame reads it, so
these tests pin that repeated identical queries reuse the first
query's broadcasts (no new file in the driver's temp directory), that
a different index set gets its own, and that its rows equal those of
a query that made every broadcast anew.
"""

from __future__ import annotations

import itertools
import os

import numpy as np
import pytest

from dask_traj_spark.operators.distance import compute_distances
from dask_traj_spark.session import shared_broadcast
from dask_traj_spark.sources.loaders import load
from tests.golden import box_vectors_from_lengths_angles

PAIRS_A = list(itertools.combinations(range(1, 17, 2), 2))
PAIRS_B = list(itertools.combinations(range(3, 13), 2))


@pytest.fixture(scope="module")
def xtc_path(tmp_path_factory):
    """A file no other test writes: its chunk plan and box lookup, and
    so every broadcast of its queries, are new to the session."""
    from dask_traj_spark.sources.xtc import _write_xtc_file

    rng = np.random.default_rng(2016)
    xyz = rng.uniform(0, 3.3, (6, 20, 3)).astype(np.float32)
    box = np.tile(box_vectors_from_lengths_angles(3.3, 3.4, 3.5, 90.0, 90.0, 90.0), (6, 1, 1))
    path = str(tmp_path_factory.mktemp("shared_broadcast") / "t.xtc")
    _write_xtc_file(path, xyz, np.arange(6, dtype=np.float64), box)
    return path


def _driver_files(sc) -> set[str]:
    return set(os.listdir(sc._temp_dir))


def _rows(spark, path, pairs) -> np.ndarray:
    d = compute_distances(load(spark, path, chunks=2), pairs, periodic=True, form="vectorized")
    assert d._fused_scan is not None
    rows = sorted((r.frame_id, r.pair_id, r.dist) for r in d.collect())
    return np.array(rows, dtype=[("f", "i8"), ("p", "i8"), ("d", "f4")])


def test_equal_values_share_one_broadcast(spark):
    sc = spark.sparkContext
    a = shared_broadcast(sc, (np.arange(5), [(0, 3)]))
    assert shared_broadcast(sc, (np.arange(5), [(0, 3)])) is a
    assert shared_broadcast(sc, (np.arange(6), [(0, 3)])) is not a
    assert sc.parallelize([0], 1).map(lambda _: a.value[0].sum()).collect() == [10]


def test_repeated_queries_write_no_new_broadcast_file(spark, xtc_path):
    sc = spark.sparkContext
    before = _driver_files(sc)
    first = _rows(spark, xtc_path, PAIRS_A)
    after_first = _driver_files(sc)
    assert 0 < len(after_first - before) <= 3
    for _ in range(4):
        assert _rows(spark, xtc_path, PAIRS_A).tobytes() == first.tobytes()
    assert _driver_files(sc) == after_first

    other = _rows(spark, xtc_path, PAIRS_B)
    assert _driver_files(sc) - after_first  # its own kernel constants
    # the same query with every broadcast made anew
    kept = vars(sc).pop("_shared_broadcasts")
    try:
        fresh = _rows(spark, xtc_path, PAIRS_B)
    finally:
        vars(sc)["_shared_broadcasts"] = kept
    assert len(other) == len(fresh) == 6 * len(PAIRS_B)
    assert other.tobytes() == fresh.tobytes()

"""TRR format: write → read round-trip, header parsing, dispatch."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def trr_file(spark, tmp_path_factory):
    from dask_traj_spark.sources.loaders import from_wide_pandas
    from dask_traj_spark.sources.trr import write_trr

    rng = np.random.default_rng(17)
    xyz = rng.uniform(-1, 6, (9, 35, 3)).astype(np.float32)
    traj = from_wide_pandas(
        spark,
        xyz,
        time=np.arange(9) * 5.0,
        unitcell_lengths=np.full((9, 3), 6.5),
        unitcell_angles=np.tile([90.0, 90.0, 90.0], (9, 1)),
    )
    p = str(tmp_path_factory.mktemp("trr") / "t.trr")
    write_trr(traj, p)
    return p, xyz


def test_trr_info(trr_file):
    from dask_traj_spark.sources.trr import read_info

    p, xyz = trr_file
    info = read_info(p)
    assert info.n_frames == 9 and info.n_atoms == 35
    assert not info.double and not info.has_v and not info.has_f


def test_trr_round_trip_exact(spark, trr_file):
    """Uncompressed float32 → bit-exact coordinate round-trip."""
    import dask_traj_spark as dts

    p, xyz = trr_file
    back = dts.load(spark, p, chunks=4)
    assert back.n_frames == 9 and back.n_atoms == 35
    got, t = back.to_numpy()
    np.testing.assert_array_equal(got, xyz)
    np.testing.assert_allclose(t, np.arange(9) * 5.0)
    la = back.unitcell_lengths_angles.where(F.col("frame_id") == 0).first()
    np.testing.assert_allclose(la["a"], 6.5, atol=1e-6)


def test_trr_partitioned_scan(spark, trr_file):
    import dask_traj_spark as dts

    p, _ = trr_file
    parts = dts.load(spark, p, chunks=4).coords._frame_scan.payloads
    assert [start for start, _count in parts] == [0, 4, 8]


def test_trr_rejects_garbage(tmp_path):
    from dask_traj_spark.sources.trr import read_info

    p = tmp_path / "bad.trr"
    p.write_bytes(b"\x01" * 64)
    with pytest.raises(ValueError):
        read_info(str(p))

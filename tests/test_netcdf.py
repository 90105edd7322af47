"""AMBER NetCDF3: write -> read round trip, header parsing, chunked
partition planning."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def nc_file(spark, tmp_path_factory):
    from dask_traj_spark.sources.loaders import from_wide_pandas
    from dask_traj_spark.sources.netcdf3 import write_netcdf

    rng = np.random.default_rng(53)
    xyz = rng.uniform(-1, 5, (8, 17, 3)).astype(np.float32)
    traj = from_wide_pandas(
        spark,
        xyz,
        time=np.arange(8) * 4.0,
        unitcell_lengths=np.full((8, 3), 6.0),
        unitcell_angles=np.tile([90.0, 90.0, 90.0], (8, 1)),
    )
    p = str(tmp_path_factory.mktemp("nc") / "t.nc")
    write_netcdf(traj, p)
    return p, xyz


def test_header_parse(nc_file):
    from dask_traj_spark.sources.netcdf3 import NC3File

    p, _ = nc_file
    nc = NC3File(p)
    assert nc.numrecs == 8
    assert nc.vars["coordinates"].shape == (17, 3)
    assert nc.vars["coordinates"].record
    assert nc.vars["cell_lengths"].nc_type == 6


def test_round_trip(spark, nc_file):
    import dask_traj_spark as dts

    p, xyz = nc_file
    traj = dts.load(spark, p, chunks=3)
    assert traj.n_frames == 8 and traj.n_atoms == 17
    got, t = traj.to_numpy()
    np.testing.assert_allclose(got, xyz, atol=3e-6)  # nm->A->nm f32
    np.testing.assert_allclose(t, np.arange(8) * 4.0)
    la = traj.unitcell_lengths_angles.where(F.col("frame_id") == 5).first()
    np.testing.assert_allclose([la["a"], la["alpha"]], [6.0, 90.0], atol=1e-6)


def test_partitions(spark, nc_file):
    import dask_traj_spark as dts

    p, _ = nc_file
    parts = dts.load(spark, p, chunks=3).coords._frame_scan.payloads
    # 8 frames: the last range is cut to the frames the file holds
    assert parts == [(0, 3), (3, 3), (6, 2)]


def test_rejects_non_netcdf(tmp_path):
    from dask_traj_spark.sources.netcdf3 import NC3File

    p = tmp_path / "bad.nc"
    p.write_bytes(b"HDF\x01" + b"\x00" * 64)
    with pytest.raises(ValueError):
        NC3File(str(p))

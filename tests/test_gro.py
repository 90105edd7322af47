"""GRO trajectory source: multi-frame parse, time/box/topology,
velocities columns tolerated, dispatch."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

_FRAME = """MD of water, t= {t:.5f}
    3
    1SOL     OW    1{x1:8.3f}{y1:8.3f}{z1:8.3f}  0.1000  0.2000  0.3000
    1SOL    HW1    2{x2:8.3f}{y2:8.3f}{z2:8.3f}  0.0000  0.0000  0.0000
    2NA+     NA    3{x3:8.3f}{y3:8.3f}{z3:8.3f}  0.0000  0.0000  0.0000
   1.82060   1.82060   1.82060
"""


@pytest.fixture(scope="module")
def gro_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("gro") / "traj.gro"
    rng = np.random.default_rng(5)
    coords = rng.uniform(0.1, 1.7, (4, 3, 3)).round(3)
    text = "".join(
        _FRAME.format(
            t=fid * 0.5,
            x1=c[0, 0], y1=c[0, 1], z1=c[0, 2],
            x2=c[1, 0], y2=c[1, 1], z2=c[1, 2],
            x3=c[2, 0], y3=c[2, 1], z3=c[2, 2],
        )
        for fid, c in enumerate(coords)
    )
    p.write_text(text)
    return str(p), coords.astype(np.float32)


def test_gro_load_round_trip(spark, gro_file):
    import dask_traj_spark as dts

    path, coords = gro_file
    traj = dts.load(spark, path, chunks=2)
    assert traj.n_frames == 4 and traj.n_atoms == 3
    got, t = traj.to_numpy()
    np.testing.assert_allclose(got, coords, atol=1e-6)
    np.testing.assert_allclose(t, np.arange(4) * 0.5)  # parsed from t=


def test_gro_box_and_topology(spark, gro_file):
    import dask_traj_spark as dts

    path, _ = gro_file
    traj = dts.load(spark, path)
    assert traj.have_unitcell
    row = traj.unitcell_vectors.where(F.col("frame_id") == 1).first()
    np.testing.assert_allclose(
        [row["ax"], row["by"], row["cz"]], [1.8206] * 3, atol=1e-5
    )
    top = traj.topology.orderBy("atom_id").collect()
    assert [r["name"] for r in top] == ["OW", "HW1", "NA"]
    assert [r["residue_name"] for r in top] == ["SOL", "SOL", "NA+"]
    assert top[2]["element"] == "Na"
    np.testing.assert_allclose(top[2]["mass"], 22.99)


def test_gro_partitioned_scan(spark, gro_file):
    import dask_traj_spark as dts

    path, _ = gro_file
    parts = dts.load(spark, path, chunks=3).coords._frame_scan.payloads
    assert [len(p) for p in parts] == [3, 1]


def test_gro_time_fallback_without_t(spark, tmp_path):
    import dask_traj_spark as dts

    p = tmp_path / "not.gro"
    p.write_text(
        "no time here\n    1\n"
        "    1SOL     OW    1   0.100   0.200   0.300\n"
        "   1.00000   1.00000   1.00000\n"
    )
    traj = dts.load(spark, str(p))
    assert traj.frames.first()["time"] == 0.0  # arange fallback (S8)


def test_gro_write_read_round_trip(spark, traj_triclinic, tmp_path):
    """write_gro → load_gro round-trips coords (3-decimal nm grid),
    time, and the triclinic box."""
    import numpy as np

    from dask_traj_spark.sources.gro import write_gro

    sub = traj_triclinic.slice_frames(0, 3).atom_slice(list(range(40)))
    p = str(tmp_path / "rt.gro")
    write_gro(sub, p)

    import dask_traj_spark as dts

    back = dts.load(spark, p)
    assert back.n_frames == 3 and back.n_atoms == 40
    a, ta = sub.to_numpy()
    b, tb = back.to_numpy()
    np.testing.assert_allclose(b, np.round(a.astype(np.float64) * 1000) / 1000,
                               atol=5e-4)
    np.testing.assert_allclose(tb, ta, atol=1e-4)
    ua = sub.unitcell_vectors.orderBy("frame_id").toPandas()
    ub = back.unitcell_vectors.orderBy("frame_id").toPandas()
    cols = ["ax", "ay", "az", "bx", "by", "bz", "cx", "cy", "cz"]
    np.testing.assert_allclose(ub[cols].to_numpy(), ua[cols].to_numpy(), atol=1e-4)

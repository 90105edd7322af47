"""DCD binary format: write → read round-trip, chunked DataSource
partitions, unit-cell records, loader dispatch."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def small_traj(spark):
    from dask_traj_spark.sources.loaders import from_wide_pandas

    rng = np.random.default_rng(9)
    xyz = rng.uniform(0, 4, size=(12, 25, 3)).astype(np.float32)
    return (
        from_wide_pandas(
            spark,
            xyz,
            time=np.arange(12) * 2.0,
            unitcell_lengths=np.full((12, 3), 4.0),
            unitcell_angles=np.tile([90.0, 90.0, 90.0], (12, 1)),
        ),
        xyz,
    )


def test_dcd_round_trip(spark, small_traj, tmp_path):
    from dask_traj_spark.sources.dcd import load_dcd, read_info, write_dcd

    traj, xyz = small_traj
    path = str(tmp_path / "t.dcd")
    write_dcd(traj, path)

    info = read_info(path)
    assert (info.n_frames, info.n_atoms, info.has_cell) == (12, 25, True)

    back = load_dcd(spark, path, chunks=5)
    assert back.n_frames == 12 and back.n_atoms == 25
    got, _ = back.to_numpy()
    # Å round-trip in float32: ~1e-6 relative
    np.testing.assert_allclose(got, xyz, atol=1e-5)

    uc = back.unitcell_lengths_angles.orderBy("frame_id").toPandas()
    np.testing.assert_allclose(uc["a"], 4.0, atol=1e-6)
    np.testing.assert_allclose(uc["alpha"], 90.0, atol=1e-4)


def test_dcd_partitions_are_chunked(spark, small_traj, tmp_path):
    import dask_traj_spark as dts
    from dask_traj_spark.sources.dcd import write_dcd

    traj, _ = small_traj
    path = str(tmp_path / "t.dcd")
    write_dcd(traj, path)
    parts = dts.load(spark, path, chunks=5).coords._frame_scan.payloads
    assert len(parts) == 3  # 12 frames / 5 per chunk
    assert [start for start, _count in parts] == [0, 5, 10]


def test_load_dispatch_dcd(spark, small_traj, tmp_path):
    import dask_traj_spark as dts

    traj, xyz = small_traj
    path = str(tmp_path / "t2.dcd")
    from dask_traj_spark.sources.dcd import write_dcd

    write_dcd(traj, path)
    back = dts.load(spark, path)
    row = (
        back.coords.where((F.col("frame_id") == 3) & (F.col("atom_id") == 4))
        .first()
    )
    np.testing.assert_allclose(
        [row["x"], row["y"], row["z"]], xyz[3, 4], atol=1e-5
    )


def test_dcd_rejects_garbage(tmp_path):
    from dask_traj_spark.sources.dcd import read_info

    p = tmp_path / "bad.dcd"
    p.write_bytes(b"\x00" * 100)
    with pytest.raises(ValueError):
        read_info(str(p))


def test_dcd_parts_sink_and_merge(spark, tmp_path):
    """Distributed parts sink → driver merge → single-file re-load
    matches the original trajectory."""
    import numpy as np

    import dask_traj_spark as dts
    from dask_traj_spark.sources.loaders import from_wide_pandas
    from dask_traj_spark.sources.parts import merge_parts, write_traj_parts

    rng = np.random.default_rng(23)
    xyz = rng.uniform(-1, 4, (11, 40, 3)).astype(np.float32)
    traj = from_wide_pandas(
        spark,
        xyz,
        unitcell_lengths=np.full((11, 3), 5.0),
        unitcell_angles=np.tile([90.0, 90.0, 90.0], (11, 1)),
    )
    d = str(tmp_path / "parts")
    manifest = write_traj_parts(traj, d, "dcd", frames_per_part=4)
    assert [m[0] for m in manifest] == [0, 1, 2]
    assert [m[2] for m in manifest] == [4, 4, 3]

    out = str(tmp_path / "merged.dcd")
    merge_parts(d, out, "dcd")
    back = dts.load(spark, out, chunks=5)
    assert back.n_frames == 11 and back.n_atoms == 40
    got, _ = back.to_numpy()
    np.testing.assert_allclose(got, xyz, atol=2e-6)


def test_dcd_degree_cells_sniffed(tmp_path):
    """NAMD-style DCDs store cell angles as plain degrees in the XTLA
    slots; the reader must sniff (values outside [-1,1]) instead of
    clamping 90.0 to cos=1 -> 0 degrees."""
    import math
    import struct

    from dask_traj_spark.sources.dcd import read_cells

    path = str(tmp_path / "deg.dcd")
    n_frames, n_atoms = 3, 4
    with open(path, "wb") as f:
        icntrl = [0] * 20
        icntrl[0] = n_frames
        icntrl[2] = 1
        icntrl[10] = 1
        icntrl[19] = 24
        f.write(struct.pack("<i", 84) + b"CORD" + struct.pack("<20i", *icntrl))
        f.write(struct.pack("<i", 84))
        f.write(struct.pack("<i", 84) + struct.pack("<i", 1) + b"t".ljust(80))
        f.write(struct.pack("<i", 84))
        f.write(struct.pack("<i", 4) + struct.pack("<i", n_atoms) + struct.pack("<i", 4))
        for fid in range(n_frames):
            # XTLA [a, gamma, b, beta, alpha, c] — angles in DEGREES
            rec = struct.pack("<6d", 40.0, 90.0, 40.0, 85.0, 95.0, 40.0)
            f.write(struct.pack("<i", 48) + rec + struct.pack("<i", 48))
            col = struct.pack(f"<{n_atoms}f", *([1.0] * n_atoms))
            for _ in range(3):
                f.write(struct.pack("<i", 4 * n_atoms) + col + struct.pack("<i", 4 * n_atoms))

    cells = read_cells(path)
    assert len(cells) == 3
    _, a, b, c, alpha, beta, gamma = cells[0]
    np.testing.assert_allclose([a, b, c], 4.0)  # Å -> nm
    np.testing.assert_allclose([alpha, beta, gamma], [95.0, 85.0, 90.0])

    # cosine-convention cells (the writer's own output) still decode
    path2 = str(tmp_path / "cos.dcd")
    with open(path2, "wb") as f:
        f.write(struct.pack("<i", 84) + b"CORD" + struct.pack("<20i", *icntrl))
        f.write(struct.pack("<i", 84))
        f.write(struct.pack("<i", 84) + struct.pack("<i", 1) + b"t".ljust(80))
        f.write(struct.pack("<i", 84))
        f.write(struct.pack("<i", 4) + struct.pack("<i", n_atoms) + struct.pack("<i", 4))
        for fid in range(n_frames):
            rec = struct.pack(
                "<6d",
                40.0, math.cos(math.radians(90.0)),
                40.0, math.cos(math.radians(85.0)),
                math.cos(math.radians(95.0)), 40.0,
            )
            f.write(struct.pack("<i", 48) + rec + struct.pack("<i", 48))
            col = struct.pack(f"<{n_atoms}f", *([1.0] * n_atoms))
            for _ in range(3):
                f.write(struct.pack("<i", 4 * n_atoms) + col + struct.pack("<i", 4 * n_atoms))
    _, _, _, _, alpha2, beta2, gamma2 = cells2 = read_cells(path2)[0]
    np.testing.assert_allclose([alpha2, beta2, gamma2], [95.0, 85.0, 90.0], atol=1e-9)


def test_dcd_parts_sink_sliced_trajectory_cells(spark, small_traj, tmp_path):
    """Part writer must gather unit cells by frame_id: a strided slice
    has non-dense frame ids, so a positional [min:max+1] slice of the
    cells array would misalign (or crash)."""
    from dask_traj_spark.sources.dcd import read_cells
    from dask_traj_spark.sources.parts import write_traj_parts

    traj, xyz = small_traj
    # per-frame distinct cells so misalignment is detectable
    uc = traj.unitcell_lengths_angles
    varied = uc.select(
        "frame_id",
        (F.col("a") + F.col("frame_id").cast("float") * 0.5).alias("a"),
        "b", "c", "alpha", "beta", "gamma",
    )
    from dask_traj_spark.trajectory import Trajectory

    t2 = Trajectory(traj.coords, unitcell=varied, topology=traj.topology)
    sliced = t2.slice_frames(1, 12, 3)  # frames 1,4,7,10 — non-dense ids
    d = str(tmp_path / "parts_sliced")
    manifest = write_traj_parts(sliced, d, "dcd", frames_per_part=2)
    assert sum(n for _, _, n in manifest) == 4

    # read each part's cells and check the 'a' progression matches the
    # ORIGINAL frame ids 1,4,7,10 (a = 4.0 + fid*0.5)
    expected_a = [4.0 + fid * 0.5 for fid in (1, 4, 7, 10)]
    seen_a = []
    for _, path, _ in manifest:
        seen_a.extend(a for _, a, *_ in read_cells(path))
    np.testing.assert_allclose(sorted(seen_a), sorted(expected_a), atol=1e-6)

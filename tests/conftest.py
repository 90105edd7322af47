"""Session fixtures: tuned SparkSession + the FIXTURES.md tables.

``traj_small``: 101 frames × 2,722 atoms, per-atom random walk
(seed 42) in a triclinic 6.8555 nm 60/60/90 box — mirrors the
reference's ``tests/test.xtc`` + ``test.pdb`` fixture pair.
Variants: orthorhombic box, no box. ``traj_tiny``: 1 frame ×
2 atoms, no cell (mirrors ``test.xyz``).
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from dask_traj_spark.session import get_spark
from dask_traj_spark.sources.loaders import from_wide_pandas

N_FRAMES = 101
N_ATOMS = 2722
BOX_L = 6.8555
TRICLINIC = (60.0, 60.0, 90.0)
ORTHO = (90.0, 90.0, 90.0)

ELEMENTS = [("H", 1.008), ("C", 12.011), ("N", 14.007), ("O", 15.999), ("S", 32.06)]


@pytest.fixture(scope="session")
def spark():
    # width comes from SPARK_GRAFT_CPUS (the Tier-1 command sets it)
    yield get_spark(app_name="dask-traj-spark-tests")


@pytest.fixture(scope="session")
def xyz_small():
    rng = np.random.default_rng(42)
    start = rng.uniform(0, BOX_L, size=(1, N_ATOMS, 3))
    steps = rng.normal(0, 0.02, size=(N_FRAMES - 1, N_ATOMS, 3))
    xyz = np.concatenate([start, start + np.cumsum(steps, axis=0)], axis=0)
    return xyz.astype(np.float32)


@pytest.fixture(scope="session")
def topology_rows():
    rows = []
    for a in range(N_ATOMS):
        el, mass = ELEMENTS[a % len(ELEMENTS)]
        rows.append((a, el, el, mass, a // 4, "ALA", 0))
    return rows


@pytest.fixture(scope="session")
def masses(topology_rows):
    return np.array([r[3] for r in topology_rows])


def _mk_traj(spark, xyz, topology_rows, angles):
    n = xyz.shape[0]
    ul = np.full((n, 3), BOX_L) if angles else None
    ua = np.tile(np.array(angles), (n, 1)) if angles else None
    return from_wide_pandas(
        spark,
        xyz,
        time=np.arange(n) * 1000.0,
        unitcell_lengths=ul,
        unitcell_angles=ua,
        topology_rows=topology_rows,
    )


@pytest.fixture(scope="session")
def traj_triclinic(spark, xyz_small, topology_rows):
    t = _mk_traj(spark, xyz_small, topology_rows, TRICLINIC)
    t.coords.cache().count()
    return t


@pytest.fixture(scope="session")
def traj_ortho(spark, xyz_small, topology_rows):
    return _mk_traj(spark, xyz_small, topology_rows, ORTHO)


@pytest.fixture(scope="session")
def traj_nocell(spark, xyz_small, topology_rows):
    return _mk_traj(spark, xyz_small, topology_rows, None)


@pytest.fixture(scope="session")
def pairs45():
    return np.array(list(itertools.combinations(range(10), 2)), dtype=np.int32)


@pytest.fixture(scope="session")
def triplets120():
    return np.array(list(itertools.combinations(range(10), 3)), dtype=np.int32)


@pytest.fixture(scope="session")
def box_triclinic():
    from tests.golden import box_vectors_from_lengths_angles

    return box_vectors_from_lengths_angles(BOX_L, BOX_L, BOX_L, *TRICLINIC)


@pytest.fixture(scope="session")
def box_ortho():
    from tests.golden import box_vectors_from_lengths_angles

    return box_vectors_from_lengths_angles(BOX_L, BOX_L, BOX_L, *ORTHO)

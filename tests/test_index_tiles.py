"""Index-kernel output in tiles of at most the Arrow batch size.

An index kernel (pairs, triplets, quartets) runs over a frame block
one tile at a time (``distance._index_tiles``): whole frames while a
frame's index rows fit the session's
``spark.sql.execution.arrow.maxRecordsPerBatch``, else one frame with
its index rows cut into runs of the cap. Each tile is its own record
batch. These tests pin that the tiles hold the rows of one call on
the whole block, in the same order and with the same bits, on either
feed of the map, and that a task's memory follows the cap, not the
size of the index set.
"""

from __future__ import annotations

import itertools
import tracemalloc

import numpy as np
import pyarrow as pa
import pytest

from dask_traj_spark.operators import angle, distance
from dask_traj_spark.operators.distance import _index_tiles
from tests.golden import box_vectors_from_lengths_angles

N_FRAMES, N_ATOMS = 24, 12
PAIRS = np.array(list(itertools.combinations(range(N_ATOMS), 2))[:40], dtype=np.int32)
TRIPLETS = np.array(
    [(k, (k + 1) % N_ATOMS, (k + d) % N_ATOMS) for d in (5, 7) for k in range(N_ATOMS)],
    dtype=np.int32,
)
QUARTETS = np.array(
    [(k, (k + 1) % N_ATOMS, (k + 2) % N_ATOMS, (k + d) % N_ATOMS) for d in (5, 8) for k in range(N_ATOMS)],
    dtype=np.int32,
)
#: a cap below every index set's size (index rows are cut inside a
#: frame) and one above it (several frames to a tile)
CAPS = {"cuts_a_frame": 16, "frames_per_tile": 100}
BOXES = {"ortho": (90.0, 90.0, 90.0), "triclinic": (60.0, 60.0, 90.0)}

#: (kernel, index set, value columns, one row per frame)
KERNELS = {
    "distances": (distance._dists, PAIRS, ("dist",), False),
    "displacements": (distance._vectors, PAIRS, ("dx", "dy", "dz"), False),
    "wide": (distance._wide, PAIRS, ("dists",), True),
    "angles": (angle._angles, TRIPLETS, ("angle_rad",), False),
    "dihedrals": (angle._dihedrals, QUARTETS, ("dihedral_rad",), False),
}


def _box(kind: str, n: int):
    if kind == "none":
        return None, None
    vecs = box_vectors_from_lengths_angles(2.5, 2.5, 2.5, *BOXES[kind])
    return np.tile(np.asarray(vecs, np.float32), (n, 1, 1)), np.full(n, kind == "ortho")


def _flat(col) -> np.ndarray:
    return col.flatten().to_numpy() if isinstance(col, pa.Array) else col


@pytest.mark.parametrize("box", ["none", *BOXES])
@pytest.mark.parametrize("cap", [7, 16, 40, 100, 500])
@pytest.mark.parametrize("name", list(KERNELS))
def test_tiles_hold_the_rows_of_one_call(name, cap, box):
    """Every tile holds at most ``cap`` rows (a wide tile at most
    ``cap`` values, or one frame), and the tiles laid end to end give
    the bits of the whole block in one call."""
    fn, idx, values, frames_only = KERNELS[name]
    rng = np.random.default_rng(3)
    xyz = rng.uniform(0, 3, (N_FRAMES, N_ATOMS, 3)).astype(np.float32)
    fids = np.arange(N_FRAMES, dtype=np.int64) * 2
    b, o = _box(box, N_FRAMES)
    (whole,) = _index_tiles(fn, fids, xyz, b, o, idx, 2**62, frames_only)
    tiles = list(_index_tiles(fn, fids, xyz, b, o, idx, cap, frames_only))
    for t in tiles:
        rows = len(t["frame_id"])
        if frames_only:
            assert rows == 1 or rows * len(idx) <= cap, (rows, cap)
        else:
            assert rows <= cap, (rows, cap)
    assert len(tiles) > 1
    for col in whole:
        got = np.concatenate([_flat(t[col]) for t in tiles])
        assert got.tobytes() == _flat(whole[col]).tobytes(), col
    (id_col,) = set(whole) - {"frame_id", *values} or {None}
    if id_col is not None:
        np.testing.assert_array_equal(whole[id_col], np.tile(np.arange(len(idx)), N_FRAMES))


_DISTANCES = pa.schema([("frame_id", pa.int64()), ("pair_id", pa.int32()), ("dist", pa.float32())])


def _peak(fn, *args) -> tuple[int, int]:
    """Peak traced bytes of running ``fn(*args)`` to its end, and the
    largest number of rows it gave out at once."""
    import gc

    gc.collect()
    tracemalloc.start()
    try:
        most = 0
        for cols in fn(*args):
            batch = distance._record_batch(cols, _DISTANCES)
            most = max(most, batch.num_rows)
            del cols, batch
        return tracemalloc.get_traced_memory()[1], most
    finally:
        tracemalloc.stop()


def test_tiles_bound_the_memory_of_the_capability_claim():
    """The reference's capability claim (BASELINE.md): every pair of
    3,000 atoms, 4.5M pairs, in one frame. Tiled at the session's
    Arrow batch size, a task's peak NumPy memory at 4.5M pairs stays
    within 1.5x of its peak at a tenth of the pairs, and below what
    one batch of that tenth takes."""
    cap = 65536
    rng = np.random.default_rng(5)
    xyz = rng.uniform(0, 5, (1, 3000, 3)).astype(np.float32)
    b, o = np.tile(np.eye(3, dtype=np.float32) * 5, (1, 1, 1)), np.ones(1, bool)
    fids = np.zeros(1, dtype=np.int64)
    i, j = np.triu_indices(3000, 1)
    pairs = np.stack([i, j], axis=1).astype(np.int32)
    del i, j
    assert len(pairs) == 4_498_500
    small = pairs[: len(pairs) // 10]

    peak_all, most_all = _peak(_index_tiles, distance._dists, fids, xyz, b, o, pairs, cap)
    peak_small, most_small = _peak(_index_tiles, distance._dists, fids, xyz, b, o, small, cap)
    assert most_all == most_small == cap
    assert peak_all <= 1.5 * peak_small, (peak_all, peak_small)
    one_batch, most = _peak(_index_tiles, distance._dists, fids, xyz, b, o, small, 2**62)
    assert most == len(small)
    assert one_batch > 2 * peak_all, (one_batch, peak_all)


# ------------------------------------------------------------- in Spark


@pytest.fixture(scope="module")
def tile_feeds(spark, tmp_path_factory):
    """The same trajectories as a loaded XTC file (the map decodes
    them: fused; one chunk of all frames) and as Parquet tables (the
    JVM feeds the map), one with an orthogonal box and one with a
    triclinic box."""
    from dask_traj_spark.sources.loaders import load, load_tables, save_tables
    from dask_traj_spark.sources.xtc import _write_xtc_file

    d = tmp_path_factory.mktemp("index_tiles")
    rng = np.random.default_rng(23)
    xyz = rng.uniform(0, 3, (N_FRAMES, N_ATOMS, 3)).astype(np.float32)
    feeds = {"xtc": {}, "parquet": {}}
    for kind, angles in BOXES.items():
        path = str(d / f"{kind}.xtc")
        box = box_vectors_from_lengths_angles(3.0, 3.0, 3.0, *angles)
        _write_xtc_file(path, xyz, np.arange(N_FRAMES, dtype=np.float64), np.tile(box, (N_FRAMES, 1, 1)))
        feeds["xtc"][kind] = load(spark, path)
        save_tables(feeds["xtc"][kind], str(d / kind))
        feeds["parquet"][kind] = load_tables(spark, str(d / kind))
    return feeds


def _queries(trajs: dict) -> dict:
    """Every index query as (frame_id, id, values array<float>), by
    tag: five operators, each periodic on both boxes and not
    periodic."""
    from pyspark.sql import functions as F

    from dask_traj_spark.operators.angle import compute_angles, compute_dihedrals
    from dask_traj_spark.operators.distance import compute_displacements, compute_distances

    ops = {
        "distances": (compute_distances, {}),
        "displacements": (compute_displacements, {}),
        "wide": (compute_distances, {"wide_output": True}),
        "angles": (compute_angles, {}),
        "dihedrals": (compute_dihedrals, {}),
    }
    out = {}
    for (name, (op, kw)), box in itertools.product(ops.items(), ("ortho", "triclinic", "none")):
        traj = trajs["ortho" if box == "none" else box]
        df = op(traj, KERNELS[name][1], periodic=box != "none", form="vectorized", **kw)
        assert (df._fused_scan is not None) == ("_frame_scan" in vars(traj.coords))
        if name == "wide":
            ident, vals = F.lit(-1), F.col("dists")
        else:
            _, id_col, *values = df.columns
            ident, vals = F.col(id_col), F.array(*values)
        out[f"{name} {box}"] = df.select("frame_id", ident.alias("id"), vals.alias("v"))
    return out


def _collect(spark, trajs: dict, cap: int | None) -> dict:
    """tag → (frame_id, id) keys and uint32 value bits, in the order
    the queries returned them, with the Arrow batch size at ``cap``
    (the session's own when None) while they plan and run."""
    from functools import reduce

    from pyspark.sql import DataFrame, functions as F

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if cap is not None:
        spark.conf.set(key, str(cap))
    try:
        queries = _queries(trajs)
        tagged = [df.select(F.lit(tag).alias("tag"), "*") for tag, df in queries.items()]
        rows = reduce(DataFrame.unionAll, tagged).collect()
    finally:
        spark.conf.set(key, old)
    out = {tag: ([], []) for tag in queries}
    for r in rows:
        keys, bits = out[r.tag]
        keys.append((r.frame_id, r.id))
        bits.append(np.array(r.v, dtype=np.float32).view(np.uint32))
    return {tag: (keys, np.concatenate(bits)) for tag, (keys, bits) in out.items()}


@pytest.mark.parametrize("feed", ["xtc", "parquet"], ids=["fused", "jvm_fed"])
def test_tiled_queries_keep_row_order_and_bits(spark, tile_feeds, feed):
    """Long and wide distances, displacements, angles and dihedrals,
    periodic orthogonal, periodic triclinic and not periodic: at a cap
    that cuts a frame's index rows and at one that puts several frames
    in a tile, the rows come back in the order and with the bits of
    the session's cap, frame after frame with every frame's ids
    contiguous across tile borders."""
    trajs = tile_feeds[feed]
    want = _collect(spark, trajs, None)
    for tag, (keys, _bits) in want.items():
        name = tag.split()[0]
        ids = [-1] if name == "wide" else range(len(KERNELS[name][1]))
        assert keys == list(itertools.product(range(N_FRAMES), ids)), tag
    for cap in CAPS.values():
        got = _collect(spark, trajs, cap)
        for tag, (keys, bits) in want.items():
            assert got[tag][0] == keys, (tag, cap)
            np.testing.assert_array_equal(got[tag][1], bits, err_msg=f"{tag} at cap {cap}")

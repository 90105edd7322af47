"""Frame-packed, atom-cut file scans.

A loaded trajectory's coords are one scan — a ``range`` of chunk ids
and one ``mapInArrow`` that decodes them — whose partitions hold
whole frames in (frame_id, atom_id) order, so it is
built ``packed=True`` and a vectorized geometry query on it is one
stage: its frame-block map decodes the chunks itself, in one Python
node over the ``range`` of chunk ids. ``select_ids`` — the atom and
frame selection of every operator and of ``select_frames`` —
re-opens a bare scan cut to the ids' atom span or frames, so XTC
decodes no atom past the span and the fixed-stride formats read only
its bytes. These tests pin that a
cut scan returns the rows of the full scan, reads only the cut, and
that the packed plan holds no shuffle.
"""

from __future__ import annotations

import ast
import itertools
import os
import struct
import subprocess
import sys
import textwrap

import numpy as np
import pytest

from dask_traj_spark.operators.distance import compute_distances
from dask_traj_spark.sources._arrow import ALL_ATOMS, select_ids
from dask_traj_spark.sources.loaders import load
from dask_traj_spark.trajectory import Trajectory
from tests.test_frame_index import (  # noqa: F401
    INDEXED_FORMATS,
    N_ATOMS,
    N_FRAMES,
    load_written,
    written,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: prefix, mid-range, sparse In list, single atom
SELECTIONS = {
    "prefix": list(range(5)),
    "mid": list(range(3, 9)),
    "listed": [1, 5, 9],
    "single": [7],
}


def _walk(node, out):
    cls = node.getClass().getSimpleName()
    out.append(node)
    if cls == "AdaptiveSparkPlanExec":
        return _walk(node.executedPlan(), out)
    if cls.endswith("QueryStageExec"):
        return _walk(node.plan(), out)
    ch = node.children()
    for i in range(ch.size()):
        _walk(ch.apply(i), out)
    return out


def _under_codegen(node) -> str:
    """The class of ``node``, or of the operator a codegen wrapper
    around it holds."""
    while node.getClass().getSimpleName() in ("InputAdapter", "WholeStageCodegenExec"):
        node = node.child()
    return node.getClass().getSimpleName()


def _decode_nodes(plan) -> list:
    """The file-scan decode nodes of an executed plan: each a
    ``MapInArrowExec`` whose child is the ``range`` of its chunk ids."""
    return [
        n for n in _walk(plan, [])
        if n.getClass().getSimpleName() == "MapInArrowExec"
        and _under_codegen(n.child()) == "RangeExec"
    ]


def _scan_rows(df, n_scans: int = 1) -> int:
    """Rows the ``n_scans`` file scans of an executed DataFrame
    decoded."""
    scans = _decode_nodes(df._jdf.queryExecution().executedPlan())
    assert len(scans) == n_scans, [n.getClass().getSimpleName() for n in scans]
    return sum(int(n.metrics().get("pythonNumRowsReceived").get().value()) for n in scans)


def _rows(pdf) -> np.ndarray:
    cols = pdf[["frame_id", "atom_id", "x", "y", "z"]]
    return cols.sort_values(["frame_id", "atom_id"]).to_numpy()


@pytest.mark.parametrize("ext", INDEXED_FORMATS)
@pytest.mark.parametrize("sel", list(SELECTIONS))
def test_cut_scan_equals_full_scan(spark, written, ext, sel):  # noqa: F811
    ids = SELECTIONS[sel]
    traj = load_written(spark, written, ext)
    full = traj.coords.toPandas()
    want = _rows(full[full["atom_id"].isin(ids)])
    cut = select_ids(traj.coords, "atom_id", ids)
    pdf = cut.toPandas()
    got = _rows(pdf)
    assert got.shape == (N_FRAMES * len(ids), 5)
    # bit-equal: the cut scan decodes the same float32 values
    np.testing.assert_array_equal(got, want)
    cut.collect()
    assert _scan_rows(cut) == N_FRAMES * (max(ids) - min(ids) + 1)


@pytest.mark.parametrize("ext", INDEXED_FORMATS)
def test_decode_chunk_span_is_a_slice_of_the_full_decode(spark, written, ext):
    from dask_traj_spark.sources._arrow import _format_module

    scan = load_written(spark, written, ext, chunks=N_FRAMES).coords._frame_scan
    mod = _format_module(scan.fmt)
    (payload, *_) = scan.payloads
    full = dict(mod.decode_chunk(written[ext], payload, ALL_ATOMS))
    for lo, hi in ((0, 4), (3, 8), (7, 7), (N_ATOMS - 2, N_ATOMS + 5), (N_ATOMS, N_ATOMS + 3)):
        part = dict(mod.decode_chunk(written[ext], payload, (lo, hi)))
        assert part.keys() == full.keys()
        for fid, xyz in part.items():
            np.testing.assert_array_equal(xyz, full[fid][lo : hi + 1])


@pytest.fixture(scope="module")
def xtc_path(tmp_path_factory):
    from dask_traj_spark.sources.xtc import _write_xtc_file
    from tests.golden import box_vectors_from_lengths_angles

    rng = np.random.default_rng(17)
    xyz = rng.uniform(0, 3, (6, 24, 3)).astype(np.float32)
    box = np.tile(box_vectors_from_lengths_angles(3.0, 3.0, 3.0, 90.0, 90.0, 90.0), (6, 1, 1))
    path = str(tmp_path_factory.mktemp("scan_cut") / "t.xtc")
    _write_xtc_file(path, xyz, np.arange(6, dtype=np.float64), box)
    return path


@pytest.mark.parametrize("ext", [".xtc", ".dcd"])
def test_select_frames_prunes_the_scan(spark, written, ext):  # noqa: F811
    """A spec-list payload (XTC) keeps exactly the listed frames; a
    frame-range payload (DCD) keeps the span of them."""
    traj = load(spark, written[ext], chunks=4)
    picked = traj.select_frames([3, 1])
    full = traj.coords.toPandas()
    want = full[full["frame_id"].isin([3, 1])].copy()
    want["frame_id"] = want["frame_id"].map({3: 0, 1: 1})
    np.testing.assert_array_equal(_rows(picked.coords.toPandas()), _rows(want))
    picked.coords.collect()
    read_frames = 2 if ext == ".xtc" else 3
    assert _scan_rows(picked.coords) == read_frames * N_ATOMS


def test_slice_frames_reads_only_the_slice(spark, xtc_path):
    traj = load(spark, xtc_path, chunks=2)
    sliced = traj.slice_frames(2, 5)
    sliced.coords.collect()
    assert _scan_rows(sliced.coords) == 3 * 24
    assert sorted(r.frame_id for r in sliced.coords.select("frame_id").distinct().collect()) == [0, 1, 2]


@pytest.mark.parametrize("ext", [".xtc", ".dcd"])
def test_atom_slice_cuts_the_scan(spark, written, ext):  # noqa: F811
    traj = load(spark, written[ext])
    full = traj.coords.toPandas()
    want = full[full["atom_id"].between(3, 8)].copy()
    want["atom_id"] -= 3
    sliced = traj.atom_slice(range(3, 9))
    # bit-equal: the cut scan decodes the same float32 values
    np.testing.assert_array_equal(_rows(sliced.coords.toPandas()), _rows(want))
    sliced.coords.collect()
    assert _scan_rows(sliced.coords) == N_FRAMES * 6


@pytest.mark.parametrize("ext", [".xtc", ".dcd"])
def test_selecting_no_frame_decodes_nothing(spark, written, ext):  # noqa: F811
    picked = load(spark, written[ext]).select_frames([N_FRAMES + 3])
    assert picked.coords.count() == 0
    assert _decode_nodes(picked.coords._jdf.queryExecution().executedPlan()) == []


def test_empty_file_scans_empty(spark, tmp_path):
    path = tmp_path / "empty.xtc"
    path.write_bytes(b"")
    df = load(spark, str(path), chunks=10).coords
    assert df._frame_scan.payloads == []
    assert df.count() == 0
    assert df.columns == ["frame_id", "atom_id", "x", "y", "z"]
    assert _decode_nodes(df._jdf.queryExecution().executedPlan()) == []


def test_one_partition_per_kept_chunk(spark, xtc_path):
    from pyspark.sql import functions as F

    def partitions(df):
        rows = df.select(F.spark_partition_id().alias("p"), "frame_id").collect()
        assert df.rdd.getNumPartitions() == len({r.p for r in rows})
        out = {}
        for r in rows:
            out.setdefault(r.p, []).append(r.frame_id)
        for fids in out.values():
            assert fids == sorted(fids)
        return [sorted(set(f)) for _p, f in sorted(out.items())]

    traj = load(spark, xtc_path, chunks=4)
    assert partitions(traj.coords) == [[0, 1, 2, 3], [4, 5]]
    cut = select_ids(traj.coords, "frame_id", [1, 5])
    assert partitions(cut) == [[1], [5]]
    assert partitions(select_ids(traj.coords, "frame_id", [4, 5])) == [[4, 5]]


def test_only_a_bare_uncached_scan_is_cut(spark, xtc_path):
    from dask_traj_spark.sources._arrow import _bare_scan

    coords = load(spark, xtc_path).coords
    assert _bare_scan(coords) is not None
    for derived in (coords.where("atom_id >= 0"), coords.select("*"), coords.join(coords, "frame_id")):
        assert _bare_scan(derived) is None
    coords.cache()
    try:
        assert _bare_scan(coords) is None
    finally:
        coords.unpersist()


def _python_nodes(plan) -> list:
    """The nodes of an executed plan that run Python."""
    return [
        n for n in _walk(plan, [])
        if any(k in n.getClass().getSimpleName() for k in ("Python", "InPandas", "InArrow"))
    ]


def _assert_one_fused_stage(df):
    """``df`` ran exactly one Python node, the map over the ``range``
    of chunk ids that decodes them, and no filter, exchange or sort."""
    plan = df._jdf.queryExecution().executedPlan()
    (node,) = _python_nodes(plan)
    assert _decode_nodes(plan) == [node], plan.toString()
    names = [n.getClass().getSimpleName() for n in _walk(plan, [])]
    assert not [c for c in names if "Filter" in c or "Exchange" in c or "Sort" in c], names


def test_loaded_xtc_query_is_one_stage_and_one_job(spark, xtc_path):
    sc = spark.sparkContext
    traj = load(spark, xtc_path, chunks=2)
    assert traj.packed
    pairs = list(itertools.combinations(range(4, 14), 2))
    d = compute_distances(traj, pairs, periodic=True, form="vectorized")
    sc.setJobGroup("packed_scan", "packed scan")
    try:
        d.write.format("noop").mode("overwrite").save()
        assert len(sc.statusTracker().getJobIdsForGroup("packed_scan")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = d.collect()
    _assert_one_fused_stage(d)
    # the map's tasks decode only atoms 4..13, of every chunk
    assert d._fused_scan.atoms == (4, 13)
    assert d._fused_scan.payloads == traj.coords._frame_scan.payloads
    unpacked = Trajectory(traj.coords, traj._frames, traj.unitcell, packed=False, index=traj.index)
    ref = compute_distances(unpacked, pairs, periodic=True, form="vectorized").collect()
    assert "Exchange" in compute_distances(
        unpacked, pairs, periodic=True, form="vectorized"
    )._jdf.queryExecution().executedPlan().toString()
    key = lambda r: (r.frame_id, r.pair_id)  # noqa: E731
    got, ref = sorted(got, key=key), sorted(ref, key=key)
    assert [key(r) for r in got] == [key(r) for r in ref]
    a = np.array([r.dist for r in got], dtype=np.float32)
    b = np.array([r.dist for r in ref], dtype=np.float32)
    np.testing.assert_array_equal(a.view(np.uint32), b.view(np.uint32))


def test_loaded_mdcrd_query_is_one_decode_and_no_exchange(spark, written):  # noqa: F811
    traj = load_written(spark, written, ".mdcrd", chunks=2)
    pairs = list(itertools.combinations(range(2, 9), 2))
    d = compute_distances(traj, pairs, periodic=True, form="vectorized")
    assert d.count() == N_FRAMES * len(pairs)
    _assert_one_fused_stage(d)
    assert d._fused_scan.atoms == (2, 8)
    assert len(d._fused_scan.payloads) == 2


def _jvm_fed(traj) -> Trajectory:
    """``traj`` over a derived DataFrame of its scan: still packed,
    but no longer a bare scan, so the JVM feeds its frame-block map."""
    return Trajectory(
        traj.coords.select("*"), traj._frames, traj.unitcell, packed=True, index=traj.index
    )


@pytest.mark.parametrize("ext", INDEXED_FORMATS)
def test_fused_map_equals_jvm_fed_map(spark, written, ext):  # noqa: F811
    """Decoding in the map task gives the bits of the JVM-fed map, for
    every selection shape, distances and angles, with and without the
    periodic box (each side one job over the union of its queries)."""
    from functools import reduce

    from pyspark.sql import DataFrame, functions as F

    from dask_traj_spark.operators.angle import compute_angles

    traj = load_written(spark, written, ext, chunks=3)
    sides = {True: (traj, []), False: (_jvm_fed(traj), [])}
    n_rows = 0
    for sel, ids in SELECTIONS.items():
        pairs = list(itertools.combinations(ids, 2)) or [(ids[0], ids[0])]
        triplets = [tuple(ids[(k + j) % len(ids)] for j in range(3)) for k in range(len(ids))]
        for periodic in (True, False):
            for op, idx, key, value in (
                (compute_distances, pairs, "pair_id", "dist"),
                (compute_angles, triplets, "triplet_id", "angle_rad"),
            ):
                n_rows += N_FRAMES * len(idx)
                for fused, (t, dfs) in sides.items():
                    df = op(t, idx, periodic=periodic, form="vectorized")
                    assert (df._fused_scan is not None) == fused
                    tag = F.lit(f"{sel} {periodic} {value}").alias("tag")
                    dfs.append(df.select(tag, "frame_id", F.col(key).alias("id"), F.col(value).alias("v")))

    def bits(dfs):
        rows = sorted(reduce(DataFrame.unionAll, dfs).collect())
        assert len(rows) == n_rows
        vals = np.array([r.v for r in rows], dtype=np.float32).view(np.uint32)
        return [r[:3] for r in rows], vals

    (keys, got), (want_keys, want) = (bits(dfs) for _t, dfs in sides.values())
    assert keys == want_keys
    np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("fused", [True, False], ids=["fused", "jvm_fed"])
def test_missing_atoms_raise_in_the_map(spark, xtc_path, fused):
    """An index past the frames' atoms, admitted by a larger
    ``n_atoms``, leaves the map a block short of atoms: the same
    error on either feed."""
    from pyspark.errors import PythonException

    traj = load(spark, xtc_path)
    traj = traj if fused else _jvm_fed(traj)
    d = compute_distances(traj, [(0, 50), (1, 2)], periodic=False, form="vectorized", n_atoms=60)
    assert (d._fused_scan is not None) == fused
    with pytest.raises(PythonException, match="atoms are missing"):
        d.collect()


def test_cached_scan_feeds_the_map_through_the_jvm(spark, xtc_path):
    traj = load(spark, xtc_path, chunks=2)
    pairs = list(itertools.combinations(range(3, 9), 2))
    want = sorted(compute_distances(traj, pairs, periodic=True, form="vectorized").collect())
    traj.coords.cache()
    try:
        d = compute_distances(traj, pairs, periodic=True, form="vectorized")
        assert d._fused_scan is None
        assert sorted(d.collect()) == want
        plan = d._jdf.queryExecution().executedPlan()
        names = [n.getClass().getSimpleName() for n in _walk(plan, [])]
        assert "InMemoryTableScanExec" in names, names
        (node,) = [n for n in _python_nodes(plan) if n not in _decode_nodes(plan)]
        assert node.getClass().getSimpleName() == "MapInArrowExec"
        assert "MapInPandasExec" not in names
    finally:
        traj.coords.unpersist()


@pytest.mark.parametrize("cap", [50, 10])
@pytest.mark.parametrize("fused", [True, False], ids=["fused", "jvm_fed"])
def test_frame_blocks_keep_to_the_arrow_batch_cap(spark, xtc_path, cap, fused):
    """A block holds whole frames and at most the session's Arrow
    batch size of rows, or one frame when a frame holds more."""
    from dask_traj_spark.operators.distance import map_frame_blocks

    def sizes(fids, xyz, _box, _ortho, _c):
        return {"frame_id": fids[:1], "rows": np.array([xyz.shape[0] * xyz.shape[1]])}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(cap))
    try:
        traj = load(spark, xtc_path, chunks=6)
        traj = traj if fused else _jvm_fed(traj)
        out = map_frame_blocks(traj, sizes, "frame_id long, rows long")
        assert (out._fused_scan is not None) == fused
        rows = [r.rows for r in out.collect()]
    finally:
        spark.conf.set(key, old)
    assert sum(rows) == 6 * 24
    assert all(r % 24 == 0 for r in rows), rows
    assert max(rows) == (48 if cap == 50 else 24), rows


def _coords_batch(fids: np.ndarray):
    import pyarrow as pa

    from dask_traj_spark.sources._arrow import arrow_column

    xyz = np.arange(3 * len(fids), dtype=np.float32).reshape(3, -1)
    return pa.record_batch(
        [arrow_column(fids), *(arrow_column(c) for c in xyz)], names=["frame_id", "x", "y", "z"]
    )


@pytest.mark.parametrize(
    "cuts", [[144], [100, 44], [30] * 4 + [24]], ids=["one_batch", "frame_crosses", "small_batches"]
)
def test_frame_blocks_fill_the_cap(cuts):
    """6 frames × 24 atoms at cap 50 make three 48-row blocks, however
    the batches cut them: no frame is held back as a block of its own
    when it fits beside the frame before it."""
    from dask_traj_spark.operators.distance import _frame_blocks

    batch = _coords_batch(np.repeat(np.arange(6, dtype=np.int64), 24))
    offsets = np.cumsum([0, *cuts])
    batches = [batch.slice(o, n) for o, n in zip(offsets, cuts)]
    blocks = list(_frame_blocks(batches, 50))
    assert [len(b["frame_id"]) for b in blocks] == [48, 48, 48]
    for name in ("frame_id", "x", "y", "z"):
        got = np.concatenate([b[name] for b in blocks])
        np.testing.assert_array_equal(got, batch.column(name).to_numpy())


def test_arrow_columns_read_and_build_without_pandas_conversion():
    """The buffer reads equal pyarrow's own conversions, through slice
    offsets and nulls, and the casts equal its unsafe cast."""
    import pyarrow as pa

    from dask_traj_spark.sources._arrow import arrow_column, numpy_column

    for col in (
        pa.array([1, None, 3, 4], pa.int64()).slice(1),
        pa.array([1.5, None, 3.0], pa.float32()),
        pa.array(np.arange(10, dtype=np.int32)).slice(3, 4),
        pa.array([None, None], pa.uint16()).slice(1),
        pa.array([], pa.float64()),
        pa.array(["a", "b"]),
    ):
        got, want = numpy_column(col), col.to_numpy(zero_copy_only=False)
        assert got.dtype == want.dtype, col.type
        np.testing.assert_array_equal(got, want)
    rng = np.random.default_rng(2)
    values = np.r_[rng.normal(0.0, 1e3, 64), np.nan, np.inf, 1e300, 5e-324]
    for v, t in (
        (values, pa.float32()),
        (values[:64], pa.float64()),
        (np.array([2**40 + 5, -(2**31) - 1, 7]), pa.int32()),
        (np.array([1.7, -1.7, 2.5]), pa.int64()),
        (values[::2], None),
    ):
        with np.errstate(over="ignore"):
            got, want = arrow_column(v, t), pa.array(v, type=t, safe=False)
        # bytes, not equals(): NaN is not equal to itself
        assert got.type == want.type and got.null_count == want.null_count == 0
        assert numpy_column(got).tobytes() == numpy_column(want).tobytes(), t


def test_fused_task_leaves_pandas_unimported(spark, xtc_path):
    """A fused loaded-XTC frame-block task (decode, atom cut, blocks,
    kernel, record batch) never imports pandas, which would add ~60 MB
    to the Python worker. An extra worker environment variable gives
    the query its own worker pool, so no worker that earlier tests
    used (and may have given pandas) runs it."""
    from dask_traj_spark.operators.distance import map_frame_blocks

    def probe(fids, _xyz, _box, _ortho, _c):
        import sys

        return {"frame_id": fids[:1], "pandas": np.array(["pandas" in sys.modules], dtype=np.int64)}

    sc = spark.sparkContext
    sc.environment["DASK_TRAJ_SPARK_FRESH_WORKER"] = "1"
    try:
        traj = load(spark, xtc_path, chunks=2)
        out = map_frame_blocks(traj, probe, "frame_id long, pandas long", atoms=np.arange(3, 9), periodic=True)
        assert out._fused_scan is not None
        flags = [r.pandas for r in out.collect()]
    finally:
        del sc.environment["DASK_TRAJ_SPARK_FRESH_WORKER"]
    assert flags == [0, 0, 0]


@pytest.fixture(scope="module")
def overlapping_files(spark, tmp_path_factory):
    """XTC and DCD file pairs whose second file starts with the first
    file's last frame (frames 0..3 and 3..5 of one trajectory)."""
    from dask_traj_spark.sources.dcd import write_dcd
    from dask_traj_spark.sources.loaders import from_wide_pandas
    from dask_traj_spark.sources.xtc import write_xtc

    rng = np.random.default_rng(29)
    xyz = rng.uniform(0, 3, (6, 10, 3)).astype(np.float32)
    d = tmp_path_factory.mktemp("join_overlap")
    paths = {}
    for ext, write in ((".xtc", write_xtc), (".dcd", write_dcd)):
        paths[ext] = []
        for name, frames in (("a", xyz[:4]), ("b", xyz[3:])):
            paths[ext].append(str(d / f"{name}{ext}"))
            write(from_wide_pandas(spark, frames), paths[ext][-1])
    return paths


@pytest.mark.parametrize("ext", [".xtc", ".dcd"])
def test_join_overlap_check_decodes_only_the_boundary_frames(spark, overlapping_files, ext):
    a, b = (load(spark, p, chunks=2) for p in overlapping_files[ext])
    mismatch = a._boundary_mismatch(b, a.n_frames - 1, 2e-3)
    assert mismatch.collect() == []
    assert _scan_rows(mismatch, n_scans=2) == 2 * 10


@pytest.mark.parametrize("ext", [".xtc", ".dcd"])
def test_join_discarding_the_overlap_on_loaded_files(spark, overlapping_files, ext):
    a, b = (load(spark, p, chunks=2) for p in overlapping_files[ext])
    xa, xb = a.to_numpy()[0], b.to_numpy()[0]
    joined = a.join(b, discard_overlapping_frames=True)
    assert joined.n_frames == 6
    np.testing.assert_array_equal(joined.to_numpy()[0], np.concatenate([xa, xb[1:]]))
    # no overlap (b's frames shifted): every frame is kept
    shifted = b.select_frames([1, 2])
    kept = a.join(shifted, discard_overlapping_frames=True)
    np.testing.assert_array_equal(kept.to_numpy()[0], np.concatenate([xa, xb[1:]]))


def test_sql_form_self_join_on_a_loaded_file(spark, xtc_path):
    """Each role of the SQL form's self-join cuts its own scan; the
    result matches the vectorized form's."""
    traj = load(spark, xtc_path, chunks=2)
    pairs = [(0, 20), (3, 4), (11, 2)]
    key = lambda r: (r.frame_id, r.pair_id)  # noqa: E731
    sql = sorted(compute_distances(traj, pairs, periodic=False, form="sql").collect(), key=key)
    vec = sorted(compute_distances(traj, pairs, periodic=False, form="vectorized").collect(), key=key)
    assert len(sql) == 6 * len(pairs)
    np.testing.assert_allclose([r.dist for r in sql], [r.dist for r in vec], rtol=1e-6)
    assert traj.coords.count() == 6 * 24


def test_descending_frame_ids_in_a_packed_partition_raise(spark):
    from pyspark.errors import PythonException

    rows = [(f, a, float(a), 0.0, 0.0) for f in (1, 0) for a in range(3)]
    coords = spark.createDataFrame(
        rows, "frame_id long, atom_id int, x float, y float, z float"
    ).coalesce(1)
    traj = Trajectory(coords, packed=True)
    with pytest.raises(PythonException, match="not ascending"):
        compute_distances(traj, [(0, 1)], periodic=False, form="vectorized", n_atoms=3).collect()


# ---- what a cut XTC scan validates -------------------------------------

#: magic, natoms, step, time, box, natoms, precision, minint, maxint, smallidx
_XTC_HEAD = 4 * 4 + 36 + 4 + 4 + 12 + 12 + 4


@pytest.fixture(scope="module")
def short_stream_xtc(tmp_path_factory):
    """One 60-atom frame whose bit stream is cut to half its bytes,
    the frame's byte count rewritten to match: atoms of the first
    half decode, the stream runs out in the second."""
    from dask_traj_spark.sources.xtc import _write_xtc_file

    rng = np.random.default_rng(23)
    d = tmp_path_factory.mktemp("xtc_short")
    good = str(d / "good.xtc")
    _write_xtc_file(good, rng.uniform(0, 3, (1, 60, 3)).astype(np.float32), None, None)
    with open(good, "rb") as fh:
        raw = fh.read()
    (nbytes,) = struct.unpack(">i", raw[_XTC_HEAD : _XTC_HEAD + 4])
    keep = nbytes // 2
    data = raw[_XTC_HEAD + 4 : _XTC_HEAD + 4 + keep]
    path = str(d / "short.xtc")
    with open(path, "wb") as fh:
        fh.write(raw[:_XTC_HEAD] + struct.pack(">i", keep) + data + b"\0" * (-keep % 4))
    return good, path


def test_cut_xtc_scan_validates_the_prefix_it_decodes(spark, short_stream_xtc):
    from dask_traj_spark.sources import xtc as X

    good, short = short_stream_xtc
    (payload,) = load(spark, short, chunks=10).coords._frame_scan.payloads
    (good_payload,) = load(spark, good, chunks=10).coords._frame_scan.payloads
    (_fid, ok), = X.decode_chunk(short, payload, (0, 4))
    (_fid, want), = X.decode_chunk(good, good_payload, (0, 4))
    np.testing.assert_array_equal(ok, want)
    # corrupt before hi: the cut scan still decodes into the fault
    with pytest.raises(ValueError, match="corrupt XTC"):
        list(X.decode_chunk(short, payload, (40, 50)))
    # an uncut scan reaches the fault past any span
    with pytest.raises(ValueError, match="corrupt XTC"):
        list(X.decode_chunk(short, payload, ALL_ATOMS))


def test_cut_xtc_scan_errors_reach_the_query(spark, short_stream_xtc):
    from pyspark.errors import PythonException

    _good, short = short_stream_xtc
    traj = load(spark, short)
    assert compute_distances(traj, [(0, 4), (1, 2)], periodic=False, form="vectorized").count() == 2
    with pytest.raises(PythonException, match="corrupt XTC"):
        compute_distances(traj, [(0, 55), (1, 2)], periodic=False, form="vectorized").collect()
    with pytest.raises(PythonException, match="corrupt XTC"):
        traj.coords.count()


def test_bare_session_loads_and_queries_a_file(spark, xtc_path):
    """A session built without ``get_spark`` runs a cut scan: the
    scan needs no session setting of its own."""
    pairs = list(itertools.combinations(range(6), 2))
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import SparkSession
        from dask_traj_spark.operators.distance import compute_distances
        from dask_traj_spark.sources.xtc import load_xtc

        spark = SparkSession.builder.master("local[1]").getOrCreate()
        d = compute_distances(load_xtc(spark, {xtc_path!r}), {pairs!r}, form="vectorized")
        rows = sorted((r.frame_id, r.pair_id, r.dist) for r in d.collect())
        spark.stop()
        print("ROWS", rows)
        """
    )
    env = dict(os.environ, PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable)
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300, env=env
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("ROWS")][-1]
    got = ast.literal_eval(line[len("ROWS "):])
    d = compute_distances(load(spark, xtc_path), pairs, form="vectorized")
    want = sorted((r.frame_id, r.pair_id, r.dist) for r in d.collect())
    assert got == want

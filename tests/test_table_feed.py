"""The fused table feed: a proven table load's map task reads its rows.

When a ``load_tables`` (or ``load_frame_range``) trajectory's coords
footers prove the frame order (one data file, row-group frame ranges
ascending without overlap), a vectorized query's ``mapInArrow`` runs
over a ``range`` of row-group runs and each task streams its run with
pyarrow (``loaders.RowGroupPlan``), cut by the same atom predicate the
JVM feed applies, in (frame_id, atom_id) order. These tests pin that
its rows are bit-equal to the JVM feed's on every layout of
``tests/test_table_footers.py`` plus one whose rows are shuffled within
each row group, its plan and job count, its split into tasks, the
cases that keep the JVM feed, and the error a task raises when the
file changed after its footers were read.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dask_traj_spark.operators.angle import compute_angles
from dask_traj_spark.operators.distance import compute_displacements, compute_distances, rdf_histogram
from dask_traj_spark.sources._arrow import _COORDS_SCHEMA
from dask_traj_spark.sources.loaders import _SPARK_SCHEMA_KEY, load_frame_range, load_tables
from tests.test_table_footers import (  # noqa: F401  (``layouts`` is a fixture)
    N_ATOMS,
    N_FRAMES,
    PAIRS,
    PROVEN,
    _coords,
    _dimension_tables,
    _has_exchange,
    _parent,
    layouts,
)
from tests.test_table_load import _JobGroup

#: triplets that read neither the gapped atom nor the dropped row's atom
TRIPLETS = [(0, 1, 2), (7, 6, 4), (2, 0, 1)]
#: enough pairs for ``rdf_histogram``'s automatic form to pick the
#: vectorized one
RDF_PAIRS = PAIRS * 128


def _write_one_file(d: str, order) -> None:
    """A one-file layout: the coords rows in ``order``, in row groups
    of two frames, with the Spark schema in the footer, as Spark's
    writer stores it (so its load starts no schema-inference job)."""
    os.makedirs(os.path.join(d, "coords.parquet"))
    t = _coords(0, N_FRAMES, range(N_ATOMS), None).take(order)
    t = t.replace_schema_metadata({_SPARK_SCHEMA_KEY: _COORDS_SCHEMA.json()})
    pq.write_table(t, os.path.join(d, "coords.parquet", "part-00000.parquet"), row_group_size=2 * N_ATOMS)


@pytest.fixture(scope="module")
def feed_layouts(spark, layouts, tmp_path_factory):  # noqa: F811
    """The footer layouts plus ``shuffled``: one file of row groups of
    two frames, whose rows are shuffled within each row group."""
    d = str(tmp_path_factory.mktemp("table_feed") / "shuffled")
    group, rng = 2 * N_ATOMS, np.random.default_rng(31)
    _write_one_file(d, np.concatenate([lo + rng.permutation(group) for lo in range(0, N_FRAMES * N_ATOMS, group)]))
    _dimension_tables(spark, d)
    return {**layouts, "shuffled": d}


FEED_PROVEN = PROVEN | {"shuffled": (True, True)}


def _queries(traj) -> dict:
    """Long and wide distances, displacements, angles and the RDF
    histogram, periodic and not, as (DataFrame, id column, values
    array<float>) by tag."""
    out = {}
    for periodic in (True, False):
        ops = {
            "distances": compute_distances(traj, PAIRS, periodic=periodic, form="vectorized"),
            "wide": compute_distances(traj, PAIRS, periodic=periodic, wide_output=True),
            "displacements": compute_displacements(traj, PAIRS, periodic=periodic, form="vectorized"),
            "angles": compute_angles(traj, TRIPLETS, periodic=periodic, form="vectorized"),
        }
        for name, df in ops.items():
            if name == "wide":
                ident, vals = F.lit(-1), F.col("dists")
            else:
                _, id_col, *values = df.columns
                ident, vals = F.col(id_col), F.array(*values)
            out[f"{name} {periodic}"] = (df, ident, vals)
        rdf = rdf_histogram(traj, RDF_PAIRS, periodic=periodic)
        out[f"rdf {periodic}"] = (rdf, F.col("n_pairs"), F.array(F.col("r_lo").cast("float")))
    return out


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _dists(df) -> list:
    """A distance query's rows, as :func:`_rows` gives them."""
    return _rows({"d": (df, F.col("pair_id"), F.array("dist"))})


def _rows(queries: dict) -> list:
    """Every query's rows as (tag, frame_id or bin, id, value bits),
    sorted, from one collect."""
    from functools import reduce

    parts = [
        df.select(F.lit(tag).alias("tag"), F.col(df.columns[0]).alias("k"), ident.cast("long").alias("id"), vals.alias("v"))
        for tag, (df, ident, vals) in queries.items()
    ]
    rows = reduce(lambda a, b: a.unionByName(b), parts).collect()
    return sorted((r.tag, r.k, r.id, np.asarray(r.v, np.float32).view(np.uint32).tolist()) for r in rows)


@pytest.mark.parametrize("layout", FEED_PROVEN)
def test_fused_rows_equal_the_jvm_feed(spark, feed_layouts, layout):
    ordered = FEED_PROVEN[layout][1]
    traj = load_tables(spark, feed_layouts[layout])
    queries = _queries(traj)
    for tag, (df, _, _) in queries.items():
        if not tag.startswith("rdf"):
            assert (df._fused_row_groups is not None) == ordered, tag
        assert ("FileScan" in _plan(df)) != ordered, tag
    got = _rows(queries)
    assert {r[0] for r in got} == set(queries)
    assert got == _rows(_queries(_parent(traj)))


def test_proven_query_is_a_map_over_a_range(spark, feed_layouts):
    traj = load_tables(spark, feed_layouts["shuffled"])
    with _JobGroup(spark, "table_feed_call") as g:
        got = compute_distances(traj, PAIRS, periodic=True, form="vectorized")
    assert g.jobs == []
    plan = _plan(got)
    assert "MapInArrow" in plan and "Range" in plan, plan
    for node in ("FileScan", "Sort", "Exchange"):
        assert node not in plan, plan
    with _JobGroup(spark, "table_feed_action") as g:
        rows = got.collect()
    assert len(g.jobs) == 1
    assert [r.frame_id for r in rows] == sorted(r.frame_id for r in rows)
    # the public DataFrames keep the JVM scan
    assert "FileScan" in _plan(traj.frame_packed()) and "FileScan" in _plan(traj.coords)


def test_many_row_groups_split_into_several_ascending_tasks(spark, feed_layouts):
    traj = load_tables(spark, feed_layouts["shuffled"])
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], "64")
    spark.conf.set(keys[1], "0")
    try:
        got = compute_distances(traj, PAIRS, periodic=True, form="vectorized")
        parts = got.select(F.spark_partition_id().alias("p"), "frame_id").collect()
        jvm = traj.frame_packed().select(F.spark_partition_id().alias("p")).distinct().count()
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)
    assert got._fused_row_groups is not None
    assert got.rdd.getNumPartitions() == jvm == N_FRAMES // 2
    frames = {}
    for r in parts:
        frames.setdefault(r.p, set()).add(r.frame_id)
    assert len(frames) > 1 and sum(len(f) for f in frames.values()) == N_FRAMES
    assert [r.frame_id for r in parts] == sorted(r.frame_id for r in parts)
    assert _dists(got) == _dists(compute_distances(_parent(traj), PAIRS, periodic=True, form="vectorized"))


def test_cached_and_corrupt_file_sessions_keep_the_jvm_feed(spark, feed_layouts):
    d = feed_layouts["shuffled"]
    want = _dists(compute_distances(_parent(load_tables(spark, d)), PAIRS, form="vectorized"))

    cached = load_tables(spark, d)
    cached.frame_packed().cache()
    coords_cached = load_tables(spark, d).cache()
    try:
        for traj in (cached, coords_cached):
            got = compute_distances(traj, PAIRS, form="vectorized")
            assert got._fused_row_groups is None
            assert _dists(got) == want
    finally:
        cached.frame_packed().unpersist()
        coords_cached.coords.unpersist()
    for key in ("spark.sql.files.ignoreCorruptFiles", "spark.sql.files.ignoreMissingFiles"):
        spark.conf.set(key, "true")
        try:
            got = compute_distances(load_tables(spark, d), PAIRS, form="vectorized")
            assert got._fused_row_groups is None
            assert "FileScan" in _plan(got)
        finally:
            spark.conf.unset(key)


def test_a_file_changed_after_its_footers_were_read_fails_loudly(spark, feed_layouts, tmp_path):
    d = str(tmp_path / "changed")
    shutil.copytree(feed_layouts["one_file"], d)
    part = os.path.join(d, "coords.parquet", "part-00000.parquet")
    traj = load_tables(spark, d)
    got = compute_distances(traj, PAIRS, form="vectorized")
    assert got._fused_row_groups is not None
    # the same rows, cut into other row groups
    pq.write_table(pq.read_table(part), part, row_group_size=N_ATOMS)
    with pytest.raises(Exception, match="part-00000.parquet changed after its footers were read"):
        got.collect()
    # a new load reads the new footers
    again = compute_distances(load_tables(spark, d), PAIRS, form="vectorized")
    assert again._fused_row_groups is not None
    assert _dists(again) == _dists(compute_distances(_parent(traj), PAIRS, form="vectorized"))


@pytest.mark.parametrize("lo, hi, proven", [(2, 6, True), (1, 4, False)])
def test_frame_range_reads_its_row_groups(spark, feed_layouts, lo, hi, proven):
    """A range on row-group boundaries proves the atom count (no job
    before the action); one that cuts a row group counts it. Either
    way the query is one job, with no scan, sort or shuffle, and the
    rows of the JVM feed."""
    with _JobGroup(spark, f"frame_range_{lo}_{hi}") as g:
        traj = load_frame_range(spark, feed_layouts["shuffled"], lo, hi)
        got = compute_distances(traj, PAIRS, periodic=True, form="vectorized")
    assert bool(g.jobs) != proven
    plan = _plan(got)
    for node in ("FileScan", "Sort", "Exchange"):
        assert node not in plan, plan
    assert not _has_exchange(traj.frame_packed())
    with _JobGroup(spark, f"frame_range_action_{lo}_{hi}") as g:
        rows = _dists(got)
    assert len(g.jobs) == 1
    assert {r[1] for r in rows} == set(range(lo, hi))
    assert rows == _dists(compute_distances(_parent(traj), PAIRS, periodic=True, form="vectorized"))


def test_bucketed_frame_range_keeps_its_plan(spark, feed_layouts):
    traj = load_frame_range(spark, feed_layouts["bucketed"], 1, 4)
    got = compute_distances(traj, PAIRS, periodic=True, form="vectorized")
    assert got._fused_row_groups is None
    assert _has_exchange(traj.frame_packed())


def test_key_order_is_checked_across_batch_edges(spark, tmp_path):
    """Rows whose keys ascend within every batch the reader streams,
    with two rows swapped across a batch edge: the key carried from
    the batch before catches it, and the row group is sorted."""
    d = str(tmp_path / "edge")
    order = np.arange(N_FRAMES * N_ATOMS)
    order[[4, 5]] = order[[5, 4]]
    _write_one_file(d, order)
    _dimension_tables(spark, d)
    traj = load_tables(spark, d)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        got = compute_distances(traj, PAIRS, periodic=True, form="vectorized")
        assert got._fused_row_groups is not None
        rows = _dists(got)
        want = _dists(compute_distances(_parent(traj), PAIRS, periodic=True, form="vectorized"))
    finally:
        spark.conf.set(key, old)
    assert rows == want

"""Streaming tests: file-source micro-batches → memory sink with
availableNow triggers, asserting parity with batch results."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def coords_stream_dir(spark, tmp_path_factory):
    """Three parquet files of whole frames (micro-batch units)."""
    base = str(tmp_path_factory.mktemp("coords_stream"))
    rng = np.random.default_rng(11)
    n_atoms = 50
    for chunk, frames in enumerate([(0, 4), (4, 8), (8, 10)]):
        rows = []
        for f in range(*frames):
            xyz = rng.uniform(0, 2, (n_atoms, 3))
            rows += [
                (f, a, float(xyz[a, 0]), float(xyz[a, 1]), float(xyz[a, 2]))
                for a in range(n_atoms)
            ]
        df = spark.createDataFrame(
            rows, "frame_id long, atom_id int, x float, y float, z float"
        )
        df.coalesce(1).write.parquet(os.path.join(base, f"chunk{chunk}"))
    # flatten: move part files up so the dir is one flat file source
    import glob
    import shutil

    for i, p in enumerate(glob.glob(os.path.join(base, "chunk*", "*.parquet"))):
        shutil.move(p, os.path.join(base, f"part{i}.parquet"))
    for d in glob.glob(os.path.join(base, "chunk*")):
        shutil.rmtree(d)
    return base


def _run_to_memory(stream_df, name, mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_streaming_cog_matches_batch(spark, coords_stream_dir):
    from dask_traj_spark.streaming.ingest import (
        stream_coords,
        streaming_center_of_geometry,
    )

    s = streaming_center_of_geometry(stream_coords(spark, coords_stream_dir))
    _run_to_memory(s, "cog_stream", "complete")
    got = spark.sql("SELECT * FROM cog_stream").toPandas().set_index("frame_id").sort_index()

    batch = spark.read.parquet(coords_stream_dir)
    want = (
        batch.groupBy("frame_id")
        .agg(
            F.avg(F.col("x").cast("double")).alias("x"),
            F.avg(F.col("y").cast("double")).alias("y"),
            F.avg(F.col("z").cast("double")).alias("z"),
        )
        .toPandas()
        .set_index("frame_id")
        .sort_index()
    )
    assert len(got) == 10
    np.testing.assert_allclose(got[["x", "y", "z"]], want[["x", "y", "z"]], atol=1e-9)


def test_streaming_ema_stateful(spark, coords_stream_dir):
    from dask_traj_spark.streaming.ingest import (
        stream_coords,
        streaming_position_ema,
    )

    s = streaming_position_ema(stream_coords(spark, coords_stream_dir), alpha=0.5)
    _run_to_memory(s, "ema_stream", "append")
    got = spark.sql("SELECT * FROM ema_stream").toPandas()
    assert len(got) == 10 * 50  # one row per (frame, atom)

    # closed-form check for one atom against the batch data
    batch = (
        spark.read.parquet(coords_stream_dir)
        .where(F.col("atom_id") == 7)
        .orderBy("frame_id")
        .toPandas()
    )
    ema = None
    for x in batch["x"]:
        ema = float(x) if ema is None else 0.5 * float(x) + 0.5 * ema
    last = got[(got["atom_id"] == 7) & (got["frame_id"] == 9)]["ema_x"].iloc[0]
    np.testing.assert_allclose(last, ema, atol=1e-9)


def test_streaming_event_windows(spark):
    from dask_traj_spark.sources.events import events_df, normalize_event_ts
    from dask_traj_spark.streaming.ingest import streaming_event_window_counts

    # stream the events parquet as a file source (nanos ts → read as
    # long via the legacy conf, converted to timestamp post-scan,
    # mirroring sources/events.py)
    import shutil
    import tempfile

    src = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_df = events_df(spark, src)
    ev_schema = spark.read.parquet(f"{src}/events.parquet").schema
    # streaming file sources require a directory
    stream_dir = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(f"{src}/events.parquet", f"{stream_dir}/events.parquet")
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream = normalize_event_ts(stream)
    s = streaming_event_window_counts(stream)
    _run_to_memory(s, "ev_stream", "append")
    # append mode emits only watermark-closed windows; with
    # availableNow the final watermark closes all but the last —
    # compare against batch for the emitted subset
    got = spark.sql("SELECT * FROM ev_stream").toPandas()
    batch = (
        batch_df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .toPandas()
    )
    assert len(got) > 0
    merged = got.merge(batch, on=["window_start", "event_type"], suffixes=("_s", "_b"))
    assert (merged["n_s"] == merged["n_b"]).all()


def test_streaming_session_windows(spark):
    """Native session_window streaming agg vs the batch gap
    sessionization: every watermark-closed session must match a
    batch session exactly (same start, end - gap, count)."""
    from dask_traj_spark.sources.events import events_df, normalize_event_ts
    from dask_traj_spark.streaming.ingest import streaming_session_windows

    import shutil
    import tempfile

    src = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev_schema = spark.read.parquet(f"{src}/events.parquet").schema
    stream_dir = tempfile.mkdtemp(prefix="events_sess_")
    shutil.copy(f"{src}/events.parquet", f"{stream_dir}/events.parquet")
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream = normalize_event_ts(stream)
    s = streaming_session_windows(stream, gap="30 minutes")
    _run_to_memory(s, "sess_stream", "append")
    got = spark.sql("SELECT * FROM sess_stream").toPandas()
    assert len(got) > 0

    # batch twin: gap sessionization over the same events
    from pyspark.sql import Window

    ev = events_df(spark, src).select("user_id", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | ((us - F.unix_micros(F.lag("ts").over(w))) > 1_800_000_000),
        1,
    ).otherwise(0)
    batch = (
        ev.withColumn(
            "session_no",
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
        )
        .toPandas()
    )
    merged = got.merge(
        batch, on=["user_id", "session_start"], suffixes=("_s", "_b")
    )
    # every emitted (closed) session matches its batch twin's count
    assert len(merged) == len(got)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()


def test_streaming_asof_matches_batch(spark):
    """Single-file source (one micro-batch → intra-batch ordering is
    exact) must reproduce the batch as-of join row for row."""
    import shutil
    import tempfile

    from dask_traj_spark.operators.asof import asof_join
    from dask_traj_spark.sources.events import events_df, normalize_event_ts
    from dask_traj_spark.streaming.ingest import streaming_asof_enrich

    src = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev_schema = spark.read.parquet(f"{src}/events.parquet").schema
    stream_dir = tempfile.mkdtemp(prefix="events_asof_")
    shutil.copy(f"{src}/events.parquet", f"{stream_dir}/events.parquet")
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream = normalize_event_ts(stream)
    s = streaming_asof_enrich(stream)
    _run_to_memory(s, "asof_stream", "append")
    got = (
        spark.sql("SELECT * FROM asof_stream")
        .toPandas()
        .sort_values(["user_id", "left_ts", "left_id"])
        .reset_index(drop=True)
    )
    assert len(got) > 0

    ev = events_df(spark, src).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ts_us").alias("left_ts"), F.col("event_id").alias("left_id")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts_us").alias("r_ts"),
        F.col("event_id").alias("r_id"),
        F.col("value").alias("r_val"),
    )
    batch = (
        asof_join(clicks, purch, "left_ts", "r_ts", "user_id", "user_id",
                  payload=["r_id", "r_val"], tie="r_id")
        .toPandas()
        .sort_values(["user_id", "left_ts", "left_id"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch)
    import numpy as np

    np.testing.assert_array_equal(
        got["matched_id"].fillna(-1).to_numpy(),
        batch["r_id"].fillna(-1).to_numpy(),
    )


def test_streaming_dedup_within_watermark(spark, tmp_path_factory):
    """At-least-once feed with dups within and across micro-batches
    → dropDuplicatesWithinWatermark keeps exactly one per event_id."""
    from dask_traj_spark.streaming.ingest import streaming_dedup_events

    base = str(tmp_path_factory.mktemp("dedup_stream"))
    schema = "event_id long, ts timestamp, user_id long, value double"
    rows1 = [
        (i, f"2024-01-01 10:{m:02d}:00", i % 5, float(i))
        for i, m in [(1, 0), (2, 1), (2, 1), (3, 2), (4, 3)]
    ]
    rows2 = [
        (i, f"2024-01-01 10:{m:02d}:00", i % 5, float(i))
        for i, m in [(3, 2), (5, 10), (1, 0), (6, 11)]
    ]
    str_schema = "event_id long, ts string, user_id long, value double"
    for n, rows in (("a", rows1), ("b", rows2)):
        spark.createDataFrame(rows, str_schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.parquet(f"{base}/{n}")
    import glob
    import shutil

    for i, p in enumerate(glob.glob(f"{base}/*/*.parquet")):
        shutil.move(p, f"{base}/part{i}.parquet")
    for d in glob.glob(f"{base}/[ab]"):
        shutil.rmtree(d)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(base)
    )
    s = streaming_dedup_events(stream)
    _run_to_memory(s, "dedup_stream", "append")
    got = spark.sql("SELECT event_id FROM dedup_stream").toPandas()
    assert sorted(got["event_id"]) == [1, 2, 3, 4, 5, 6]


def test_streaming_view_purchase_join_matches_batch(spark, tmp_path_factory):
    """Stream-stream interval join parity with the identical batch
    join: every purchase within 1h of a same-user view."""
    from dask_traj_spark.streaming.ingest import streaming_view_purchase_join

    schema = "event_id long, ts timestamp, user_id long, value double"
    views = [
        (100 + i, f"2024-01-01 {h:02d}:00:00", u, 0.0)
        for i, (h, u) in enumerate([(9, 1), (10, 1), (9, 2), (12, 3)])
    ]
    purchases = [
        (200 + i, f"2024-01-01 {h:02d}:{m:02d}:00", u, p)
        for i, (h, m, u, p) in enumerate(
            [(9, 30, 1, 10.0), (10, 15, 1, 20.0), (11, 30, 2, 30.0), (12, 5, 3, 40.0)]
        )
    ]
    dirs = {}
    for name, rows in (("views", views), ("purchases", purchases)):
        d = str(tmp_path_factory.mktemp(f"ss_{name}"))
        str_schema = "event_id long, ts string, user_id long, value double"
        spark.createDataFrame(rows, str_schema).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).coalesce(1).write.mode("overwrite").parquet(d)
        dirs[name] = d

    def rd(d, streaming):
        if streaming:
            return spark.readStream.schema(schema).parquet(d)
        return spark.read.parquet(d)

    s = streaming_view_purchase_join(rd(dirs["views"], True), rd(dirs["purchases"], True))
    _run_to_memory(s, "vp_join_stream", "append")
    got = spark.sql(
        "SELECT view_id, purchase_id FROM vp_join_stream ORDER BY view_id, purchase_id"
    ).toPandas()
    batch = (
        streaming_view_purchase_join(
            rd(dirs["views"], False), rd(dirs["purchases"], False)
        )
        .orderBy("view_id", "purchase_id")
        .select("view_id", "purchase_id")
        .toPandas()
    )
    assert len(batch) > 0
    assert got.values.tolist() == batch.values.tolist()


def test_stream_to_bucketed_ingest_loop(spark, coords_stream_dir, tmp_path_factory):
    """Full ingest loop: stream → foreachBatch bucketed appends →
    compact → zero-exchange per-atom query, content = batch read."""
    from dask_traj_spark.sources.bucketed import (
        bucket_file_stats,
        compact_bucketed,
        frame_displacements_bucketed,
    )
    from dask_traj_spark.streaming.ingest import stream_coords_to_bucketed

    base = tmp_path_factory.mktemp("ingest_loop")
    spark.sql("DROP TABLE IF EXISTS ingest_loop_test")
    spark.sql("DROP TABLE IF EXISTS ingest_loop_compact")
    # make the first append create the table with its bucket spec
    q = stream_coords_to_bucketed(
        spark,
        coords_stream_dir,
        "ingest_loop_test",
        checkpoint=str(base / "ckpt"),
        n_buckets=4,
    )
    q.awaitTermination(120)

    batch = spark.read.parquet(coords_stream_dir)
    assert spark.table("ingest_loop_test").count() == batch.count()

    compact_bucketed(
        spark, "ingest_loop_test", "ingest_loop_compact", str(base / "compact"),
        n_buckets=4,
    )
    stats = bucket_file_stats(spark, "ingest_loop_compact")
    assert all(v == 1 for v in stats.values()), stats
    assert (
        spark.table("ingest_loop_compact").exceptAll(batch).count() == 0
    )
    out = frame_displacements_bucketed(spark, "ingest_loop_compact")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    spark.sql("DROP TABLE IF EXISTS ingest_loop_test")
    spark.sql("DROP TABLE IF EXISTS ingest_loop_compact")


def test_stream_ingest_restart_is_exactly_once(spark, tmp_path_factory):
    """Restarting the checkpointed ingest stream after new files
    arrive appends ONLY the new data — no reprocessing of batches
    already committed (the recovery contract the 100 TB ingest
    relies on)."""
    import shutil

    from dask_traj_spark.streaming.ingest import stream_coords_to_bucketed

    base = tmp_path_factory.mktemp("restart")
    src = str(base / "src")
    os.makedirs(src)
    spark.sql("DROP TABLE IF EXISTS restart_ingest_test")
    # a DROP on a half-created managed table can leave its warehouse
    # directory behind, which blocks re-creation
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/restart_ingest_test", ignore_errors=True)

    def add_file(name, lo, hi):
        df = spark.range(lo, hi).selectExpr(
            "id as frame_id",
            "cast(id % 7 as int) as atom_id",
            "cast(id as float) x", "cast(id as float) y", "cast(id as float) z",
        )
        stage = str(base / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        import glob

        for i, p in enumerate(glob.glob(f"{stage}/*.parquet")):
            shutil.move(p, f"{src}/{name}_{i}.parquet")
        shutil.rmtree(stage)

    ckpt = str(base / "ckpt")
    add_file("a", 0, 100)
    q = stream_coords_to_bucketed(
        spark, src, "restart_ingest_test", checkpoint=ckpt, n_buckets=4
    )
    q.awaitTermination(120)
    assert spark.table("restart_ingest_test").count() == 100

    add_file("b", 100, 150)
    q2 = stream_coords_to_bucketed(
        spark, src, "restart_ingest_test", checkpoint=ckpt, n_buckets=4
    )
    q2.awaitTermination(120)
    got = spark.table("restart_ingest_test")
    assert got.count() == 150  # no double-ingest of file a
    assert got.select("frame_id").distinct().count() == 150
    spark.sql("DROP TABLE IF EXISTS restart_ingest_test")


_ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.mark.parametrize(
    "batch_rows", [None, 30, 2], ids=["default", "frame_crosses_batch", "frame_crosses_batch_and_tile"]
)
def test_streaming_distances_match_batch(spark, coords_stream_dir, batch_rows):
    """G1 on a stream: identical kernel, identical results to the
    batch vectorized form, stateless append mode — also when an Arrow
    batch (30 rows) is smaller than a frame (50 atoms), so frames
    cross batches, and when it (2 rows) is smaller than the pair set
    too, so each frame's 3 pairs are cut into tiles of 2 and 1 and
    the second tile's pair ids must start at 2."""
    import numpy as np

    from dask_traj_spark.streaming.ingest import (
        stream_coords,
        streaming_distances,
    )

    pairs = [(0, 1), (2, 40), (7, 33)]
    name = f"dist_stream_{batch_rows or 'default'}"
    old = spark.conf.get(_ARROW_BATCH)
    if batch_rows is not None:
        spark.conf.set(_ARROW_BATCH, str(batch_rows))
    try:
        s = streaming_distances(stream_coords(spark, coords_stream_dir), pairs)
        _run_to_memory(s, name, "append")
    finally:
        spark.conf.set(_ARROW_BATCH, old)
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .orderBy("frame_id", "pair_id")
        .toPandas()
    )

    import dask_traj_spark as dts
    from dask_traj_spark.trajectory import Trajectory

    batch = Trajectory(spark.read.parquet(coords_stream_dir))
    want = (
        dts.compute_distances(batch, pairs, periodic=False, form="vectorized")
        .orderBy("frame_id", "pair_id")
        .toPandas()
    )
    assert len(got) == len(want) > 0
    np.testing.assert_array_equal(
        got[["frame_id", "pair_id"]].to_numpy(), want[["frame_id", "pair_id"]].to_numpy()
    )
    np.testing.assert_array_equal(got["dist"].to_numpy(), want["dist"].to_numpy())


def _drain_active_streams(spark, timeout=30.0):
    """Wait until the session has no active streaming queries — an
    availableNow query can linger in the manager briefly after
    awaitTermination, which trips the same-checkpoint guard on
    restart."""
    import time

    deadline = time.time() + timeout
    while spark.streams.active and time.time() < deadline:
        time.sleep(0.1)
    assert not spark.streams.active


def test_batch_overwrite_sink_is_idempotent(spark, tmp_path_factory):
    """Replaying a micro-batch (same batch_id) must replace its own
    partition, not append duplicates — the exact crash window between
    file commit and checkpoint commit."""
    import shutil

    from dask_traj_spark.sources.bucketed import overwrite_coords_bucketed_batch

    spark.sql("DROP TABLE IF EXISTS idem_sink_test")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/idem_sink_test", ignore_errors=True)

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id as frame_id",
            "cast(id % 7 as int) as atom_id",
            "cast(id as float) x", "cast(id as float) y", "cast(id as float) z",
        )

    overwrite_coords_bucketed_batch(batch(0, 100), "idem_sink_test", 0, n_buckets=4)
    overwrite_coords_bucketed_batch(batch(100, 150), "idem_sink_test", 1, n_buckets=4)
    assert spark.table("idem_sink_test").count() == 150
    # replay batch 1 (crash-before-checkpoint-commit scenario)
    overwrite_coords_bucketed_batch(batch(100, 150), "idem_sink_test", 1, n_buckets=4)
    got = spark.table("idem_sink_test")
    assert got.count() == 150
    assert got.select("frame_id").distinct().count() == 150
    # replay of the TABLE-CREATING batch 0 must also be idempotent
    overwrite_coords_bucketed_batch(batch(0, 100), "idem_sink_test", 0, n_buckets=4)
    assert spark.table("idem_sink_test").count() == 150
    spark.sql("DROP TABLE IF EXISTS idem_sink_test")


def test_stream_ingest_replays_half_committed_batch_without_dupes(
    spark, tmp_path_factory
):
    """Kill-between-append-and-commit simulation: run the ingest to
    completion, then delete the newest checkpoint commit marker (files
    are on disk, commit is not) and restart — Spark re-presents the
    last batch_id and the sink must overwrite, not duplicate."""
    import glob
    import shutil

    from dask_traj_spark.streaming.ingest import stream_coords_to_bucketed

    base = tmp_path_factory.mktemp("crash_replay")
    src = str(base / "src")
    os.makedirs(src)
    spark.sql("DROP TABLE IF EXISTS crash_replay_test")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/crash_replay_test", ignore_errors=True)

    def add_file(name, lo, hi):
        df = spark.range(lo, hi).selectExpr(
            "id as frame_id",
            "cast(id % 7 as int) as atom_id",
            "cast(id as float) x", "cast(id as float) y", "cast(id as float) z",
        )
        stage = str(base / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        for i, p in enumerate(glob.glob(f"{stage}/*.parquet")):
            shutil.move(p, f"{src}/{name}_{i}.parquet")
        shutil.rmtree(stage)

    ckpt = str(base / "ckpt")
    add_file("a", 0, 100)
    add_file("b", 100, 160)
    q = stream_coords_to_bucketed(
        spark, src, "crash_replay_test", checkpoint=ckpt, n_buckets=4
    )
    q.awaitTermination(120)
    q.stop()
    _drain_active_streams(spark)
    assert spark.table("crash_replay_test").count() == 160

    # simulate the crash: data files committed, checkpoint commit lost
    commits = sorted(glob.glob(f"{ckpt}/commits/[0-9]*"))
    assert commits, "no commit markers found"
    os.remove(commits[-1])
    # also drop the hidden Hadoop checksum twin, or the replayed
    # commit's rename fails on the stale .crc
    d, name = os.path.split(commits[-1])
    crc = os.path.join(d, f".{name}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    q2 = stream_coords_to_bucketed(
        spark, src, "crash_replay_test", checkpoint=ckpt, n_buckets=4
    )
    q2.awaitTermination(120)
    got = spark.table("crash_replay_test")
    assert got.count() == 160, "replayed batch duplicated rows"
    assert got.select("frame_id").distinct().count() == 160
    spark.sql("DROP TABLE IF EXISTS crash_replay_test")


def test_stream_neardup_minhash_incremental(spark, tmp_path_factory):
    """Incremental near-dup: batch 2's doc must be flagged against a
    batch-1 doc it nearly duplicates, per-batch work scales with the
    batch (candidates all touch a new doc), and replaying a batch is
    idempotent."""
    import glob
    import shutil

    from dask_traj_spark.streaming.dedup import stream_neardup_minhash

    base = tmp_path_factory.mktemp("neardup_stream")
    src = str(base / "src")
    os.makedirs(src)

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_a2 = "the quick brown fox jumps over the lazy dog again and AGAIN2"
    text_b = "completely unrelated content about spark query planning internals"

    def add_file(name, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        stage = str(base / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        for i, p in enumerate(glob.glob(f"{stage}/*.parquet")):
            shutil.move(p, f"{src}/{name}_{i}.parquet")
        shutil.rmtree(stage)

    add_file("b1", [(1, text_a), (2, text_b)])
    add_file("b2", [(3, text_a2)])

    state = str(base / "state")
    results = str(base / "results")
    ckpt = str(base / "ckpt")
    q = stream_neardup_minhash(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        state,
        results,
        checkpoint=ckpt,
        threshold=0.5,
    )
    q.awaitTermination(120)
    q.stop()
    _drain_active_streams(spark)

    got = spark.read.parquet(results)
    vals = {(r.doc1, r.doc2): r.jaccard for r in got.collect()}
    pairs = set(vals)
    assert (1, 3) in pairs, pairs
    assert not any(2 in p for p in pairs), pairs
    assert all(0.0 < j <= 1.0 for j in vals.values()), vals

    # crash-replay: drop the newest checkpoint commit and restart —
    # the batch overwrites its own partitions, results unchanged
    commits = sorted(glob.glob(f"{ckpt}/commits/[0-9]*"))
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    q2 = stream_neardup_minhash(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        state,
        results,
        checkpoint=ckpt,
        threshold=0.5,
    )
    q2.awaitTermination(120)
    q2.stop()
    _drain_active_streams(spark)

    again = spark.read.parquet(results)
    vals2 = {(r.doc1, r.doc2): r.jaccard for r in again.collect()}
    # VALUES, not just pairs: a replayed batch re-reading its own
    # state partition would double-count tokens and skew jaccard
    # (even past 1.0) while possibly leaving the pair set intact
    assert vals2 == vals, (vals, vals2)
    # state holds exactly one token partition per batch (no dupes)
    toks = spark.read.parquet(f"{state}/tokens")
    assert toks.select("doc_id").distinct().count() == 3
    assert toks.groupBy("doc_id", "tid").count().where("count > 1").count() == 0


def test_stream_exact_dedup_replay_idempotent(spark, tmp_path):
    """Replaying ANY batch (first, middle, last — even repeatedly)
    leaves the merged exact-dedup state identical to the one-pass
    batch answer: the per-batch partial depends only on its own rows
    and dynamic overwrite replaces the partition wholesale."""
    from pyspark.sql import functions as F

    from dask_traj_spark.operators.dedup import exact_duplicates
    from dask_traj_spark.streaming.dedup import (
        exact_dedup_state,
        process_exact_dedup_batch,
    )

    rows = [
        (0, "alpha beta"), (1, "alpha beta"), (2, "gamma"),
        (3, "delta"), (4, "gamma"), (5, "epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    state = str(tmp_path / "state")
    for b in range(3):
        process_exact_dedup_batch(docs.where(F.col("doc_id") % 3 == b), b, state)
    # replay storm: batch 0 twice, batch 2 once more
    process_exact_dedup_batch(docs.where(F.col("doc_id") % 3 == 0), 0, state)
    process_exact_dedup_batch(docs.where(F.col("doc_id") % 3 == 0), 0, state)
    process_exact_dedup_batch(docs.where(F.col("doc_id") % 3 == 2), 2, state)

    got = exact_dedup_state(spark, state).toPandas().set_index("h").sort_index()
    want = exact_duplicates(docs).toPandas().set_index("h").sort_index()
    assert (got["keep_id"] == want["keep_id"]).all()
    assert (got["n"] == want["n"]).all()


def test_stream_window_counts_replay_idempotent(spark, tmp_path):
    """The windowed-count partials are associative and per-batch
    self-contained, so any replay storm leaves the merged state
    equal to the one-pass batch aggregation value-for-value."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dask_traj_spark.streaming.ingest import (
        process_window_counts_batch,
        window_counts_state,
    )

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=17 * i), ["click", "buy"][i % 2], 1.25 * i)
        for i in range(24)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    state = str(tmp_path / "state")
    for b in range(3):
        process_window_counts_batch(ev.where(F.col("event_id") % 3 == b), b, state)
    # replay storm: batch 1 twice more, batch 0 once more
    for b in (1, 1, 0):
        process_window_counts_batch(ev.where(F.col("event_id") % 3 == b), b, state)

    got = (
        window_counts_state(spark, state)
        .toPandas()
        .set_index(["window_start", "event_type"])
        .sort_index()
    )
    want = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "total_cents"
            ),
        )
        .toPandas()
        .set_index(["window_start", "event_type"])
        .sort_index()
    )
    assert (got["n"] == want["n"]).all()
    assert (got["total_cents"] == want["total_cents"]).all()


def test_stream_sessions_merge_across_batches_and_replay(spark, tmp_path):
    """Sessions that span micro-batch boundaries must stitch onto the
    open tail; a user absent from a middle batch still merges across
    it when the time gap allows; and replaying any batch leaves the
    final view identical to the batch sessionization."""
    import datetime as dt

    from pyspark.sql import Window, functions as F

    from dask_traj_spark.streaming.ingest import (
        process_sessions_batch,
        sessions_final,
    )

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [
        # user 1: one long session spanning batch 0/1 boundary, then a
        # separate late session in batch 2
        (0, 1, m(0)), (1, 1, m(20)), (2, 1, m(45)), (3, 1, m(60)),
        (4, 1, m(200)), (5, 1, m(210)),
        # user 2: session in batch 0 only, gap, session in batch 2
        (6, 2, m(5)), (7, 2, m(250)),
        # user 3: absent from batch 1, but gap short enough to merge
        # across it (batch split at minute 40/160)
        (8, 3, m(30)), (9, 3, m(50)),
        # user 4: everything in batch 1
        (10, 4, m(100)), (11, 4, m(110)),
    ]
    ev = spark.createDataFrame(
        [(e, u, ts) for e, u, ts in rows],
        "event_id long, user_id long, ts timestamp",
    )
    state, results = str(tmp_path / "st"), str(tmp_path / "res")
    cuts = [m(40), m(160)]
    slices = [
        ev.where(F.col("ts") < cuts[0]),
        ev.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.where(F.col("ts") >= cuts[1]),
    ]
    for b, sl in enumerate(slices):
        process_sessions_batch(sl, b, state, results)
    # replay storm: middle batch twice, then the last again
    process_sessions_batch(slices[1], 1, state, results)
    process_sessions_batch(slices[1], 1, state, results)
    process_sessions_batch(slices[2], 2, state, results)

    got = (
        sessions_final(spark, state, results, 2)
        .toPandas()
        .set_index(["user_id", "session_no"])
        .sort_index()
    )
    # batch twin
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | ((us - F.unix_micros(F.lag("ts").over(w))) > 1_800_000_000),
        1,
    ).otherwise(0)
    want = (
        ev.withColumn(
            "session_no",
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(
                "(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000"
            ).alias("duration_s"),
        )
        .toPandas()
        .set_index(["user_id", "session_no"])
        .sort_index()
    )
    assert list(got.index) == list(want.index)
    assert (got["n_events"] == want["n_events"]).all()
    assert (got["duration_s"] == want["duration_s"]).all()
    # the cross-batch merge really happened: user 1 spans 60 minutes
    assert got.loc[(1, 1), "duration_s"] == 60 * 60
    assert got.loc[(3, 1), "n_events"] == 2


def test_prune_state_versions_keeps_replay_window(spark, tmp_path):
    """Pruning to keep_from=N-1 removes older versions but leaves the
    fold fully replayable: re-running the last batch after pruning
    still produces the identical final view."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dask_traj_spark.streaming.ingest import (
        process_sessions_batch,
        prune_state_versions,
        sessions_final,
    )

    t0 = dt.datetime(2024, 5, 1, 9, 0, 0)
    rows = [(i, i % 3, t0 + dt.timedelta(minutes=11 * i)) for i in range(12)]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    state, results = str(tmp_path / "st"), str(tmp_path / "res")
    slices = [ev.where(F.col("event_id") % 12 < 4),
              ev.where((F.col("event_id") % 12 >= 4) & (F.col("event_id") % 12 < 8)),
              ev.where(F.col("event_id") % 12 >= 8)]
    # event_id increases with ts here, so the %-slices are time-ordered
    for b, sl in enumerate(slices):
        process_sessions_batch(sl, b, state, results)
    before = sessions_final(spark, state, results, 2).toPandas()
    removed = prune_state_versions(spark, state, keep_from=1)
    assert removed == 1  # version 0 gone, 1 and 2 kept
    # batch 2 is still replayable from the surviving version 1
    process_sessions_batch(slices[2], 2, state, results)
    after = sessions_final(spark, state, results, 2).toPandas()
    key = ["user_id", "session_no"]
    assert before.sort_values(key).reset_index(drop=True).equals(
        after.sort_values(key).reset_index(drop=True)
    )
    assert prune_state_versions(spark, str(tmp_path / "missing"), 1) == 0


def test_versioned_table_read_rejects_name_drift(spark, tmp_path):
    """Review finding (r11): the schema-pinned state read must refuse
    a state dir whose files drifted in column NAME — Spark would
    otherwise fill the declared column with NULLs and silently
    corrupt the fold (types still fail loudly inside the read)."""
    import pytest

    from dask_traj_spark.streaming.ingest import _read_versioned_table

    table = str(tmp_path / "state")
    # written by a hypothetical older fold: p_last stored as last_us
    (
        spark.createDataFrame([(1, 100)], "user_id long, last_us long")
        .withColumn("batch_id", F.lit(0))
        .write.partitionBy("batch_id")
        .parquet(table)
    )
    with pytest.raises(ValueError, match="missing declared state"):
        _read_versioned_table(spark, table, "user_id long, p_last long")
    # the matching contract still reads (schema-pinned)
    ok = _read_versioned_table(spark, table, "user_id long, last_us long")
    assert ok.count() == 1 and set(ok.columns) == {
        "user_id", "last_us", "batch_id"
    }


def test_versioned_table_read_rejects_missing_batch_id(spark, tmp_path):
    """ADVICE r11 (medium): a state dir holding plain NON-partitioned
    parquet (no batch_id= partitions) must RAISE — the pinned read
    would NULL-fill batch_id, where(batch_id == version) would return
    empty, and the fold would silently restart with no carried state."""
    import pytest

    from dask_traj_spark.streaming.ingest import _read_versioned_table

    table = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, 100)], "user_id long, last_us long"
    ).write.parquet(table)
    with pytest.raises(ValueError, match="batch_id"):
        _read_versioned_table(spark, table, "user_id long, last_us long")


def test_versioned_table_declared_names_parse_nested_ddl(spark, tmp_path):
    """ADVICE r11 (low): declared column names come from a real DDL
    parse, not str.split(',') — a nested generic type (array<struct>)
    must not shred into garbage 'declared' names that spuriously
    fail the drift check."""
    from dask_traj_spark.streaming.ingest import _read_versioned_table

    table = str(tmp_path / "state")
    schema = "user_id long, spans array<struct<a:int,b:int>>"
    (
        spark.createDataFrame([(1, [(2, 3)])], schema)
        .withColumn("batch_id", F.lit(0))
        .write.partitionBy("batch_id")
        .parquet(table)
    )
    ok = _read_versioned_table(spark, table, schema)
    assert ok.count() == 1 and set(ok.columns) == {
        "user_id", "spans", "batch_id"
    }


def test_real_stream_crash_replay_exact_dedup(spark, tmp_path):
    """sx2's state design under Spark's OWN streaming commit protocol
    (VERDICT r4 item 7): a real readStream → foreachBatch →
    checkpoint pipeline whose body CRASHES after writing state for
    one epoch but before the epoch commits.  On restart from the
    same checkpoint Spark replays that epoch with the SAME batch_id;
    the dynamic-partition-overwrite state write is idempotent, so
    the merged state still matches the one-pass batch oracle —
    proving the exactly-once story composes with Structured
    Streaming's recovery, not just with hand-replayed batches."""
    import glob
    import shutil

    from dask_traj_spark.operators.dedup import exact_duplicates
    from dask_traj_spark.streaming.dedup import (
        exact_dedup_state,
        process_exact_dedup_batch,
    )

    rows = [
        (0, "alpha beta"), (1, "alpha beta"), (2, "gamma"),
        (3, "delta"), (4, "gamma"), (5, "epsilon zeta"),
        (6, "delta"), (7, "eta theta"), (8, "alpha beta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def add_file(i, pred):
        staged = str(tmp_path / f"stage{i}")
        docs.where(pred).coalesce(1).write.parquet(staged)
        part = glob.glob(os.path.join(staged, "*.parquet"))[0]
        shutil.move(part, str(src / f"f{i}.parquet"))
        shutil.rmtree(staged)

    for i in range(3):
        add_file(i, F.col("doc_id") % 3 == i)

    crash = {"armed": True}

    def body(batch_df, batch_id):
        process_exact_dedup_batch(batch_df, batch_id, state)
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash: state written, epoch uncommitted")

    def start():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception):  # the injected crash fails the query
        q.awaitTermination(120)
    assert not crash["armed"]  # epoch 1's state WAS written before the kill

    # restart from the same checkpoint: Spark replays epoch 1 (same
    # batch_id), then processes epoch 2
    q2 = start()
    q2.awaitTermination(120)
    assert not q2.isActive

    got = exact_dedup_state(spark, state).toPandas().set_index("h").sort_index()
    want = exact_duplicates(docs).toPandas().set_index("h").sort_index()
    assert list(got.index) == list(want.index)
    assert (got["keep_id"] == want["keep_id"]).all()
    assert (got["n"] == want["n"]).all()


def test_stream_semantic_dedup_matches_batch_with_replay_storm(spark, tmp_path):
    """Incremental SemDeDup: id-ordered batches, a replay storm
    (batch 0 twice, batch 2 once more), and a planted CROSS-BATCH
    suppression — a batch-2 vector whose only sub-threshold
    neighbor lives in batch 0 must still drop.  Union of per-batch
    decisions equals the one-shot batch operator exactly."""
    import numpy as np

    from dask_traj_spark.operators.similarity import semantic_dedup
    from dask_traj_spark.streaming.dedup import (
        process_semantic_batch,
        semantic_dedup_results,
    )

    rng = np.random.default_rng(47)
    base = rng.standard_normal((60, 32)).astype(np.float32)
    base[45] = base[3] * np.float32(1.2)   # batch 2 dup of batch 0
    base[21] = base[20] * np.float32(0.9)  # in-batch dup (batch 1)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    state = str(tmp_path / "state")
    results = str(tmp_path / "results")
    kw = dict(threshold=0.95, n_bits=3)
    slices = [(0, 20), (20, 40), (40, 60)]

    def run(b):
        lo, hi = slices[b]
        process_semantic_batch(
            emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            b, state, results, **kw,
        )

    for b in range(3):
        run(b)
    run(0)  # replay storm
    run(0)
    run(2)

    got = (
        semantic_dedup_results(spark, results)
        .toPandas().set_index("vec_id").sort_index()
    )
    want = (
        semantic_dedup(emb, threshold=0.95, n_bits=3, max_cluster=None)
        .toPandas().set_index("vec_id").sort_index()
    )
    assert len(got) == 60
    assert (got["keep"] == want["keep"]).all()
    assert (got["cluster"] == want["cluster"]).all()
    # the planted cross-batch and in-batch dups actually dropped
    assert not got.loc[45, "keep"]
    assert not got.loc[21, "keep"]
    assert got.loc[3, "keep"] and got.loc[20, "keep"]


def test_real_stream_crash_replay_sessionization(spark, tmp_path):
    """The ORDER-DEPENDENT versioned fold under Spark's own recovery:
    a real readStream → foreachBatch → checkpoint sessionization
    pipeline crashes after batch 1 wrote its state AND results
    partitions but before the epoch committed.  Restart replays the
    epoch with the same batch_id; the fold re-reads the untouched
    version-0 state and rewrites identical partitions, so the final
    sessions equal the single-pass reference — the strongest
    exactly-once evidence for the sx4 design (sx2's twin covered the
    associative case; this is the state_N = f(state_{N-1}, batch_N)
    case)."""
    import glob
    import shutil

    from dask_traj_spark.streaming.ingest import (
        process_sessions_batch,
        sessions_final,
    )

    gap_s = 30
    # two users, sessions deliberately spanning the batch boundaries:
    # user 1: events at 0,10,20 | 40,120 | 210   (batch splits at 100/200)
    #   gaps: 20→40 merge (20s), 40→120 split (80s), 120→210 split (90s)
    # user 2: events at 90 | 110, 250
    #   90→110 merge (20s), 110→250 split (140s)
    ev = [
        (1, 0), (1, 10), (1, 20), (1, 40), (1, 120), (1, 210),
        (2, 90), (2, 110), (2, 250),
    ]
    rows = [
        (uid, i, f"1970-01-01 00:{t // 60:02d}:{t % 60:02d}")
        for i, (uid, t) in enumerate(ev)
    ]
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts_s"])

    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    results = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")

    def add_file(i, lo, hi):
        part = pdf[(pdf.index >= 0)]
        sel = [
            (int(r.user_id), int(r.event_id), r.ts_s)
            for _, r in pdf.iterrows()
            if lo <= ev[int(r.event_id)][1] < hi
        ]
        staged = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            sel, "user_id long, event_id long, ts_s string"
        ).select(
            "user_id", "event_id", F.to_timestamp("ts_s").alias("ts")
        ).coalesce(1).write.parquet(staged)
        p = glob.glob(os.path.join(staged, "*.parquet"))[0]
        shutil.move(p, str(src / f"f{i}.parquet"))
        shutil.rmtree(staged)

    add_file(0, 0, 100)
    add_file(1, 100, 200)
    add_file(2, 200, 10_000)

    crash = {"armed": True}

    def body(batch_df, batch_id):
        process_sessions_batch(batch_df, batch_id, state, results, gap_s=gap_s)
        if batch_id == 1 and crash["armed"]:
            crash["armed"] = False
            raise RuntimeError("injected crash: fold written, epoch uncommitted")

    def start():
        return (
            spark.readStream.schema("user_id long, event_id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(body)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception):
        q.awaitTermination(120)
    assert not crash["armed"]

    q2 = start()
    q2.awaitTermination(120)
    assert not q2.isActive

    got = (
        sessions_final(spark, state, results, last_batch_id=2)
        .toPandas()
        .sort_values(["user_id", "session_no"])
        .reset_index(drop=True)
    )
    # single-pass reference: gap sessionization per user
    want = []
    for uid in (1, 2):
        times = sorted(t for u, t in ev if u == uid)
        sess = [[times[0]]]
        for t in times[1:]:
            if t - sess[-1][-1] <= gap_s:
                sess[-1].append(t)
            else:
                sess.append([t])
        for no, ts in enumerate(sess, start=1):
            want.append((uid, no, len(ts), ts[-1] - ts[0]))
    wdf = (
        pd.DataFrame(
            want,
            columns=["user_id", "session_no", "n_events", "duration_s"],
        )
        .sort_values(["user_id", "session_no"])
        .reset_index(drop=True)
    )
    got = got[wdf.columns].astype("int64")
    assert got.equals(wdf.astype("int64")), f"\n{got}\nvs\n{wdf}"


def test_stream_transition_counts_boundary_pairs(spark, tmp_path):
    """The boundary-carrying fold: pairs spanning the batch cut must
    be counted exactly once (by the batch owning the later frame),
    through a replay storm."""
    from dask_traj_spark.operators.distance import transition_counts
    from dask_traj_spark.streaming.dedup import (
        process_transition_batch,
        transition_counts_state,
    )

    # states 0,1,2 cycling over 10 frames, lag 2; batch cut at 4/7
    df = spark.createDataFrame(
        [(t, float(t % 3)) for t in range(10)], "frame_id long, v double"
    )
    state = str(tmp_path / "state")
    results = str(tmp_path / "results")

    def run(b, lo, hi):
        process_transition_batch(
            df.where((F.col("frame_id") >= lo) & (F.col("frame_id") < hi)),
            b, state, results, bin_width=1.0, lag=2,
        )

    run(0, 0, 4)
    run(1, 4, 7)
    run(2, 7, 10)
    run(1, 4, 7)  # replay storm: middle batch again
    run(0, 0, 4)  # and the first — its pairs are batch-local anyway

    got = {
        (r["from_state"], r["to_state"]): r["n"]
        for r in transition_counts_state(spark, results).collect()
    }
    want = {
        (r["from_state"], r["to_state"]): r["n"]
        for r in transition_counts(df, "v", 1.0, lag=2).collect()
    }
    assert got == want
    # sanity: the lag-2 pairs crossing the 4- and 7-frame cuts exist
    assert sum(got.values()) == 8


def test_incremental_bloom_matches_oneshot(spark, tmp_path):
    """The merged incremental Bloom state equals the one-shot build
    word-for-word (bit_or associativity), crash-replay of a batch
    included, and the merged bitmap drives membership identically."""
    from dask_traj_spark.operators.dedup import bloom_build, bloom_membership
    from dask_traj_spark.streaming.dedup import (
        bloom_state,
        process_bloom_batch,
    )

    docs = spark.createDataFrame(
        [(i, f"payload {i % 17}") for i in range(60)],
        "doc_id long, text string",
    )
    state = str(tmp_path / "state")
    for b in range(3):
        process_bloom_batch(docs.where(f"doc_id % 3 = {b}"), b, state)
    process_bloom_batch(docs.where("doc_id % 3 = 1"), 1, state)  # replay
    merged = {
        r["word_idx"]: r["bits"] for r in bloom_state(spark, state).collect()
    }
    oneshot = {
        r["word_idx"]: r["bits"] for r in bloom_build(docs).collect()
    }
    assert merged == oneshot
    flags = bloom_membership(
        None, docs, bitmap=bloom_state(spark, state)
    ).collect()
    assert all(r["maybe_dup"] for r in flags)  # every doc is in-corpus


def test_stream_weighted_sample_matches_oneshot_with_replay(spark, tmp_path):
    """sx10's contract, unit-scale: per-batch top-k partials merged
    over a 4-batch replay (one batch smaller than k, one batch
    crash-replayed) equal the one-shot batch draw bit-for-bit."""
    from dask_traj_spark.operators.curation import weighted_sample
    from dask_traj_spark.streaming.sampling import (
        process_weighted_sample_batch,
        weighted_sample_state,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (1 + i % 13))) for i in range(120)],
        "doc_id long, text string",
    )
    state = str(tmp_path / "wsample_state")
    k = 10
    # batch 3 holds only 3 docs (< k): "all rows" is still a valid
    # partial for the k-smallest merge
    splits = [
        docs.where((F.col("doc_id") % 3 == b) & (F.col("doc_id") < 117))
        if b != 3 else docs.where(F.col("doc_id") >= 117)
        for b in range(4)
    ]
    for b, part in enumerate(splits):
        process_weighted_sample_batch(part, b, state, k=k, seed=7)
    before = (
        weighted_sample_state(spark, state, k=k)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    # crash-replay batch 2: merged view must be unchanged
    process_weighted_sample_batch(splits[2], 2, state, k=k, seed=7)
    after = (
        weighted_sample_state(spark, state, k=k)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert before["doc_id"].tolist() == after["doc_id"].tolist()
    assert (before["key"].to_numpy() == after["key"].to_numpy()).all()
    oneshot = (
        weighted_sample(docs, k=k, seed=7)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert before["doc_id"].tolist() == oneshot["doc_id"].tolist()
    assert (before["key"].to_numpy() == oneshot["key"].to_numpy()).all()


def test_stream_winnow_matches_batch_twin_with_replay(spark, tmp_path):
    """sx11's contract at unit scale: three micro-batches through
    process_winnow_batch accumulate EXACTLY winnow_matches' output
    (uncapped, hashed fingerprints are batch-stable), a cross-batch
    pair lands at its LATER member's batch with the full n_shared,
    and crash-replaying the middle batch changes nothing."""
    from dask_traj_spark.operators.dedup import winnow_matches
    from dask_traj_spark.streaming.dedup import process_winnow_batch

    shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    docs = spark.createDataFrame(
        [
            (0, f"a0 b0 {shared} c0"),     # batch 0
            (1, f"a1 b1 c1 {shared}"),     # batch 1 — pairs with 0
            (2, "nothing in common here at all friends"),  # batch 2
            (3, f"{shared} d0 e0"),        # batch 0 — pairs with 0 in-batch
            (4, "nothing in common here at all strangers"),  # batch 1
        ],
        "doc_id long, text string",
    )
    batches = [
        docs.where(F.col("doc_id").isin(0, 3)),
        docs.where(F.col("doc_id").isin(1, 4)),
        docs.where(F.col("doc_id") == 2),
    ]
    state = str(tmp_path / "state")
    results = str(tmp_path / "results")
    for b, bdf in enumerate(batches):
        process_winnow_batch(bdf, b, state, results, k=3, w=4)
    got = spark.read.parquet(results)
    # the (0,1) pair must be recorded at batch 1 (its later member)
    r01 = got.where((F.col("doc1") == 0) & (F.col("doc2") == 1)).collect()
    assert len(r01) == 1 and r01[0].batch_id == 1
    # the (0,3) same-batch pair recorded once at batch 0
    r03 = got.where((F.col("doc1") == 0) & (F.col("doc2") == 3)).collect()
    assert len(r03) == 1 and r03[0].batch_id == 0
    stream = {
        (r.doc1, r.doc2): r.n_shared
        for r in got.select("doc1", "doc2", "n_shared").collect()
    }
    batch = {
        (r.doc1, r.doc2): r.n_shared
        for r in winnow_matches(docs, k=3, w=4, min_shared=1,
                                max_df=None).collect()
    }
    assert stream == batch
    # crash-replay of the middle batch: bit-identical accumulation
    process_winnow_batch(batches[1], 1, state, results, k=3, w=4)
    replayed = {
        (r.doc1, r.doc2): r.n_shared
        for r in spark.read.parquet(results)
        .select("doc1", "doc2", "n_shared").collect()
    }
    assert replayed == batch


def test_stream_winnow_empty_results_still_reports(spark, tmp_path):
    """Review regression: a corpus with NO shared fingerprints writes
    an empty results dir; the gate helper must return an empty frame
    with the contract schema instead of raising on schema inference."""
    from dask_traj_spark.queries_pipeline import _read_parquet_or_empty
    from dask_traj_spark.streaming.dedup import process_winnow_batch

    docs = spark.createDataFrame(
        [(0, "completely unique alpha words one"),
         (1, "other totally different beta tokens two")],
        "doc_id long, text string",
    )
    state = str(tmp_path / "state")
    results = str(tmp_path / "results")
    for b in range(2):
        process_winnow_batch(
            docs.where(F.col("doc_id") == b), b, state, results, k=3, w=4
        )
    out = _read_parquet_or_empty(
        spark, results, "doc1 long, doc2 long, n_shared long, batch_id int"
    )
    assert out.count() == 0
    assert out.columns == ["doc1", "doc2", "n_shared", "batch_id"]


def test_stream_gaps_stitch_across_batches_and_replay(spark, tmp_path):
    """Inter-event gaps that span micro-batch boundaries stitch onto
    the carried per-user last timestamp; a user absent from a middle
    batch still bridges it; and a replay storm leaves the emitted gap
    multiset identical to the one-pass batch lag computation."""
    import datetime as dt

    from pyspark.sql import Window, functions as F

    from dask_traj_spark.streaming.ingest import (
        gaps_final,
        process_gaps_batch,
    )

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)
    m = lambda k: t0 + dt.timedelta(minutes=k)  # noqa: E731
    rows = [
        # user 1: events in every batch (two boundary-spanning gaps)
        (0, 1, m(0), "a"), (1, 1, m(30), "b"),
        (2, 1, m(50), "a"), (3, 1, m(170), "c"),
        # user 2: absent from the middle batch — one bridge gap
        (4, 2, m(10), "a"), (5, 2, m(180), "b"),
        # user 3: single event — no gap ever
        (6, 3, m(100), "c"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    state, results = str(tmp_path / "st"), str(tmp_path / "res")
    cuts = [m(40), m(160)]
    slices = [
        ev.where(F.col("ts") < cuts[0]),
        ev.where((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.where(F.col("ts") >= cuts[1]),
    ]
    for b, sl in enumerate(slices):
        process_gaps_batch(sl, b, state, results)
    # replay storm: middle batch twice, then the last again
    process_gaps_batch(slices[1], 1, state, results)
    process_gaps_batch(slices[1], 1, state, results)
    process_gaps_batch(slices[2], 2, state, results)

    got = sorted(
        (r.user_id, r.event_type, r.gap_us)
        for r in gaps_final(spark, results).collect()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = sorted(
        (r.user_id, r.event_type, r.gap_us)
        for r in ev.withColumn(
            "gap_us",
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.lag("ts").over(w)),
        )
        .where(F.col("gap_us").isNotNull())
        .collect()
    )
    assert got == want
    # hand-pinned: user 2 bridges the empty middle batch (170 min)
    assert (2, "b", 170 * 60_000_000) in got
    # user 3 emitted nothing
    assert not any(u == 3 for u, _t, _g in got)


def test_gap_and_session_folds_survive_empty_first_batch(spark, tmp_path):
    """An all-empty micro-batch writes a zero-row table (a directory
    with NO batch_id= partitions); the next batch's state read and
    the final views must treat that as empty state, not die on
    UNABLE_TO_INFER_SCHEMA (review finding)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dask_traj_spark.streaming.ingest import (
        gaps_final,
        process_gaps_batch,
        process_sessions_batch,
        sessions_final,
    )

    t0 = dt.datetime(2024, 5, 1)
    ev = spark.createDataFrame(
        [
            (0, 1, t0 + dt.timedelta(minutes=5), "a"),
            (1, 1, t0 + dt.timedelta(minutes=9), "b"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    empty = ev.where(F.lit(False))

    st, res = str(tmp_path / "gst"), str(tmp_path / "gres")
    process_gaps_batch(empty, 0, st, res)       # poisonous before the fix
    process_gaps_batch(ev, 1, st, res)
    gaps = gaps_final(spark, res).collect()
    assert [(r.user_id, r.gap_us) for r in gaps] == [(1, 4 * 60_000_000)]
    # a gap stream that never emitted is an empty table, not an error
    st2, res2 = str(tmp_path / "gst2"), str(tmp_path / "gres2")
    process_gaps_batch(empty, 0, st2, res2)
    assert gaps_final(spark, res2).count() == 0

    sst, sres = str(tmp_path / "sst"), str(tmp_path / "sres")
    process_sessions_batch(empty.drop("event_type"), 0, sst, sres)
    process_sessions_batch(ev.drop("event_type"), 1, sst, sres)
    sess = sessions_final(spark, sst, sres, 1).collect()
    assert [(r.user_id, r.n_events) for r in sess] == [(1, 2)]

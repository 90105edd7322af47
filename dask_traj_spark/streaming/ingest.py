"""Structured Streaming: streaming trajectory ingest + windowed /
stateful operators.

The reference is batch-only (SURVEY.md §2.5); streaming is the
deliberate extension (§7.5c): a simulation appends frame-chunk files
while analysis runs continuously. Design:

- **ingest**: ``readStream`` over a directory of coords parquet
  (the same long format as batch — one schema everywhere). Each
  appended file is a micro-batch of whole frames.
- **per-frame aggregates** (COG/COM) are plain streaming groupBy —
  partial+final agg per micro-batch, update mode.
- **event-time windows**: frame `time` (ps) as event time, tumbling
  windows + watermark for late frames.
- **custom stateful ops** via ``applyInPandasWithState`` — e.g. a
  per-atom exponential moving average that carries state across
  micro-batches (the streaming analog of a per-chunk numpy kernel).

Tests drive these with file sources + ``trigger(availableNow)`` +
memory sinks, asserting parity with the batch computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from dask_traj_spark import schemas


def stream_coords(spark: SparkSession, path: str) -> DataFrame:
    """Streaming scan of a directory of coords parquet files
    (schema = batch COORDS_SCHEMA; every appended file becomes a
    micro-batch)."""
    return (
        spark.readStream.schema(schemas.COORDS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def streaming_center_of_geometry(coords: DataFrame) -> DataFrame:
    """Per-frame COG over a coords stream — same plan as the batch
    G6, incrementally maintained (update/complete mode)."""
    return coords.groupBy("frame_id").agg(
        F.avg(F.col("x").cast("double")).alias("x"),
        F.avg(F.col("y").cast("double")).alias("y"),
        F.avg(F.col("z").cast("double")).alias("z"),
    )


def windowed_frame_stats(
    coords: DataFrame,
    frames: DataFrame,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Tumbling event-time windows over frame time with a watermark
    for late frames: join the (streaming) coords to the per-frame
    time dimension, window on a timestamp derived from `time` ps.

    frames: static dimension (frame_id, time) — a stream-static join
    (broadcast), allowed before a streaming aggregation.
    """
    ts = F.timestamp_seconds(F.col("time"))
    with_ts = coords.join(F.broadcast(frames), "frame_id").withColumn("ts", ts)
    return (
        with_ts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.approx_count_distinct("frame_id").alias("n_frames"),
            F.avg(F.col("x").cast("double")).alias("mean_x"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_frames",
            "mean_x",
        )
    )


# ------------------------------------------------------- stateful op

EMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ema_x", T.DoubleType()),
        T.StructField("ema_y", T.DoubleType()),
        T.StructField("ema_z", T.DoubleType()),
    ]
)

EMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("atom_id", T.IntegerType()),
        T.StructField("frame_id", T.LongType()),
        T.StructField("ema_x", T.DoubleType()),
        T.StructField("ema_y", T.DoubleType()),
        T.StructField("ema_z", T.DoubleType()),
    ]
)


def streaming_position_ema(coords: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Per-atom exponential moving average of position, state carried
    across micro-batches with ``applyInPandasWithState`` — the custom
    stateful operator pattern (watermark-free, GroupStateTimeout
    none; keyed by atom_id).

    Emits one row per (atom, frame) with the EMA *after* that frame,
    processing each group's rows in frame order.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        (atom_id,) = key
        if state.exists:
            ema_x, ema_y, ema_z = state.get
        else:
            ema_x = ema_y = ema_z = None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("frame_id")
            for row in pdf.itertuples(index=False):
                if ema_x is None:
                    ema_x, ema_y, ema_z = float(row.x), float(row.y), float(row.z)
                else:
                    ema_x = alpha * float(row.x) + (1 - alpha) * ema_x
                    ema_y = alpha * float(row.y) + (1 - alpha) * ema_y
                    ema_z = alpha * float(row.z) + (1 - alpha) * ema_z
                out.append((atom_id, row.frame_id, ema_x, ema_y, ema_z))
        state.update((ema_x, ema_y, ema_z))
        yield pd.DataFrame(
            out, columns=["atom_id", "frame_id", "ema_x", "ema_y", "ema_z"]
        )

    return coords.groupBy("atom_id").applyInPandasWithState(
        update,
        outputStructType=EMA_OUTPUT_SCHEMA,
        stateStructType=EMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ----------------------------------------------- event-stream demo


ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("right_ts", T.LongType()),
        T.StructField("right_id", T.LongType()),
        T.StructField("right_val", T.DoubleType()),
    ]
)

ASOF_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("left_ts", T.LongType()),
        T.StructField("left_id", T.LongType()),
        T.StructField("matched_ts", T.LongType()),
        T.StructField("matched_id", T.LongType()),
        T.StructField("matched_val", T.DoubleType()),
    ]
)


def streaming_asof_enrich(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
) -> DataFrame:
    """Streaming as-of enrichment join: every ``left_type`` event is
    tagged with the key's most recent ``right_type`` event at-or-
    before it — the streaming twin of ``operators/asof.asof_join``.

    State per key = the latest right event seen (carried across
    micro-batches via ``applyInPandasWithState``). Within a batch
    both sides are merged in timestamp order, so intra-batch
    ordering is exact; ACROSS batches the join is correct when
    micro-batches arrive in source order (the file/Kafka offset
    order), which is the processing-time contract of a state-machine
    enrichment join — a watermark-buffered variant would trade
    latency for full event-time ordering.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            r_ts, r_id, r_val = state.get
        else:
            r_ts = r_id = r_val = None
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for row in pdf.itertuples(index=False):
                if row.event_type == right_type:
                    r_ts, r_id, r_val = (
                        int(row.ts_us),
                        int(row.event_id),
                        float(row.value),
                    )
                elif row.event_type == left_type:
                    out.append(
                        (user_id, int(row.ts_us), int(row.event_id),
                         r_ts, r_id, r_val)
                    )
        if r_ts is not None:
            state.update((r_ts, r_id, r_val))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "left_ts", "left_id",
                "matched_ts", "matched_id", "matched_val",
            ],
        )

    keyed = events.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "event_type",
        "value",
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session windows (gap-based, dynamic length) via the
    native ``session_window`` streaming aggregate — the streaming
    twin of the batch e2 sessionization (lag/sum window form). State
    is a per-(user, open-session) aggregate that merges as events
    arrive and finalizes once the watermark passes the session gap.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(F.col("ts"), gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_event_window_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Windowed per-type event counts with late-data watermark over
    the TESTDATA events stream (ts TIMESTAMP, event_type STRING)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_dedup_events(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup of an at-least-once event feed keyed by
    ``event_id`` — the streaming twin of the batch d1 exact dedup.
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until
    the watermark passes the first sighting, so state is bounded by
    (event rate × watermark), not by stream history — the property
    that makes this run forever at 100 TB/day where a plain
    ``dropDuplicates`` would accumulate unbounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def streaming_view_purchase_join(
    views: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a view by
    the same user within ``within`` (view first). Both sides are
    watermarked and the join condition carries the time bound, so
    each side's buffered state is evictable once the other side's
    watermark passes — bounded state, no full-stream buffering.
    Output: one row per (view, purchase) attribution pair."""
    v = views.withWatermark("ts", watermark).select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        "purchase_value",
    )


def stream_coords_to_bucketed(
    spark: SparkSession,
    src_path: str,
    table: str,
    checkpoint: str,
    n_buckets: int = 32,
    key: str = "atom_id",
):
    """The 100 TB ingest loop, end to end: a streaming coords scan
    written micro-batch by micro-batch into the hash-bucketed table
    via ``foreachBatch`` → ``overwrite_coords_bucketed_batch``. Each
    batch pays its one bucket-shuffle on arrival, so the table is
    always query-ready with the zero-exchange per-atom plans;
    fragmentation accrues per batch and ``compact_bucketed``
    (sources/bucketed.py) restores one-file-per-bucket out of band.

    Exactly-once across restarts AND mid-batch crashes: the sink
    partitions the table by ``batch_id`` and every write is a dynamic
    partition overwrite of that batch's partition, so a replay of a
    half-committed batch replaces its own files instead of appending
    duplicates (checkpoint replays re-present the same batch_id —
    Spark's foreachBatch contract).

    Returns the StreamingQuery (caller awaits/stops)."""
    from dask_traj_spark.sources.bucketed import overwrite_coords_bucketed_batch

    stream = stream_coords(spark, src_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_coords_bucketed_batch(
            batch_df, table, batch_id, n_buckets=n_buckets, key=key
        )
        # foreachBatch runs in a cloned session whose SessionState
        # (and relation cache) is separate from the parent's, so an
        # append through the clone leaves the parent session's cached
        # file listing stale — readers keep seeing the pre-batch
        # table. Refresh through the PARENT session (write_batch runs
        # driver-side, so the closure capture is safe).
        spark.catalog.refreshTable(table)

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def streaming_distances(
    coords: DataFrame, atom_pairs, periodic_box=None
) -> DataFrame:
    """The G1 distance operator on a coords STREAM — the batch
    vectorized form's frame-block map and kernel
    (``operators/kernels.py::distances_np``) and output schema,
    running stateless per micro-batch in append mode.  Contract (the
    packed feed's): each streamed file holds whole frames in
    (frame_id, atom_id) order; a frame may cross Arrow batches.
    ``periodic_box``: optional (3,3) ndarray applied to every frame
    (streams carry no unitcell table); None = no MIC."""
    import numpy as np

    from dask_traj_spark.operators.distance import _long_rows, _map_index_blocks
    from dask_traj_spark.operators.kernels import distances_np
    from dask_traj_spark.trajectory import Trajectory

    arr = np.asarray(list(atom_pairs), dtype=np.int32).reshape(-1, 2)
    box1 = is_ortho = None
    if periodic_box is not None:
        box1 = np.asarray(periodic_box, dtype=np.float64).reshape(1, 3, 3)
        # orthogonality decided once driver-side (G8 branch)
        off = np.abs(box1[0]) - np.diag(np.diag(box1[0]))
        is_ortho = bool((np.abs(off) < 1e-9).all())

    def kernel(fids, xyz, _box, _ortho, p, first):
        box = ortho = None
        if box1 is not None:
            box = np.broadcast_to(box1, (len(fids), 3, 3))
            ortho = np.full(len(fids), is_ortho)
        d = distances_np(xyz, p[:, 0], p[:, 1], box, ortho)
        return _long_rows(fids, "pair_id", first, len(p), dist=d.ravel())

    return _map_index_blocks(
        Trajectory(coords, packed=True), arr, kernel,
        schemas.DISTANCES_SCHEMA, periodic=False,
    )


# ----------------------------------------------------- incremental
# windowed event counts (the streaming twin of e1) — per-batch
# mergeable partials in a batch_id-partitioned state table, the same
# exactly-once construction as streaming/dedup.py's exact dedup: a
# partial depends only on its OWN batch's rows and dynamic partition
# overwrite replaces the partition wholesale on crash-replay.


def process_window_counts_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str
) -> None:
    """foreachBatch body for incremental hourly windowed event
    counts: write this batch's partial (window_start, event_type,
    n, total_cents) into the ``batch_id`` partition of the state
    table.  The count/sum partial is associative, so the merged
    state equals the batch answer regardless of how events were
    split across micro-batches.

    100-TB posture: each micro-batch does one partial agg keyed on
    (hour, event_type) — bounded state (windows × types), no
    per-event state rows; replay rewrites one partition."""
    from dask_traj_spark.streaming.dedup import _overwrite_batch_partition

    partial = batch_df.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("total_cents"),
    )
    _overwrite_batch_partition(partial, state_dir, batch_id)


def window_counts_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged windowed-count view over every batch partial —
    identical to the one-pass batch aggregation (gated by sx3
    against e1's value oracle)."""
    st = spark.read.parquet(state_dir).drop("batch_id")
    return st.groupBy("window_start", "event_type").agg(
        F.sum("n").alias("n"), F.sum("total_cents").alias("total_cents")
    )


# ----------------------------------------------------- incremental
# sessionization (the streaming twin of e2) — unlike the associative
# count/dedup partials above, gap-based sessions are ORDER-DEPENDENT:
# a micro-batch's first per-user session may merge into the session
# left open by the previous batch.  The exactly-once story is a
# VERSIONED state fold: state_N = f(state_{N-1}, batch_N), written as
# partition batch_id=N — replaying batch N re-reads the untouched
# state_{N-1} partition and rewrites identical outputs (dynamic
# partition overwrite), so a crash between commit points cannot
# double-merge or renumber.  Batches must be event-time-ordered
# slices (the shape a watermarked stream delivers); equal-timestamp
# events may split across adjacent slices freely because the merge
# decision depends only on timestamp gaps.

_SESS_GAP_US = 1_800_000_000  # 30 min, matching e2


def _read_versioned_table(
    spark: SparkSession, table_dir: str, schema: str
) -> DataFrame | None:
    """Read a batch_id-partitioned fold table, or None when the table
    holds no partitions yet.  Probe existence AND population
    explicitly (Hadoop FS API — works on hdfs/s3a/file alike, same
    rule as prune_state_versions): a genuinely absent dir means "no
    table" (first batch), and so does a dir WITHOUT any batch_id=
    partition — an all-empty micro-batch's zero-row write creates
    exactly that shape, and spark.read.parquet on it raises
    UNABLE_TO_INFER_SCHEMA (session-6 review finding: an empty FIRST
    batch otherwise poisoned the fold for every later batch).  Any
    OTHER read failure must propagate — swallowing a transient read
    error would silently restart the fold with no carried state and
    corrupt the exactly-once guarantee (ADVICE r4 medium).

    ``schema`` lists the DATA columns (the ``batch_id`` partition
    column is appended here) and is applied to the read, so a state
    dir whose files drifted in TYPE fails loudly at the read instead
    of propagating a mis-typed fold (ADVICE r10).  NAME drift is
    checked explicitly first (footer-only inferred read): a pinned
    schema would otherwise fill a missing/renamed column with NULLs
    and silently corrupt the fold — the exact failure mode the old
    inferred read surfaced as an AnalysisException downstream."""
    sc = spark.sparkContext
    path = sc._jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return None
    visible = [
        st.getPath().getName()
        for st in fs.listStatus(path)
        if not st.getPath().getName().startswith(("_", "."))
    ]
    if not visible:
        # only commit markers (_SUCCESS) — the footprint of an
        # all-empty write; genuinely no state
        return None
    # anything else (batch_id= partitions OR unexpected content) goes
    # through spark.read.parquet, so corrupt state still RAISES
    # (ADVICE r4: never silently restart a fold on a read error).
    # Parse the DDL properly (str.split(',') breaks on nested generics
    # like array<struct<a:int,b:int>> — ADVICE r11 low) and check
    # batch_id too: a dir of plain non-partitioned parquet has no
    # batch_id column, and the pinned read would NULL-fill it so
    # where(batch_id == version) silently restarts the fold with no
    # carried state (ADVICE r11 medium).
    declared = T.StructType.fromDDL(schema).fieldNames() + ["batch_id"]
    found = set(spark.read.parquet(table_dir).columns)
    missing = [c for c in declared if c not in found]
    if missing:
        raise ValueError(
            f"versioned table {table_dir} is missing declared state "
            f"column(s) {missing} (found {sorted(found)}): refusing "
            f"to fold against NULL-filled state"
        )
    return spark.read.schema(f"{schema}, batch_id int").parquet(table_dir)


def _read_session_state(spark: SparkSession, state_dir: str, version: int):
    schema = (
        "user_id long, open_no long, p_first long, p_last long, p_n long"
    )
    if version < 0:
        return spark.createDataFrame([], schema)
    st = _read_versioned_table(spark, state_dir, schema)
    if st is None:
        return spark.createDataFrame([], schema)
    return st.where(F.col("batch_id") == version).drop("batch_id")


def process_sessions_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    results_dir: str,
    gap_s: int = 1800,
) -> None:
    """One time-sliced micro-batch of incremental gap sessionization:
    sessionize the batch locally (one user-keyed window), stitch its
    first per-user session onto the open tail from state version
    ``batch_id−1`` when the gap allows, emit every session that can
    no longer grow, and write state version ``batch_id`` (open tail
    per user, absent users carried forward).

    Close-is-final argument: batches are time-ordered, so a user's
    earliest event in this batch is the earliest they will EVER have
    again — if it does not merge into the open tail, no later event
    can (gaps only grow).  Sessions other than the per-user last one
    are closed by the session that follows them in-batch.

    100-TB posture: one window + one agg keyed on user_id per batch,
    state is one row per user (join keyed on user_id); old state
    versions are replay insurance — prune versions < N−1 on commit
    in a production loop."""
    from dask_traj_spark.streaming.dedup import _overwrite_batch_partition
    from pyspark.sql import Window

    spark = batch_df.sparkSession
    gap_us = int(gap_s) * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_sess = F.when(
        prev_ts.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)) > gap_us),
        1,
    ).otherwise(0)
    local = batch_df.select("user_id", "ts", "event_id").withColumn(
        "ls",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    lsess = local.groupBy("user_id", "ls").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n"),
    )
    wk = Window.partitionBy("user_id")
    prev = _read_session_state(spark, state_dir, batch_id - 1)
    j = lsess.withColumn("k_max", F.max("ls").over(wk)).join(
        prev, "user_id", "left"
    )
    has_prev = F.col("open_no").isNotNull()
    merged1 = F.coalesce(
        has_prev
        & (F.col("ls") == 1)
        & ((F.col("first_us") - F.col("p_last")) <= gap_us),
        F.lit(False),
    )
    adj = j.withColumns(
        {
            "m1": merged1,
            "um": F.coalesce(
                F.max(merged1.cast("int")).over(wk) == 1, F.lit(False)
            ),
            "hp": has_prev,
        }
    ).withColumns(
        {
            "sess_no": (
                F.coalesce("open_no", F.lit(0))
                + F.col("ls")
                - F.col("um").cast("long")
            ),
            "a_first": F.when(F.col("m1"), F.col("p_first")).otherwise(
                F.col("first_us")
            ),
            "a_n": F.when(F.col("m1"), F.col("n") + F.col("p_n")).otherwise(
                F.col("n")
            ),
        }
    )
    closed_local = adj.where(F.col("ls") < F.col("k_max")).select(
        "user_id",
        "sess_no",
        F.col("a_first").alias("first_us"),
        "last_us",
        F.col("a_n").alias("n"),
    )
    prev_closed = adj.where(
        (F.col("ls") == 1) & F.col("hp") & ~F.col("um")
    ).select(
        "user_id",
        F.col("open_no").alias("sess_no"),
        F.col("p_first").alias("first_us"),
        F.col("p_last").alias("last_us"),
        F.col("p_n").alias("n"),
    )
    _overwrite_batch_partition(
        closed_local.unionByName(prev_closed), results_dir, batch_id
    )
    tails = adj.where(F.col("ls") == F.col("k_max")).select(
        "user_id",
        F.col("sess_no").alias("open_no"),
        F.col("a_first").alias("p_first"),
        F.col("last_us").alias("p_last"),
        F.col("a_n").alias("p_n"),
    )
    carried = prev.join(
        lsess.select("user_id").distinct(), "user_id", "left_anti"
    )
    _overwrite_batch_partition(
        tails.unionByName(carried), state_dir, batch_id
    )


def sessions_final(
    spark: SparkSession, state_dir: str, results_dir: str, last_batch_id: int
) -> DataFrame:
    """End-of-stream session view: every closed session plus the
    still-open tails from the last state version — identical to the
    batch sessionization of the full corpus (gated by sx4 against
    e2's value oracle).  A stream that never closed a session yields
    only the open tails, not a read error."""
    closed_schema = (
        "user_id long, sess_no long, first_us long, last_us long, n long"
    )
    closed = _read_versioned_table(spark, results_dir, closed_schema)
    closed = (
        spark.createDataFrame([], closed_schema)
        if closed is None
        else closed.drop("batch_id")
    )
    opens = _read_session_state(spark, state_dir, last_batch_id).select(
        "user_id",
        F.col("open_no").alias("sess_no"),
        F.col("p_first").alias("first_us"),
        F.col("p_last").alias("last_us"),
        F.col("p_n").alias("n"),
    )
    out = closed.unionByName(opens)
    return out.select(
        "user_id",
        F.col("sess_no").alias("session_no"),
        F.col("n").alias("n_events"),
        F.expr("(last_us - first_us) div 1000000").alias("duration_s"),
    )


def prune_state_versions(
    spark: SparkSession, state_dir: str, keep_from: int
) -> int:
    """Delete state-version partitions older than ``keep_from`` from a
    versioned fold's state table (the replay-insurance versions the
    sessionization loop accumulates — see ``process_sessions_batch``).
    Keeping version N−1 is enough to replay batch N; anything older
    is dead weight.  Returns the number of versions removed.

    Implemented with the Hadoop FileSystem API (not local glob), so
    it works on hdfs://, s3a:// and file:// alike — the same
    portability rule ADVICE r3 flagged for state READS."""
    sc = spark.sparkContext
    jvm = sc._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return 0
    removed = 0
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        try:
            version = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if version < keep_from:
            fs.delete(status.getPath(), True)
            removed += 1
    return removed


def _read_gap_state(spark: SparkSession, state_dir: str, version: int):
    schema = "user_id long, p_last long"
    if version < 0:
        return spark.createDataFrame([], schema)
    st = _read_versioned_table(spark, state_dir, schema)
    if st is None:
        return spark.createDataFrame([], schema)
    return st.where(F.col("batch_id") == version).drop("batch_id")


def process_gaps_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    results_dir: str,
) -> None:
    """One time-sliced micro-batch of incremental inter-event gap
    extraction (the streaming twin of e9): within-batch gaps come
    from one user-keyed lag window; each user's FIRST batch event
    stitches onto the carried last-event timestamp from state
    version ``batch_id−1``; state version ``batch_id`` holds one row
    per user (their latest event time, absent users carried
    forward).

    Emit-is-final argument: batches are time-ordered, so every gap
    (a consecutive pair within one user's timeline) is fully
    determined the moment its later event arrives — nothing ever
    reopens, unlike sx4's mergeable session tails.

    Exactly-once: results and state land via the same
    batch-partition OVERWRITE as the other versioned folds, so a
    crash-replay of any batch rewrites its partition bit-identically
    instead of appending duplicates.

    100-TB posture: one window + one agg keyed on user_id per batch;
    state is one row per user; old versions are replay insurance
    (prune with :func:`prune_state_versions`)."""
    from pyspark.sql import Window

    from dask_traj_spark.streaming.dedup import _overwrite_batch_partition

    spark = batch_df.sparkSession
    ev = batch_df.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    loc = ev.withColumn("prev_us", F.lag("us").over(w))
    prev = _read_gap_state(spark, state_dir, batch_id - 1)
    j = loc.join(prev, "user_id", "left")
    gap = F.coalesce(F.col("prev_us"), F.col("p_last"))
    gaps = j.select(
        "user_id",
        "event_type",
        (F.col("us") - gap).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    _overwrite_batch_partition(gaps, results_dir, batch_id)
    tails = loc.groupBy("user_id").agg(F.max("us").alias("p_last"))
    carried = prev.join(
        ev.select("user_id").distinct(), "user_id", "left_anti"
    )
    _overwrite_batch_partition(
        tails.unionByName(carried), state_dir, batch_id
    )


def gaps_final(spark: SparkSession, results_dir: str) -> DataFrame:
    """End-of-stream gap table: every (user_id, event_type, gap_us)
    emitted across all batches — identical to the one-pass batch lag
    computation of the full corpus (gated by sx12 against e9's value
    oracle after the shared per-type rollup).  A stream whose every
    batch emitted zero gaps yields the empty table, not a read
    error."""
    schema = "user_id long, event_type string, gap_us long"
    t = _read_versioned_table(spark, results_dir, schema)
    if t is None:
        return spark.createDataFrame([], schema)
    return t.drop("batch_id")

"""Frame-similarity search: per-frame RMSD to a query frame, and
top-k most-similar frames (SURVEY.md §7.5b — the REPOSE-style
trajectory similarity extension; the reference itself has no RMSD,
its users escape-hatch through ``to_mdtraj``).

Semantics: translation-removed RMSD (both frames centered on their
centroid), no rotational superposition —

    rmsd(f, q) = sqrt( mean_i |(r_fi − c_f) − (r_qi − c_q)|² )

which decomposes into per-frame sufficient statistics:

    rmsd² = mean|r_fi|² − |c_f|² + mean|r_qi|² − |c_q|²
            − 2·(mean_i⟨r_fi, r_qi⟩ − ⟨c_f, c_q⟩)

so the whole computation is TWO aggregations over the fact table
(one per-frame self-statistics pass, one broadcast-join dot-product
pass) — no wide rows, no UDF, shuffle = partial+final aggs keyed on
frame_id. With 2^-12 coordinate quantization every aggregated term
is exact in double, making the operator oracle-gateable.

``rmsd_topk`` adds the deterministic (rmsd asc, frame_id asc) top-k
— distributed top-k via one tiny window over n_frames rows.

For rotation-aligned (Kabsch) RMSD, the vectorized path is the
frame-block ``mapInArrow`` map over packed frames
(``distance.map_frame_blocks``); provided as ``frame_rmsd_aligned``
with the 3×3 SVD per frame in numpy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from dask_traj_spark.session import shared_broadcast

QGRID = 4096.0


def _q(col):
    return F.round(F.col(col).cast("double") * QGRID, 0) / QGRID


def frame_rmsd(traj, query_frame: int) -> DataFrame:
    """(frame_id, rmsd) — centered RMSD of every frame to
    ``query_frame``, exact-arithmetic formulation."""
    c = traj.coords.select("frame_id", "atom_id", _q("x").alias("x"),
                           _q("y").alias("y"), _q("z").alias("z"))
    qf = F.broadcast(
        c.where(F.col("frame_id") == query_frame).select(
            "atom_id",
            F.col("x").alias("qx"),
            F.col("y").alias("qy"),
            F.col("z").alias("qz"),
        )
    )
    j = c.join(qf, "atom_id")
    per_frame = j.groupBy("frame_id").agg(
        F.avg(F.col("x") * F.col("x") + F.col("y") * F.col("y") + F.col("z") * F.col("z")).alias("m_ff"),
        F.avg(F.col("qx") * F.col("qx") + F.col("qy") * F.col("qy") + F.col("qz") * F.col("qz")).alias("m_qq"),
        F.avg(F.col("x") * F.col("qx") + F.col("y") * F.col("qy") + F.col("z") * F.col("qz")).alias("m_fq"),
        F.avg("x").alias("cx"), F.avg("y").alias("cy"), F.avg("z").alias("cz"),
        F.avg("qx").alias("qcx"), F.avg("qy").alias("qcy"), F.avg("qz").alias("qcz"),
    )
    d2 = (
        F.col("m_ff") - (F.col("cx") * F.col("cx") + F.col("cy") * F.col("cy") + F.col("cz") * F.col("cz"))
        + F.col("m_qq") - (F.col("qcx") * F.col("qcx") + F.col("qcy") * F.col("qcy") + F.col("qcz") * F.col("qcz"))
        - 2 * (F.col("m_fq") - (F.col("cx") * F.col("qcx") + F.col("cy") * F.col("qcy") + F.col("cz") * F.col("qcz")))
    )
    return per_frame.select(
        "frame_id", F.sqrt(F.greatest(d2, F.lit(0.0))).alias("rmsd")
    )


def rmsd_topk(traj, query_frame: int, k: int = 5) -> DataFrame:
    """k most-similar frames to ``query_frame`` (excluding itself),
    deterministic tie-break (rmsd asc, frame_id asc)."""
    r = frame_rmsd(traj, query_frame).where(F.col("frame_id") != query_frame)
    # Distributed top-k: orderBy+limit compiles to TakeOrderedAndProject
    # (per-partition heaps); the rank window then covers only k rows.
    # A bare Window.orderBy over all frames would single-partition the
    # whole per-frame result at large n_frames.
    order = [F.col("rmsd").asc(), F.col("frame_id").asc()]
    top = r.orderBy(*order).limit(k)
    return top.select(
        "frame_id",
        "rmsd",
        F.row_number().over(Window.orderBy(*order)).cast("int").alias("rank"),
    )


def _query_frame(traj, query_frame: int):
    """Centered float64 (n_atoms, 3) coordinates of ``query_frame``,
    atom-sorted — the order the packed feed delivers every frame in."""
    import numpy as np

    qpdf = (
        traj.coords.where(F.col("frame_id") == query_frame)
        .orderBy("atom_id")
        .toPandas()
    )
    q = qpdf[["x", "y", "z"]].to_numpy(dtype=np.float64)
    return q - q.mean(axis=0, keepdims=True)


def _kabsch(p, qc):
    """Center ``p`` (float64 copy) and return it with the Kabsch SVD
    of its covariance with the centered query: (p, u, s, vt, d) with
    d = sign(det(U·Vᵀ)), the reflection guard."""
    import numpy as np

    p = p.astype(np.float64)
    p -= p.mean(axis=0, keepdims=True)
    u, s, vt = np.linalg.svd(p.T @ qc)
    return p, u, s, vt, np.sign(np.linalg.det(u @ vt))


def frame_rmsd_aligned(traj, query_frame: int) -> DataFrame:
    """Rotation-aligned (Kabsch) RMSD per frame — the vectorized
    path: packed frames → numpy SVD per frame. Float32 kernel, no
    SQL oracle (transcendental-heavy); differential-tested against a
    driver-side numpy reference."""
    import numpy as np

    from dask_traj_spark.operators.distance import map_frame_blocks

    q = _query_frame(traj, query_frame)

    def kernel(fids, xyz, _box, _ortho, qc):
        out = np.empty(len(fids), dtype=np.float64)
        for i in range(len(fids)):
            p, _, s, _, d = _kabsch(xyz[i], qc)
            # optimal-rotation residual via singular values
            s[-1] *= d
            msd = ((p ** 2).sum() + (qc ** 2).sum() - 2 * s.sum()) / len(qc)
            out[i] = np.sqrt(max(msd, 0.0))
        return {"frame_id": fids, "rmsd": out}

    return map_frame_blocks(traj, kernel, "frame_id long, rmsd double", const=q)


def superpose(traj, query_frame: int) -> DataFrame:
    """Kabsch superposition TRANSFORM: rigidly align every frame onto
    ``query_frame`` (optimal rotation after centroid removal) and
    return the transformed coordinates (frame_id, atom_id, x, y, z
    FLOAT) — the coordinate-mutating counterpart of
    ``frame_rmsd_aligned`` (same public API shape as mdtraj
    ``Trajectory.superpose``).  Runs as one ``mapInArrow`` over
    packed frames: per frame an SVD of the 3×3 covariance, with the
    det(U·Vᵀ) reflection guard, then one matmul over the frame's
    atoms.  The query frame maps onto its own
    centered coordinates.  Contract gate: the plain (unaligned) RMSD
    of the output against the centered query equals
    ``frame_rmsd_aligned`` of the input (x7)."""
    import numpy as np

    from dask_traj_spark.operators.distance import (
        _arrow_schema,
        _block_arrays,
        _block_cap,
        _frame_blocks,
        _record_batch,
    )

    q = _query_frame(traj, query_frame)
    b_q = shared_broadcast(traj.spark.sparkContext, q)

    # its own loop, not map_frame_blocks: the transform re-emits each
    # row's atom_id, so its feed carries atom_id past the kernel
    packed = traj.frame_packed().select("frame_id", "atom_id", "x", "y", "z")
    schema = "frame_id long, atom_id int, x float, y float, z float"
    out_schema = _arrow_schema(schema)
    cap = _block_cap(traj.spark)

    def gen(batches):
        qc = b_q.value
        for block in _frame_blocks(batches, cap):
            fids, xyz, _, _ = _block_arrays(block, None)
            aligned = np.empty(xyz.shape, dtype=np.float32)
            for i in range(len(fids)):
                p, u, _, vt, d = _kabsch(xyz[i], qc)
                aligned[i] = p @ (u @ np.diag([1.0, 1.0, d]) @ vt)
            yield _record_batch(
                {
                    "frame_id": block["frame_id"],
                    "atom_id": block["atom_id"],
                    "x": aligned[..., 0].ravel(),
                    "y": aligned[..., 1].ravel(),
                    "z": aligned[..., 2].ravel(),
                },
                out_schema,
            )

    return packed.mapInArrow(gen, schema)


def compute_rmsf(traj) -> DataFrame:
    """Per-atom root-mean-square fluctuation about the atom's mean
    position over all frames → (atom_id, rmsf DOUBLE):

        rmsf_i = sqrt( mean_t |r_i(t) − ⟨r_i⟩|² )
               = sqrt( E[x²+y²+z²] − (E[x]² + E[y]² + E[z]²) )

    computed from sufficient statistics in ONE partial+final
    aggregation keyed on atom_id — no mean-position join-back, no
    second pass over the coords.  With 2^-12-quantized coordinates
    every aggregated sum is exact in double, so the partial-agg
    merge order cannot perturb the value (the oracle-gate
    requirement).  Beyond-reference (the reference has no RMSF;
    mdtraj's ``compute_rmsf`` is the public API shape matched —
    reference users escape-hatch through ``to_mdtraj``).

    100-TB posture: shuffle = one hash partial+final agg on atom_id
    (n_atoms keys ≪ n_rows); no window, no driver collect.
    """
    c = traj.coords.select("frame_id", "atom_id", _q("x").alias("x"),
                           _q("y").alias("y"), _q("z").alias("z"))
    x, y, z = F.col("x"), F.col("y"), F.col("z")
    agg = c.groupBy("atom_id").agg(
        F.avg(x * x + y * y + z * z).alias("m_rr"),
        F.avg(x).alias("mx"), F.avg(y).alias("my"), F.avg(z).alias("mz"),
    )
    m = F.col("m_rr") - (
        F.col("mx") * F.col("mx")
        + F.col("my") * F.col("my")
        + F.col("mz") * F.col("mz")
    )
    return agg.select(
        "atom_id", F.sqrt(F.greatest(m, F.lit(0.0))).alias("rmsf")
    )


def pairwise_rmsd(traj) -> DataFrame:
    """All-pairs (i < j) centered unaligned frame RMSD → (frame_i,
    frame_j, rmsd) — the distance matrix trajectory clustering
    consumes (mdtraj users compute it by looping ``md.rmsd`` over
    query frames; one relational plan here).

    Formulation: rmsd²(i,j) = (m_ii − |c_i|²) + (m_jj − |c_j|²)
    − 2(m_ij − c_i·c_j), with per-frame stats from ONE scan and the
    cross term m_ij from one atom-keyed self-join — all inputs on
    the 2^-12 grid, so every aggregate is an exact dyadic sum
    (oracle-matchable bit-for-bit).

    Scale: the self-join shuffles on atom_id once and emits
    n_frames²/2 aggregates from an n_atoms-fold row-amplified join —
    fine for the usual clustering regime (≲10³ frames; measured
    idle local[32], 100 atoms: 4.3 s at 1000 frames, 230.9 s at
    4000).  Past that use :func:`pairwise_rmsd_blocked` (same
    values bit-for-bit; 11.3 s at 4000 frames — 20×); this SQL
    form is its exact-arithmetic reference."""
    c = traj.coords.select(
        "frame_id", "atom_id",
        _q("x").alias("x"), _q("y").alias("y"), _q("z").alias("z"),
    )
    per = c.groupBy("frame_id").agg(
        F.avg(F.col("x") * F.col("x") + F.col("y") * F.col("y")
              + F.col("z") * F.col("z")).alias("m"),
        F.avg("x").alias("cx"), F.avg("y").alias("cy"), F.avg("z").alias("cz"),
    )
    a = c.select(
        F.col("frame_id").alias("frame_i"), "atom_id",
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("z").alias("az"),
    )
    b = c.select(
        F.col("frame_id").alias("frame_j"), "atom_id",
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("z").alias("bz"),
    )
    cross = (
        a.join(b, "atom_id")
        .where(F.col("frame_i") < F.col("frame_j"))
        .groupBy("frame_i", "frame_j")
        .agg(
            F.avg(
                F.col("ax") * F.col("bx") + F.col("ay") * F.col("by")
                + F.col("az") * F.col("bz")
            ).alias("m_ij")
        )
    )
    pi = per.select(
        F.col("frame_id").alias("frame_i"), F.col("m").alias("m_ii"),
        F.col("cx").alias("cix"), F.col("cy").alias("ciy"), F.col("cz").alias("ciz"),
    )
    pj = per.select(
        F.col("frame_id").alias("frame_j"), F.col("m").alias("m_jj"),
        F.col("cx").alias("cjx"), F.col("cy").alias("cjy"), F.col("cz").alias("cjz"),
    )
    d2 = (
        F.col("m_ii")
        - (F.col("cix") * F.col("cix") + F.col("ciy") * F.col("ciy")
           + F.col("ciz") * F.col("ciz"))
        + F.col("m_jj")
        - (F.col("cjx") * F.col("cjx") + F.col("cjy") * F.col("cjy")
           + F.col("cjz") * F.col("cjz"))
        - 2 * (
            F.col("m_ij")
            - (F.col("cix") * F.col("cjx") + F.col("ciy") * F.col("cjy")
               + F.col("ciz") * F.col("cjz"))
        )
    )
    return (
        cross.join(F.broadcast(pi), "frame_i")
        .join(F.broadcast(pj), "frame_j")
        .select(
            "frame_i", "frame_j",
            F.sqrt(F.greatest(d2, F.lit(0.0))).alias("rmsd"),
        )
    )


def pairwise_rmsd_blocked(traj, block: int = 1024) -> DataFrame:
    """All-pairs centered unaligned frame RMSD via the BLOCKED GRAM
    matmul — the beyond-10³-frames physical shape the :func:`pairwise_rmsd`
    docstring names (that SQL form is this operator's exact-arithmetic
    reference; both are gated against the same oracle).

    Shape: frames are grouped into ``block``-frame tiles by
    ``frame_id // block``; the tiny tile table self-joins into the
    (bi ≤ bj) tile-pair list (broadcast); each coordinate row ships to
    its tile's pair tasks (the blocked gram's inherent ~n/block-fold
    replication, bounded by the tile count); ONE hash shuffle groups
    the two tiles of each pair, and a vectorized ``applyInPandas``
    computes the tile-pair gram as a dense float64 matmul, emitting
    only i < j rows.  Per-task memory is 2 tiles × 3·n_atoms doubles
    (12 MB at block=1024, n_atoms=500) regardless of n_frames, and
    task count is (n/block)²/2 — the quadratic lives in embarrassingly
    parallel dense matmuls, never in a row-explosion join.  Measured
    crossover vs the SQL form (idle local[32], 100 atoms): SQL wins
    at 1000 frames (4.3 s vs 9.6 s — fixed Python/Arrow overheads
    dominate), blocked wins 20× at 4000 (11.3 s vs 230.9 s), and the
    gap grows quadratically beyond.

    Exactness: inputs are 2^-12-grid quantized, so every matmul sum
    is an exact dyadic value in float64; the per-frame means divide
    each exact sum by n_atoms once and the rmsd² expression mirrors
    the SQL form's operation order — the two paths agree BIT-FOR-BIT
    (pinned by test_rmsd_blocked_matches_sql)."""
    import pandas as pd  # noqa: F401

    c = traj.coords.select(
        "frame_id", "atom_id",
        _q("x").alias("x"), _q("y").alias("y"), _q("z").alias("z"),
        (F.col("frame_id") / F.lit(int(block))).cast("long").alias("blk"),
    )
    # tile-pair list built driver-side: one dimension-scale collect
    # (n_frames/block values — the c4-offsets class of driver state)
    # instead of a tile×tile cartesian in the plan.  The pair count
    # (tiles²/2) IS the task list; all-pairs output is n²/2 rows, so
    # the practical regime (10⁴-10⁶ frames) keeps this ≤ ~10⁵ pairs.
    spark = traj.coords.sparkSession
    tile_ids = sorted(r["blk"] for r in c.select("blk").distinct().collect())
    pairs = spark.createDataFrame(
        [(bi, bj) for bi in tile_ids for bj in tile_ids if bi <= bj],
        "bi long, bj long",
    )
    left = c.join(F.broadcast(pairs), c["blk"] == pairs["bi"]).select(
        "bi", "bj", "frame_id", "atom_id", "x", "y", "z",
        F.lit("a").alias("side"),
    )
    right = c.join(F.broadcast(pairs), c["blk"] == pairs["bj"]).select(
        "bi", "bj", "frame_id", "atom_id", "x", "y", "z",
        F.lit("b").alias("side"),
    )

    def gram(pdf):
        import numpy as np
        import pandas as pd

        out_i, out_j, out_r = [], [], []
        sides = {}
        for side in ("a", "b"):
            part = pdf[pdf["side"] == side].sort_values(["frame_id", "atom_id"])
            fids = part["frame_id"].unique()
            # ragged frames must FAIL LOUDLY: a uniform atom count is
            # what lets rows pivot into a dense matrix — a frame with
            # missing atoms would either crash the reshape or, when
            # counts conspire to divide evenly, silently misalign
            # every row after it
            per = part.groupby("frame_id").size()
            if len(per) and per.nunique() != 1:
                raise ValueError(
                    "pairwise_rmsd_blocked requires a uniform atom count "
                    f"per frame; got counts {sorted(per.unique())}"
                )
            n_at = int(per.iloc[0]) if len(per) else 0
            mat = (
                part[["x", "y", "z"]]
                .to_numpy(np.float64)
                .reshape(len(fids), 3 * max(n_at, 1))
                if n_at
                else np.zeros((0, 3))
            )
            sides[side] = (fids, mat, n_at)
        fi, A, n = sides["a"]
        fj, B, nb = sides["b"]
        if n and nb and n != nb:
            raise ValueError(
                "pairwise_rmsd_blocked: tile atom counts disagree "
                f"({n} vs {nb})"
            )
        if len(fi) and len(fj):
            g = (A @ B.T) / n                       # m_ij, exact sums
            ca = A.reshape(len(fi), n, 3).sum(axis=1) / n   # centroids
            cb = B.reshape(len(fj), n, 3).sum(axis=1) / n
            ma = (A * A).sum(axis=1) / n            # m_ii
            mb = (B * B).sum(axis=1) / n
            # mirror the SQL form's operation order exactly: the
            # matmul/centroid sums above are exact dyadic values, so
            # only the post-division ops can round — associate them
            # as ((((m_ii − |ci|²) + m_jj) − |cj|²) − 2·(m_ij − ci·cj))
            # and build each dot as ((x·x + y·y) + z·z), same as the
            # SQL expression tree
            na2 = ca[:, 0] * ca[:, 0] + ca[:, 1] * ca[:, 1] + ca[:, 2] * ca[:, 2]
            nb2 = cb[:, 0] * cb[:, 0] + cb[:, 1] * cb[:, 1] + cb[:, 2] * cb[:, 2]
            cdot = (
                ca[:, 0][:, None] * cb[:, 0][None, :]
                + ca[:, 1][:, None] * cb[:, 1][None, :]
                + ca[:, 2][:, None] * cb[:, 2][None, :]
            )
            d2 = (ma - na2)[:, None] + mb[None, :]
            d2 = d2 - nb2[None, :]
            d2 = d2 - 2.0 * (g - cdot)
            ii, jj = np.nonzero(fi[:, None] < fj[None, :])
            out_i = fi[ii]
            out_j = fj[jj]
            out_r = np.sqrt(np.maximum(d2[ii, jj], 0.0))
        return pd.DataFrame(
            {"frame_i": out_i, "frame_j": out_j, "rmsd": out_r}
        )

    return (
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(gram, "frame_i long, frame_j long, rmsd double")
    )


# measured crossover between the SQL and blocked pairwise forms
# (idle local[32], 100 atoms; bench_detail.json r7/r8): the SQL
# self-join wins at 1k frames (15.7 s vs 18.3 s — fixed Python/Arrow
# overheads dominate the blocked form there), the blocked gram wins
# 10-20x at 4k (20.6 s vs 230.9 s) and the gap grows quadratically.
# The two forms agree bit-for-bit, so the switch point only trades
# constants; 2048 sits inside the measured 2-3k crossover band.
PAIRWISE_RMSD_CROSSOVER = 2048


def _frame_count_hint(traj) -> int:
    """Frame count for dispatch decisions, as cheaply as possible.

    Order: the Trajectory's exact ``n_frames`` when it is free or
    cheap — cached, read by the loader's frame index, or the count
    of the per-frame dimension table (tiny; seeds the cache) → the
    (max-min+1) frame-id span over coords.  The span is
    a partial min/max aggregate — no shuffle, one scan, vs the exact
    distinct-count's hash-aggregate exchange — and is an UPPER bound
    when frame ids are sparse, which only biases dispatch toward the
    branch that scales (the blocked gram): the safe side to err on at
    scale."""
    if (
        "n_frames" in traj.__dict__
        or traj.index is not None
        or traj._frames is not None
    ):
        return traj.n_frames
    # the span is cached under its OWN key (never as n_frames — it is
    # an upper bound, not the exact count): without the cache every
    # dispatch on a frames-less Trajectory would re-scan the whole
    # coords table for this one decision
    hint = traj.__dict__.get("_nf_span_hint")
    if hint is not None:
        return hint
    row = traj.coords.agg(
        F.min("frame_id").alias("lo"), F.max("frame_id").alias("hi")
    ).first()
    hint = 0 if row["hi"] is None else int(row["hi"]) - int(row["lo"]) + 1
    traj.__dict__["_nf_span_hint"] = hint
    return hint


def pairwise_rmsd_auto(
    traj, block: int = 1024, crossover: int = PAIRWISE_RMSD_CROSSOVER
) -> DataFrame:
    """All-pairs centered unaligned frame RMSD, auto-dispatching
    between the exact-arithmetic SQL self-join (:func:`pairwise_rmsd`)
    and the blocked-gram matmul (:func:`pairwise_rmsd_blocked`) on
    ``traj.n_frames`` — the form a user should reach for unless they
    are pinning a physical plan on purpose.

    Both forms produce BIT-IDENTICAL values (pinned by
    test_rmsd_blocked_matches_sql), so the dispatch threshold is a
    pure performance knob: below ``crossover`` frames the SQL form's
    single atom-keyed shuffle beats the blocked form's fixed
    Python/Arrow overheads; at and above it the quadratic join
    row-amplification loses to embarrassingly parallel dense matmuls.
    The frame count comes from :func:`_frame_count_hint` — cached /
    dimension-table / min-max-span, never a distinct-count scan of
    coords, so the dispatch adds at most one shuffle-free partial
    aggregate before the O(n²) work either branch does (round 8
    measured the old distinct-count prelude as a visible fraction of
    the 4k bench entry)."""
    if _frame_count_hint(traj) < crossover:
        return pairwise_rmsd(traj)
    return pairwise_rmsd_blocked(traj, block=block)

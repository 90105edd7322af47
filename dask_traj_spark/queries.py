"""Driver-contract queries: engine operators + DuckDB oracle SQL.

Every entry here pairs a Spark implementation (running the actual
engine operators from ``operators/``) with an ANSI-SQL oracle that
DuckDB executes on the same parquet tables. The driver compares
row counts, schemas and order-insensitive value hashes — so both
sides must produce **bit-identical** values, not just close ones.

Reproducibility rules used throughout (worth reading before adding
a query):

1. **Deterministic shared input.** The trajectory tables are derived
   from the ``embeddings`` parquet: atom = ``vec_id``, frame f's
   (x,y,z) = embedding elements (3f+1, 3f+2, 3f+3) (1-based in both
   Spark ``element_at`` and DuckDB list indexing). Both engines read
   the identical float32 values.
2. **Dyadic quantization before aggregation.** Coordinates are
   snapped to a 2^-12 grid (``round(x*4096)/4096``). Products and
   sums of grid values are exact in IEEE double, so aggregation
   results are independent of summation order — the only way a
   Spark partial-agg and a DuckDB sequential sum can hash-match.
3. **Exact-rounded ops only** on the value path: + - * / sqrt are
   correctly rounded per IEEE-754 and identical in JVM and DuckDB;
   ``pow`` is not (we never use it). Transcendentals (acos, cos,
   sin) are protected with ``round(x, 6)`` on the final value.
4. **Box constants are dyadic rationals** (1/64 multiples) — exact
   in float32 AND float64, so literal casts agree across engines.
5. Final output columns are BIGINT / DOUBLE / STRING / TIMESTAMP
   only, aliased identically in both implementations.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from dask_traj_spark.trajectory import Trajectory

# ---------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


# The driver scores exactly the first 50 registry entries per round.
# All queries stay registered; _SCORING_TAIL holds the ones rotated
# out of the scored window this round.  The round-by-round rotation
# history (rounds 1-10) lives in NOTES_r11.md SS1; only the live plan
# is kept here.
#
# STALENESS RULE (VERDICT r5 item 4): a query's driver evidence may
# not age past 2 rounds without re-entering the head — hard bound
# for SS2-core operators, best-effort (stalest-first) for extension
# queries once the touched set and never-scored queries are seated.
# New queries outrank re-scores (new-query-first); keep
# len(_QUERIES) - len(_SCORING_TAIL) == 50
# (test_registry.py::test_scoring_window_exactly_full).
#
#   r13 (now, the head): executes the plan written in r12, verbatim
#       (and VERDICT r12 item 7: the seated head is also emitted as
#       HEAD_r13.json so the driver's dropped/newly-failing diff can
#       be joined against rotation instead of reporting ~49 phantom
#       drops every round):
#       (0) no gate is new in r12/r13 (r13 is an optimization round —
#           no new queries), so new-query-first seats nothing;
#       (1) the six r8-green entries deferred from the r12 head
#           (m11b_decode_jpeg_progressive, r8_cube_quantities,
#           r4_running_revenue_window, r6_intersect_status,
#           e4_session_concurrency, m9_frame_diffs) — the stalest
#           evidence in the registry after r12;
#       (2) the full r9-green extension set, stalest-first: d4, e8,
#           x16/x16c, x3, sx1, t15, c4, x5, x20, x22, x21, x19,
#           x6, x7, t9, sx2, sx6, t13, c7, d8, d10 + the r15–r34
#           r-block (36 entries);
#       (3) the remaining 8 slots from the r10-green set,
#           stalest-first: d1, v1, v3, v4, x1, x16b, x2, c2.
#       6 + 36 + 8 = 50 exactly.
#
#   r14 PLAN (seat these first next round, in order):
#       (0) any gate NEW by then (new-query-first);
#       (1) the rest of the r10-green set, stalest-first (t8, sx8,
#           x8, m12, m14, d9, t14, v8, x10, t10, v6, m7, sx3, x11,
#           x12, t11, sx4, e7, x13, c6, x14, m11c, t12, v7, sx5,
#           x17, d14, d11, d15, d12, x18, x15, t16, d13, sx9, c8,
#           t17, c9, sx10, t18, t19, c10 — 42 entries);
#       (2) fill the remaining ~8 slots from the r11-green set in
#           tail order (g1_distances, g8, g2, g3, ...).  The
#           r12/r13-green sets age back in from r15.
_SCORING_TAIL = [
    # ---- last green ROUND 10 (the r13 head took its first 8 —
    #      d1, v1, v3, v4, x1, x16b, x2, c2; the rest age back in
    #      r14 stalest-first)
    "t8_heuristic_filter",
    "sx8_stream_transition_counts_twin",
    "x8_dihedrals",
    "m12_sniff_kind",
    "m14_video_codec_mix",
    "d9_url_canonical_dedup",
    "t14_count_min_heavy_hitters",
    "v8_ivf_pq_recall",
    "x10_rmsf",
    "t10_pii_scrub",
    "v6_kmeans_contract",
    "m7_resize_bmp",
    "sx3_stream_window_counts_twin",
    "x11_hbond_geometric",
    "x12_vacf",
    "t11_lexical_diversity",
    "sx4_stream_sessionization_twin",
    "e7_burst_detection",
    "x13_gyration_tensor",
    "c6_dataset_split",
    "x14_native_contacts",
    "m11c_decode_jpeg_arith",
    "t12_bigram_crossscore",
    "v7_sq_recall",
    "sx5_incremental_ivf_twin",
    "x17_rg_block_average",
    "d14_maximal_matches",
    "d11_duplicate_spans",
    "d15_keep_first_excision",
    "d12_excise_duplicate_spans",
    "x18_sasa_exposure",
    "x15_rg_autocorrelation",
    "t16_bm25_topk",
    "d13_bloom_cross_corpus",
    "sx9_stream_bloom_twin",
    "c8_quantile_prune",
    "t17_dsir_importance",
    "c9_weighted_sample",
    "sx10_stream_weighted_sample_twin",
    "t18_bpe_train",
    "t19_bpe_token_counts",
    "c10_bpe_sequence_packing",
    # ---- last green ROUND 11 (freshest; age back in from r14)
    "g1_distances",
    "g8_orthogonality",
    "g2_displacements",
    "g3_angles",
    "g5_center_of_mass",
    "g6_center_of_geometry",
    "g7_closest_contact",
    "g9_lengths_angles_to_vectors",
    "p1_frame_slice_stride_reverse",
    "p2_atom_slice",
    "u1_concat_overlap_discard",
    "u2_content_fingerprint",
    "s8_time_fallback",
    "t7_repetition_score",
    "d5_repeated_ngram_docs",
    "g10_vectors_to_lengths_angles",
    "m3_frame_sample",
    "e6_cohort_retention",
    "x9_msd",
    "v5_pq_recall",
    "d16_cluster_keep_best",
    "c11_mixture_weights",
    "c12_context_chunks",
    "t20_char_entropy",
    "t21_source_unigram_kl",
    "t22_winnowing",
    "d17_winnow_matches",
    "c13_shuffle_shards",
    "t23_perplexity_buckets",
    "sx11_stream_winnow_twin",
    "d18_pagerank_dup_graph",
    "c14_chunk_shard_pipeline",
    "t24_heaps_law",
    "t25_zipf_slope",
    "t26_top_ngram_fraction",
    "t27_dup_ngram_char_fraction",
    "d19_soft_dedup_weights",
    "d22_quality_soft_dedup",
    "v9_filtered_topk",
    "e9_inter_event_gaps",
    "sx12_stream_gap_twin",
    "m15_audio_clipping",
    "d20_cross_corpus_neardup",
    "d21_cross_corpus_matches",
    "v10_knn_classify",
    "c15_budget_select",
    "m16_perceptual_hash",
    "t28_tokenizer_fertility",
    "v11_embedding_diversity",
    "r3_rollup_acctbal",
    # ---- last green ROUND 12 (the full r12 head; freshest — age
    #      back in from r15)
    "d23_pagerank_tol_contract",
    "d24_pagerank_dangling_contract",
    "g1_distances_vec",
    "g1_distances_mic_ortho",
    "g1_distances_mic_triclinic",
    "c3_stratified_sample",
    "c5_source_token_mixture",
    "d3_simhash",
    "v2_embedding_neardup_lsh",
    "sx7_stream_count_min_twin",
    "t1_doc_stats",
    "t2_quality_score",
    "t3_langid",
    "t4_fingerprint",
    "t5_source_stats",
    "t6_token_counts",
    "c1_corpus_curation",
    "d2_minhash_lsh_neardup",
    "d6_semantic_dedup",
    "d7_dup_components",
    "m1_media_stats",
    "m2_decode_features",
    "m4_decode_png",
    "m5_decode_avi_frames",
    "m6_decode_wav",
    "m8_audio_window_features",
    "m10_decode_tiff",
    "m11_decode_jpeg",
    "m13_video_container_stats",
    "e1_event_window_counts",
    "e2_sessionization",
    "e3_asof_last_purchase",
    "e5_funnel_completions",
    "x4_radius_of_gyration",
    "r1_pricing_summary",
    "r2_topk_revenue",
    "r5_semi_anti_join",
    "r7_regional_revenue",
    "r9_rich_inactive_customers",
    "r10_small_qty_revenue",
    "r11_promo_share_by_month",
    "r12_shipping_priority",
    "r13_nation_volume",
    "r14_supplier_part_variety",
    "r17_grouping_sets",
    "r18_window_functions",
    "r19_exact_quantiles",
    "r20_except_status",
    "r21_min_cost_supplier",
    "r22_sketch_distinct",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    head = {n: f for n, f in _QUERIES.items() if n not in _SCORING_TAIL}
    tail = {n: _QUERIES[n] for n in _SCORING_TAIL if n in _QUERIES}
    return {**head, **tail}


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# ---------------------------------------------------------------------
# shared trajectory derivation (embeddings → coords/topology/unitcell)
# ---------------------------------------------------------------------

N_FRAMES = 21  # 64-dim embeddings → 21 (x,y,z) frames
QGRID = 4096.0

# dyadic box constants (exact in f32 and f64)
ORTHO_L = 0.25
TRI = {  # lower-triangular box vectors, rows a, b, c
    "ax": 0.25, "ay": 0.0, "az": 0.0,
    "bx": 0.0625, "by": 0.21875, "bz": 0.0,
    "cx": 0.046875, "cy": 0.03125, "cz": 0.1875,
}


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def coords_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format coords derived deterministically from embeddings,
    quantized to the 2^-12 grid."""
    el = lambda off: F.expr(  # noqa: E731
        f"element_at(embedding, CAST(frame_id*3+{off} AS INT))"
    ).cast("double")
    # "+ 0.0" normalizes IEEE -0.0 to +0.0 (x + 0.0 == +0.0 when x is
    # any signed zero, under round-to-nearest); DuckDB side does the
    # same, so raw-coordinate passthrough queries hash identically.
    q = lambda c: F.round(c * QGRID, 0) / QGRID + 0.0  # noqa: E731
    return (
        _emb(spark, sf_dir)
        .select(
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(N_FRAMES - 1))).alias("frame_id"),
        )
        .select(
            F.col("frame_id").cast("long").alias("frame_id"),
            F.col("vec_id").cast("int").alias("atom_id"),
            q(el(1)).alias("x"),
            q(el(2)).alias("y"),
            q(el(3)).alias("z"),
        )
    )


COORDS_CTE = f"""
coords AS (
    SELECT CAST(f.frame_id AS BIGINT) AS frame_id,
           CAST(e.vec_id AS INT) AS atom_id,
           round(CAST(e.embedding[3*f.frame_id+1] AS DOUBLE) * {QGRID:.0f}) / {QGRID:.0f} + 0.0 AS x,
           round(CAST(e.embedding[3*f.frame_id+2] AS DOUBLE) * {QGRID:.0f}) / {QGRID:.0f} + 0.0 AS y,
           round(CAST(e.embedding[3*f.frame_id+3] AS DOUBLE) * {QGRID:.0f}) / {QGRID:.0f} + 0.0 AS z
    FROM embeddings e CROSS JOIN range({N_FRAMES}) f(frame_id)
)"""


def topology_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topology dimension with mass = label+1 (deterministic)."""
    return _emb(spark, sf_dir).select(
        F.col("vec_id").cast("int").alias("atom_id"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("string").alias("element"),
        (F.col("label") + 1).cast("double").alias("mass"),
        F.lit(None).cast("int").alias("residue_id"),
        F.lit(None).cast("string").alias("residue_name"),
        F.lit(0).alias("chain_id"),
    )


def _unitcell_df(spark: SparkSession, kind: str) -> DataFrame:
    """Constant per-frame box. kind in {'ortho', 'triclinic'}."""
    base = spark.range(N_FRAMES).select(F.col("id").alias("frame_id"))
    if kind == "ortho":
        vals = {
            "a": ORTHO_L, "b": ORTHO_L, "c": ORTHO_L,
            "alpha": 90.0, "beta": 90.0, "gamma": 90.0,
            "ax": ORTHO_L, "ay": 0.0, "az": 0.0,
            "bx": 0.0, "by": ORTHO_L, "bz": 0.0,
            "cx": 0.0, "cy": 0.0, "cz": ORTHO_L,
        }
    else:
        # lengths/angles only steer the orthogonality branch; the
        # triclinic values (≈76°) are safely non-orthogonal
        vals = dict(TRI)
        vals.update({"a": 0.25, "b": 0.2273, "c": 0.1938,
                     "alpha": 76.0, "beta": 73.0, "gamma": 74.0})
    cols = [F.lit(v).cast("float").alias(k) for k, v in vals.items()]
    return base.select("frame_id", *cols)


def trajectory_from_embeddings(
    spark: SparkSession, sf_dir: str, box: str | None = None
) -> Trajectory:
    uc = _unitcell_df(spark, box) if box else None
    return Trajectory(
        coords_df(spark, sf_dir), unitcell=uc, topology=topology_df(spark, sf_dir)
    )


def _pairs(n: int) -> list[tuple[int, int]]:
    return list(itertools.combinations(range(n), 2))


def _triplets(n: int) -> list[tuple[int, int, int]]:
    return list(itertools.combinations(range(n), 3))


PAIRS_CTE = """
pairs AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY i.a, j.b) - 1 AS INT) AS pair_id,
           CAST(i.a AS INT) AS i, CAST(j.b AS INT) AS j
    FROM range({n}) i(a), range({n}) j(b) WHERE i.a < j.b
)"""

TRIPLETS_CTE = """
triplets AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY i.a, j.b, k.c) - 1 AS INT) AS triplet_id,
           CAST(i.a AS INT) AS i, CAST(j.b AS INT) AS j, CAST(k.c AS INT) AS k
    FROM range({n}) i(a), range({n}) j(b), range({n}) k(c)
    WHERE i.a < j.b AND j.b < k.c
)"""

# float32 round-trip helpers for the oracle (the engine casts
# displacement components and final values to FLOAT)
_F32 = "CAST(CAST({v} AS REAL) AS DOUBLE)"


def _dist_from_components(dx: str, dy: str, dz: str) -> str:
    """Mirror of the engine's value path: components → float32 →
    double → sqrt(sum of squares) → float32 → double."""
    fx, fy, fz = (_F32.format(v=dx), _F32.format(v=dy), _F32.format(v=dz))
    return _F32.format(v=f"sqrt({fx}*{fx} + {fy}*{fy} + {fz}*{fz})")


N_DIST_ATOMS = 24
N_ANGLE_ATOMS = 12


# ---------------------------------------------------------------------
# G1: distances (non-periodic)
# ---------------------------------------------------------------------

_DIST_ORACLE = f"""
WITH {COORDS_CTE.strip()},
{PAIRS_CTE.format(n=N_DIST_ATOMS).strip()}
SELECT c1.frame_id AS frame_id, p.pair_id AS pair_id,
       {_dist_from_components('c2.x-c1.x', 'c2.y-c1.y', 'c2.z-c1.z')} AS dist
FROM pairs p
JOIN coords c1 ON c1.atom_id = p.i
JOIN coords c2 ON c2.atom_id = p.j AND c2.frame_id = c1.frame_id
"""


@register("g1_distances", _DIST_ORACLE)
def q_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_traj_spark.operators.distance import compute_distances

    traj = trajectory_from_embeddings(spark, sf_dir)
    d = compute_distances(
        traj, _pairs(N_DIST_ATOMS), periodic=False, form="sql", n_atoms=N_DIST_ATOMS
    )
    return d.select(
        "frame_id",
        "pair_id",
        F.col("dist").cast("double").alias("dist"),
    )


# ---------------------------------------------------------------------
# G1: distances, vectorized (Arrow/numpy) form — the bench throughput
# path.  The kernel (operators/kernels.py:88-92) accumulates the
# squared sum in FLOAT32 (numpy einsum over f32 inputs sums the 3
# components sequentially in f32), unlike the SQL form's f64
# accumulation — so this oracle mirrors every op at f32 by casting to
# REAL after each step.  That reproduces the kernel bit-exactly:
# a product or sum of two binary32 values is exact in binary64, so
# CAST(x*y AS REAL) is the correctly-rounded f32 op; and binary64
# sqrt double-rounds innocuously to binary32 (53 >= 2*24+2).
# ---------------------------------------------------------------------

def _f32_dist_vec() -> str:
    return f"""
WITH {COORDS_CTE.strip()},
{PAIRS_CTE.format(n=N_DIST_ATOMS).strip()},
disp AS (
    SELECT c1.frame_id, p.pair_id,
           CAST(c2.x-c1.x AS REAL) AS fx,
           CAST(c2.y-c1.y AS REAL) AS fy,
           CAST(c2.z-c1.z AS REAL) AS fz
    FROM pairs p
    JOIN coords c1 ON c1.atom_id = p.i
    JOIN coords c2 ON c2.atom_id = p.j AND c2.frame_id = c1.frame_id
),
sq AS (
    SELECT frame_id, pair_id,
           CAST(CAST(fx AS DOUBLE)*CAST(fx AS DOUBLE) AS REAL) AS sx,
           CAST(CAST(fy AS DOUBLE)*CAST(fy AS DOUBLE) AS REAL) AS sy,
           CAST(CAST(fz AS DOUBLE)*CAST(fz AS DOUBLE) AS REAL) AS sz
    FROM disp
),
acc AS (
    SELECT frame_id, pair_id,
           CAST(CAST(CAST(CAST(sx AS DOUBLE)+CAST(sy AS DOUBLE) AS REAL)
                AS DOUBLE)+CAST(sz AS DOUBLE) AS REAL) AS s2
    FROM sq
)
SELECT frame_id, pair_id,
       CAST(CAST(sqrt(CAST(s2 AS DOUBLE)) AS REAL) AS DOUBLE) AS dist
FROM acc
"""


@register("g1_distances_vec", _f32_dist_vec())
def q_distances_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver gate for the vectorized (mapInArrow + numpy) distance
    path — the same code the bench's canonical_distances runs — so the
    throughput path carries oracle evidence, not just pytest."""
    from dask_traj_spark.operators.distance import compute_distances

    traj = trajectory_from_embeddings(spark, sf_dir)
    d = compute_distances(
        traj,
        _pairs(N_DIST_ATOMS),
        periodic=False,
        form="vectorized",
        n_atoms=N_DIST_ATOMS,
    )
    return d.select(
        "frame_id", "pair_id", F.col("dist").cast("double").alias("dist")
    )


# ---------------------------------------------------------------------
# G1: distances with orthorhombic MIC
# ---------------------------------------------------------------------

_DIST_ORTHO_ORACLE = f"""
WITH {COORDS_CTE.strip()},
{PAIRS_CTE.format(n=N_DIST_ATOMS).strip()},
disp AS (
    SELECT c1.frame_id, p.pair_id,
           c2.x-c1.x AS dx, c2.y-c1.y AS dy, c2.z-c1.z AS dz
    FROM pairs p
    JOIN coords c1 ON c1.atom_id = p.i
    JOIN coords c2 ON c2.atom_id = p.j AND c2.frame_id = c1.frame_id
),
mic AS (
    SELECT frame_id, pair_id,
           dx - {ORTHO_L}*round_even(dx/{ORTHO_L}, 0) AS mx,
           dy - {ORTHO_L}*round_even(dy/{ORTHO_L}, 0) AS my,
           dz - {ORTHO_L}*round_even(dz/{ORTHO_L}, 0) AS mz
    FROM disp
)
SELECT frame_id, pair_id, {_dist_from_components('mx', 'my', 'mz')} AS dist
FROM mic
"""


@register("g1_distances_mic_ortho", _DIST_ORTHO_ORACLE)
def q_distances_ortho(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_traj_spark.operators.distance import compute_distances

    traj = trajectory_from_embeddings(spark, sf_dir, box="ortho")
    d = compute_distances(
        traj, _pairs(N_DIST_ATOMS), periodic=True, form="sql", n_atoms=N_DIST_ATOMS
    )
    return d.select("frame_id", "pair_id", F.col("dist").cast("double").alias("dist"))


# ---------------------------------------------------------------------
# G1: distances with triclinic MIC (27-image search)
# ---------------------------------------------------------------------

def _triclinic_oracle() -> str:
    t = TRI
    return f"""
WITH {COORDS_CTE.strip()},
{PAIRS_CTE.format(n=N_DIST_ATOMS).strip()},
disp AS (
    SELECT c1.frame_id, p.pair_id,
           c2.x-c1.x AS dx, c2.y-c1.y AS dy, c2.z-c1.z AS dz
    FROM pairs p
    JOIN coords c1 ON c1.atom_id = p.i
    JOIN coords c2 ON c2.atom_id = p.j AND c2.frame_id = c1.frame_id
),
d1 AS (
    SELECT frame_id, pair_id, dx, dy, dz, round_even(dz/{t['cz']}, 0) AS s3 FROM disp
),
d2 AS (
    SELECT frame_id, pair_id,
           dx - s3*{t['cx']} AS t1x, dy - s3*{t['cy']} AS t1y, dz - s3*{t['cz']} AS t1z
    FROM d1
),
d3 AS (
    SELECT *, round_even(t1y/{t['by']}, 0) AS s2 FROM d2
),
d4 AS (
    SELECT frame_id, pair_id,
           t1x - s2*{t['bx']} AS t2x, t1y - s2*{t['by']} AS t2y, t1z AS t1z
    FROM d3
),
d5 AS (
    SELECT frame_id, pair_id,
           t2x - round_even(t2x/{t['ax']}, 0)*{t['ax']} AS rx, t2y AS ry, t1z AS rz
    FROM d4
),
cand AS (
    SELECT d.frame_id, d.pair_id,
           d.rx - o_i.s*{t['ax']} - o_j.s*{t['bx']} - o_k.s*{t['cx']} AS cdx,
           d.ry - o_i.s*{t['ay']} - o_j.s*{t['by']} - o_k.s*{t['cy']} AS cdy,
           d.rz - o_i.s*{t['az']} - o_j.s*{t['bz']} - o_k.s*{t['cz']} AS cdz
    FROM d5 d, range(-1, 2) o_i(s), range(-1, 2) o_j(s), range(-1, 2) o_k(s)
)
SELECT frame_id, pair_id,
       CAST(CAST(sqrt(MIN(cdx*cdx + cdy*cdy + cdz*cdz)) AS REAL) AS DOUBLE) AS dist
FROM cand
GROUP BY frame_id, pair_id
"""


@register("g1_distances_mic_triclinic", _triclinic_oracle())
def q_distances_triclinic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_traj_spark.operators.distance import compute_distances

    traj = trajectory_from_embeddings(spark, sf_dir, box="triclinic")
    d = compute_distances(
        traj, _pairs(N_DIST_ATOMS), periodic=True, form="sql", n_atoms=N_DIST_ATOMS
    )
    return d.select("frame_id", "pair_id", F.col("dist").cast("double").alias("dist"))


# ---------------------------------------------------------------------
# G8: orthogonality predicate (the MIC fast-path steer)
# ---------------------------------------------------------------------

_G8_ORACLE = f"""
WITH uc AS (
    SELECT f.frame_id,
           CASE WHEN f.frame_id % 2 = 0 THEN 90.0 ELSE 76.0 END AS alpha,
           CASE WHEN f.frame_id % 2 = 0 THEN 90.0 ELSE 73.0 END AS beta,
           90.0 AS gamma
    FROM range({N_FRAMES}) f(frame_id)
)
SELECT CAST(frame_id AS BIGINT) AS frame_id,
       (abs(alpha - 90.0) < 0.0001 AND abs(beta - 90.0) < 0.0001
        AND abs(gamma - 90.0) < 0.0001) AS orthogonal
FROM uc
"""


@register("g8_orthogonality", _G8_ORACLE)
def q_orthogonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed per-frame boxes (even frames orthorhombic, odd
    triclinic) → the data-dependent branch predicate of G1/G3."""
    from dask_traj_spark.operators.unitcell import frame_orthogonality

    even = F.col("frame_id") % 2 == 0
    uc = (
        spark.range(N_FRAMES)
        .select(F.col("id").alias("frame_id"))
        .select(
            "frame_id",
            F.lit(0.25).cast("float").alias("a"),
            F.lit(0.25).cast("float").alias("b"),
            F.lit(0.25).cast("float").alias("c"),
            F.when(even, 90.0).otherwise(76.0).cast("float").alias("alpha"),
            F.when(even, 90.0).otherwise(73.0).cast("float").alias("beta"),
            F.lit(90.0).cast("float").alias("gamma"),
        )
    )
    traj = Trajectory(coords_df(spark, sf_dir), unitcell=uc)
    return frame_orthogonality(traj)


# ---------------------------------------------------------------------
# G2: displacements (non-periodic)
# ---------------------------------------------------------------------

_DISP_ORACLE = f"""
WITH {COORDS_CTE.strip()},
{PAIRS_CTE.format(n=N_DIST_ATOMS).strip()}
SELECT c1.frame_id AS frame_id, p.pair_id AS pair_id,
       {_F32.format(v='c2.x-c1.x')} AS dx,
       {_F32.format(v='c2.y-c1.y')} AS dy,
       {_F32.format(v='c2.z-c1.z')} AS dz
FROM pairs p
JOIN coords c1 ON c1.atom_id = p.i
JOIN coords c2 ON c2.atom_id = p.j AND c2.frame_id = c1.frame_id
"""


@register("g2_displacements", _DISP_ORACLE)
def q_displacements(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_traj_spark.operators.distance import compute_displacements

    traj = trajectory_from_embeddings(spark, sf_dir)
    d = compute_displacements(
        traj, _pairs(N_DIST_ATOMS), periodic=False, form="sql", n_atoms=N_DIST_ATOMS
    )
    return d.select(
        "frame_id",
        "pair_id",
        F.col("dx").cast("double").alias("dx"),
        F.col("dy").cast("double").alias("dy"),
        F.col("dz").cast("double").alias("dz"),
    )


# ---------------------------------------------------------------------
# G3/G4: angles (non-periodic; transcendental → round 6)
# ---------------------------------------------------------------------

_ANGLE_ORACLE = f"""
WITH {COORDS_CTE.strip()},
{TRIPLETS_CTE.format(n=N_ANGLE_ATOMS).strip()},
legs AS (
    SELECT cj.frame_id, t.triplet_id,
           {_F32.format(v='ci.x-cj.x')} AS ux, {_F32.format(v='ci.y-cj.y')} AS uy,
           {_F32.format(v='ci.z-cj.z')} AS uz,
           {_F32.format(v='ck.x-cj.x')} AS vx, {_F32.format(v='ck.y-cj.y')} AS vy,
           {_F32.format(v='ck.z-cj.z')} AS vz
    FROM triplets t
    JOIN coords ci ON ci.atom_id = t.i
    JOIN coords cj ON cj.atom_id = t.j AND cj.frame_id = ci.frame_id
    JOIN coords ck ON ck.atom_id = t.k AND ck.frame_id = ci.frame_id
)
SELECT frame_id, triplet_id,
       round(acos(greatest(-1.0, least(1.0,
           (ux*vx + uy*vy + uz*vz) /
           (sqrt(ux*ux + uy*uy + uz*uz) * sqrt(vx*vx + vy*vy + vz*vz))
       ))), 6) AS angle_rad
FROM legs
"""


@register("g3_angles", _ANGLE_ORACLE)
def q_angles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_traj_spark.operators.angle import compute_angles

    traj = trajectory_from_embeddings(spark, sf_dir)
    # SQL form computes legs in double but the engine's public output
    # is float32; for the oracle gate we recompute the final acos in
    # double from the engine's float32 legs — mirror with _F32 above.
    a = _angles_double(traj)
    return a


def _angles_double(traj) -> DataFrame:
    """Engine angle plan (the legs compute_angles builds), but keeping
    the final acos in DOUBLE and rounding to 1e-6 rad
    (transcendental-protection policy). Leg components round-trip
    through float32 exactly as the oracle's _F32 wrappers do."""
    import numpy as np

    from dask_traj_spark.operators.angle import _angle_legs, _cos_angle

    arr = np.asarray(_triplets(N_ANGLE_ATOMS), dtype=np.int32)
    legs = _angle_legs(traj, arr, periodic=False)
    # float32 round-trip on each leg component (mirror of oracle _F32)
    legs = legs.withColumns(
        {f"{p}{c}": F.col(f"{p}{c}").cast("float").cast("double") for p in "uv" for c in "xyz"}
    )
    return legs.select(
        "frame_id", "triplet_id", F.round(F.acos(_cos_angle()), 6).alias("angle_rad")
    )


# ---------------------------------------------------------------------
# G5: center of mass (exact aggregation via dyadic grid)
# ---------------------------------------------------------------------

_COM_ORACLE = f"""
WITH {COORDS_CTE.strip()}
SELECT c.frame_id AS frame_id,
       sum(c.x * CAST(e.label+1 AS DOUBLE)) / sum(CAST(e.label+1 AS DOUBLE)) AS x,
       sum(c.y * CAST(e.label+1 AS DOUBLE)) / sum(CAST(e.label+1 AS DOUBLE)) AS y,
       sum(c.z * CAST(e.label+1 AS DOUBLE)) / sum(CAST(e.label+1 AS DOUBLE)) AS z
FROM coords c JOIN embeddings e ON c.atom_id = e.vec_id
GROUP BY c.frame_id
"""


@register("g5_center_of_mass", _COM_ORACLE)
def q_com(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_traj_spark.operators.distance import compute_center_of_mass

    traj = trajectory_from_embeddings(spark, sf_dir)
    return compute_center_of_mass(traj)


# ---------------------------------------------------------------------
# G6: center of geometry
# ---------------------------------------------------------------------

_COG_ORACLE = f"""
WITH {COORDS_CTE.strip()}
SELECT frame_id, avg(x) AS x, avg(y) AS y, avg(z) AS z
FROM coords GROUP BY frame_id
"""


@register("g6_center_of_geometry", _COG_ORACLE)
def q_cog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_traj_spark.operators.distance import compute_center_of_geometry

    traj = trajectory_from_embeddings(spark, sf_dir)
    return compute_center_of_geometry(traj)


# ---------------------------------------------------------------------
# G7: closest contact, generalized to every frame
# ---------------------------------------------------------------------

_CONTACT_G1 = list(range(0, 10))
_CONTACT_G2 = list(range(10, 20))

_CONTACT_ORACLE = f"""
WITH {COORDS_CTE.strip()},
scored AS (
    SELECT c1.frame_id, c1.atom_id AS i, c2.atom_id AS j,
           sqrt((c2.x-c1.x)*(c2.x-c1.x) + (c2.y-c1.y)*(c2.y-c1.y)
                + (c2.z-c1.z)*(c2.z-c1.z)) AS dist
    FROM coords c1
    JOIN coords c2 ON c2.frame_id = c1.frame_id
    WHERE c1.atom_id BETWEEN 0 AND 9 AND c2.atom_id BETWEEN 10 AND 19
),
ranked AS (
    SELECT frame_id, i, j, dist,
           ROW_NUMBER() OVER (PARTITION BY frame_id ORDER BY dist, i, j) AS rn
    FROM scored
)
SELECT frame_id, CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       {_F32.format(v='dist')} AS dist
FROM ranked WHERE rn = 1
"""


@register("g7_closest_contact", _CONTACT_ORACLE)
def q_closest_contact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_traj_spark.operators.distance import find_closest_contact

    traj = trajectory_from_embeddings(spark, sf_dir)
    d = find_closest_contact(traj, _CONTACT_G1, _CONTACT_G2, periodic=False)
    return d.select("frame_id", "i", "j", F.col("dist").cast("double").alias("dist"))


# ---------------------------------------------------------------------
# G9/G10: unit-cell conversions (transcendental → round 6)
# ---------------------------------------------------------------------

_UC_CASES = [
    (0, 6.8555, 6.8555, 6.8555, 60.0, 60.0, 90.0),
    (1, 1.0, 2.0, 3.0, 90.0, 90.0, 90.0),
    (2, 2.0, 2.0, 2.0, 75.0, 80.0, 85.0),
    (3, 0.25, 0.25, 0.25, 60.0, 70.0, 80.0),
]

_UC_VALUES = "VALUES " + ", ".join(
    f"({fid}, CAST({a} AS REAL), CAST({b} AS REAL), CAST({c} AS REAL), "
    f"CAST({al} AS REAL), CAST({be} AS REAL), CAST({ga} AS REAL))"
    for fid, a, b, c, al, be, ga in _UC_CASES
)

_G9_ORACLE = f"""
WITH cells(frame_id, a, b, c, alpha, beta, gamma) AS ({_UC_VALUES}),
d AS (
    SELECT frame_id,
           CAST(a AS DOUBLE) AS a, CAST(b AS DOUBLE) AS b, CAST(c AS DOUBLE) AS c,
           radians(CAST(alpha AS DOUBLE)) AS ar, radians(CAST(beta AS DOUBLE)) AS br,
           radians(CAST(gamma AS DOUBLE)) AS gr
    FROM cells
),
v AS (
    SELECT frame_id,
           a AS ax, 0.0 AS ay, 0.0 AS az,
           b*cos(gr) AS bx, b*sin(gr) AS by, 0.0 AS bz,
           c*cos(br) AS cx,
           c*(cos(ar) - cos(br)*cos(gr))/sin(gr) AS cy,
           sqrt(c*c - (c*cos(br))*(c*cos(br))
                - (c*(cos(ar) - cos(br)*cos(gr))/sin(gr))
                  * (c*(cos(ar) - cos(br)*cos(gr))/sin(gr))) AS cz
    FROM d
)
SELECT CAST(frame_id AS BIGINT) AS frame_id,
       round(CASE WHEN abs(ax) < 1e-6 THEN 0.0 ELSE ax END, 6) AS ax,
       round(CASE WHEN abs(ay) < 1e-6 THEN 0.0 ELSE ay END, 6) AS ay,
       round(CASE WHEN abs(az) < 1e-6 THEN 0.0 ELSE az END, 6) AS az,
       round(CASE WHEN abs(bx) < 1e-6 THEN 0.0 ELSE bx END, 6) AS bx,
       round(CASE WHEN abs(by) < 1e-6 THEN 0.0 ELSE by END, 6) AS by,
       round(CASE WHEN abs(bz) < 1e-6 THEN 0.0 ELSE bz END, 6) AS bz,
       round(CASE WHEN abs(cx) < 1e-6 THEN 0.0 ELSE cx END, 6) AS cx,
       round(CASE WHEN abs(cy) < 1e-6 THEN 0.0 ELSE cy END, 6) AS cy,
       round(CASE WHEN abs(cz) < 1e-6 THEN 0.0 ELSE cz END, 6) AS cz
FROM v
"""


@register("g9_lengths_angles_to_vectors", _G9_ORACLE)
def q_unitcell_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dask_traj_spark.operators.unitcell import box_vector_exprs

    rows = [(fid, a, b, c, al, be, ga) for fid, a, b, c, al, be, ga in _UC_CASES]
    df = spark.createDataFrame(
        rows, "frame_id bigint, a float, b float, c float, alpha float, beta float, gamma float"
    )
    e = box_vector_exprs(
        F.col("a").cast("double"), F.col("b").cast("double"), F.col("c").cast("double"),
        F.col("alpha").cast("double"), F.col("beta").cast("double"), F.col("gamma").cast("double"),
    )
    return df.select(
        "frame_id", *[F.round(v, 6).alias(k) for k, v in e.items()]
    )


# ---------------------------------------------------------------------
# P1: frame slicing (stride + reverse + renumber)
# ---------------------------------------------------------------------

_SLICE_ORACLE = f"""
WITH {COORDS_CTE.strip()}
SELECT CAST((20 - frame_id) / 2 AS BIGINT) AS frame_id, atom_id, x, y, z
FROM coords WHERE frame_id % 2 = 0
"""


@register("p1_frame_slice_stride_reverse", _SLICE_ORACLE)
def q_frame_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    traj = trajectory_from_embeddings(spark, sf_dir)
    # traj[::-2] over 21 frames → old frames [20, 18, ..., 0] → new 0..10
    sliced = traj.select_frames(list(range(N_FRAMES - 1, -1, -2)))
    return sliced.coords.select("frame_id", "atom_id", "x", "y", "z")


# ---------------------------------------------------------------------
# P2: atom slice with dense renumbering
# ---------------------------------------------------------------------

_ATOM_SLICE_ORACLE = f"""
WITH {COORDS_CTE.strip()}
SELECT frame_id, CAST(atom_id / 7 AS INT) AS atom_id, x, y, z
FROM coords WHERE atom_id % 7 = 0
"""


@register("p2_atom_slice", _ATOM_SLICE_ORACLE)
def q_atom_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    traj = trajectory_from_embeddings(spark, sf_dir)
    n = traj.n_atoms
    t2 = traj.atom_slice([a for a in range(n) if a % 7 == 0])
    return t2.coords.select("frame_id", "atom_id", "x", "y", "z")


# ---------------------------------------------------------------------
# U1: trajectory concat with overlap discard
# ---------------------------------------------------------------------

_CONCAT_ORACLE = f"""
WITH {COORDS_CTE.strip()}
SELECT frame_id, atom_id, x, y, z FROM coords WHERE frame_id < 15
"""


@register("u1_concat_overlap_discard", _CONCAT_ORACLE)
def q_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    traj = trajectory_from_embeddings(spark, sf_dir)
    left = traj.slice_frames(0, 10)
    right = traj.slice_frames(9, 15)
    # right's first frame == left's last frame → discarded; result is
    # exactly frames 0..14 of the source (reference semantics,
    # core/dask_traj.py:630-640)
    joined = left.join(right, check_topology=False, discard_overlapping_frames=True)
    return joined.coords.select("frame_id", "atom_id", "x", "y", "z")


# ---------------------------------------------------------------------
# U2: content fingerprint (portable integer hash)
# ---------------------------------------------------------------------

_FP_ORACLE = f"""
WITH {COORDS_CTE.strip()}
SELECT frame_id,
       CAST(sum(CAST(atom_id + 1 AS BIGINT) * (
           3*CAST(round(x*{QGRID:.0f}) AS BIGINT)
           + 5*CAST(round(y*{QGRID:.0f}) AS BIGINT)
           + 7*CAST(round(z*{QGRID:.0f}) AS BIGINT)
       )) AS BIGINT) AS fp
FROM coords GROUP BY frame_id
"""


@register("u2_content_fingerprint", _FP_ORACLE)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = coords_df(spark, sf_dir)
    qi = lambda col: F.round(F.col(col) * QGRID, 0).cast("long")  # noqa: E731
    term = (F.col("atom_id") + 1).cast("long") * (
        3 * qi("x") + 5 * qi("y") + 7 * qi("z")
    )
    return c.groupBy("frame_id").agg(F.sum(term).alias("fp"))


# ---------------------------------------------------------------------
# S8: synthetic time fallback
# ---------------------------------------------------------------------

_TIME_ORACLE = f"""
WITH {COORDS_CTE.strip()}
SELECT DISTINCT frame_id, CAST(frame_id AS DOUBLE) AS time,
       frame_id AS step
FROM coords
"""


@register("s8_time_fallback", _TIME_ORACLE)
def q_time_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    traj = trajectory_from_embeddings(spark, sf_dir)
    return traj.frames


# ---------------------------------------------------------------------
# training-data pipeline queries (text/dedup/similarity/multimodal)
# live in queries_pipeline.py; importing it populates the registry.
# ---------------------------------------------------------------------

from dask_traj_spark import queries_pipeline  # noqa: E402,F401  (registration side-effect)
from dask_traj_spark import queries_relational  # noqa: E402,F401  (registration side-effect)
from dask_traj_spark import queries_relational2  # noqa: E402,F401  (registration side-effect)
from dask_traj_spark import queries_relational3  # noqa: E402,F401  (registration side-effect)

#!/usr/bin/env python
"""Headline benchmark — prints ONE JSON line for the driver.

Every timed entry is one ``Row`` of an ordered entry table: a name, a
thunk, an iteration count, a warm-up count, the record it lands in
(headline ``queries``, ``times_detail`` or ``scale_10x``) and, for a
10x row, the name of its 1x partner.  ``Bench.timed`` runs any row;
``Bench.build`` assembles ``bench_detail.json`` and the capped
headline.  Four tiers run in order:

1. ``CANONICAL`` — the BASELINE.md workload shape: 1,251 frames ×
   22,561 atoms, distances over 124,750 pairs
   (combinations(range(500), 2)) with orthorhombic MIC.  Coordinates
   are generated deterministically JVM-side (xxhash64 grid — no
   Python in the generation path) in packed frame order; the
   Arrow-vectorized kernel returns long-format rows
   ``(frame_id, pair_id, dist)`` into a noop sink.  Timed over a
   cached trajectory (``canonical_distances``) and as one uncached
   generate → atom-filter → kernel pass (``canonical_onepass``, the
   headline value).  Reference numbers to beat: 6.32 s compute /
   7.29 s end-to-end (LocalCluster 4proc×12threads; BASELINE.md).
2. ``SUITE`` — oracle-registry queries and production-mode operators
   at ``$SPARK_GRAFT_SF_DIR``, one warm-up then best-of-3.
3. ``SCALE`` — tier 1/2 workloads re-run at 10x the input;
   ``linearity`` = t_10x / (10 · t_1x) for every 10x row and its 1x
   partner (~1.0 linear, >2 super-linear).
4. ``LOCAL12`` — the canonical one-pass again on a ``local[12]``
   session, the apples-to-apples comparison with the reference's
   12-thread LocalCluster. It runs only on a host with at least 12
   CPUs: on fewer, 12 task slots time the CPU count, not the
   engine, so the detail record lists the row as skipped (with the
   CPU count) and the headline leaves it out.

Every row is bracketed by a fixed-work CPU probe (one probe closes a
row and opens the next), so host noise is attributable per entry
from ``bench_detail.json`` alone.

Output: {"metric": "canonical_e2e", "value": <one-pass sec>,
"unit": "sec", "queries": {...per-entry sec...}, "sf": <sf>, ...}
"""

from __future__ import annotations

import glob
import itertools
import json
import math
import os
import re
import shutil
import sys
import tempfile
import time
from functools import cached_property, partial
from typing import Callable, NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dask_traj_spark.functions import text  # noqa: E402
from dask_traj_spark.operators import bpe, curation, dedup, graph, rmsd  # noqa: E402
from dask_traj_spark.operators import similarity as sim  # noqa: E402
from dask_traj_spark.operators.distance import compute_distances  # noqa: E402
from dask_traj_spark.queries import queries  # noqa: E402
from dask_traj_spark.session import get_spark, release_caches  # noqa: E402
from dask_traj_spark.trajectory import Trajectory  # noqa: E402

N_FRAMES = 1251
WARM_FRAMES = 160
N_ATOMS = 22561
PAIRS = list(itertools.combinations(range(500), 2))  # 124,750 pairs
BOX_L = 2.0
PW_FRAMES = 1000
HEADLINE_CAP = 1800  # bytes; the driver tail-captures ~2000
HEADLINE, DETAIL, SCALE_10X = "queries", "times_detail", "scale_10x"


class Row(NamedTuple):
    """One timed entry.  ``run(ctx)`` is timed together with the noop
    sink of a DataFrame it returns; ``run=None`` runs the registry
    query of the same name."""

    name: str
    run: Callable[[Inputs], object] | None = None
    n: int = 3
    warmup: int = 0
    record: str = HEADLINE
    base: str | None = None  # 1x partner of a 10x row


def _suite(name: str, run=None, record: str = HEADLINE) -> Row:
    # one throwaway iteration then best-of-3: iteration 0 pays plan
    # JIT + codegen + page-cache warm-up (measured up to 4× steady)
    return Row(name, run, n=3, warmup=1, record=record)


def _scale(name: str, base: str | None, run, n: int = 1) -> Row:
    return Row(name, run, n=n, record=SCALE_10X, base=base)


def _grid_traj(spark, n_frames, n_atoms, n_parts, salts, dtype, **kw) -> Trajectory:
    """Deterministic coordinates in [0, BOX_L), all JVM-side: atoms are
    exploded per frame, so every partition holds whole frames in
    (frame_id, atom_id) order."""
    gid = F.col("frame_id") * n_atoms + F.col("atom_id")
    coords = (
        spark.range(n_frames, numPartitions=n_parts)
        .select(
            F.col("id").alias("frame_id"),
            F.explode(F.sequence(F.lit(0), F.lit(n_atoms - 1))).alias("atom_id"),
        )
        .select(
            "frame_id",
            F.col("atom_id").cast("int").alias("atom_id"),
            *[
                (F.pmod(F.xxhash64(gid, F.lit(s)), F.lit(4096)) / 4096.0 * BOX_L)
                .cast(dtype)
                .alias(ax)
                for s, ax in zip(salts, "xyz")
            ],
        )
    )
    return Trajectory(coords, **kw)


def _canonical_traj(spark, n_frames: int) -> Trajectory:
    """The canonical ``n_frames`` × 22,561-atom trajectory in an
    orthorhombic BOX_L box."""
    uc = dict(a=BOX_L, b=BOX_L, c=BOX_L, alpha=90.0, beta=90.0, gamma=90.0)
    uc.update(ax=BOX_L, ay=0.0, az=0.0, bx=0.0, by=BOX_L, bz=0.0)
    uc.update(cx=0.0, cy=0.0, cz=BOX_L)
    unitcell = spark.range(n_frames).select(
        F.col("id").alias("frame_id"),
        *[F.lit(v).cast("float").alias(k) for k, v in uc.items()],
    )
    # partitions scale with frames (~20 frames/task): a fixed count
    # made per-task frame blocks grow with the tier, and the 10x run
    # went 2.6x super-linear from Python-worker memory pressure alone
    n_parts = max(64, min(2048, n_frames // 20))
    return _grid_traj(
        spark, n_frames, N_ATOMS, n_parts, (0, 1, 2), "float",
        unitcell=unitcell, packed=True,
    )


def _distances(traj: Trajectory) -> DataFrame:
    return compute_distances(
        traj, PAIRS, periodic=True, form="vectorized", n_atoms=N_ATOMS
    )


def _canonical_pass(c: Inputs, n_frames: int = N_FRAMES) -> DataFrame:
    """Generation → atom filter → kernel in one uncached pass — the
    analog of the reference's lazy-load-then-compute end-to-end."""
    return _distances(_canonical_traj(c.spark, n_frames))


def _pw_traj(c: Inputs, n_frames: int, n_parts: int) -> Trajectory:
    """``n_frames`` × 100 atoms for the pairwise-RMSD rows."""
    return _grid_traj(c.spark, n_frames, 100, n_parts, (11, 12, 13), "double")


def _rep10(df: DataFrame, id_col: str, perturb: bool = False) -> DataFrame:
    """Ten copies with disjoint ids (copy 0 keeps the original ids, so
    query vectors are unchanged); ``perturb`` suffixes every token
    with the copy number so the duplicated FRACTION stays constant."""
    out = df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("rep")
    ).withColumn(id_col, F.col(id_col) + F.col("rep") * F.lit(10_000_000))
    if perturb:
        suffix = "transform(split(text, ' '), x -> concat(x, '_', rep))"
        out = out.withColumn("text", F.expr(f"array_join({suffix}, ' ')"))
    return out.drop("rep")


def _skew(docs: DataFrame) -> DataFrame:
    """20% of docs share one boilerplate template, so one LSH band
    bucket holds ~20% of the corpus — the shape MAX_BUCKET's cap
    exists for."""
    boiler = F.concat(
        F.lit(
            "terms of service apply to all users of this site "
            "please read carefully before continuing varies "
        ),
        (F.col("doc_id") % 7).cast("string"),
    )
    return docs.withColumn(
        "text", F.when(F.col("doc_id") % 5 == 0, boiler).otherwise(F.col("text"))
    )


class Inputs:
    """The session plus lazily built inputs shared by the row thunks."""

    def __init__(self, spark, sf_dir: str) -> None:
        self.spark, self.sf_dir = spark, sf_dir
        self._tmp: list[str] = []

    @cached_property
    def registry(self) -> dict:
        return queries()

    @cached_property
    def traj(self) -> Trajectory:
        return _canonical_traj(self.spark, N_FRAMES)

    @cached_property
    def docs(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.sf_dir}/documents.parquet")

    @cached_property
    def emb(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.sf_dir}/embeddings.parquet")

    @cached_property
    def docs10(self) -> DataFrame:
        return _rep10(self.docs, "doc_id")

    @cached_property
    def emb10(self) -> DataFrame:
        return _rep10(self.emb, "vec_id")

    @cached_property
    def fair10(self) -> DataFrame:
        """10x corpus at a constant duplicated fraction, materialized
        to parquet so the rows measure the operator, not the
        perturbation transform (inline it dominated d11 3x)."""
        self._tmp.append(tempfile.mkdtemp(prefix="d11_10x_"))
        path = f"{self._tmp[-1]}/docs"
        _rep10(self.docs, "doc_id", perturb=True).write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def close(self) -> None:
        for path in self._tmp:
            shutil.rmtree(path, ignore_errors=True)


# ---- steps: untimed actions between rows --------------------------------
def _drop_canonical_cache(c: Inputs) -> None:
    c.traj.frame_packed().unpersist()


def _write_fair10(c: Inputs) -> None:
    c.fair10  # noqa: B018 — materialize outside every timed window


# ---- production-mode operator calls (the registry entries are the
# oracle gates' sorted-vocab / pinned-parameter variants) ---------------
_topk = partial(sim.cosine_topk_vectorized, query_ids=list(range(10)), k=10)
_sem_dedup = partial(sim.semantic_dedup, threshold=0.3)
_winnow = partial(text.winnow_fingerprints, k=3, w=4)
_wmatch = partial(dedup.winnow_matches, k=3, w=4)
_lsh = partial(dedup.near_duplicates_minhash, threshold=0.8)
_bm25 = partial(text.bm25_topk, query="hash join merge order", k=5)
_bpe = partial(bpe.bpe_train, n_merges=8)  # runs its own actions


def _d20(docs: DataFrame) -> DataFrame:
    return dedup.cross_corpus_neardup(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
        threshold=0.9,
    )


def _d22(c: Inputs) -> DataFrame:
    # minhash pairs → components → quality-apportioned weights
    pairs = dedup.near_duplicates_minhash(c.docs, threshold=0.9)
    pairs = pairs.select(F.col("doc1").alias("id1"), F.col("doc2").alias("id2"))
    return dedup.quality_soft_dedup_weights(c.docs, pairs)


def _d23(c: Inputs) -> DataFrame:
    # tol-stopped PageRank on the symmetrized hashed winnow-match graph
    edge = lambda s, d: F.struct(F.col(s).alias("src"), F.col(d).alias("dst"))  # noqa: E731
    both = F.array(edge("doc1", "doc2"), edge("doc2", "doc1"))
    edges = _wmatch(c.docs).select(F.explode(both).alias("e")).select("e.src", "e.dst")
    return graph.pagerank(edges, n_iter=40, tol=1.0 / 4096, damping=0.5)


def _d24(c: Inputs) -> DataFrame:
    # dangling-mass redistribution on the DIRECTED winnow graph:
    # doc2-only vertices are genuine sinks
    edges = _wmatch(c.docs).select(
        F.col("doc1").alias("src"), F.col("doc2").alias("dst")
    )
    return graph.pagerank(edges, n_iter=8, damping=0.5, dangling="redistribute")


def _dsir(docs: DataFrame) -> DataFrame:
    return curation.dsir_importance(docs, docs.where(F.col("doc_id") % 20 == 0))


CANONICAL = [
    Row("canonical_load", lambda c: c.traj.frame_packed().cache().count(), n=1),
    # the first of 3 is also recorded as canonical_distances_cold:
    # residual JIT / worker-pool effects even after the warm-up pass
    Row("canonical_distances", lambda c: _distances(c.traj)),
    _drop_canonical_cache,
    Row("canonical_onepass", _canonical_pass, n=5),
]

SUITE = [
    *map(
        _suite,
        (
            "g1_distances_mic_triclinic", "g3_angles", "g5_center_of_mass",
            "g7_closest_contact", "x1_frame_rmsd", "d1_exact_dedup",
            "t4_fingerprint", "r1_pricing_summary", "r2_topk_revenue",
            "r24_forecast_revenue", "t8_heuristic_filter",
            "c4_sequence_packing", "d6_semantic_dedup",
            "d11_duplicate_spans", "d14_maximal_matches", "t16_bm25_topk",
            "d13_bloom_cross_corpus", "c8_quantile_prune",
            "t17_dsir_importance", "c9_weighted_sample",
            "c12_context_chunks", "t23_perplexity_buckets",
        ),
    ),
    _suite("v_cosine_topk_vectorized", lambda c: _topk(c.emb)),
    # AUTO cluster count + mandatory cap: the production default
    _suite("d6_semantic_dedup_auto", lambda c: _sem_dedup(c.emb)),
    _suite("t22_winnowing_hashed", lambda c: _winnow(c.docs)),
    _suite("d17_winnow_matches_hashed", lambda c: _wmatch(c.docs)),
    # detail-only: the headline queries dict is at its byte cap
    *(
        _suite(name, record=DETAIL)
        for name in (
            "t26_top_ngram_fraction", "t27_dup_ngram_char_fraction",
            "e9_inter_event_gaps", "m15_audio_clipping", "v9_filtered_topk",
        )
    ),
    _suite("d20_cross_corpus_hashed", lambda c: _d20(c.docs), record=DETAIL),
    _suite("d22_quality_soft_dedup_hashed", _d22, record=DETAIL),
    _suite("d23_pagerank_tol_hashed", _d23, record=DETAIL),
    _suite("d24_pagerank_dangling_hashed", _d24, record=DETAIL),
]

# 1x partners that no suite row measures run here, best-of-3, in the
# same production mode as their 10x row.  Replicated ids (docs10) are
# the fair 10x shape for per-doc work; fair10 keeps the duplicated
# fraction constant where replication would make everything a dup.
SCALE = [
    _scale(
        "canonical_onepass_10x", "canonical_onepass",
        partial(_canonical_pass, n_frames=10 * N_FRAMES), n=3,
    ),
    _scale("v_cosine_topk_vectorized_10x", "v_cosine_topk_vectorized",
           lambda c: _topk(c.emb10)),
    _scale("d1_exact_dedup_10x", "d1_exact_dedup",
           lambda c: dedup.exact_duplicates(c.docs10)),
    # replicated ids are LSH's adversarial case: every bucket 10x deeper
    Row("d2_minhash_lsh", lambda c: _lsh(c.docs)),
    _scale("d2_minhash_lsh_10x", "d2_minhash_lsh", lambda c: _lsh(c.docs10), n=3),
    _write_fair10,
    _scale("d11_duplicate_spans_10x", "d11_duplicate_spans",
           lambda c: dedup.duplicate_spans(c.fair10), n=2),
    # every window duplicated: a denser workload, kept out of linearity
    _scale("d11_duplicate_spans_10x_alldup", None,
           lambda c: dedup.duplicate_spans(c.docs10)),
    Row("d14_maximal_matches_hashed", lambda c: dedup.maximal_matches(c.docs)),
    _scale("d14_maximal_matches_10x", "d14_maximal_matches_hashed",
           lambda c: dedup.maximal_matches(c.fair10)),
    _scale("d20_cross_corpus_10x", "d20_cross_corpus_hashed", lambda c: _d20(c.fair10)),
    _scale("t22_winnowing_10x", "t22_winnowing_hashed", lambda c: _winnow(c.docs10)),
    _scale("t27_dup_ngram_10x", "t27_dup_ngram_char_fraction",
           lambda c: text.dup_ngram_char_fraction(c.docs10, n=5)),
    # pairwise-RMSD crossover, SQL sufficient statistics vs blocked
    # gram matmul: the measured basis for the >10^4-frame routing
    # advice (the SQL form at 4k frames is recorded once, in build())
    _scale("x16_pairwise_sql_1k", None,
           lambda c: rmsd.pairwise_rmsd(_pw_traj(c, PW_FRAMES, 32))),
    _scale("x16b_pairwise_blocked_1k", None,
           lambda c: rmsd.pairwise_rmsd_blocked(_pw_traj(c, PW_FRAMES, 32), block=256)),
    _scale("x16b_pairwise_blocked_4k", None,
           lambda c: rmsd.pairwise_rmsd_blocked(_pw_traj(c, 4 * PW_FRAMES, 64), block=512)),
    _scale("x16c_pairwise_auto_4k", None,
           lambda c: rmsd.pairwise_rmsd_auto(_pw_traj(c, 4 * PW_FRAMES, 64), block=512)),
    _scale("c4_sequence_packing_10x", "c4_sequence_packing",
           lambda c: curation.pack_sequences(c.docs10, budget=512, order_mode="mult")),
    _scale("d6_semantic_dedup_auto_10x", "d6_semantic_dedup_auto",
           lambda c: _sem_dedup(c.emb10)),
    Row("d13_bloom_membership", lambda c: dedup.bloom_membership(c.docs, c.docs)),
    _scale("d13_bloom_membership_10x", "d13_bloom_membership",
           lambda c: dedup.bloom_membership(c.docs10, c.docs10)),
    Row("t16_bm25", lambda c: _bm25(c.docs)),
    _scale("t16_bm25_10x", "t16_bm25", lambda c: _bm25(c.docs10)),
    Row("d2_minhash_lsh_skew", lambda c: _lsh(_skew(c.docs)), n=1),
    _scale("d2_minhash_lsh_skew_10x", "d2_minhash_lsh_skew",
           lambda c: _lsh(_skew(c.docs10))),
    Row("t18_bpe_train", lambda c: _bpe(c.docs)),
    _scale("t18_bpe_train_10x", "t18_bpe_train", lambda c: _bpe(c.docs10)),
    Row("t17_dsir_hashed", lambda c: _dsir(c.docs)),
    _scale("t17_dsir_hashed_10x", "t17_dsir_hashed", lambda c: _dsir(c.docs10)),
]

LOCAL12 = [Row("canonical_onepass_local12", _canonical_pass, n=5)]
LOCAL12_CPUS = 12

TIERS = (CANONICAL, SUITE, SCALE, LOCAL12)
ROWS = [r for tier in TIERS for r in tier if isinstance(r, Row)]

# scale_10x keeps the probes around its two longest workloads
SCALE_PROBES = {
    "canonical": ("canonical_onepass_10x", "canonical_onepass_10x"),
    "d2": ("d2_minhash_lsh", "d2_minhash_lsh_10x"),
}


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_probe() -> float:
    """Fixed single-thread workload (~0.3 s on an unthrottled core).
    Hosts throttle under sustained all-core load and recover when
    idle, so a slow entry whose bracketing probes are also slow is
    host noise, not an engine regression."""
    import numpy as np

    a = np.random.default_rng(0).random((512, 512), dtype=np.float32)
    t0 = time.perf_counter()
    for _ in range(40):
        a = a @ a
        a /= np.abs(a).max() + 1.0
    x = 0
    for i in range(2_000_000):
        x += i
    return round(time.perf_counter() - t0, 3)


def _load_json(path: str) -> dict:
    try:
        with open(path) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return {}
    return rec if isinstance(rec, dict) else {}


def _prior_bests(master: str, here: str = HERE) -> tuple[dict, str | None]:
    """Best earlier time per entry on the same ``master``: the min over
    the latest ``BENCH_r<NN>.json`` headline and the previous
    ``bench_detail.json`` iterations.  A source recorded under another
    master, or under none, is skipped: a wider host's time says
    nothing about a regression here.  Returns (bests, the BENCH file
    used or None)."""
    sources, used = [], None
    # variant files (BENCH_r12_c8.json) are other runs, not the round's
    benches = sorted(
        p
        for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
        if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(p))
    )
    if benches:
        rec = _load_json(benches[-1])
        rec = rec.get("parsed") or rec  # the driver wraps the headline
        if rec.get("master") == master:
            used = os.path.basename(benches[-1])
            sources.append(rec.get("queries") or {})
    detail = _load_json(os.path.join(here, "bench_detail.json"))
    if detail.get("master") == master:
        sources.append({k: min(v) for k, v in detail.get("iters", {}).items() if v})
    best: dict = {}
    for src in sources:
        for k, v in src.items():
            if isinstance(v, (int, float)):
                best[k] = min(float(v), best.get(k, math.inf))
    return best, used


def _cap_headline(headline: dict) -> str:
    """The headline LINE, cut to ``HEADLINE_CAP`` bytes: first the hot
    names, then whole optional sections; the driver contract
    (metric/value/unit/queries/sf) is never dropped."""
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) > HEADLINE_CAP and headline.get("probe"):
        headline["probe"]["hot"] = []
        headline["truncated"] = True
        line = json.dumps(headline, separators=(",", ":"))
    for drop in ("probe", "master", "warm", "detail", "linearity", "spread"):
        if len(line) <= HEADLINE_CAP:
            break
        headline.pop(drop, None)
        headline["truncated"] = True
        line = json.dumps(headline, separators=(",", ":"))
    return line


class Bench:
    """Run state: the three records, per-row iterations and probes."""

    def __init__(self, ctx: Inputs | None, start_probe: float) -> None:
        self.ctx = ctx
        self.rec: dict[str, dict] = {HEADLINE: {}, DETAIL: {}, SCALE_10X: {}}
        self.iters: dict[str, list[float]] = {}
        self.bracket: dict[str, list[float]] = {}
        self.probes = {"start_s": start_probe}
        self.last_probe = start_probe
        self.retimed: dict[str, list[float]] = {}
        self.skipped: dict[str, str] = {}

    def skip(self, tier: list, why: str) -> None:
        for row in tier:
            if isinstance(row, Row):
                self.skipped[row.name] = why

    def mark(self, key: str) -> None:
        self.probes[key] = self.last_probe = _cpu_probe()

    def run(self, tier: list) -> None:
        for item in tier:
            if isinstance(item, Row):
                self.timed(item)
            else:
                item(self.ctx)  # an untimed step

    def _once(self, row: Row) -> float:
        """One timed call; the operators' tracked caches are released
        outside the window (dead caches pinned across ~30 entries
        measurably degraded the whole JVM)."""
        run = row.run or (lambda c: c.registry[row.name](c.spark, c.sf_dir))
        t0 = time.perf_counter()
        out = run(self.ctx)
        if isinstance(out, DataFrame):
            _noop(out)
        dt = round(time.perf_counter() - t0, 3)
        release_caches()
        return dt

    def timed(self, row: Row) -> None:
        before = self.last_probe
        for _ in range(row.warmup):
            self._once(row)
        its = [self._once(row) for _ in range(row.n)]
        self.last_probe = _cpu_probe()
        self.record(row, its, [before, self.last_probe])

    def record(self, row: Row, its: list[float], bracket: list[float]) -> None:
        self.bracket[row.name] = bracket
        rec = self.rec[row.record]
        if row.n > 1 and row.record == SCALE_10X:
            rec[f"{row.name}_iters"] = its
        elif row.n > 1:
            self.iters[row.name] = its
        rec[row.name] = min(its)

    def retime(self, rows: list, prior: dict) -> None:
        """A best-of entry slower than 2x its prior best gets 2 extra
        iterations, and the min over all is recorded.  Sub-0.2 s
        entries are skipped: at that scale 2x is scheduler jitter."""
        for row in rows:
            if not isinstance(row, Row) or row.name not in self.iters:
                continue
            rec = self.rec[row.record]
            cur, prev = rec[row.name], prior.get(row.name)
            if prev and cur >= 0.2 and cur > 2.0 * prev:
                self.iters[row.name] += [self._once(row) for _ in range(2)]
                rec[row.name] = min(self.iters[row.name])
                self.retimed[row.name] = [cur, rec[row.name]]

    def linearity(self) -> dict[str, float]:
        """t_10x / (10 · t_1x) per 10x row.  Keys drop ``_10x``; a row
        whose 1x side is detail-only gets its short id (``t27``),
        which keeps the headline under its byte cap."""
        rows = {r.name: r for r in ROWS}
        out = {}
        for row in ROWS:
            if row.base and row.name in self.rec[SCALE_10X]:
                base = rows[row.base]
                short = base.record == DETAIL
                key = base.name.split("_")[0] if short else row.name[: -len("_10x")]
                t1 = self.rec[base.record][base.name]
                out[key] = round(self.rec[SCALE_10X][row.name] / (10 * t1), 2)
        return out

    def build(self, sf, master: str, prior_source: str | None) -> tuple[dict, str]:
        """(the bench_detail.json record, the capped headline line)."""
        # hot flags suite entries; the other rows' brackets are in the
        # detail record for attribution.  The brackets form a chain (one
        # probe closes a row and opens the next): take each probe once.
        suite = {r.name: self.bracket[r.name] for r in SUITE}
        probes = sorted([b[1] for b in suite.values()] + [*self.probes.values()])
        med = probes[len(probes) // 2]
        # worst first: the capped headline must show the worst offenders
        hot = sorted(
            (n for n, b in suite.items() if max(b) > 2 * med), key=lambda n: -max(suite[n])
        )
        scale = dict(self.rec[SCALE_10X])
        for tag, (first, last) in SCALE_PROBES.items():
            scale[f"probe_before_{tag}_s"] = self.bracket[first][0]
            scale[f"probe_after_{tag}_s"] = self.bracket[last][1]
        # measured once on an idle local[32] host: 230.9 s vs 11.3 s
        # blocked — too slow to re-run every time
        scale["x16_pairwise_sql_4k_recorded_once"] = 230.9
        scale["linearity"] = self.linearity()
        detail = {
            "iters": self.iters,
            "times_detail": self.rec[DETAIL],
            "scale_10x": scale,
            "cpu_probe": self.probes,
            "probe_bracket": self.bracket,
            "probe_median_s": med,
            "probe_hot": hot,
            # [warm-up, timed iterations] per row; a retimed row adds 2
            "best_of": {r.name: [r.warmup, r.n] for r in ROWS},
            "retimed": self.retimed,
            "skipped": self.skipped,
            "retime_prior_source": prior_source,
            "master": master,
            "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        }
        times = dict(self.rec[HEADLINE])
        times["canonical_distances_cold"] = self.iters["canonical_distances"][0]
        headline = {
            "metric": "canonical_e2e",
            "value": times["canonical_onepass"],
            "unit": "sec",
            "queries": times,
            "sf": sf,
            # warm session (worker pool + JIT pre-warmed), as the
            # reference's notebook timings are; BASELINE.md's numbers
            # are 12 threads — compare canonical_onepass_local12
            "warm": True,
            "master": master,
            # wide spread = warm-up; tight-but-high + hot probes = host
            "spread": {"onepass": self.iters["canonical_onepass"]},
            "linearity": scale["linearity"],
            "probe": {
                "start_s": self.probes["start_s"],
                "end_s": self.probes.get("end_s"),
                "median_s": med,
                "hot_n": len(hot),
                "hot": hot[:4],  # hot_n is the true count
            },
            "retimed_n": len(self.retimed),
            "detail": "bench_detail.json",
        }
        return detail, _cap_headline(headline)


def _write_detail(detail: dict) -> None:
    """bench_detail.json plus a per-core-count copy, so a second run at
    another width does not overwrite the first's record."""
    path = os.path.join(HERE, "bench_detail.json")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        for p in [path] + ([path.replace(".json", f"_c{cpus}.json")] if cpus else []):
            with open(p, "w") as f:
                json.dump(detail, f, indent=1)
    except OSError:
        pass  # read-only checkout: the headline line still carries the record


def _session(**kw):
    spark = get_spark(**kw)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    bench = Bench(None, _cpu_probe())
    t0 = time.perf_counter()
    spark = _session(app_name="dask-traj-spark-bench")
    bench.rec[HEADLINE]["session_start"] = round(time.perf_counter() - t0, 3)
    bench.ctx = Inputs(spark, sf_dir)
    try:
        # Warm the worker pool with a FULL-WIDTH canonical pass at 1/8
        # the frames: a tiny warm-up never triggers the one-time
        # worker-pool growth and first-large-Arrow-batch costs
        # (measured 4-30 s on the first full-size pass).
        _noop(_canonical_pass(bench.ctx, WARM_FRAMES))
        bench.run(CANONICAL)
        bench.mark("after_tier1_s")
        bench.run(SUITE)
        bench.mark("after_tier2_s")
        # the suite's shuffle/broadcast garbage is freed only on a JVM
        # GC; without one the 10x canonical measured 2-3x slower
        spark.sparkContext._jvm.System.gc()
        bench.run(SCALE)
        bench.mark("after_scale_s")
        master = spark.sparkContext.master
        prior, prior_source = _prior_bests(master)
        bench.retime(SUITE + SCALE, prior)
    finally:
        bench.ctx.close()
    spark.stop()

    cpus = len(os.sched_getaffinity(0))
    if cpus >= LOCAL12_CPUS:
        spark12 = _session(
            app_name="dask-traj-spark-bench-12", master="local[12]", shuffle_partitions=12
        )
        bench.ctx = Inputs(spark12, sf_dir)
        _noop(_canonical_pass(bench.ctx, WARM_FRAMES))
        bench.run(LOCAL12)
        spark12.stop()
    else:
        bench.skip(LOCAL12, f"{cpus} CPUs, fewer than {LOCAL12_CPUS}")
    bench.mark("end_s")

    detail, line = bench.build(sf, master, prior_source)
    _write_detail(detail)
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()

"""The closed-loop workloads.

Each workload is one client issuing one query at a time through the
package's public API and waiting for it. ``iteration`` runs the
query once and returns the check failures (empty when the output is
correct); ``ladder`` lists the pipeline prefixes the traced run times
one by one, each ending in a sink.

Trajectory workloads query a block of 500 consecutive atoms, all
124,750 pairs of it, with the block's first atom chosen by the seed.
"""

from __future__ import annotations

import itertools
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np

from perfbench import checks, fixtures

#: trajectory sizes: frames in the XTC prefix, XTC frames per decode
#: task (one task for the one Spark slot: the same frames split in
#: four tasks decoded 3 s slower), and frames in the Parquet copy
#: (perfbench/MEASUREMENTS.md gives the runs they were chosen from)
XTC_FRAMES = 8
XTC_CHUNKS = 8
PARQUET_FRAMES = 64
BLOCK_ATOMS = 500
BIN_WIDTH = 1.0 / 64.0
#: base documents of the skewed corpus (x10 replicas)
CORPUS_DOCS = 600
LSH_THRESHOLD = 0.8
#: one in SAMPLE_MOD near-duplicate pairs is re-checked with Python sets
SAMPLE_MOD = 64


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Step:
    """One rung of the traced ladder: ``run()`` executes a pipeline
    prefix into a sink and may return counts to record."""

    name: str
    run: Callable[[], object]


class Workload:
    #: the ladder step that runs the whole measured query
    final_step: str
    #: workloads not timed end to end whose ladders this one's traced
    #: run also times, so their layers stay measured
    companions: tuple[str, ...] = ()

    def __init__(self, name: str):
        self.name = name
        #: set by prepare(): fixture time, "built"/"reused", reference time
        self.fixture_s = self.reference_s = 0.0
        self.fixture_note = ""

    def prepare(self, cache: str, seed: int) -> None:
        raise NotImplementedError

    def bind(self, spark) -> None:
        self.spark = spark

    def iteration(self, checked: bool) -> list[str]:
        raise NotImplementedError

    def ladder(self) -> list[Step]:
        raise NotImplementedError

    def layer_metrics(self, med: dict) -> dict:
        """Per-layer metrics from the median step times (``<step>``)
        and CPU (``<step>.cpu``)."""
        raise NotImplementedError


# --------------------------------------------------------------- trajectory


class TrajectoryWorkload(Workload):
    n_frames: int

    def spec(self) -> fixtures.TrajSpec:
        return fixtures.TrajSpec(self.n_frames)

    def prepare(self, cache: str, seed: int) -> None:
        spec = self.spec()
        rng = np.random.default_rng([seed, 0xA7])
        self.a0 = int(rng.integers(0, spec.n_atoms - BLOCK_ATOMS + 1))
        block = range(self.a0, self.a0 + BLOCK_ATOMS)
        self.pairs = np.array(list(itertools.combinations(block, 2)), dtype=np.int64)
        self.pair_list = [tuple(p) for p in self.pairs.tolist()]
        sample = sorted(rng.choice(self.n_frames, size=2, replace=False).tolist())
        t0 = time.perf_counter()
        self.path, reused = self.ensure_fixture(cache, spec)
        self.fixture_s = time.perf_counter() - t0
        self.fixture_note = "reused" if reused else "built"
        t0 = time.perf_counter()
        sel = []

        def blocks():
            for lo in range(0, self.n_frames, 16):
                fids = list(range(lo, min(lo + 16, self.n_frames)))
                xyz = fixtures.frame_coords(spec, fids)
                sel.append(xyz[:, self.a0 : self.a0 + BLOCK_ATOMS])
                yield fids, xyz

        self.ref = checks.build_reference(blocks(), self.pairs, spec.box_nm, BIN_WIDTH, sample)
        self.block_xyz = np.concatenate(sel)
        self.reference_s = time.perf_counter() - t0

    def ensure_fixture(self, cache: str, spec) -> tuple[str, bool]:
        raise NotImplementedError

    def load(self):
        raise NotImplementedError

    # -- the measured query

    def distances(self, traj, wide: bool = False):
        import dask_traj_spark as dts

        return dts.compute_distances(
            traj, self.pair_list, periodic=True, form="vectorized", wide_output=wide
        )

    def rdf(self, traj):
        import dask_traj_spark as dts

        return dts.rdf_histogram(traj, self.pair_list, bin_width=BIN_WIDTH, periodic=True)

    def observed_long(self, traj):
        """Long distances with count/sum/min/max observed on the way
        to the sink (the per-iteration check)."""
        from pyspark.sql import Observation, functions as F

        obs = Observation()
        d = F.col("dist").cast("double")
        df = self.distances(traj).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(d).alias("s"),
            F.min(d).alias("lo"),
            F.max(d).alias("hi"),
        )
        return df, obs

    def iteration(self, checked: bool) -> list[str]:
        from pyspark.sql import functions as F

        df, obs = self.observed_long(self.load())
        errs = []
        if checked:
            pdf = df.where(F.col("frame_id").isin(self.ref.sample_frames)).toPandas()
            errs += checks.check_sample(
                self.ref, pdf["frame_id"].to_numpy(), pdf["pair_id"].to_numpy(), pdf["dist"].to_numpy()
            )
        else:
            noop(df)
        m = obs.get
        errs += checks.check_aggregates(self.ref, int(m["n"]), m["s"], m["lo"], m["hi"])
        return errs

    # -- the traced ladder

    def source_df(self, traj):
        raise NotImplementedError

    def ladder(self) -> list[Step]:
        from pyspark.sql import functions as F

        blk = F.col("atom_id").between(self.a0, self.a0 + BLOCK_ATOMS - 1)

        def long():
            df, obs = self.observed_long(self.load())
            noop(df)
            return {"distance.out_rows": int(obs.get["n"])}

        return [
            Step("load", lambda: self.load()),
            Step("source", lambda: noop(self.source_df(self.load()))),
            Step("pack", lambda: noop(self.load().frame_packed().filter(blk))),
            Step("call", lambda: self.distances(self.load())),
            Step("long", long),
        ]

    final_step = "long"

    def layer_metrics(self, med):
        scan = med["pack"] - med["load"]
        m = {
            "trajectory.pack_s": med["pack"] - med["source"],
            "distance.call_s": med["call"] - med["load"],
        }
        for step, name in (
            ("long", "distance.handback_long_s"),
            ("wide", "distance.handback_wide_s"),
            ("rdf", "distance.rdf_reduce_s"),
        ):
            if step in med:
                m[name] = med[step] - med["call"] - scan
        m.update(self.kernel_baseline())
        return m

    def kernel_baseline(self) -> dict:
        """The package kernel run plainly, single-threaded, over the
        same frames and pairs, plus its computed work."""
        from dask_traj_spark.operators import kernels

        pi = (self.pairs[:, 0] - self.a0).astype(np.int32)
        pj = (self.pairs[:, 1] - self.a0).astype(np.int32)
        L = np.float32(self.spec().box_nm)
        t = 0.0
        for lo in range(0, self.n_frames, 16):
            xyz = self.block_xyz[lo : lo + 16]
            box = np.tile(np.eye(3, dtype=np.float32) * L, (len(xyz), 1, 1))
            t0 = time.perf_counter()
            kernels.distances_np(xyz, pi, pj, box, np.ones(len(xyz), dtype=bool))
            t += time.perf_counter() - t0
        n = self.n_frames * len(self.pairs)
        # per frame-pair: 3 subtracts, nearest image (3 div, 3 rint,
        # 3 mul, 3 sub), 3 mul + 2 add, 1 sqrt
        gflop = n * 21 / 1e9
        # compulsory traffic: two gathered float32 triples in, one
        # float32 distance out
        gbytes = n * (2 * 12 + 4) / 1e9
        return {
            "kernels.distances_s": t,
            "kernels.gflop": gflop,
            "kernels.gbytes": gbytes,
            "kernels.gflops": gflop / t,
        }


class XtcDistances(TrajectoryWorkload):
    n_frames = XTC_FRAMES

    def ensure_fixture(self, cache, spec):
        d, reused = fixtures.cached(cache, "xtc", spec.key(), lambda out: fixtures.build_xtc(spec, out))
        return os.path.join(d, "traj.xtc"), reused

    def load(self):
        import dask_traj_spark as dts

        return dts.load(self.spark, self.path, chunks=XTC_CHUNKS)

    def source_df(self, traj):
        # XTC frames decode whole: every atom, not just the block
        return traj.coords

    def layer_metrics(self, med):
        from dask_traj_spark.sources.xtc import index_xtc

        m = super().layer_metrics(med)
        m["xtc.decode_s"] = med["source"]
        m["xtc.decode_cpu_s"] = med["source.cpu"]
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            index_xtc(self.path)
            ts.append(time.perf_counter() - t0)
        m["xtc.index_s"] = float(np.median(ts))
        m["xtc.bytes"] = float(os.path.getsize(self.path))
        return m


class ParquetDistances(TrajectoryWorkload):
    n_frames = PARQUET_FRAMES
    companions = ("lsh_dedup",)

    def ensure_fixture(self, cache, spec):
        d, reused = fixtures.cached(
            cache, "parquet", spec.key(), lambda out: fixtures.build_parquet_in_child(spec, out)
        )
        return os.path.join(d, "traj"), reused

    def load(self):
        import dask_traj_spark as dts

        return dts.load_tables(self.spark, self.path)

    def source_df(self, traj):
        from pyspark.sql import functions as F

        return traj.coords.filter(F.col("atom_id").between(self.a0, self.a0 + BLOCK_ATOMS - 1))

    def layer_metrics(self, med):
        m = super().layer_metrics(med)
        m["parquet.scan_s"] = med["source"]
        return m

    def ladder(self) -> list[Step]:
        """Adds the sibling consumers of the same distances: the
        one-row-per-frame array output, and the RDF reduction (whose
        output is checked bin by bin)."""

        def rdf():
            rows = self.rdf(self.load()).collect()
            errs = checks.check_histogram(
                self.ref, [r["bin"] for r in rows], [r["n_pairs"] for r in rows]
            )
            if errs:
                raise RuntimeError("; ".join(errs))

        return super().ladder() + [
            Step("wide", lambda: noop(self.distances(self.load(), wide=True))),
            Step("rdf", rdf),
        ]


# -------------------------------------------------------------------- dedup


class LshDedup(Workload):
    """Timed only as a companion of ``parquet_distances``: its ladder
    gives the dedup layer metrics."""

    def prepare(self, cache: str, seed: int) -> None:
        spec = fixtures.CorpusSpec(CORPUS_DOCS, seed)
        t0 = time.perf_counter()
        d, reused = fixtures.cached(cache, "corpus", spec.key(), lambda out: fixtures.build_corpus(spec, out))
        self.fixture_s = time.perf_counter() - t0
        self.fixture_note = "reused" if reused else "built"
        self.path = os.path.join(d, "documents.parquet")
        t0 = time.perf_counter()
        ids, texts = fixtures.skewed_corpus(spec)
        self.text_of = dict(zip(ids.tolist(), texts))
        self.reference_s = time.perf_counter() - t0
        self.expected = None

    def docs(self):
        return self.spark.read.parquet(self.path)

    def observed(self, df):
        from pyspark.sql import Observation, functions as F

        obs = Observation()
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # pmod keeps the sum far from long overflow (ANSI mode)
            F.sum(F.pmod(F.xxhash64("doc1", "doc2"), F.lit(2**31))).alias("h"),
        ), obs

    def iteration(self, checked: bool) -> list[str]:
        from pyspark.sql import functions as F

        from dask_traj_spark.operators.dedup import near_duplicates_minhash
        from dask_traj_spark.session import release_caches

        df, obs = self.observed(near_duplicates_minhash(self.docs(), threshold=LSH_THRESHOLD))
        errs = []
        try:
            if checked:
                rows = df.where(F.pmod(F.xxhash64("doc1", "doc2"), F.lit(SAMPLE_MOD)) == 0).collect()
                errs += checks.check_pairs(self.text_of, rows, LSH_THRESHOLD)
                if not rows:
                    errs.append("no sampled pairs to check")
            else:
                noop(df)
        finally:
            release_caches()
        got = (int(obs.get["n"]), obs.get["h"])
        if self.expected is None:
            self.expected = got
        elif got != self.expected:
            errs.append(f"pair count/checksum {got} differs from first iteration {self.expected}")
        return errs

    def ladder(self) -> list[Step]:
        from dask_traj_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

        def candidates():
            df, obs = self.observed(lsh_candidate_pairs(self.docs()))
            noop(df)
            return {"dedup.candidate_pairs": int(obs.get["n"])}

        def full():
            # checked against the pair count and checksum of the
            # first iteration
            errs = self.iteration(checked=False)
            if errs:
                raise RuntimeError("; ".join(errs))
            return {"dedup.verified_pairs": self.expected[0]}

        return [
            Step("signatures", lambda: noop(minhash_signatures(self.docs()))),
            Step("candidates", candidates),
            Step("full", full),
        ]

    def layer_metrics(self, med):
        return {
            "dedup.signatures_s": med["signatures"],
            "dedup.candidates_s": med["candidates"] - med["signatures"],
        }


#: name -> timed workload; BENCHMARK.json says why each was chosen
WORKLOADS = {
    "xtc_distances": XtcDistances,
    "parquet_distances": ParquetDistances,
}
#: name -> workload timed only inside another's traced run
COMPANIONS = {"lsh_dedup": LshDedup}


def make(name: str) -> Workload:
    return {**WORKLOADS, **COMPANIONS}[name](name)

"""Seeded benchmark inputs, cached by content hash.

Three fixtures feed the workloads:

- the canonical trajectory (22,561 atoms in a periodic cubic box,
  water-like: every third atom is an "oxygen" with two "hydrogens"
  0.1 nm away) as an XTC file, written with the package's own
  ``_write_xtc_file``;
- the same trajectory as Parquet tables in the ``save_tables`` layout,
  written by ``save_tables`` itself;
- a document corpus replicated 10x with 20% boilerplate documents
  (the skewed MinHash-LSH corpus).

Coordinates are quantized to the XTC grid (1/1000 nm) before either
file is written, so both sources decode to the same float32 values
and one NumPy reference checks both.

Every fixture lives in ``<cache>/<name>-<key>/`` where ``key`` hashes
the generator parameters and this file's source; a ``MANIFEST.json``
written last (by atomic rename) marks it complete and lists file
sizes, which are checked on reuse.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

import numpy as np

#: generator version: bump to invalidate every cached fixture
GENERATOR_VERSION = 1

#: quantization grid shared by the XTC writer and the Parquet copy
XTC_PRECISION = 1000.0


@dataclass(frozen=True)
class TrajSpec:
    """Canonical-shaped trajectory. ``seed`` fixes the dataset; the
    per-run benchmark seed chooses the queried atom block instead, so
    the expensive XTC encode is paid once per checkout."""

    n_frames: int
    n_atoms: int = 22_561
    box_nm: float = 6.1
    seed: int = 20_221_001

    def key(self) -> str:
        return content_key("traj", asdict(self))


@dataclass(frozen=True)
class CorpusSpec:
    """Synthetic corpus: ``n_docs`` base documents, 10% of them
    near-copies of an earlier document, then replicated ``reps``
    times with every fifth document replaced by a boilerplate
    template (the construction of the repo's skewed MinHash entry)."""

    n_docs: int
    seed: int
    reps: int = 10

    def key(self) -> str:
        return content_key("corpus", asdict(self))


def content_key(kind: str, params: dict) -> str:
    with open(__file__, "rb") as fh:
        src = fh.read()
    h = hashlib.sha256()
    h.update(json.dumps([kind, GENERATOR_VERSION, params], sort_keys=True).encode())
    h.update(src)
    return h.hexdigest()[:16]


# ---------------------------------------------------------------- trajectory


def _anchors(spec: TrajSpec) -> np.ndarray:
    """Per-molecule oxygen anchor positions."""
    n_mol = -(-spec.n_atoms // 3)
    return np.random.default_rng(spec.seed).uniform(0.0, spec.box_nm, (n_mol, 3))


def frame_coords(spec: TrajSpec, frame_ids) -> np.ndarray:
    """(len(frame_ids), n_atoms, 3) float32 coordinates on the XTC
    grid. Each frame draws from its own ``(seed, frame)`` stream, so
    any frame regenerates without the ones before it."""
    anchors = _anchors(spec)
    out = np.empty((len(frame_ids), spec.n_atoms, 3), dtype=np.float32)
    for k, f in enumerate(frame_ids):
        r = np.random.default_rng([spec.seed, int(f)])
        o = (anchors + r.normal(0.0, 0.05, anchors.shape)) % spec.box_nm
        h = r.normal(0.0, 1.0, (len(anchors), 2, 3))
        h *= 0.1 / np.linalg.norm(h, axis=-1, keepdims=True)
        mol = np.concatenate([o[:, None, :], o[:, None, :] + h], axis=1)
        xyz = mol.reshape(-1, 3)[: spec.n_atoms]
        out[k] = np.round(xyz * XTC_PRECISION) / XTC_PRECISION
    return out


def box_vectors(spec: TrajSpec, n: int) -> np.ndarray:
    return np.tile(np.eye(3) * spec.box_nm, (n, 1, 1))


def build_xtc(spec: TrajSpec, out_dir: str) -> None:
    from dask_traj_spark.sources.xtc import _write_xtc_file

    xyz = frame_coords(spec, range(spec.n_frames))
    _write_xtc_file(
        os.path.join(out_dir, "traj.xtc"),
        xyz,
        np.arange(spec.n_frames, dtype=np.float64),
        box_vectors(spec, spec.n_frames),
        XTC_PRECISION,
    )


def build_parquet(spec: TrajSpec, out_dir: str, spark) -> None:
    """Stage the frames as plain Parquet with pyarrow, then let
    ``save_tables`` write the canonical layout from it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dask_traj_spark import Trajectory, save_tables

    stage = os.path.join(out_dir, "_stage")
    os.makedirs(stage)
    n_at = spec.n_atoms
    block = 16
    for lo in range(0, spec.n_frames, block):
        ids = range(lo, min(lo + block, spec.n_frames))
        xyz = frame_coords(spec, ids)
        pq.write_table(
            pa.table(
                {
                    "frame_id": np.repeat(np.asarray(ids, dtype=np.int64), n_at),
                    "atom_id": np.tile(np.arange(n_at, dtype=np.int32), len(ids)),
                    "x": xyz[..., 0].ravel(),
                    "y": xyz[..., 1].ravel(),
                    "z": xyz[..., 2].ravel(),
                }
            ),
            os.path.join(stage, f"part-{lo:06d}.parquet"),
        )
    nf = spec.n_frames
    frames = spark.createDataFrame(
        [(f, float(f), f) for f in range(nf)], "frame_id long, time double, step long"
    )
    L = float(np.float32(spec.box_nm))
    unitcell = spark.createDataFrame(
        [(f, L, 0.0, 0.0, 0.0, L, 0.0, 0.0, 0.0, L) for f in range(nf)],
        "frame_id long, ax float, ay float, az float, bx float, by float, "
        "bz float, cx float, cy float, cz float",
    )
    coords = spark.read.parquet(stage)
    save_tables(Trajectory(coords, frames, unitcell), os.path.join(out_dir, "traj"))
    shutil.rmtree(stage)


def build_parquet_in_child(spec: TrajSpec, out_dir: str) -> None:
    """Run :func:`build_parquet` in a child process, so its Spark
    session never shares a JVM with the measured one."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-m", "perfbench.fixtures", "parquet", json.dumps(asdict(spec)), out_dir],
        cwd=root,
        check=True,
        timeout=600,
    )


def _main(argv: list[str]) -> None:
    kind, params, out_dir = argv
    if kind != "parquet":
        raise SystemExit(f"unknown fixture kind {kind!r}")
    from dask_traj_spark import get_spark
    from perfbench.run import stop_spark

    spark = get_spark(app_name="perfbench-fixtures")
    try:
        build_parquet(TrajSpec(**json.loads(params)), out_dir, spark)
    finally:
        stop_spark(spark)


# -------------------------------------------------------------------- corpus

#: 26 * 26 two-syllable "words": enough that two random documents
#: rarely reach Jaccard 0.8, so near-duplicates come from the planted
#: copies, the replicas and the boilerplate
_VOCAB = [a + b for a in "bcdfghjklmnpqrstvwxyzaeiou" for b in ("an", "et", "io", "um", "ox", "ar", "il", "ed", "us", "ok", "en", "at", "iz", "ol", "ur", "ap", "ew", "ig", "on", "ys", "ab", "ec", "id", "of", "ug", "ax")]

BOILERPLATE = (
    "terms of service apply to all users of this site "
    "please read carefully before continuing varies "
)


def corpus_texts(spec: CorpusSpec) -> list[str]:
    """Base documents: Zipf-weighted words from a small vocabulary,
    12-60 words each; one in ten copies an earlier document with one
    word replaced (a near-duplicate)."""
    rng = np.random.default_rng([spec.seed, 0xC0])
    w = 1.0 / np.arange(1, len(_VOCAB) + 1)
    w /= w.sum()
    texts: list[str] = []
    for i in range(spec.n_docs):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            words = list(rng.choice(_VOCAB, size=int(rng.integers(12, 61)), p=w))
        texts.append(" ".join(words))
    return texts


def skewed_corpus(spec: CorpusSpec) -> tuple[np.ndarray, list[str]]:
    """(doc_id, text) of the replicated corpus: replica ``r`` of base
    document ``d`` gets id ``d + r * 10_000_000``; every id divisible
    by 5 carries the boilerplate template plus ``id % 7``."""
    base = corpus_texts(spec)
    ids, texts = [], []
    for r in range(spec.reps):
        for d, t in enumerate(base):
            doc_id = d + r * 10_000_000
            ids.append(doc_id)
            texts.append(BOILERPLATE + str(doc_id % 7) if doc_id % 5 == 0 else t)
    return np.asarray(ids, dtype=np.int64), texts


def build_corpus(spec: CorpusSpec, out_dir: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, texts = skewed_corpus(spec)
    pq.write_table(
        pa.table({"doc_id": ids, "text": texts}),
        os.path.join(out_dir, "documents.parquet"),
    )


# --------------------------------------------------------------------- cache


def _tree_sizes(root: str) -> dict[str, int]:
    sizes = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f == "MANIFEST.json":
                continue
            p = os.path.join(dirpath, f)
            sizes[os.path.relpath(p, root)] = os.path.getsize(p)
    return sizes


def cached(cache_root: str, name: str, key: str, build) -> tuple[str, bool]:
    """Return ``(dir, reused)`` for fixture ``name-key``, calling
    ``build(tmp_dir)`` when no complete copy exists. A copy whose file
    sizes disagree with its manifest is rebuilt."""
    final = os.path.join(cache_root, f"{name}-{key}")
    manifest = os.path.join(final, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            if json.load(fh)["sizes"] == _tree_sizes(final):
                return final, True
    shutil.rmtree(final, ignore_errors=True)
    tmp = final + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    build(tmp)
    meta = {"sizes": _tree_sizes(tmp), "build_s": time.perf_counter() - t0}
    with open(os.path.join(tmp, "MANIFEST.json.tmp"), "w") as fh:
        json.dump(meta, fh)
    os.replace(os.path.join(tmp, "MANIFEST.json.tmp"), os.path.join(tmp, "MANIFEST.json"))
    os.replace(tmp, final)
    return final, False


if __name__ == "__main__":
    import sys

    _main(sys.argv[1:])

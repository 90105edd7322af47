"""Ad-hoc operator-level profile (direct operator calls, not just
registry entries) for interleaved before/after comparisons.

Usage: python scripts/profile_ops.py w1 [w2 ...] --sf DIR [--iters N]
                                        [--repo PATH] [--tag LABEL]

Workloads (production/hashed modes, mirroring bench.py's direct
operator entries):

    d2_hashed      near_duplicates_minhash(docs, 0.8)
    d2_skew        near_duplicates_minhash(boilerplate-skewed docs, 0.8)
    d20_hashed     cross_corpus_neardup(docs%7!=0, docs%7==0, 0.9)
    t17_hashed     dsir_importance(docs, docs%20==0)
    t18_bpe        bpe_train(docs, n_merges=8)
    d18_rounds     pagerank(winnow graph, n_iter=8) [d18 shape]
    q:<name>       any registry query by name

``--sf`` is the directory of the Parquet tables.  ``--repo``
(default: the checkout this script sits in) points at a historical
worktree (the before side); run
A/B/A/B in alternating processes on the same warm host.
"""

import os
import sys
import time

args = sys.argv[1:]
sf_dir, iters, tag, names = None, 3, "", []
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
i = 0
while i < len(args):
    if args[i] == "--sf":
        sf_dir = args[i + 1]
        i += 2
    elif args[i] == "--iters":
        iters = int(args[i + 1])
        i += 2
    elif args[i] == "--repo":
        repo = args[i + 1]
        i += 2
    elif args[i] == "--tag":
        tag = args[i + 1]
        i += 2
    else:
        names.append(args[i])
        i += 1
if sf_dir is None:
    sys.exit(__doc__)

sys.path.insert(0, repo)

from pyspark.sql import functions as F  # noqa: E402

from dask_traj_spark.session import get_spark, release_caches  # noqa: E402

spark = get_spark(app_name="profile_ops")
spark.sparkContext.setLogLevel("ERROR")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _docs():
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def w_d2_hashed():
    from dask_traj_spark.operators.dedup import near_duplicates_minhash

    _noop(near_duplicates_minhash(_docs(), threshold=0.8))


def w_d2_skew():
    from dask_traj_spark.operators.dedup import near_duplicates_minhash

    docs = _docs()
    boiler = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.lit(
                "terms of service apply to all users of this site "
                "please read carefully before continuing varies "
            ),
            (F.col("doc_id") % 7).cast("string"),
        ),
    ).otherwise(F.col("text"))
    _noop(near_duplicates_minhash(docs.withColumn("text", boiler), threshold=0.8))


def w_d20_hashed():
    from dask_traj_spark.operators.dedup import cross_corpus_neardup

    docs = _docs()
    _noop(
        cross_corpus_neardup(
            docs.where(F.col("doc_id") % 7 != 0),
            docs.where(F.col("doc_id") % 7 == 0),
            threshold=0.9,
        )
    )


def w_t17_hashed():
    from dask_traj_spark.operators.curation import dsir_importance

    docs = _docs()
    _noop(dsir_importance(docs, docs.where(F.col("doc_id") % 20 == 0)))


def w_t18_bpe():
    from dask_traj_spark.operators.bpe import bpe_train

    bpe_train(_docs(), n_merges=8)


def w_d18_rounds():
    from dask_traj_spark.functions.text import winnow_fingerprints  # noqa: F401
    from dask_traj_spark.operators.dedup import winnow_matches
    from dask_traj_spark.operators.graph import pagerank

    wm = winnow_matches(_docs(), k=3, w=4)
    ge = wm.select(
        F.explode(
            F.array(
                F.struct(F.col("doc1").alias("src"), F.col("doc2").alias("dst")),
                F.struct(F.col("doc2").alias("src"), F.col("doc1").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    _noop(pagerank(ge, n_iter=8))


WORKLOADS = {
    "d2_hashed": w_d2_hashed,
    "d2_skew": w_d2_skew,
    "d20_hashed": w_d20_hashed,
    "t17_hashed": w_t17_hashed,
    "t18_bpe": w_t18_bpe,
    "d18_rounds": w_d18_rounds,
}

from dask_traj_spark.queries import queries  # noqa: E402

qs = queries()
for name in names:
    if name.startswith("q:"):
        qname = name[2:]
        fn = lambda qname=qname: _noop(qs[qname](spark, sf_dir))  # noqa: E731
    else:
        fn = WORKLOADS[name]
    fn()  # warm-up (worker pool, codegen)
    release_caches()
    times = []
    for _ in range(iters):
        t0 = time.monotonic()
        fn()
        times.append(round(time.monotonic() - t0, 3))
        release_caches()
    print(f"PROFOPS |{tag}| {name} times: {times}", flush=True)

spark.stop()

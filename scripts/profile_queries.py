"""Ad-hoc profile: time registry queries at a given SF dir.

Usage: python scripts/profile_queries.py q1 [q2 ...] --sf DIR [--iters N]
                                         [--repo PATH]

``--sf`` is the directory of the registry's Parquet tables.
``--repo`` (default: the checkout this script sits in) profiles a
historical worktree (before/after comparisons).
"""
import os
import sys
import time

args = sys.argv[1:]
sf_dir, iters, names = None, 3, []
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
    else:
        names.append(args[i])
        i += 1
if sf_dir is None:
    sys.exit(__doc__)

sys.path.insert(0, repo)

from dask_traj_spark.session import get_spark  # noqa: E402

spark = get_spark(app_name="profile_queries")
spark.sparkContext.setLogLevel("ERROR")

from dask_traj_spark.queries import queries  # noqa: E402

try:  # release dead tracked caches between iterations (like bench.py)
    from dask_traj_spark.session import release_caches
except ImportError:  # historical worktree: registry lived in dedup
    from dask_traj_spark.operators.dedup import release_caches

qs = queries()
for name in names:
    fn = qs[name]
    times = []
    for _ in range(iters):
        t0 = time.monotonic()
        n = fn(spark, sf_dir).count()
        times.append(round(time.monotonic() - t0, 3))
        release_caches()
    print("PROF |", name, "rows:", n, "times:", times, flush=True)

spark.stop()

"""Dump ``explain('formatted')`` for registry queries to files.

Usage:
    python scripts/dump_plans.py --out plans/r12 --suffix _after \
        --sf DIR [--repo PATH] q1 [q2 ...]

``--sf`` is the directory of the registry's Parquet tables.
``--repo`` (default: the checkout this script sits in) lets the same
script run against a historical worktree (e.g. the round-11 tree) to
capture the "before" plans; the script inserts that path at the head
of ``sys.path`` before importing the package.  Iterative queries (PageRank, components, BPE) execute their
driver loop while the DataFrame is being built; the dumped plan is the
final returned frame's plan (the per-round shape is pinned separately
by tests/test_plans.py).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

args = sys.argv[1:]
out_dir, suffix, sf_dir, names = "plans/r12", "_after", None, []
repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
i = 0
while i < len(args):
    if args[i] == "--out":
        out_dir = args[i + 1]
        i += 2
    elif args[i] == "--suffix":
        suffix = args[i + 1]
        i += 2
    elif args[i] == "--sf":
        sf_dir = args[i + 1]
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

spark = get_spark(app_name="dump-plans")

from dask_traj_spark.queries import queries  # noqa: E402

os.makedirs(out_dir, exist_ok=True)
qs = queries()
for name in names:
    if name not in qs:
        print(f"SKIP {name}: not in registry")
        continue
    df = qs[name](spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    path = os.path.join(out_dir, f"{name}{suffix}.txt")
    with open(path, "w") as f:
        f.write(buf.getvalue())
    print(f"WROTE {path} ({len(buf.getvalue())} bytes)")

spark.stop()

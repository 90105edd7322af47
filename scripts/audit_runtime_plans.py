"""Runtime (post-AQE) executed-plan audit.

``audit_plans.py`` greps STATIC ``explain('formatted')`` text; this
tool EXECUTES each declared query (``foreach`` — full materialization
with executor-side disposal, no driver transfer) and
walks the final ``executedPlan`` tree over py4j, so it sees what AQE
actually ran: join strategies after runtime re-planning, exchange
reuse that did or did not fire, and subtrees that physically executed
more than once.

The walk skips ``ReusedExchangeExec`` and ``InMemoryTableScanExec``
children (reused / cached state is NOT re-executed work — but note a
cached table's build plan is re-PRINTED at every reference in the
plan's text rendering, which is why grepping the string over-counts
scans) and descends through ``AdaptiveSparkPlanExec`` /
``*QueryStageExec`` wrappers.

A query whose executed tree holds more ``FileSourceScanExec`` nodes
than its static plan (or duplicated expensive ``GenerateExec`` chains
with zero ``ReusedExchangeExec``) is physically re-running part of
its pipeline — the class of defect the r12 §10/§12 passes found.

Usage: python scripts/audit_runtime_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

args = sys.argv[1:]
if args and os.path.isdir(args[0]):
    sf_dir, names = args[0], args[1:]
else:
    # fail fast on a mistyped path instead of silently treating it as
    # a query name against the default sf dir (ADVICE r12)
    if args and ("/" in args[0] or args[0].startswith("sf")):
        sys.exit(f"not a directory: {args[0]}")
    sf_dir, names = "/root/testdata/sf0.001", args

from dask_traj_spark.session import get_spark, release_caches  # noqa: E402

spark = get_spark(app_name="audit_runtime_plans")
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as ent  # noqa: E402


def walk(node, counts):
    cls = node.getClass().getSimpleName()
    counts[cls] = counts.get(cls, 0) + 1
    if cls in ("ReusedExchangeExec", "InMemoryTableScanExec"):
        return
    if cls == "AdaptiveSparkPlanExec":
        walk(node.executedPlan(), counts)
        return
    if cls.endswith("QueryStageExec"):
        walk(node.plan(), counts)
        return
    ch = node.children()
    for i in range(ch.size()):
        walk(ch.apply(i), counts)


KEYS = [
    "FileSourceScanExec", "GenerateExec", "ReusedExchangeExec",
    "InMemoryTableScanExec", "ShuffleExchangeExec", "SortMergeJoinExec",
    "BroadcastHashJoinExec", "ShuffledHashJoinExec", "CartesianProductExec",
    "BatchEvalPythonExec",
]

qs = ent.queries()
flagged = 0
for name in names or list(qs):
    try:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        # static baseline: walk the PRE-execution physical plan with
        # the SAME skip rules as the runtime walk, instead of grepping
        # the formatted text — the text re-prints a cached table's
        # build plan at every reference, inflating the baseline and
        # potentially masking genuine re-execution in caching queries
        # (ADVICE r12)
        static_counts: dict[str, int] = {}
        walk(df._jdf.queryExecution().sparkPlan(), static_counts)
        static_scans = static_counts.get("FileSourceScanExec", 0)
        # materialize WITHOUT a driver transfer: collect() of a full
        # result can OOM/stall the driver at larger sf dirs (ADVICE
        # r12).  NOT the noop sink here — that would be a SEPARATE
        # QueryExecution and this df's own adaptive plan would stay
        # un-executed (the walk below must see the post-AQE final
        # stages of THIS DataFrame).  foreach is an action on the same
        # QueryExecution with executor-side disposal.
        df.foreach(lambda _: None)
        counts: dict[str, int] = {}
        walk(df._jdf.queryExecution().executedPlan(), counts)
        exec_scans = counts.get("FileSourceScanExec", 0)
        flag = ""
        if exec_scans > static_scans:
            flag = " <<< executed scans exceed static plan"
            flagged += 1
        summary = " ".join(
            f"{k.replace('Exec', '')}={counts.get(k, 0)}"
            for k in KEYS
            if counts.get(k)
        )
        print(
            f"RUNTIME | {name} static_scan={static_scans} {summary} "
            f"t={time.time() - t0:.1f}{flag}",
            flush=True,
        )
        release_caches()
    except Exception as e:  # noqa: BLE001 — audit must survive one bad query
        print(f"RUNTIME | {name} ERROR {type(e).__name__}: {str(e)[:100]}", flush=True)
spark.stop()
print(f"RUNTIME | done: {flagged} flagged")

"""SparkSession factory tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (every pandas-UDF boundary is Arrow-batched),
shuffle partitions sized to cores instead of the 200 default, and a
UTC session timezone so results compare bit-for-bit against the
DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import re

from pyspark.serializers import pickle_protocol
from pyspark.sql import SparkSession


def _xms_opt(driver_mem: str) -> str:
    """-Xms at half of the driver heap (see the builder comment).
    Only simple 'Ng'/'Nm' strings are parsed; anything else skips
    the option rather than risking -Xms > -Xmx."""
    m = re.fullmatch(r"(\d+)([gm])", driver_mem.strip().lower())
    if not m:
        return ""
    half = max(int(m.group(1)) // 2, 1)
    return f"-Xms{half}{m.group(2)}"


def _host_driver_mem() -> str:
    """Driver heap for this host: half of the memory the process may
    use, min(MemAvailable, cgroup memory limit), in whole GiB between
    1g and 48g. A heap sized for a bigger host cannot start on a
    smaller one: the JVM reserves -Xms up front and dies at launch."""
    limits = [os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")]
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemAvailable:"):
                    limits.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    for cg in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(cg) as fh:
                limits.append(int(fh.read()))
        except (OSError, ValueError):  # absent, or "max" (no limit)
            pass
    return f"{max(1, min(48, min(limits) // 2 // 2**30))}g"


def get_spark(
    app_name: str = "dask-traj-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` (driver contract) overrides local
    parallelism and ``SPARK_DRIVER_MEM`` the driver heap, which
    otherwise comes from the host (``_host_driver_mem``); on a real
    cluster ``master`` comes from spark-submit and these configs
    still apply. Shuffle partitions default to ``SPARK_GRAFT_CPUS``,
    else to the built session's ``defaultParallelism`` (the cores of
    ``local[*]``, or ``N`` of ``local[N]``).
    """
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem()
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None and cpus:
        shuffle_partitions = int(cpus)

    # Python workers (UDFs, the file scans' decode) unpickle classes from
    # this package in separate processes; make sure they can import it
    # even when the driver script added the repo to sys.path manually.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )

    builder = (

        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # At 100 TB these two govern scan-task granularity; 128 MiB
        # parquet splits keep ~800k tasks for the full dataset which
        # a 1000-executor cluster absorbs comfortably.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # no \r progress spam on stdout — a tool capturing the tail
        # of the output (the driver's bench parser) must see clean
        # line-oriented text
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_mem)
        # pre-size the heap to half of -Xmx: measured on the round-4
        # host, lazy heap expansion made the first ~4 large Arrow
        # passes 2-3x slower than steady state (each iteration grew
        # the heap a bit more); with -Xms the session reaches steady-
        # state throughput from the second iteration
        .config("spark.driver.extraJavaOptions", _xms_opt(driver_mem))
        # ContextCleaner reclaims shuffle files / broadcasts only when
        # the JVM GCs their references; a big heap under no allocation
        # pressure can go 30+ min (the default interval) without one,
        # and the retained state throttles later Arrow-heavy stages.
        # Measured (round 8, idle local[32]): a 10x canonical pass
        # right after a shuffle-heavy MinHash suite ran 73/42/34 s vs
        # 25/18 s immediately after a forced GC.  5 min matches the
        # long-running-cluster guidance for shuffle-heavy apps.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # Python workers fork from the package daemon. PySpark's worker
        # calls importlib.invalidate_caches() on every task, which
        # re-reads the directory of pyspark.zip and the py4j zip once
        # per zipimporter: 0.08-0.23 s of CPU a task, measured on
        # 4-core hosts, where an empty task's round trip is ~0.07 s
        # without it. The daemon re-reads an archive only when its
        # inode, size or mtime changed, so a file added with
        # addPyFile stays importable (dask_traj_spark/_daemon.py).
        # extra_conf {"spark.python.daemon.module": "pyspark.daemon"}
        # restores the stock daemon.
        .config("spark.python.daemon.module", "dask_traj_spark._daemon")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shared_broadcast(sc, value):
    """``sc.broadcast(value)``, made once per distinct content per
    SparkContext: a later call whose value pickles to the same bytes
    gets the same broadcast back.

    PySpark deletes a broadcast's driver-side file only in
    ``Broadcast.destroy()``, and no query may destroy one while a
    DataFrame that reads it lives, so a broadcast per query call left
    one file per call in the driver's temp directory until the
    session stopped. With this, repeated queries over the same plan
    or index set share one file. A distinct value still gets its own,
    which lives as long as the SparkContext (the table of them is an
    attribute of ``sc``)."""
    key = hashlib.blake2b(pickle.dumps(value, pickle_protocol), digest_size=32).digest()
    made = vars(sc).setdefault("_shared_broadcasts", {})
    if key not in made:
        made[key] = sc.broadcast(value)
    return made[key]


def release_local_checkpoint(df) -> bool:
    """Best-effort unpersist of a ``localCheckpoint``'ed DataFrame's
    backing blocks.  For SUPERSEDED loop state only: iterative
    operators (PageRank, connected components, BPE merges) checkpoint
    every round, and each checkpoint pins its blocks in the block
    manager until the JVM happens to GC the RDD reference — in a
    long-lived session the stale rounds accumulate into thousands of
    pinned blocks and measurable GC/bookkeeping drag (the same leak
    class ``release_caches`` covers for tracked persists).  The
    released DataFrame is IRRECOVERABLE afterwards (localCheckpoint
    truncates lineage), so callers may only release state that
    nothing downstream references — i.e. the previous round after the
    next round's checkpoint has materialized.

    Returns True when blocks were released, False when the plan was
    not a materialized local checkpoint (wrong node type, or any
    py4j failure — never raises: releasing is an optimization, and a
    Spark version that renames the internals must degrade to the old
    keep-until-GC behavior, not break the operator)."""
    try:
        plan = df._jdf.queryExecution().logical()
        if not plan.getClass().getName().endswith(".LogicalRDD"):
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False


# Operators that persist a shared intermediate referenced by the
# returned (lazy) plan register it here; a long-lived session running
# many such operators releases them all with ``release_caches()`` once
# the results are materialized.  Central registry — the dedup module's
# original tracker now delegates here so curation/dedup caches share
# one release point.
_TRACKED_CACHES: list = []


def track_cache(df):
    """Persist ``df`` (MEMORY_AND_DISK) and register it for
    ``release_caches``.  Returns the persisted DataFrame."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _TRACKED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked intermediate; returns how many were
    released.  Call after the operators' returned DataFrames are
    materialized (collected / written).  Re-using a result DataFrame
    afterwards generally stays CORRECT (Spark recomputes the
    lineage) — the one exception is sequence packing, whose collected
    partition offsets are baked into the plan as literals: its result
    must be fully materialized before release and not re-collected
    after (a recomputed range partitioning could re-sample
    boundaries)."""
    n = len(_TRACKED_CACHES)
    for df in _TRACKED_CACHES:
        try:
            df.unpersist()
        except Exception:
            pass
    _TRACKED_CACHES.clear()
    return n

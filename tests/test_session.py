"""Session width: shuffle partitions follow the session's parallelism."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_shuffle_partitions_follow_master_without_cpus_env():
    """With ``SPARK_GRAFT_CPUS`` unset, ``local[2]`` gets 2 shuffle
    partitions. Runs in a subprocess: the test session must not be
    stopped, and it may have been built with the variable set."""
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from dask_traj_spark.session import get_spark

        spark = get_spark(master="local[2]")
        print("PARTITIONS", spark.conf.get("spark.sql.shuffle.partitions"))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300, env=env
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("PARTITIONS")][-1]
    assert line == "PARTITIONS 2", line

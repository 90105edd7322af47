"""Layered benchmark of dask_traj_spark on the host in hand.

Run from the repository root:

    python3 perfbench/run.py --workload parquet_distances --seed 1 \\
        --seconds 8 --trace 0

Workloads, metrics and units are declared in ``BENCHMARK.json``. Each
workload is a closed loop: one client issues one query at a time
through the public API and waits for it; Spark's ``local[TASK_SLOTS]``
tasks are the only parallelism.

One run:

1. derives the Spark settings (driver heap from MemAvailable,
   ``SPARK_GRAFT_CPUS`` = ``TASK_SLOTS``, local and temporary
   directories inside ``.perfbench_cache/``) and records the host's
   CPUs and memory beside them;
2. builds or reuses the seeded fixtures (generation time is reported
   apart from ``setup_s``) and the float64 NumPy reference;
3. set-up: a cold ``get_spark`` (JVM launch included) and one
   warm-up iteration, which collects sampled output and checks it
   row by row; ``setup_s`` is their sum, less steal (below). One
   set-up takes half a run or more, so it is sampled once per run
   and steadied by the median over runs;
4. measures iterations for ``--seconds`` (at least
   ``MIN_ITERATIONS``), each checked through observed aggregates;
   ``wall_ex_steal_s`` is the median per iteration, ``peak_rss_mb``
   the peak summed RSS of driver, JVM and Python workers meanwhile;
5. with ``--trace 1``, also times a ladder of pipeline prefixes, each
   ending in a sink, and prints per-layer metrics instead. A workload
   may name companions (``lsh_dedup`` for ``parquet_distances``):
   workloads that are not timed end to end, whose ladders the traced
   run times too, so that their layers stay measured.

Times are taken less steal: this host is a guest on a shared
machine, and the share of the CPU time it wanted that the hypervisor
gave to other guests ranged from 0 to 35% and drifted over minutes.
That moved raw wall time by up to 95% from run to run, and the median
over one run cannot average out a drift that outlasts it. A time less
steal is the raw time times one minus the stolen share over the same
interval. The raw times and ``cpu_s`` (CPU time of the process tree,
which the kernel already keeps free of steal, but which still rose by
up to 60% under load) are printed for a reader, not gated; the
traced run reports the stolen share as ``host.steal_frac``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. Lines before it give the
same figures for a reader, with the environment they came from.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

if not __package__:  # run as a script: import from the checkout root
    sys.path[0] = ROOT

from perfbench import probes, workloads  # noqa: E402
from perfbench.stats import median, percentile, supported_percentile  # noqa: E402

#: the JIT still compiles through the first iterations after the
#: warm-up; a median of three keeps the slowest of them out
MIN_ITERATIONS = 3
#: rounds of the traced ladder; each step's time is its median
LADDER_ROUNDS = 2
#: Spark task slots. At the benchmark's sizes the query is bound by
#: per-job overhead: on a 4-CPU host one slot ran it as fast as four
#: at half the CPU, and two busy processes competing for the CPUs
#: slowed it by 10% instead of 43% (perfbench/MEASUREMENTS.md).
TASK_SLOTS = 1


def host_settings() -> dict:
    """Spark settings for this host, and the host facts they came
    from. The heap is a quarter of MemAvailable, whole GiB, between 1
    and 3 GiB: the host is shared and the JVM needs far less. The
    CPUs left over keep the JVM's own threads, the driver and other
    tenants of the host off the task slots."""
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":")
            mem[k] = int(v.split()[0])  # kB
    avail_gib = mem["MemAvailable"] / 2**20
    nproc = len(os.sched_getaffinity(0))
    return {
        "SPARK_DRIVER_MEM": f"{max(1, min(3, int(avail_gib / 4)))}g",
        "SPARK_GRAFT_CPUS": str(TASK_SLOTS),
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        "nproc": nproc,
        "mem_total_mb": mem["MemTotal"] // 1024,
        "mem_available_mb": mem["MemAvailable"] // 1024,
    }


def apply_settings(s: dict) -> None:
    tmp = os.path.join(CACHE, "tmp")
    for d in (s["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_DRIVER_MEM=s["SPARK_DRIVER_MEM"],
        SPARK_GRAFT_CPUS=s["SPARK_GRAFT_CPUS"],
        SPARK_LOCAL_DIRS=s["SPARK_LOCAL_DIRS"],
        TMPDIR=tmp,
        # keep the JVM's temporary files and crash logs in the cache
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:ErrorFile={CACHE}/hs_err_pid%p.log",
    )


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Bench:
    """One run of one workload."""

    def __init__(self, wl, seed: int, seconds: float):
        self.wl, self.seed, self.seconds = wl, seed, seconds
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spark = None

    def run_iteration(self, group: str, checked: bool, wl=None):
        """One checked query of ``wl`` (default: the run's workload) →
        (wall s, CPU delta TreeSample)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        before = probes.sample_tree()
        t0 = time.perf_counter()
        try:
            errs = (wl or self.wl).iteration(checked)
        except Exception:
            errs = [traceback.format_exc()]
        wall = time.perf_counter() - t0
        cpu = probes.sample_tree().minus(before)
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(f"[{group}] {e}" for e in errs)
        return wall, cpu

    def setup(self) -> None:
        import dask_traj_spark as dts

        host0 = probes.host_cpu()
        t0 = time.perf_counter()
        self.spark = dts.get_spark(app_name="perfbench")
        self.start_s = time.perf_counter() - t0
        self.wl.bind(self.spark)
        self.warmup_s = self.run_iteration("setup", checked=True)[0]
        self.setup_steal_frac = probes.stolen_share(host0, probes.host_cpu())
        self.setup_s = (self.start_s + self.warmup_s) * (1.0 - self.setup_steal_frac)

    def measure(self, sampler) -> None:
        self.walls, self.shares, self.cpus, self.groups = [], [], [], []
        sampler.arm()
        host0 = probes.host_cpu()
        t0 = time.perf_counter()
        while len(self.walls) < MIN_ITERATIONS or time.perf_counter() - t0 < self.seconds:
            g = f"iter-{len(self.walls)}"
            before = probes.host_cpu()
            wall, cpu = self.run_iteration(g, checked=False)
            self.shares.append(probes.stolen_share(before, probes.host_cpu()))
            self.walls.append(wall)
            self.cpus.append(cpu)
            self.groups.append(g)
        sampler.disarm()
        self.steal_frac = probes.stolen_share(host0, probes.host_cpu())
        self.peak = sampler

    def walls_ex_steal(self) -> list[float]:
        """Each measured iteration's wall time less the share of it
        that the hypervisor gave to other guests."""
        return [w * (1.0 - s) for w, s in zip(self.walls, self.shares)]

    def end_to_end(self) -> dict:
        return {
            "setup_s": self.setup_s,
            "wall_ex_steal_s": median(self.walls_ex_steal()),
            "peak_rss_mb": self.peak.peak_total / 2**20,
            "success_frac": 1.0 - self.failed / self.attempted,
        }

    # ------------------------------------------------------------ tracing

    def ladder(self, wl) -> tuple[dict, list, dict]:
        """Time each prefix of ``wl`` ``LADDER_ROUNDS`` times → (median
        time and CPU per step, spans, counts the steps reported)."""
        run_id = f"{self.wl.name}-s{self.seed}-{os.getpid()}"
        sc = self.spark.sparkContext
        spans, times, cpu, counts = [], {}, {}, {}
        steps = wl.ladder()
        for r in range(LADDER_ROUNDS):
            parent = f"{wl.name}-round-{r}"
            r0 = time.time()
            for step in steps:
                g = f"trace-{wl.name}-{r}-{step.name}"
                sc.setJobGroup(g, g)
                before = probes.sample_tree()
                t0 = time.time()
                p0 = time.perf_counter()
                try:
                    out = step.run()
                    ok = True
                except Exception:
                    out, ok = None, False
                    self.errors.append(f"[{g}] {traceback.format_exc()}")
                dt = time.perf_counter() - p0
                self.attempted += 1
                self.failed += not ok
                d = probes.sample_tree().minus(before)
                jc = probes.job_group_counts(sc, g)
                spans.append(
                    {
                        "name": step.name, "start": t0, "end": t0 + dt, "parent": parent,
                        "run_id": run_id, "cpu_s": d.cpu_s, "jvm_cpu_s": d.jvm_cpu_s,
                        "python_cpu_s": d.python_cpu_s, "jobs": jc.jobs, "tasks": jc.tasks,
                    }
                )
                times.setdefault(step.name, []).append(dt)
                cpu.setdefault(step.name, []).append(d.cpu_s)
                if isinstance(out, dict):
                    counts.update(out)
            spans.append({"name": parent, "start": r0, "end": time.time(), "parent": None, "run_id": run_id})
        med = {k: median(v) for k, v in times.items()}
        med.update({f"{k}.cpu": median(v) for k, v in cpu.items()})
        return med, spans, counts

    def per_layer(self, names: list[str]) -> dict:
        m = dict.fromkeys(names, 0.0)
        sc = self.spark.sparkContext
        jc = [probes.job_group_counts(sc, g) for g in self.groups]
        m.update(
            {
                "session.start_s": self.start_s,
                "host.steal_frac": self.steal_frac,
                "spark.jobs": median([c.jobs for c in jc]),
                "spark.stages": median([c.stages for c in jc]),
                "spark.tasks": median([c.tasks for c in jc]),
                "spark.failed_tasks": float(sum(c.failed_tasks for c in jc)),
                "proc.cpu_s": median([c.cpu_s for c in self.cpus]),
                "proc.jvm_cpu_s": median([c.jvm_cpu_s for c in self.cpus]),
                "proc.python_cpu_s": median([c.python_cpu_s for c in self.cpus]),
                "proc.driver_cpu_s": median([c.driver_cpu_s for c in self.cpus]),
                "proc.jvm_rss_mb": self.peak.peak_jvm / 2**20,
                "proc.worker_rss_mb": self.peak.peak_worker / 2**20,
                "fixtures.s": self.wl.fixture_s,
            }
        )
        med, spans, counts = self.ladder(self.wl)
        m.update(counts)
        m.update(self.wl.layer_metrics(med))
        # the ladder's last step is the whole query, traced
        wall = median(self.walls)
        m["trace.overhead_frac"] = (med[self.wl.final_step] - wall) / wall
        for name in self.wl.companions:
            other = workloads.make(name)
            other.prepare(os.path.join(CACHE, "fixtures"), self.seed)
            other.bind(self.spark)
            # a checked warm-up, so the ladder does not time a cold JIT
            self.run_iteration(f"{name}-warmup", checked=True, wl=other)
            med, more, counts = self.ladder(other)
            spans += more
            m.update(counts)
            m.update(other.layer_metrics(med))
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        path = os.path.join(CACHE, "traces", f"{spans[0]['run_id']}.json")
        with open(path, "w") as fh:
            json.dump({"spans": spans, "metrics": m}, fh, indent=1)
        print(f"spans: {path}")
        unknown = set(m) - set(names)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        return m

    # ------------------------------------------------------------ teardown

    def shutdown(self) -> None:
        stop_spark(self.spark)


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until no process this one
    started is left."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    _reap_descendants()


def _reap_descendants(timeout_s: float = 30.0) -> None:
    me = os.getpid()
    deadline = time.time() + timeout_s
    sig = signal.SIGTERM
    while True:
        left = [p.pid for p in probes.process_tree(me) if p.pid != me]
        if not left:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dask_traj_spark", "__init__.py")):
        print(f"perfbench: no dask_traj_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    settings = host_settings()
    apply_settings(settings)
    wl = workloads.make(args.workload)
    wl.prepare(os.path.join(CACHE, "fixtures"), args.seed)
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} | "
        + " ".join(f"{k}={v}" for k, v in settings.items())
    )
    print(
        f"fixture {wl.fixture_note} in {wl.fixture_s:.3f} s, reference in "
        f"{wl.reference_s:.3f} s (neither counts in setup_s)"
    )

    bench = Bench(wl, args.seed, args.seconds)
    try:
        with probes.RssSampler() as sampler:
            bench.setup()
            bench.measure(sampler)
            if args.trace:
                names = [m["name"] for m in spec["per_layer"]]
                metrics = bench.per_layer(names)
            else:
                metrics = bench.end_to_end()
    finally:
        bench.shutdown()

    for e in bench.errors:
        print(f"CHECK FAILED {e}", file=sys.stderr)
    n = len(bench.walls)
    p = supported_percentile(n)
    print(
        f"set-up: cold get_spark {bench.start_s:.3f} s + warm-up iteration {bench.warmup_s:.3f} s, "
        f"{100 * bench.setup_steal_frac:.1f}% stolen"
    )
    print(
        f"wall_s median {median(bench.walls):.4f} s over {n} iterations "
        f"[{', '.join(f'{w:.3f}' for w in bench.walls)}] "
        + (
            "(no tail percentile: fewer than 11 samples)"
            if p is None
            else f"p{p:g} {percentile(bench.walls, p):.4f} s"
        )
    )
    print(
        f"wall_ex_steal_s median {median(bench.walls_ex_steal()):.4f} s "
        f"[{', '.join(f'{w:.3f}' for w in bench.walls_ex_steal())}]"
    )
    print(f"cpu_s median {median([c.cpu_s for c in bench.cpus]):.4f} s (driver, JVM and Python workers)")
    print(
        f"CPU steal by other guests while measuring: {100 * bench.steal_frac:.1f}% of the "
        "CPU time this host's CPUs wanted"
    )
    print(
        f"success_frac {bench.attempted - bench.failed}/{bench.attempted} = "
        f"{1 - bench.failed / bench.attempted:.3f} ({bench.failed} failed)"
    )
    for k, v in metrics.items():
        print(f"  {k} = {v:.6g} {units[k]}")
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

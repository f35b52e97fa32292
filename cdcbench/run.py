"""CDC engine benchmark: one workload, one seed, one JSON result.

    python3 cdcbench/run.py --workload wire_catchup --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The engine (``python_cdc_spark``) is
used as it is; Spark is sized to the host through the engine's own
environment overrides (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``,
``SPARK_LOCAL_DIRS``). All files go under ``.cdcbench_work/``.

With ``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (see ``trace.py``).
End-to-end metrics are wall times and rates as measured. The last
line of standard output is the JSON result; the lines before it list
each metric with its unit and sample count. Host facts and failed
checks go to standard error.

End-to-end metrics, on both workloads:
  setup_s        session start, input generation and the warm-up
                 batches (a cold one, then ones of the timed shape)
  drain_eps      timed events over the wall time from when the first of
                 them became available (see visible_*) to the last timed
                 commit (wire_catchup: the catch-up rate; wire_steady:
                 bounded by the input rate)
  visible_p50_s  per timed event: commit time of the batch that read it
  visible_p90_s  minus the time it became available (wire_steady: its
                 creation stamp, i.e. freshness lag; wire_catchup: the
                 commit of the last warm-up batch, after which the
                 backlog waits, i.e. time to drain up to it); the sample
                 count is the number of batch commits
  batch_p50_s    median timed micro-batch wall, foreachBatch to commit
  state_read_s   post-run state reads: each read's median over timed
                 rounds, averaged over the reads
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = [
    "setup_s", "drain_eps", "visible_p50_s", "visible_p90_s", "batch_p50_s",
    "state_read_s",
]


def host_settings(work: str) -> dict:
    """Spark sized to this host, through the engine's env overrides."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    # a quarter of memory, within [1 GiB, 4 GiB]: the host is shared
    driver_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return {
        "cores": cores,
        "mem_total_mb": mem_kb // 1024,
        "driver_mem_mb": driver_mb,
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
    }


def cpu_times() -> list[int]:
    """The host's CPU time counters (user .. steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


class Context:
    """The session and paths a workload runs with; ``tracer`` is set for
    a traced run."""

    tracer = None

    def __init__(self, work: str, cores: int | None = None) -> None:
        from python_cdc_spark.session import get_spark

        from cdcbench.measure import SparkCounters

        self.root = ROOT
        self.work = work
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="cdcbench",
            master=f"local[{cores}]" if cores else None,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.cores = int(self.spark.sparkContext.defaultParallelism)
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        self.counters = SparkCounters(self.spark)

    def stop(self) -> None:
        self.spark.stop()


def stop_jvm(spark_context_cls) -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    gw = spark_context_cls._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    spark_context_cls._gateway = None
    spark_context_cls._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["wire_catchup", "wire_steady"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "python_cdc_spark", "__init__.py")):
        print("cdcbench: no python_cdc_spark package next to the benchmark; "
              "run it from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the engine too, from whatever directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    work = os.path.join(ROOT, ".cdcbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = host_settings(work)
    os.chdir(work)  # anything Spark writes relative to cwd stays here

    import pyspark
    from pyspark import SparkContext

    from cdcbench import trace, workloads

    host["spark"] = pyspark.__version__
    print("cdcbench host " + json.dumps(host), file=sys.stderr)
    with open(os.path.join(work, "host.json"), "w") as fh:
        json.dump(host, fh)

    fn = getattr(workloads, args.workload)
    cpu0 = cpu_times()
    try:
        ctx = Context(os.path.join(work, "main"))
        os.makedirs(ctx.work)
        workloads.say(f"session up in {ctx.session_s:.1f}s")
        if args.trace:
            run = trace.traced_run(
                ctx, fn, args.seed, args.seconds, lambda w: Context(w, cores=1))
        else:
            run = fn(ctx, args.seed, args.seconds)
            run.metrics["setup_s"] = (ctx.session_s + run.metrics["setup_s"][0], "s")
        ctx.stop()
    finally:
        stop_jvm(SparkContext)
    # time the hypervisor gave other guests: a run with a large share
    # ran on a contended host
    spent = [b - a for a, b in zip(cpu0, cpu_times())]
    workloads.say(f"stopped; cpu steal share {spent[7] / max(1, sum(spent)):.3f}, "
                  f"loadavg {os.getloadavg()[0]:.2f}")

    names = trace.PER_LAYER if args.trace else END_TO_END
    for note in run.notes:
        print(note, file=sys.stderr)
    for name in names:
        value, unit = run.metrics[name]
        print(f"{name:34s} {value:14.4f} {unit:6s} n={run.samples.get(name, 1)}")
    result = {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            n: {"value": run.metrics[n][0], "unit": run.metrics[n][1]} for n in names
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

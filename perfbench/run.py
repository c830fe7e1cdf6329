"""Benchmark entry point: warm-pass timing of the package's end-to-end paths.

    python3 perfbench/run.py --workload pedri_season --seed 1 --seconds 14 --trace 0

Run from the root of a checkout.  One process is one run: it generates the
workload's inputs from ``--seed`` under ``.perfbench_work/``, starts a
SparkSession with the package's defaults but a fixed 2 GB driver heap on
``local[$SPARK_GRAFT_CPUS]`` (capped at the CPUs this process may use), does
the static warm-ups, then runs two untimed passes (the cold pass and one
warm-up pass, in which the JIT compiler is still busiest) and a fixed number
of timed passes derived from ``--seconds`` and the workload's nominal pass
time, so every run times the same pass indices.  Outputs are checked
outside the timed region.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the metric names and units are those of
``BENCHMARK.json``.  With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ones from a traced run, in which
the timed passes alternate traced and untraced (ABBA) so the tracing
overhead is measured too.  The line before it carries the host context of
the run, for diagnosing noisy runs only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLK = os.sysconf("SC_CLK_TCK")

# Keeps the JVM's performance counters in memory instead of /tmp/hsperfdata_*.
KEEP_OUT_OF_TMP = "-XX:+PerfDisableSharedMem"

# A fixed driver heap, set through the package's own SPARK_GRAFT_DRIVER_MEM
# plus an equal initial size.  Under the default (an 8 GB maximum, grown on
# demand) the peak resident set of pedri_season ranged 3.4-4.5 GB between
# runs of the same code, with the collector's timing; with the heap fixed it
# varies by about 1%.
DRIVER_HEAP = "2g"

# Warm-pass length at 4 cores; fixes how many passes fit in --seconds.
NOMINAL_PASS_S = {"pedri_season": 9.0, "catalog_mix": 4.5}

# Untimed passes before the timed ones: the cold pass, which pays most of
# the JIT compilation, and one warm pass, whose CPU time is still ~25% above
# that of the passes after it.
WARMUP_PASSES = 2
MIN_TIMED_PASSES = 2


def launch_time() -> float:
    """``time.perf_counter()`` value at which this process was started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / CLK)


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(NOMINAL_PASS_S))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def declared_units(section: str) -> dict[str, str]:
    """{metric name: unit} of one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def pin_cpus() -> str:
    """SPARK_GRAFT_CPUS, capped at the CPUs this process may run on."""
    usable = len(os.sched_getaffinity(0))
    asked = int(os.environ.get("SPARK_GRAFT_CPUS", usable))
    cpus = str(max(1, min(asked, usable)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    return cpus


def start_session(work: str):
    from pedri_analysis_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} {KEEP_OUT_OF_TMP} -Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, close the JVM's stdin so it exits, and wait for it and
    every process it started (the Python workers) to end."""
    from pyspark import SparkContext

    from tracer import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def schedule(args) -> list[str]:
    """The role of every pass: ``cold`` (the first), ``warmup`` (untimed),
    ``timed`` or ``traced``.  Untraced runs time every pass after the
    warm-up; traced runs time twice as many, traced and untraced in ABBA
    order, and also trace the cold pass, for its compile count."""
    n = max(MIN_TIMED_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    if args.trace:
        timed = ["traced" if i % 4 in (0, 3) else "timed" for i in range(2 * n)]
    else:
        timed = ["timed"] * n
    return ["cold"] + ["warmup"] * (WARMUP_PASSES - 1) + timed


def main() -> int:
    t_launch = launch_time()
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, "pedri_analysis_spark")):
        print(f"perfbench: no pedri_analysis_spark package under {ROOT}", file=sys.stderr)
        return 2
    units = declared_units("per_layer" if args.trace else "end_to_end")
    sys.path.insert(0, ROOT)
    cpus = pin_cpus()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Everything a run writes stays under the checkout: temp files, shuffle
    # and block-manager files (the environment variable wins over
    # spark.local.dir), and no JVM performance-data file in /tmp.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = KEEP_OUT_OF_TMP

    import pyspark

    import pedri_analysis_spark.run_all  # noqa: F401 - imports belong to set-up
    import tracer as tr
    import workloads

    load_before, steal_before = os.getloadavg(), steal_ticks()
    workload = workloads.WORKLOADS[args.workload](ROOT, work)
    t0 = time.perf_counter()
    workload.prepare(args.seed)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_session(work)
    spark.range(1000).selectExpr("sum(id)").collect()
    session_s = time.perf_counter() - t0
    workload.warm(spark)
    setup_s = time.perf_counter() - t_launch - gen_s

    jvm_pid = tr.jvm_pid(spark)
    tracer = tr.Tracer(spark) if args.trace else None
    attempted = 0
    problems: list[str] = []
    walls: list[float] = []
    cpus_used: list[float] = []
    traced: list[dict] = []
    layer = {"session.start_s": session_s, "inputs.gen_s": gen_s}
    cold_compiles = None

    roles = schedule(args)
    for index, role in enumerate(roles):
        active = tracer if role == "traced" or role == "cold" else None
        group = f"perfbench-pass-{index}"
        spark.sparkContext.setJobGroup(group, group)
        if active is not None:
            active.counts = {}
            active.enabled = True
            before = active.jvm_counters()
        cpu0 = tr.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            errors = workload.run_pass(spark, index, active)
        except Exception as exc:  # noqa: BLE001 - a failed pass is one failed operation
            errors = [f"pass {index}: {type(exc).__name__}: {str(exc)[:300]}"] * workload.ops_per_pass
        wall = time.perf_counter() - t0
        cpu = tr.tree_cpu_s(os.getpid()) - cpu0
        attempted += workload.ops_per_pass
        if active is not None:
            active.enabled = False
            after = active.jvm_counters()
            sample = dict(active.counts)
            sample.update(active.spark_stages(group, wall))
            sample["jvm.jit_s"] = after["jit_s"] - before["jit_s"]
            sample["jvm.gc_s"] = after["gc_s"] - before["gc_s"]
            sample["codegen.compiles"] = after["compiles"] - before["compiles"]
            sample["pyworker.cpu_s"] = after["pyworker_cpu_s"] - before["pyworker_cpu_s"]
            sample["cache.leftover_rdds"], sample["cache.leftover_mb"] = active.cache_state()
            sample["wall_s"] = wall
        # Outside the timed region: check the pass, then clear it away.
        if not errors:
            try:
                errors = workload.check_pass(spark, index)
            except Exception as exc:  # noqa: BLE001 - output that cannot be checked is a failure
                errors = [f"pass {index} check: {type(exc).__name__}: {str(exc)[:300]}"]
        problems += errors
        spark.catalog.clearCache()
        workload.end_pass(index)
        if role == "cold":
            layer["warmup.cold_pass_s"] = wall
            if active is not None:
                cold_compiles = sample["codegen.compiles"]
        elif role == "traced":
            traced.append(sample)
        elif role == "timed":
            walls.append(wall)
            cpus_used.append(cpu)

    failed = len(problems)
    rss = tr.vm_hwm_mb(jvm_pid) + tr.vm_hwm_mb(os.getpid())
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    stop_session(spark)

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": cpus,
        "pyspark": pyspark.__version__,
        "java": java,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "steal_ticks": steal_ticks() - steal_before,
        "gen_s": gen_s,
        "cold_pass_s": layer["warmup.cold_pass_s"],
        "timed_passes_s": walls,
        "timed_cpu_s": cpus_used,
        "problems": problems[:20],
    }
    print(json.dumps({"context": context}))

    if args.trace:
        values = layer_metrics(layer, traced, walls, cold_compiles)
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(walls),
            "cpu_s": statistics.median(cpus_used),
            "peak_rss_mb": rss,
            "ok_ratio": 1.0 - failed / attempted,
        }
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in units.items()}
    print(
        json.dumps(
            {"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def layer_metrics(layer: dict, traced: list[dict], untraced: list[float], cold_compiles) -> dict:
    """Per timed pass medians of every per-layer counter, plus the run-level
    ones.  A layer the workload does not touch reads 0."""
    keys = {k for s in traced for k in s}
    med = {k: statistics.median(s.get(k, 0.0) for s in traced) for k in keys}
    med.update(layer)
    compiles = med.get("codegen.compiles", 0.0)
    med["codegen.warm_recompile_ratio"] = compiles / cold_compiles if cold_compiles else 0.0
    med["trace.overhead_s"] = med.get("wall_s", 0.0) - statistics.median(untraced)
    return med


if __name__ == "__main__":
    sys.exit(main())

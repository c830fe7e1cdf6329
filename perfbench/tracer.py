"""Per-layer tracing, built only from the benchmark's side of the API.

Nothing in the package is edited: the tracer wraps the package's public
functions at run time, counts py4j round trips by wrapping the gateway
client's ``send_command``, and reads the Spark substrate through public
JVM handles (the status store, JMX beans, ``CodegenMetrics``, RDD storage
info) plus ``/proc`` for the JVM and its Python-worker children.

The tracer's own JVM calls run inside ``Tracer.quiet()``, so its walk of the
status store never shows up in ``py4j.calls`` / ``py4j.s``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import threading
import time

# Public functions wrapped per layer: (module, function names, layer).
LAYERS = [
    ("pedri_analysis_spark.sources.events", ["read_events"], "sources.read_events"),
    ("pedri_analysis_spark.sources.tables", ["load_table"], "sources.load_table"),
    (
        "pedri_analysis_spark.sources.sinks",
        ["write_csv_single", "write_json_summary", "write_text_list", "write_jsonl_sharded"],
        "sources.sink",
    ),
    (
        "pedri_analysis_spark.plans.pedri_pipeline",
        ["lineup_position", "minutes_estimate", "per_match_basic", "per_match_extended", "player_team"],
        "plans.build",
    ),
    (
        "pedri_analysis_spark.viz",
        [
            "heatmap_data", "top_matches_data", "histogram_data", "pass_map_data",
            "trend_per90_data", "scatter_pp_pc_data", "radar_percentile_data",
        ],
        "viz.build",
    ),
    (
        "pedri_analysis_spark.operators.dedup",
        [
            "exact_dedup", "minhash_signatures", "lsh_candidate_pairs", "jaccard_verify",
            "minhash_near_dups", "simhash_near_dups", "simhash_prefix_near_dups",
            "incremental_minhash_dedup",
        ],
        "operators.dedup",
    ),
]

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_cpu_s(pid: int) -> float:
    """utime+stime+cutime+cstime of one process, in seconds (0 if gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _CLK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds of ``pid`` and all its live descendants (reaped
    children are already folded into their parent's cutime/cstime)."""
    return sum(_proc_cpu_s(p) for p in [pid, *descendants(pid)])


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class Tracer:
    """Wraps the package's layers and reads the Spark substrate; one
    instance per benchmark process."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jvm_pid = jvm_pid(spark)
        self._local = threading.local()
        self.counts: dict[str, float] = {}
        self.enabled = False  # wrappers only count while a traced pass runs
        self._install_py4j_counter()
        for module_name, names, layer in LAYERS:
            module = importlib.import_module(module_name)
            for name in names:
                self._wrap(module, name, layer)

    # -- installation -------------------------------------------------------

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    @contextlib.contextmanager
    def quiet(self):
        """Exclude the tracer's own py4j traffic from the py4j counters."""
        depth = getattr(self._local, "quiet", 0)
        self._local.quiet = depth + 1
        try:
            yield
        finally:
            self._local.quiet = depth

    def _install_py4j_counter(self) -> None:
        client = self.sc._gateway._gateway_client
        original = client.send_command
        tracer = self

        @functools.wraps(original)
        def send_command(command, *args, **kwargs):
            if not tracer.enabled or getattr(tracer._local, "quiet", 0):
                return original(command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return original(command, *args, **kwargs)
            finally:
                tracer.add("py4j.s", time.perf_counter() - t0)
                # Releases of Python-side references ("m\nd\n...") are sent
                # whenever CPython happens to collect a proxy; they are
                # timed but not counted, so the call count repeats exactly.
                if not command.startswith("m\nd\n"):
                    tracer.add("py4j.calls", 1)

        client.send_command = send_command

    def _wrap(self, module, name: str, layer: str) -> None:
        original = getattr(module, name)
        tracer = self
        is_sink = layer == "sources.sink"

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            depth = getattr(tracer._local, layer, 0)
            setattr(tracer._local, layer, depth + 1)
            t0 = time.perf_counter()
            try:
                result = original(*args, **kwargs)
            finally:
                setattr(tracer._local, layer, depth)
            if depth == 0:
                tracer.add(f"{layer}_s", time.perf_counter() - t0)
                tracer.add(f"{layer}_calls", 1)
                if is_sink:
                    files, size = _tree_size(result)
                    tracer.add("sources.sink_files", files)
                    tracer.add("sources.sink_mb", size / 1e6)
            return result

        # Rebind every module-level alias of the function (e.g. the names
        # run_all and curate_all imported with ``from ... import``).
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("pedri_analysis_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)

    # -- substrate snapshots --------------------------------------------------

    def jvm_counters(self) -> dict[str, float]:
        """JIT, GC and codegen totals since JVM start, plus CPU of the JVM's
        Python-worker children."""
        with self.quiet():
            mf = self.jvm.java.lang.management.ManagementFactory
            gcs = mf.getGarbageCollectorMXBeans()
            gc_ms = sum(gcs.get(i).getCollectionTime() for i in range(gcs.size()))
            codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
            return {
                "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
                "gc_s": gc_ms / 1e3,
                "compiles": codegen.METRIC_COMPILATION_TIME().getCount(),
                "pyworker_cpu_s": sum(_proc_cpu_s(p) for p in descendants(self.jvm_pid)),
            }

    def cache_state(self) -> tuple[int, float]:
        """(persisted RDDs, MB they hold in memory and on disk)."""
        with self.quiet():
            infos = self.sc._jsc.sc().getRDDStorageInfo()
            size = sum(i.memSize() + i.diskSize() for i in infos)
            return len(infos), size / 1e6

    def plan(self, df) -> None:
        """Force Catalyst analysis, optimization and physical planning of
        one DataFrame (timed as ``catalyst.plan_s``)."""
        t0 = time.perf_counter()
        with self.quiet():
            df._jdf.queryExecution().executedPlan()
        self.add("catalyst.plan_s", time.perf_counter() - t0)

    def spark_stages(self, group: str, wall_s: float) -> dict[str, float]:
        """Jobs, stages, tasks and stage metrics of one job group, read from
        the status store (``spark.ui.enabled=false`` keeps it populated)."""
        ms = 1e-3
        with self.quiet():
            store = self.sc._jsc.sc().statusStore()
            jobs = store.jobsList(None)
            stage_ids, spans = set(), []
            for i in range(jobs.size()):
                job = jobs.apply(i)
                g = job.jobGroup()
                if g.isEmpty() or g.get() != group:
                    continue
                ids = job.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
                sub, done = job.submissionTime(), job.completionTime()
                if not sub.isEmpty() and not done.isEmpty():
                    spans.append((sub.get().getTime() * ms, done.get().getTime() * ms))
            out = {
                "spark.jobs": len(spans),
                "spark.stages": 0,
                "spark.tasks": 0,
                "spark.executor_run_s": 0.0,
                "spark.executor_cpu_s": 0.0,
                "spark.task_gc_s": 0.0,
                "spark.input_mb": 0.0,
                "spark.shuffle_write_mb": 0.0,
                "spark.shuffle_read_mb": 0.0,
                "spark.spill_mb": 0.0,
            }
            empty = self.sc._gateway.new_array(self.jvm.double, 0)
            stages = store.stageList(None, False, False, empty, None)
            for i in range(stages.size()):
                st = stages.apply(i)
                if st.stageId() not in stage_ids or st.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += st.numTasks()
                out["spark.executor_run_s"] += st.executorRunTime() * ms
                out["spark.executor_cpu_s"] += st.executorCpuTime() * 1e-9
                out["spark.task_gc_s"] += st.jvmGcTime() * ms
                out["spark.input_mb"] += st.inputBytes() / 1e6
                out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["spark.shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                out["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        busy = _union_s(spans)
        out["spark.job_wall_s"] = busy
        out["spark.outside_jobs_s"] = wall_s - busy
        return out


def _union_s(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _tree_size(path) -> tuple[int, int]:
    """(files, bytes) under a sink's returned path, file or directory."""
    if not isinstance(path, str) or not os.path.exists(path):
        return 0, 0
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size

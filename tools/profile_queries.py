"""Per-query profiler for the optimization rounds (guide §1).

For each named query (or --top N from BENCH_DETAIL.json):
  - build the DataFrame and capture ``explain("formatted")``
  - split build+analysis time from execution time (noop write, best of R)
  - count Exchange / BroadcastExchange / *EvalPython nodes in the plan
  - count Spark jobs the query launched (driver-side actions show up here)

Writes one JSON line per query to the output path and a summary to stdout.

Usage:
    python tools/profile_queries.py out.jsonl q1 q2 ...
    python tools/profile_queries.py out.jsonl --top 40 [--runs 2]
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    out_path = sys.argv[1]
    args = sys.argv[2:]
    runs = 2
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    from pedri_analysis_spark.plans import all_queries
    from pedri_analysis_spark.session import get_spark

    queries = all_queries()
    if args and args[0] == "--top":
        n = int(args[1])
        detail = json.load(open(os.path.join(ROOT, "BENCH_DETAIL.json")))
        names = [k for k, _ in sorted(detail["queries"].items(), key=lambda kv: -kv[1])[:n]]
    else:
        names = args
    with get_spark(app_name="profile") as spark:
        _profile(spark, queries, names, runs, out_path)
    return 0


def _profile(spark, queries, names, runs, out_path) -> None:
    from bench import warm

    sc = spark.sparkContext
    warm(spark, SF_DIR)
    tracker = sc.statusTracker()
    with open(out_path, "w") as fh:
        for name in names:
            fn = queries[name]
            rec = {"name": name}
            try:
                sc.setJobGroup(name, name)
                jobs_before = len(tracker.getJobIdsForGroup(name))
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                _ = df.schema  # force analysis
                t_build = time.perf_counter() - t0
                jobs_build = len(tracker.getJobIdsForGroup(name)) - jobs_before
                rec["plan"] = plan_text(df)
                best = None
                for _ in range(runs):
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    el = time.perf_counter() - t1
                    best = el if best is None else min(best, el)
                # build-INCLUSIVE best-of-runs, comparable to bench.py
                t2 = time.perf_counter()
                df2 = fn(spark, SF_DIR)
                df2.write.format("noop").mode("overwrite").save()
                bench_like = time.perf_counter() - t2
                jobs_total = len(tracker.getJobIdsForGroup(name)) - jobs_before
                p = rec["plan"]
                rec.update(
                    build_s=round(t_build, 4),
                    exec_s=round(best, 4),
                    bench_like_s=round(bench_like, 4),
                    jobs_during_build=jobs_build,
                    jobs_total=jobs_total,
                    n_exchange=p.count("Exchange"),
                    n_bcast=p.count("BroadcastExchange"),
                    n_pyeval=p.count("EvalPython") + p.count("MapInPandas") + p.count("MapInArrow"),
                    n_smj=p.count("SortMergeJoin"),
                    n_shj=p.count("ShuffledHashJoin"),
                    n_bhj=p.count("BroadcastHashJoin"),
                    n_bnlj=p.count("BroadcastNestedLoopJoin"),
                )
            except Exception as exc:  # noqa: BLE001
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            finally:
                sc.setJobGroup(None, None)
                try:
                    spark.catalog.clearCache()
                except Exception:
                    pass
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            if "error" in rec:
                print(f"{name}: ERROR {rec['error']}")
            else:
                print(
                    f"{name}: build={rec['build_s']}s exec={rec['exec_s']}s "
                    f"bench_like={rec['bench_like_s']}s jobs={rec['jobs_total']} "
                    f"exch={rec['n_exchange']} bcast={rec['n_bcast']} py={rec['n_pyeval']}"
                )


if __name__ == "__main__":
    raise SystemExit(main())

"""Isolated per-query A/B bench across git versions or session confs.

Host load skews in-sweep timings, so settle a bench flag by running this
back-to-back per variant (a checkout per commit, or a `--conf` per conf):

    python tools/ab_bench.py <repo_root> <sf_dir> <runs> q1 [q2 ...] [--conf k=v,...]

It measures <repo_root>'s package with THIS checkout's bench.py: `warm`,
then per query the best of `runs` one-run `run_bench` calls, each of
which clears the cache after it (cold-plan cost, no replay of an earlier
run's persisted frame).  Prints one JSON line {"conf", "loadavg", "total",
"n_failed", "timings", "failures"}.
"""

import argparse
import json
import os
import sys

# bench before <repo_root> joins sys.path: an older worktree has no warm().
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import run_bench, warm  # noqa: E402


def time_queries(spark, queries, sf_dir, runs):
    """(timings, failures) of ``queries``, each the best of ``runs``
    cold-plan runs; a failing query is recorded and the rest still run."""
    timings, failures = {}, {}
    for name, fn in queries.items():
        for _ in range(runs):
            t, f = run_bench(spark, {name: fn}, sf_dir, 1)
            if f:
                failures.update(f)
                timings.pop(name, None)
                break
            timings[name] = min(t[name], timings.get(name, t[name]))
    return timings, failures


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("root")
    p.add_argument("sf_dir")
    p.add_argument("runs", type=int)
    p.add_argument("names", nargs="+")
    p.add_argument("--conf", default="", help="extra session confs k=v,k=v")
    a = p.parse_args()
    sys.path.insert(0, a.root)
    os.chdir(a.root)

    from pedri_analysis_spark.plans import all_queries
    from pedri_analysis_spark.session import get_spark

    extra = dict(kv.split("=", 1) for kv in a.conf.split(",") if kv)
    with get_spark(app_name="ab-bench", extra_conf=extra) as spark:
        queries = all_queries()
        warm(spark, a.sf_dir)
        timings, failures = time_queries(
            spark, {n: queries[n] for n in a.names}, a.sf_dir, a.runs
        )
    total = round(sum(timings.values()), 4)
    loadavg = [round(x, 2) for x in os.getloadavg()]
    print(json.dumps({"conf": a.conf or "baseline", "loadavg": loadavg, "total": total,
                      "n_failed": len(failures), "timings": timings, "failures": failures}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Isolated per-query A/B bench across git versions — the exoneration
protocol (bench-noise lesson, enforced since r9).

Co-tenant load inflates in-sweep timings up to ~1.4x, so a cross-round
bench_diff flag is evidence of LOAD as often as of a plan defect.  The
protocol that has settled every flag so far (dedup_cascade_report r9;
ngram/embedding/mad_robust/graph-edges r10):

1. `git worktree add .scratch/wt_X <commit>` for each version under test
2. run THIS script against each worktree back-to-back, same sf_dir,
   same runs, noting loadavg (printed) — the versions see the same host
3. compare best-of-N; delete the worktrees

Usage:
    python tools/ab_bench.py <repo_root> <sf_dir> <runs> q1 [q2 ...]

Prints one JSON line {"loadavg": [...], "timings": {...}}.  <repo_root>
is prepended to sys.path, so the same script measures any worktree's
code under the identical protocol (fresh session, bench.py's noop-write
measurement, clearCache between queries, warm JVM + Arrow pool).
"""

import json
import os
import sys
import time


def main() -> int:
    root, sf_dir, runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
    names = sys.argv[4:]
    sys.path.insert(0, root)
    os.chdir(root)

    from pedri_analysis_spark.plans import all_queries
    from pedri_analysis_spark.session import get_spark

    spark = get_spark(app_name="ab-bench")
    queries = all_queries()
    spark.range(1000).selectExpr("sum(id)").collect()

    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401
    from pyspark.sql.types import LongType

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(LongType())
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(1024).select(_warm("id")).collect()

    timings = {}
    for name in names:
        fn = queries[name]
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
            # between runs, not after the loop: queries that persist
            # frames (ann_lsh, pagerank, LPA, BFS) would otherwise
            # plan-cache-match run 1's InMemoryRelation and best-of-N
            # would measure a warm-cache replay instead of cold-plan cost
            spark.catalog.clearCache()
        timings[name] = round(best, 4)

    print(json.dumps({"loadavg": list(os.getloadavg()), "timings": timings}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

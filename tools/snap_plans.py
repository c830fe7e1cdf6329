"""Dump explain("formatted") for named queries to plans/r16/<q>_<tag>.txt (override with $SNAP_OUT_DIR).

Usage: python tools/snap_plans.py <repo_root> <tag> q1 [q2 ...]
Writes into THIS repo's plans/r16/ regardless of which root's code runs
(so a pre-change worktree can produce *_before snapshots)."""
import io
import os
import sys
from contextlib import redirect_stdout

OUT_DIR = os.environ.get(
    "SNAP_OUT_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r16"),
)


def main() -> int:
    root, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sys.path.insert(0, root)
    os.chdir(root)
    from pedri_analysis_spark.plans import all_queries
    from pedri_analysis_spark.session import get_spark

    queries = dict(all_queries())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with get_spark(app_name="snap-plans") as spark:
        for name in names:
            df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            n_ex = buf.getvalue().count("Exchange")
            print(f"{name}: {len(buf.getvalue())} bytes, {n_ex} Exchange refs -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

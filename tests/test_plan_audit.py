"""Catalog-wide plan-shape invariants (tools/plan_lint.py): no query may
plan a CartesianProduct, use BroadcastNestedLoopJoin without a documented
bounded build side, or cross into Python without a justified Arrow
kernel.  This is the mechanized version of the per-query scale audit —
a new query that silently plans a pairwise blowup fails here, not in a
100 TB run."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from tools.plan_lint import audit  # noqa: E402

SF = "/root/testdata/sf0.01"


def test_catalog_plan_invariants(spark):
    report, problems = audit(spark, SF)
    assert len(report) >= 119  # every registered query built a plan
    assert not problems, "\n".join(problems)
    # the committed audit artifact must stay in sync with the catalog
    import json

    with open("/root/repo/PLANAUDIT.json") as f:
        committed = json.load(f)
    assert set(committed) == set(report), (
        "PLANAUDIT.json stale — rerun tools/plan_lint.py"
    )


def test_allowlists_and_samples_name_known_queries():
    """Every allowlist and sample entry must name a registered query or one
    of a staged draft module: a stale allowlist name would silently exempt
    a future query that reuses it, and a stale sample name pins nothing.
    Every plans module that defines QUERIES must be registered or staged."""
    import glob
    import importlib
    import os

    from pedri_analysis_spark.plans import registry
    from tests.test_partition_invariance import SAMPLE, STAGED, known_queries
    from tools import plan_lint

    registered = {m.__name__.rsplit(".", 1)[1] for m in registry._modules()}
    assert not registered & set(STAGED), "staged draft already registered"
    plans_dir = os.path.dirname(registry.__file__)
    for path in glob.glob(os.path.join(plans_dir, "*.py")):
        name = os.path.splitext(os.path.basename(path))[0]
        mod = importlib.import_module(f"pedri_analysis_spark.plans.{name}")
        if hasattr(mod, "QUERIES"):
            assert name in registered or name in STAGED, (
                f"plans/{name}.py defines QUERIES but is neither registered "
                "nor staged"
            )

    known = set(known_queries())
    for label, names in (
        ("plan_lint._BNLJ_ALLOWED", plan_lint._BNLJ_ALLOWED),
        ("plan_lint._PYTHON_ALLOWED", plan_lint._PYTHON_ALLOWED),
        ("plan_lint._EAGER_EXECUTING", plan_lint._EAGER_EXECUTING),
        ("test_partition_invariance.SAMPLE", SAMPLE),
    ):
        stale = sorted(set(names) - known)
        assert not stale, f"{label} names unknown queries: {stale}"


def test_staged_modules_are_leaves():
    """No shipped file imports a STAGED draft module, so deleting one
    leaves every registered query's closure hash, the tools and the
    benchmarks unchanged.  Scans import statements (relative ones
    resolved); the registry's own module list is checked above."""
    import ast
    import glob
    import os

    from tests.test_partition_invariance import STAGED

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    staged = {f"pedri_analysis_spark.plans.{m}" for m in STAGED}
    paths = [
        *glob.glob(
            os.path.join(root, "pedri_analysis_spark", "**", "*.py"), recursive=True
        ),
        *glob.glob(os.path.join(root, "tools", "*.py")),
        *glob.glob(os.path.join(root, "perfbench", "*.py")),
        os.path.join(root, "bench.py"),
        os.path.join(root, "__spark_entry__.py"),
    ]
    offenders = []
    for path in paths:
        rel = os.path.relpath(path, root)
        module = os.path.splitext(rel)[0].replace(os.sep, ".")
        if module in staged:
            continue
        package = module.rsplit(".", 1)[0].split(".")
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                parts = package[: len(package) - node.level + 1] if node.level else []
                base = ".".join(parts + ([node.module] if node.module else []))
                names = [base] + [f"{base}.{a.name}" for a in node.names]
            else:
                continue
            offenders += [
                f"{rel}:{node.lineno} imports {n}"
                for n in names
                if any(n == s or n.startswith(s + ".") for s in staged)
            ]
    assert not offenders, "\n".join(offenders)

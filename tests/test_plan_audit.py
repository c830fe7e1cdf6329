"""Catalog-wide plan-shape invariants (tools/plan_lint.py): no query may
plan a CartesianProduct, use BroadcastNestedLoopJoin without a documented
bounded build side, or cross into Python without a justified Arrow
kernel.  This is the mechanized version of the per-query scale audit —
a new query that silently plans a pairwise blowup fails here, not in a
100 TB run."""

from __future__ import annotations

import os

from tests.conftest import ROOT
from tools.plan_lint import audit

SF = "/root/testdata/sf0.01"


def test_catalog_plan_invariants(spark):
    report, problems = audit(spark, SF)
    assert len(report) >= 119  # every registered query built a plan
    assert not problems, "\n".join(problems)
    # the committed audit artifact must stay in sync with the catalog
    import json

    with open(os.path.join(ROOT, "PLANAUDIT.json")) as f:
        committed = json.load(f)
    assert set(committed) == set(report), (
        "PLANAUDIT.json stale — rerun tools/plan_lint.py"
    )


def test_allowlists_and_samples_name_known_queries():
    """Every allowlist and sample entry must name a registered query: a
    stale allowlist name would silently exempt a future query that reuses
    it, and a stale sample name pins nothing.  Every plans module that
    defines QUERIES must be registered, and every registered query must
    carry its oracle."""
    import glob
    import importlib

    from pedri_analysis_spark.plans import registry
    from tests.test_partition_invariance import SAMPLE
    from tools import plan_lint

    registered = {m.__name__.rsplit(".", 1)[1] for m in registry._modules()}
    plans_dir = os.path.dirname(registry.__file__)
    for path in glob.glob(os.path.join(plans_dir, "*.py")):
        name = os.path.splitext(os.path.basename(path))[0]
        mod = importlib.import_module(f"pedri_analysis_spark.plans.{name}")
        if hasattr(mod, "QUERIES"):
            assert name in registered, (
                f"plans/{name}.py defines QUERIES but is not registered"
            )

    known = set(registry.all_queries())
    assert set(registry.all_oracle_sql()) == known
    for label, names in (
        ("plan_lint._BNLJ_ALLOWED", plan_lint._BNLJ_ALLOWED),
        ("plan_lint._PYTHON_ALLOWED", plan_lint._PYTHON_ALLOWED),
        ("plan_lint._EAGER_EXECUTING", plan_lint._EAGER_EXECUTING),
        ("test_partition_invariance.SAMPLE", SAMPLE),
    ):
        stale = sorted(set(names) - known)
        assert not stale, f"{label} names unknown queries: {stale}"


def test_no_hard_coded_checkout_path():
    """Tests and tools locate the repo from their own __file__.  A quoted
    absolute path to this checkout, or to a repo file inside some other
    checkout, makes a run from any other checkout import and read that
    fixed copy instead of its own."""
    import glob
    import re

    def names_a_checkout(path: str) -> bool:
        parts = path.strip("/").split("/")
        return (
            path == ROOT
            or path.startswith(ROOT + "/")
            or any(os.path.exists(os.path.join(ROOT, *parts[i:])) for i in range(1, len(parts)))
        )

    offenders = []
    for path in sorted(
        glob.glob(os.path.join(ROOT, "tests", "*.py"))
        + glob.glob(os.path.join(ROOT, "tools", "*.py"))
    ):
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                for literal in re.findall(r"""["'](/[^"'\s{]+)""", line):
                    if names_a_checkout(literal):
                        offenders.append(f"{os.path.relpath(path, ROOT)}:{lineno} {literal}")
    assert not offenders, "absolute checkout path in:\n" + "\n".join(offenders)

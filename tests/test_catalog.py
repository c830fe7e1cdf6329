"""QUERIES.md must stay in sync with the registry (regeneration is a
no-op); catches silently dropped or undocumented queries.  Regenerates
into tmp_path so a stale run FAILS without rewriting the committed file
(no self-healing gate, no dirty working tree)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import ROOT, persistent_rdds


def test_query_catalog_is_current(tmp_path):
    committed = open(os.path.join(ROOT, "QUERIES.md")).read()
    out = tmp_path / "QUERIES.md"
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_query_catalog.py"), str(out)],
        check=True,
        cwd=ROOT,
    )
    regenerated = out.read_text()
    assert regenerated == committed, (
        "QUERIES.md stale — rerun tools/gen_query_catalog.py"
    )
    # every registered query has a docstring (the catalog summary source)
    for line in regenerated.splitlines():
        if line.startswith("| ") and "`" in line:
            summary = line.rsplit("|", 2)[-2].strip()
            assert summary, f"missing docstring summary: {line}"


def test_registry_rotation_prioritizes_unverified(tmp_path, monkeypatch):
    """The driver checks only the first N registered queries per round, so
    the registry orders by verification debt: latest-check-failed first,
    then rewritten-since-green (source hash differs from the stamp the
    green proof was recorded against — SOURCE_MANIFEST.json), then
    never-checked, then least-recently-green — parsed from the committed
    CORRECTNESS_r*.json files."""
    import json

    from pedri_analysis_spark.plans import registry

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    broken = {"rows_match": None, "schema_match": None, "hash_match": None,
              "spark_rows": None, "oracle_rows": None, "err": "boom"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": green, "b": green, "c": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"b": green, "c": broken})
    )
    (tmp_path / "SOURCE_MANIFEST.json").write_text(
        json.dumps({
            "a": {"hash": "ha", "round": 1},
            "b": {"hash": "hb-as-proven", "round": 2},
            "c": {"hash": "hc", "round": 1},
        })
    )
    monkeypatch.setattr(registry, "_REPO_ROOT", str(tmp_path))
    monkeypatch.setattr(
        registry, "_MANIFEST_PATH", str(tmp_path / "SOURCE_MANIFEST.json")
    )
    # b's on-disk source no longer matches its proven stamp; a's does;
    # c and d have no computable current hash (trust the stamp)
    monkeypatch.setattr(
        registry,
        "_current_hashes",
        lambda fns: {"a": "ha", "b": "hb-rewritten"},
    )

    names = {n: None for n in ("a", "b", "c", "d")}
    # c: failed its LATEST check (r02 error after r01 green) -> tier 0
    # b: green r02 but rewritten since its proof            -> tier 1
    # d: never driver-checked                               -> tier 2
    # a: green on proven source                             -> tier 3
    assert registry._ordered(names) == ["c", "b", "d", "a"]

    # a green query with NO manifest stamp is conservatively re-proven
    # (tier 1) — forgetting the round-start --stamp-latest self-heals, and
    # deleting a stamp is how a re-proof is forced
    (tmp_path / "SOURCE_MANIFEST.json").write_text(
        json.dumps({"b": {"hash": "hb-as-proven", "round": 2}})
    )
    assert registry._ordered(names) == ["c", "a", "b", "d"]

    # no history at all -> every query is never-checked (tier 2), so the
    # order is registration order
    monkeypatch.setattr(registry, "_REPO_ROOT", str(tmp_path / "empty"))
    assert registry._ordered(names) == list(names)


def test_query_table_rejects_a_repeated_name():
    """A module that registers one name twice must fail at import instead
    of silently replacing the first query; the table keeps the first."""
    from pedri_analysis_spark.plans.registry import query_table

    queries, oracles, register = query_table()

    @register("q", "SELECT 1")
    def first(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="'q' registered twice"):

        @register("q", "SELECT 2")
        def second(spark, sf_dir):
            return None

    assert queries == {"q": first} and oracles == {"q": "SELECT 1"}


def test_source_manifest_covers_every_green_query():
    """Every query with a driver-green row must carry a SOURCE_MANIFEST
    stamp (bootstrap/stamp-latest keeps this true); an unstamped green
    query would silently burn a re-prove window slot every round."""
    from pedri_analysis_spark.plans import registry

    fns = {}
    for mod in registry._modules():
        fns.update(mod.QUERIES)
    last_green, _ = registry._verification_history()
    manifest = registry._manifest()
    missing = sorted(
        n for n in fns if last_green.get(n, -1) >= 0 and n not in manifest
    )
    # allow exactly the window the CURRENT round's driver will stamp next
    # round-start: queries green in the NEWEST correctness file only
    newest = max(
        (r for r in set(last_green.values())), default=-1
    )
    missing = [n for n in missing if last_green.get(n) != newest]
    assert not missing, (
        f"green queries without a source stamp {missing} — run "
        "tools/update_source_manifest.py (--stamp-latest at round start)"
    )


def test_bench_diff_flags_regressions_and_failures(tmp_path):
    import json

    from tools.bench_diff import diff

    old = {"value": 10.0, "queries": {"a": 1.0, "b": 2.0, "tiny": 0.05}}
    ok_new = {"value": 11.0, "queries": {"a": 1.4, "b": 2.0, "tiny": 1.0,
                                          "brand_new": 9.0}, "failures": {}}
    # 1.4x and noise-floor/tiny/new queries never fail the gate
    assert diff(old, ok_new, warn=1.5, fail=2.0) == 0

    bad_new = {"value": 12.0, "queries": {"a": 2.5, "b": 2.0}, "failures": {}}
    assert diff(old, bad_new, warn=1.5, fail=2.0) == 1  # 2.5x on a

    broken = {"value": 5.0, "queries": {"a": 1.0},
              "failures": {"b": "AnalysisException: boom"}}
    assert diff(old, broken, warn=1.5, fail=2.0) == 1


def test_run_bench_isolates_failures(spark):
    """One broken query must not zero the benchmark, and a query that
    fails on a later run is a failure only — never also a timing."""
    from pyspark.sql import functions as F

    from bench import run_bench

    calls = {"n": 0}

    def ok(s, sf):
        return s.range(10).agg(F.count(F.lit(1)).alias("n"))

    def always_broken(s, sf):
        return s.range(10).selectExpr("no_such_column + 1")

    def breaks_on_second_run(s, sf):
        calls["n"] += 1
        if calls["n"] > 1:
            raise RuntimeError("flaky on rerun")
        return s.range(10).agg(F.count(F.lit(1)).alias("n"))

    timings, failures = run_bench(
        spark,
        {"ok": ok, "broken": always_broken, "flaky": breaks_on_second_run},
        sf_dir="unused",
        runs=2,
    )
    assert set(timings) == {"ok"}
    assert set(failures) == {"broken", "flaky"}
    assert timings["ok"] > 0


def test_run_bench_keeps_query_output_off_stdout(spark, capsys):
    """A query that prints (run_all's lineup report does) leaves the
    bench's stdout empty, so its one JSON line stays the whole stdout."""
    from bench import run_bench

    def prints(s, sf):
        df = s.range(3)
        df.show()
        print("query chatter")
        return df

    timings, failures = run_bench(spark, {"prints": prints}, "unused", 1)
    out, err = capsys.readouterr()
    assert set(timings) == {"prints"} and not failures
    assert out == ""
    assert "query chatter" in err


def test_scaling_check_discards_a_first_sweep(tmp_path, monkeypatch):
    """scaling_check runs one discarded runs=1 sweep at the first SF before
    any timed sweep, and records only the timed sweeps."""
    import argparse
    import json

    import bench
    from tools import scaling_check

    names = ["bucketed_join_segment_revenue", "cosine_topk_bruteforce"]
    calls = []

    def fake_run_bench(spark, queries, sf_dir, runs):
        calls.append((sf_dir, runs))
        cold = len(calls) == 1
        return {n: 9.0 if cold else 1.0 for n in queries}, {}

    monkeypatch.setattr(bench, "run_bench", fake_run_bench)
    monkeypatch.setattr(bench, "warm", lambda spark, sf_dir: None)
    out = tmp_path / "scaling.json"
    args = argparse.Namespace(
        sf_dirs=["x/sf0.001", "x/sf0.01"], runs=2, only=",".join(names), out=str(out)
    )
    assert scaling_check._check(None, args) == 0
    assert calls == [("x/sf0.001", 1), ("x/sf0.001", 2), ("x/sf0.01", 2)]
    timings = json.loads(out.read_text())["timings"]
    assert timings == {"sf0.001": dict.fromkeys(names, 1.0), "sf0.01": dict.fromkeys(names, 1.0)}


def test_ab_bench_isolates_failures_and_releases_cache(spark):
    """ab_bench's per-query loop records a broken query and goes on, and
    each run starts with nothing persisted, so best-of-N never replays an
    earlier run's cached frame."""
    from pyspark.sql import functions as F

    from tools.ab_bench import time_queries

    baseline = persistent_rdds(spark)
    held_at_start = []

    def persists(s, sf):
        held_at_start.append(persistent_rdds(spark) - baseline)
        df = s.range(100).withColumn("v", F.col("id") * 2).persist()
        df.count()
        return df.agg(F.sum("v").alias("s"))

    def broken(s, sf):
        return s.range(10).selectExpr("no_such_column + 1")

    timings, failures = time_queries(
        spark, {"broken": broken, "persists": persists}, "unused", 3
    )
    assert set(failures) == {"broken"}
    assert set(timings) == {"persists"} and timings["persists"] > 0
    assert held_at_start == [set(), set(), set()]
    assert not persistent_rdds(spark) - baseline


def test_tools_warm_up_only_through_bench():
    """bench.warm is the one session warm-up: a tool that calls a pandas
    UDF, builds the bucketed tables or runs its own spark.range action
    times queries from a different state than bench.py does."""
    import ast
    import glob

    banned = {"pandas_udf", "_warm_udf", "ensure_bucketed_tables"}
    offenders = []
    for path in sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            if isinstance(fn, ast.Name):
                name = fn.id
            elif isinstance(fn, ast.Attribute):
                name = fn.attr
                if name == "range" and getattr(fn.value, "id", None) == "spark":
                    name = "spark.range"
            else:
                continue
            if name in banned or name == "spark.range":
                offenders.append(f"{os.path.basename(path)}:{node.lineno} {name}")
    assert not offenders, "warm-up outside bench.warm:\n" + "\n".join(offenders)


def test_package_caches_and_confs_only_through_their_owners():
    """cache.py owns the materialize-and-release policy and the session
    setup owns session conf: no bare ``x.count()`` statement (a cache fill
    goes through cache.materialize), no ``.unpersist(`` outside cache.py
    and no ``.conf.set(`` outside session.py and sources/tables.py, whose
    ensure_session_conf sets what the driver's plain session lacks. A conf
    set in a query body would change every thread sharing the session.
    plans/registry.py owns query registration: no ``def _register``,
    ``def _t`` or ``QueryFn =`` elsewhere (query_table hands each module
    its ``_register``; tables load through ``load_table``)."""
    import ast
    import glob

    pkg = os.path.join(ROOT, "pedri_analysis_spark")
    owners = {
        "unpersist": {"cache.py"},
        "set": {"session.py", "sources/tables.py"},
        "register": {"plans/registry.py"},
    }
    offenders = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Expr) and isinstance(node.value, ast.Call):
                fn = node.value.func
                if isinstance(fn, ast.Attribute) and fn.attr == "count" and not node.value.args:
                    offenders.append(f"{rel}:{node.lineno} bare .count()")
            if rel not in owners["register"]:
                if isinstance(node, ast.FunctionDef) and node.name in ("_register", "_t"):
                    offenders.append(f"{rel}:{node.lineno} def {node.name}")
                if isinstance(node, (ast.Assign, ast.AnnAssign)):
                    targets = getattr(node, "targets", None) or [node.target]
                    if any(getattr(t, "id", None) == "QueryFn" for t in targets):
                        offenders.append(f"{rel}:{node.lineno} QueryFn =")
            if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
                continue
            fn = node.func
            if fn.attr == "unpersist" and rel not in owners["unpersist"]:
                offenders.append(f"{rel}:{node.lineno} .unpersist(")
            if (
                fn.attr == "set"
                and getattr(fn.value, "attr", None) == "conf"
                and rel not in owners["set"]
            ):
                offenders.append(f"{rel}:{node.lineno} .conf.set(")
    assert not offenders, "\n".join(offenders)


def test_extract_fn_source_includes_decorators_and_rejects_ambiguity():
    """The source-stamp hash must cover the @_register decorator (the
    oracle SQL lives in its argument, so an oracle edit is a rewrite)
    and refuse ambiguous or absent names rather than guessing."""
    from pedri_analysis_spark.plans import registry

    text = '''
X = 1


@_register(
    "q_one",
    "SELECT 1 AS x",
)
def q_one(spark, sf):
    return spark.range(1)


def q_two(spark, sf):
    return spark.range(2)


def dup():
    pass


def dup():
    pass
'''
    src = registry.extract_fn_source(text, "q_one")
    assert src is not None and src.startswith("@_register(")
    assert '"SELECT 1 AS x"' in src and "return spark.range(1)" in src
    # oracle edit changes the hash even when the body is untouched
    h1 = registry.fn_source_hash(text, "q_one")
    h2 = registry.fn_source_hash(text.replace("SELECT 1", "SELECT 2"), "q_one")
    assert h1 != h2
    # undecorated functions work too; absent and duplicate names refuse
    assert "range(2)" in registry.extract_fn_source(text, "q_two")
    assert registry.extract_fn_source(text, "nope") is None
    assert registry.extract_fn_source(text, "dup") is None
    assert registry.extract_fn_source("def broken(:", "broken") is None


def test_closure_hash_retiers_on_helper_only_edits():
    """The manifest stamp hashes the query function's TRANSITIVE helper
    closure (VERDICT r11 ask #5): an edit to a same-module helper, a
    module-level constant, an oracle-builder function, or a helper in
    ANOTHER repo module reached through an import must all change the
    hash (re-tiering the caller), while edits to unrelated siblings must
    not."""
    from pedri_analysis_spark.plans import registry

    pkg = registry._REPO_PKG
    plans_text = f'''
from {pkg}.functions import helpers as hx
from {pkg}.functions.helpers import shared_const

CAP = 64


def _register(name, oracle):
    def deco(fn):
        return fn

    return deco


def _oracle():
    return f"SELECT {{CAP}} AS c, {{shared_const}} AS s"


@_register("q_main", _oracle())
def q_main(spark, sf):
    return hx.kernel(spark, CAP)


def q_unrelated(spark, sf):
    return spark.range(3)
'''
    helpers_text = '''
shared_const = 7


def kernel(spark, cap):
    return spark.range(cap)


def lonely():
    return 99
'''
    texts = {
        f"{pkg}.plans.fake": plans_text,
        f"{pkg}.functions.helpers": helpers_text,
    }

    def hash_with(**edits):
        t = dict(texts)
        for mod, (old, new) in edits.items():
            assert old in t[mod]
            t[mod] = t[mod].replace(old, new)
        return registry.closure_fn_hash(
            f"{pkg}.plans.fake", "q_main", lambda m: t.get(m), {}
        )

    base = hash_with()
    assert base is not None
    hmod = f"{pkg}.functions.helpers"
    fmod = f"{pkg}.plans.fake"
    # cross-module helper body edit re-tiers the caller
    assert hash_with(**{hmod: ("range(cap)", "range(cap + 1)")}) != base
    # cross-module constant edit re-tiers the caller
    assert hash_with(**{hmod: ("shared_const = 7", "shared_const = 8")}) != base
    # same-module constant edit re-tiers the caller
    assert hash_with(**{fmod: ("CAP = 64", "CAP = 32")}) != base
    # edits to siblings the closure does NOT reach leave the hash alone
    assert hash_with(**{hmod: ("return 99", "return 100")}) == base
    assert hash_with(**{fmod: ("range(3)", "range(4)")}) == base
    # function missing -> None (caller trusts the stamp)
    assert (
        registry.closure_fn_hash(fmod, "q_absent", lambda m: texts.get(m), {})
        is None
    )


def test_closure_hash_sees_function_local_imports():
    """r12 ADVICE regression pin: helpers reached via imports written
    INSIDE a def's body (the dominant draft style) must enter the
    closure — before the fix, editing such a helper left the caller's
    hash unchanged, silently defeating re-tier-on-helper-edit."""
    from pedri_analysis_spark.plans import registry

    pkg = registry._REPO_PKG
    caller_text = f'''
def q_main(spark, sf):
    from {pkg}.plans.fake_helpers import body_helper
    from {pkg}.functions import fake_ops as fo

    return body_helper(spark) + fo.op(sf)
'''
    helpers_text = '''
def body_helper(spark):
    return 1
'''
    # a PACKAGE module: resolvable only through the __init__.py getter
    ops_init_text = '''
def op(sf):
    return 2
'''
    texts = {
        f"{pkg}.plans.fake": caller_text,
        f"{pkg}.plans.fake_helpers": helpers_text,
        f"{pkg}.functions.fake_ops": ops_init_text,
    }

    def hash_with(**edits):
        t = dict(texts)
        for mod, (old, new) in edits.items():
            assert old in t[mod]
            t[mod] = t[mod].replace(old, new)
        return registry.closure_fn_hash(
            f"{pkg}.plans.fake", "q_main", lambda m: t.get(m), {}
        )

    base = hash_with()
    assert base is not None
    # editing the from-import helper's BODY re-tiers the caller
    assert (
        hash_with(**{f"{pkg}.plans.fake_helpers": ("return 1", "return 11")})
        != base
    )
    # editing the module-alias helper's body re-tiers too
    assert (
        hash_with(**{f"{pkg}.functions.fake_ops": ("return 2", "return 22")})
        != base
    )


def test_closure_hash_local_import_shadows_module_def():
    """r13 ADVICE regression pin: a body-level ``from .x import name``
    that SHADOWS a same-named top-level def must hash the imported
    source (Python scoping: the local import wins inside the body) —
    before the fix, ``if base in defs`` preceded the local-import
    lookup, so editing the imported helper left the caller's hash
    unchanged.  The module-level def stays in the closure TOO (the
    superset rule: a decorator or default expression sees module scope
    — pedri_zone_metrics' oracle SQL uses pedri_queries._cnt while its
    body uses pedri_pipeline._cnt, both real dependencies)."""
    from pedri_analysis_spark.plans import registry

    pkg = registry._REPO_PKG
    caller_text = '''
def helper():
    return "module-level"


def q_main(spark, sf):
    from {pkg}.plans.fake_helpers import helper

    return helper()
'''.replace("{pkg}", pkg)
    helpers_text = '''
def helper():
    return "imported"
'''
    texts = {
        f"{pkg}.plans.fake": caller_text,
        f"{pkg}.plans.fake_helpers": helpers_text,
    }

    def hash_with(**edits):
        t = dict(texts)
        for mod, (old, new) in edits.items():
            assert old in t[mod]
            t[mod] = t[mod].replace(old, new)
        return registry.closure_fn_hash(
            f"{pkg}.plans.fake", "q_main", lambda m: t.get(m), {}
        )

    base = hash_with()
    assert base is not None
    # editing the SHADOWING imported helper re-tiers (the r13 fix)
    assert (
        hash_with(**{f"{pkg}.plans.fake_helpers": ('"imported"', '"edited"')})
        != base
    )
    # editing the shadowed module-level def ALSO re-tiers (superset)
    assert (
        hash_with(**{f"{pkg}.plans.fake": ('"module-level"', '"edited"')})
        != base
    )


def test_disk_text_getter_reads_package_init():
    """r12 ADVICE regression pin: package modules backed by __init__.py
    (pedri_analysis_spark.operators defines spread() there) must be
    readable by the disk getter, else their defs silently drop out of
    every closure."""
    from pedri_analysis_spark.plans import registry

    get_text = registry._disk_text_getter()
    text = get_text("pedri_analysis_spark.operators")
    assert text is not None and "def spread" in text


def test_stamp_latest_promotes_rewritten_query_back_to_green(tmp_path, monkeypatch):
    """End-to-end tier transition: a green query whose source changed
    sits in the rewritten tier until --stamp-latest records the newly
    proven hash, after which it returns to the green rotation."""
    import json

    from pedri_analysis_spark.plans import registry
    from tools import update_source_manifest as usm

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    (tmp_path / "CORRECTNESS_r07.json").write_text(
        json.dumps({"q": green, "other": green})
    )
    manifest_path = tmp_path / "SOURCE_MANIFEST.json"
    manifest_path.write_text(
        json.dumps({
            "q": {"hash": "stale-proof-hash", "round": 5},
            "other": {"hash": "cur-other", "round": 5},
        })
    )
    monkeypatch.setattr(registry, "_REPO_ROOT", str(tmp_path))
    monkeypatch.setattr(registry, "_MANIFEST_PATH", str(manifest_path))
    monkeypatch.setattr(
        registry, "_current_hashes",
        lambda fns: {"q": "new-hash", "other": "cur-other"},
    )
    names = {"q": None, "other": None}
    # q rewritten since its r05 stamp -> re-prove tier, ahead of 'other'
    assert registry._ordered(names) == ["q", "other"]

    # round-start protocol: stamp the newest round's greens
    monkeypatch.setattr(usm, "_all_fns", lambda: (names, True))
    manifest = usm.stamp_latest()
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    assert manifest["q"] == {"hash": "new-hash", "round": 7}
    # both green-on-proven-source now: stalest-stamp ordering is moot
    # (same round), registration order breaks the tie
    assert registry._ordered(names) == ["q", "other"]
    key_q = registry._manifest()["q"]
    assert key_q == "new-hash"


def test_manifest_tool_refuses_incomplete_registry(monkeypatch):
    """bootstrap REWRITES the manifest, so it must refuse when a query
    module failed to import (its family's stamps would silently vanish);
    stamp_latest proceeds but must skip pruning."""
    import warnings

    from pedri_analysis_spark.plans import registry
    from tools import update_source_manifest as usm

    def broken_modules():
        warnings.warn(
            "query module 'text_queries' dropped from registry: boom",
            RuntimeWarning,
            stacklevel=2,
        )
        return []

    monkeypatch.setattr(registry, "_modules", broken_modules)
    fns, complete = usm._all_fns()
    assert fns == {} and complete is False
    with pytest.raises(SystemExit):
        usm.bootstrap()


def test_tracer_wraps_only_names_that_resolve():
    """Every (module, name) pair the benchmark tracer wraps resolves, so a
    renamed or deleted builder fails here rather than when a traced
    benchmark run constructs its Tracer. Reads perfbench/tracer.py only."""
    import importlib
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "perfbench_tracer", os.path.join(ROOT, "perfbench", "tracer.py")
    )
    tracer = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracer)
    pairs = [(mod, name) for mod, names, _ in tracer.LAYERS for name in names]
    missing = [
        f"{mod}.{name}"
        for mod, name in pairs
        if not callable(getattr(importlib.import_module(mod), name, None))
    ]
    assert pairs and not missing, missing

"""Catalog-wide physical-plan linter: the mechanized 100x scale audit.

Builds every registered query's physical plan at sf0.01 (build only —
nothing is executed except the memoized assembled-artifact orchestrators)
and extracts the scale-relevant facts:

- ``scans``            number of parquet FileScans (re-scan detector)
- ``shuffles``         Exchange hashpartitioning / rangepartitioning
- ``single_part``      Exchange SinglePartition (global sorts/windows —
                       fine only when the input is provably small)
- ``broadcasts``       BroadcastExchange count
- ``cartesian``        CartesianProduct present (always a bug here)
- ``bnlj``             BroadcastNestedLoopJoin present (only legal
                       against broadcast k-row / 1-row bounds frames)
- ``python``           Arrow/Pandas evaluation nodes (the UDF policy
                       boundary: each site needs a written justification)
- ``pushed_filters``   whether any scan reports a non-empty PushedFilters
- ``flat_output``      final schema contains no ARRAY/MAP/STRUCT column
                       (the driver canonicalizes results via pandas
                       sort/hash; list cells are unhashable — bounded
                       collections must be serialized to joined strings,
                       the pedri_lineup_positions convention)

Count caveat: queries that persist() an intermediate (the LSH and
sparse-cosine self-joins) print the cached subtree INSIDE each
InMemoryRelation node, so their scan/shuffle counts overstate real work
— at runtime the cached frame computes once.  The counts are a plan
fingerprint for drift detection, not a cost model; the hard invariants
below are unaffected.

Emits PLANAUDIT.json (committed, regenerated per round) and exits
non-zero if a HARD invariant breaks:
  * CartesianProduct anywhere, ever;
  * BroadcastNestedLoopJoin outside _BNLJ_ALLOWED;
  * a Python boundary outside _PYTHON_ALLOWED;
  * a non-flat final output column (ARRAY/MAP/STRUCT).
tests/test_plan_audit.py runs the same checks inside pytest.

Usage: python tools/plan_lint.py [output.json] [--sf-dir DIR]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# BroadcastNestedLoopJoin is legitimate ONLY where the build side is a
# broadcast 1-row (bounds/totals) or k-row (centroid/grid) frame — the
# probe side streams once and no pairwise blowup is possible.  Every
# entry cites where the bounded build side comes from.
_BNLJ_ALLOWED = {
    "band_join_event_values",  # broadcast k-row band-edge dim (non-equi)
    "cosine_topk_bruteforce",  # broadcast 1-row query vector
    "equidepth_price_bins",  # 1-row total-count frame (ntile arithmetic)
    "hard_negative_mining",  # broadcast 8-row centroid dim (probe scoring)
    "pq_recall_at_k",  # broadcast 4-row query frame (exact audit side)
    "cross_join_region_segments",  # the deliberate tiny-dim cross join demo
    "idle_rich_customers",  # 1-row decimal-avg cutoff frame (Q22 scalar subquery)
    "ivf_topk",  # k-row centroid frame (probe selection)
    "pagerank_trade_graph",  # 1-row node-count frame, once per iteration
    "pmi_top_cooccurrence",  # 1-row corpus doc-count frame (PMI denominator)
    "ari_clusters_vs_labels",  # four 1-row combinatorics frames crossed
    "map_bm25_eval",  # 1-row corpus-stats frame per scoring leg (as mrr)
    "personalized_pagerank",  # 1-row seed-count frame (as pagerank)
    "goodman_kruskal_tau",  # 1-row column-margin frame crossed
    "pedri_radar_percentiles",  # 1-row league-means frame
    "quantile_binning_price",  # k-row exact-quantile bounds frame
    "resample_ffill_daily",  # 1-row day-bounds frame -> grid explode
    "sparse_cosine_pairs",  # 1-row corpus-count frame (idf)
    "sq_recall_at_k",  # 1-row max-abs scale frame
    "ivf_recall_at_k",  # 8-row sampled-query frame (recall audit)
    "table_health_report",  # 1-row per-constraint totals frames unioned
    "value_imputation_cascade",  # 1-row global-mean fallback frame
    "association_rules_lift",  # 1-row order-count frame (support denom)
    "important_stock_parts_q11",  # 1-row grand-total frame (Q11 scalar subquery)
    "bm25_topk_docs",  # 1-row corpus-stats frame (N, total_dl, per-term df)
    "rrf_fusion_topk",  # same BM25 stats frame + 1-row query vector
    "boilerplate_ngram_flags",  # 1-row doc-count frame (df threshold)
    "distribution_drift_chisq",  # 1-row min/max bounds + bin-totals frames
    "tfidf_top_terms",  # 1-row corpus-count frame (idf)
    "winsorized_price_stats",  # 1-row percentile-bounds frame
    "zorder_layout_orders",  # 1-row quantization-bounds frame
    "compaction_plan_orders",  # same 1-row bounds frame (reuses the z manifest)
    "mixture_temperature_weights",  # 1-row weight/char totals frame
    "cusum_changepoint_daily",  # 1-row (n_days, total) frame (mean centering)
    "naive_bayes_token_probs",  # 1-row vocabulary-size frame (Laplace denom)
    "benford_first_digit_audit",  # 1-row digit-total frame (share denom)
    "gini_feature_importance",  # 1-row root-impurity frame shared by 3 legs
    "lift_decile_gains",  # 1-row N/total frames (ntile arithmetic + base rate)
    "decision_stump_value_split",  # 1-row class-totals frame (right-side counts)
    "abc_classification_suppliers",  # 1-row grand-total frame (share denominator)
    # r11 queries (plans/draft_r11.py — registered in r11)
    "bootstrap_ci_avg_order",  # 1-row point/lo/hi CI frames crossed together
    "vocab_coverage_curve",  # 1-row n_vocab/occ_total frames (ntile + ppm share)
    # r12 queries (plans/draft_r12.py — registered in r12, facts pinned
    # by tests/test_draft_r12.py)
    "kcore_decomposition",  # per-round report crosses three 1-row counts
    "chi2_token_selection",  # 1-row corpus-total frame (contingency n)
    "source_divergence_audit",  # |sources| + 1-row total frames vs vocab
    "matryoshka_recall_at_k",  # 8-row query frame (sq_recall precedent)
    # r13 queries (plans/draft_r13.py — registered in r13, facts pinned
    # by tests/test_draft_r13.py)
    "hits_hubs_authorities",  # 1-row max frame per normalization (3x)
    "ndcg_eval_topk",  # 4-row query frame (ivf_recall precedent)
    "ks_drift_doclen",  # source-pair build: |sources|^2 non-equi (domain-bounded)
    "bloom_filter_fpr_audit",  # 1-row filter-stats frames crossed together
    "t_closeness_audit",  # 10-row band grid + 1-row corpus-total frame
    "zone_map_skipping_audit",  # 4-row literal predicate frame (non-equi overlap)
    "lagged_spearman_ccf",  # 7-row literal lag frame against the daily rollup
    "permutation_test_segments",  # 1-row observed-statistic frame
    "mrr_bm25_phrases",  # 1-row corpus-stats frame (bm25 precedent) x4 legs
}

# Arrow-vectorized Python kernels with written justifications (see the
# docstrings at each site).  Anything else crossing into Python fails.
_PYTHON_ALLOWED = {
    "ann_lsh_near_dups",  # LSH bucket kernel + cosine_fast pair scoring (r10)
    "rrf_fusion_topk",  # reuses cosine_topk's Arrow einsum kernel (50-row side)
    "hard_negative_mining",  # cosine_fast Arrow kernel (probe + candidate scoring)
    "ivf_recall_at_k",  # cosine_fast Arrow kernel (per-pair vector dot)
    "wav_roundtrip_stats",  # REAL stdlib-wave codec round trip (mapInPandas)
    "cosine_topk_bruteforce",  # einsum pandas_udf (operators/similarity.py)
    "ivf_topk",  # Arrow probe scoring kernel
    "multimodal_feature_stub",  # mapInPandas decode path (multimodal.py)
    "sq_recall_at_k",  # Arrow int8 quantize/dot kernel
    "thumbnail_manifest",  # mapInPandas resize planner
    # r9 fresh look (this audit forced it, as intended): the pair-scoring
    # stage switched from the Catalyst HOF fold to the cosine_fast Arrow
    # kernel after an A/B on 10M sf2.0synth pairs (fold 33.6s vs einsum
    # 6.2s, identical output) — the interpreted zip_with/aggregate
    # lambdas allocate 3 transient arrays + ~192 frames per pair, which
    # measured superlinear on the 2x-step probe; justifications in the
    # two query docstrings.
    "embedding_near_dups",  # cosine_fast Arrow kernel (pair scoring)
    # r12 queries (plans/draft_r12.py — registered in r12)
    "matryoshka_recall_at_k",  # dot_fast Arrow kernel (full + prefix dots)
    "negative_hardness_histogram",  # cosine_fast Arrow kernel (pair sims)
    # r13 queries (plans/draft_r13.py — registered in r13)
    "ndcg_eval_topk",  # cosine_fast Arrow kernel (same audit topology as ivf_recall_at_k)
    "semantic_dedup_prune",  # cosine_fast Arrow kernel (pair scoring)
    # NOTE: kmeans_embeddings also uses a justified Arrow kernel, but its
    # Python stage executes during frame construction (centroid fitting
    # collects k rows), so the returned plan is JVM-only — intentionally
    # NOT listed; if a refactor surfaces a Python node in its final plan,
    # this audit should force a fresh look.
}

# Queries whose QueryFn EXECUTES eagerly (driver-side bounded counts /
# memoized orchestrator runs), so "building the plan" would run the whole
# pipeline and the returned frame's plan is a LocalTableScan that tells
# the invariants nothing.  Each entry cites where its real topology IS
# audited; the linter records a marker row instead of building them.
_EAGER_EXECUTING = {
    # composition of dedup_exact_by_lang + minhash_near_dups +
    # simhash_prefix_near_dups, each individually audited above; the
    # glue is two left_anti equi joins
    "dedup_cascade_report",
}

_PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
)


def _distinct_nodes(plan: str, pattern: str) -> int:
    """Count DISTINCT physical operators matching ``pattern`` (by their
    printed ``plan_id``), not textual occurrences: iterative queries
    reference a persisted frame many times and the plan printer re-emits
    the whole cached subtree at every InMemoryTableScan — r10 measured
    pagerank's plan text at 107 exchange LINES but 10 distinct exchange
    OPERATORS (34 reprints of the edge/degree cache).  Counting lines
    overstated the runtime topology by the reference count; a node
    printed without a plan_id (shouldn't happen on Spark 4 physical
    plans) still counts once per line as a conservative fallback."""
    ids: set[str] = set()
    no_id = 0
    for line in re.findall(pattern + r"[^\n]*", plan):
        m = re.search(r"\[plan_id=(\d+)\]", line)
        if m:
            ids.add(m.group(1))
        else:
            no_id += 1
    return len(ids) + no_id


def lint_plan(plan: str) -> dict:
    return {
        "scans": plan.count("Scan parquet"),
        "shuffles": _distinct_nodes(plan, r"Exchange (?:hash|range)partitioning"),
        "single_part": _distinct_nodes(plan, r"Exchange SinglePartition"),
        "broadcasts": _distinct_nodes(plan, r"BroadcastExchange"),
        "cartesian": "CartesianProduct" in plan,
        "bnlj": "BroadcastNestedLoopJoin" in plan,
        "python": any(n in plan for n in _PYTHON_NODES),
        "pushed_filters": bool(
            re.search(r"PushedFilters: \[[^\]]", plan)
        ),
    }


def violations(name: str, facts: dict) -> list[str]:
    out = []
    if facts["cartesian"]:
        out.append(f"{name}: CartesianProduct in plan")
    if facts["bnlj"] and name not in _BNLJ_ALLOWED:
        out.append(f"{name}: BroadcastNestedLoopJoin without justification")
    if facts["python"] and name not in _PYTHON_ALLOWED:
        out.append(f"{name}: Python boundary without justification")
    if not facts.get("flat_output", True):
        out.append(
            f"{name}: non-flat output column(s) "
            f"{facts['complex_cols']} — serialize bounded collections to "
            f"joined strings (pedri_lineup_positions convention)"
        )
    return out


def _complex_columns(schema) -> list[str]:
    from pyspark.sql.types import ArrayType, MapType, StructType

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def audit(spark, sf_dir: str) -> tuple[dict[str, dict], list[str]]:
    from pedri_analysis_spark.plans import all_queries

    report: dict[str, dict] = {}
    problems: list[str] = []
    for name, fn in sorted(all_queries().items()):
        if name in _EAGER_EXECUTING:
            report[name] = {"eager_skipped": True}
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — a build failure IS a finding
            problems.append(f"{name}: plan build failed: {exc}")
            continue
        facts = lint_plan(plan)
        complex_cols = _complex_columns(df.schema)
        facts["flat_output"] = not complex_cols
        if complex_cols:
            facts["complex_cols"] = complex_cols
        report[name] = facts
        problems.extend(violations(name, facts))
    return report, problems


def main() -> int:
    out_path = "PLANAUDIT.json"
    sf_dir = "/root/testdata/sf0.01"
    args = sys.argv[1:]
    if "--sf-dir" in args:
        i = args.index("--sf-dir")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    if args:
        out_path = args[0]

    from pedri_analysis_spark.session import get_spark

    spark = get_spark(app_name="plan-lint")
    report, problems = audit(spark, sf_dir)
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    n_shuffle = sum(r.get("shuffles", 0) for r in report.values())
    print(
        f"plan_lint: {len(report)} queries, {n_shuffle} shuffle exchanges, "
        f"{sum(r.get('python', 0) for r in report.values())} python-boundary, "
        f"{sum(r.get('bnlj', 0) for r in report.values())} bnlj -> {out_path}"
    )
    for p in problems:
        print(f"VIOLATION {p}", file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

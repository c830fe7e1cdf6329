"""Weak-scaling self-check: run the full query catalog at every locally
available scale factor and flag super-linear growth.

On a 1000-executor cluster the dangerous failure mode is invisible at one
test SF: a hidden quadratic pair-generation, a driver-side bottleneck, or
a broadcast that stops fitting. The local proxy detector is the per-query
time RATIO across a 10x data step — linear-or-better operators grow ~10x
or (for fixed-output aggregates) much less; anything growing >RATIO_MAX
(default 15x, i.e. 1.5x the data growth) is flagged.

Usage:
    python tools/scaling_check.py            # sf0.001 -> sf0.01 -> sf0.1
    python tools/scaling_check.py --runs 2   # best-of-2 (less noise)
    python tools/scaling_check.py --only a,b --sf-dirs ...   # focused rerun

The fourth decade: tools/gen_sf_synth.py synthesizes an sf1.0 dir by
deterministic 10x replication of documents/embeddings/lineitem (other
tables symlinked), so the dedup/similarity/graph family gets a measured
sf0.1 -> sf1.0 step instead of a docstring argument.

Writes SCALING.json at the repo root; exits non-zero if any query's
largest 10x step is super-linear. Queries faster than NOISE_FLOOR_S at
the LARGER scale factor are never flagged (pure scheduling noise).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]
RATIO_MAX = 15.0  # 10x data -> >15x time = super-linear
NOISE_FLOOR_S = 0.5

# Queries whose mod-chunk cap makes them APPROXIMATE once any block
# exceeds its *_CHUNK constant (nch > 1): a true pair whose ids land in
# different residue cells is not compared.  At every real SF nch == 1
# (bit-identical to the unchunked plan); the caps only engage on the
# synthetic >=sf1.0 decades and at cluster scale, where the measured
# within-block pair recall vs the unchunked plan is recorded below
# (tools/chunk_recall.py writes it; SCALE.md 'mod-chunk recall'
# section).  record_linkage_suppliers is NOT approximate: both
# registers chunk on the SHARED s_suppkey, so ground-truth pairs are
# co-chunked by construction.  This dict is surfaced verbatim in
# SCALING.json so the approximation is reported, not implied exact.
APPROX_PAST_CAP: dict[str, str] = {
    "containment_near_dups": (
        "registered r13: inherits minhash_near_dups' MAX_BUCKET "
        "drop-cap; the cap does not engage at sf1.0synth and forcing it "
        "to 16 and even 4 still yields MEASURED pair recall 1.0000 "
        "(tools/chunk_recall.py --containment, r11) — high-containment "
        "pairs are signature-concordant across most of the 8 bands, so "
        "at least one collision survives any per-band cap; the residual "
        "approximation is the candidate GENERATOR's Jaccard-targeted "
        "bands (recall falls with size skew |B|/|A|), stated in the "
        "query docstring with the suffix/prefix-anchored band family "
        "named as the recall-preserving 100 TB design"
    ),
    "ngram_jaccard_near_dups": (
        "exact for nch==1 (every real SF); past the cap, pairs split "
        "across residue cells are skipped — MEASURED pair recall 0.204 "
        "on sf1.0synth at cap 512 (pair-weighted analytic 1/nch = "
        "0.212; tools/chunk_recall.py r10) — the recall-preserving "
        "scale path is minhash_near_dups LSH + per-candidate verify"
    ),
    "embedding_near_dups": (
        "exact for nch==1 (every real SF); past the cap, pairs split "
        "across residue cells are skipped — MEASURED pair recall 0.110 "
        "on sf1.0synth at cap 256 (analytic 1/nch = 0.120; "
        "tools/chunk_recall.py r10) — the recall-preserving scale path "
        "is ann_lsh_near_dups bucketing + per-candidate verify"
    ),
    "ann_lsh_near_dups": (
        "exact for nch==1 — which r11's adaptive k/L makes EVERY measured "
        "scale, synth decades included (k=ceil(log2(n/8)) pins mean "
        "occupancy ~5; max bucket 34 at sf0.1, 40 at sf1.0synth, 54 at "
        "sf2.0synth vs cap 64; 2x-probe 1.11x without the cap, vs 3.53x "
        "when k/L was fixed in r10); the cap remains the safety valve "
        "for a pathological >64-vector near-identical cluster, whose "
        "recall behaviour is MEASURED by forcing the cap to engage: "
        "0.9098 at forced cap 16 on sf1.0synth (tools/chunk_recall.py "
        "--annlsh; high because a pair chunked out of one table's "
        "bucket usually survives via another of the L tables)"
    ),
    "minhash_near_dups": (
        "the LSH drop-cap (max_bucket=64, oracle-mirrored) discards "
        "over-full band buckets ENTIRELY — a candidate pair survives "
        "only via a band whose bucket fits, so recall degrades once "
        "common bands saturate (the r10 2x-probe measured saturation: "
        "1.02x wall on a 2x step); same contract as the mod-chunk "
        "family — parity cannot see the loss because both engines "
        "apply the same cap"
    ),
    "fellegi_sunter_parts": (
        "r12 redesign (dedup-first + field-agreement blocking): "
        "identical-tuple pairs counted analytically (exact at any "
        "scale, cap-immune); cross-cluster candidates from six "
        "per-field passes over distinct representatives, each pass "
        "mod-chunk-capped with a per-pass hash so a match pair (>=3 "
        "agreements) gets >=3 independent survival draws — MEASURED on "
        "sf1.0synth: SHIPPED cap 64 match recall 1.0 (cap engages on "
        "brand/size-grid passes but every match survives via an "
        "uncapped covering pass), forced cap 16 match recall 0.914 and "
        "possible-class recall 0.676 (tools/chunk_recall.py --fs; was "
        "0.0153 match recall under the pre-redesign whole-block "
        "1/nch law); r13 re-measured at sf2.0synth per the r12 verdict "
        "watch: SHIPPED cap match recall 1.0 AND possible-class recall "
        "1.0 (65.94M/65.94M possible pairs survive; the cap drops only "
        "0.9% of raw candidate volume, all in the non-match class) — "
        "the field-pair-pass extension stays unshipped until a decade "
        "shows shipped-cap possible recall < 0.99; past-cap losses "
        "under FORCED caps concentrate in the 2-agreement possible "
        "class, whose recall-preserving path is adding field-pair "
        "passes"
    ),
    "winnowing_fingerprints": (
        "registered r15: fingerprints run over DISTINCT texts "
        "(two-layer rule), so posting lists stay small and the shared "
        "minhash drop cap (MAX_BUCKET=64) does NOT engage at any "
        "measured scale (sf1.0synth: shipped == uncapped, top-50 "
        "shared-mass identical); forcing cap 8 retains 0.574 of the "
        "top-50 shared-fingerprint mass (1137/1982) — dropped buckets "
        "are the most-shared fingerprints by construction, so the cap "
        "degrades the REPORT toward rarer overlaps; the "
        "recall-preserving alternative is raising the cap (postings "
        "are distinct-text-bounded) or the exact prefix-filter join"
    ),
    "semantic_dedup_prune": (
        "exact for nch==1 (every real SF); past the cap the prune set "
        "is computed per residue cell — MEASURED prune-set recall "
        "0.348 on sf1.0synth at cap 512 (chunked drop-set is a subset "
        "of the exact one: 4542 of 13057 drops; above the 1/nch~0.2 "
        "pair law because a vector drops if ANY lower-id near-dup "
        "co-chunks, 1-(1-1/nch)^d); n_dropped under-counts, retention "
        "over-estimates; the paper-faithful configuration k ∝ N keeps "
        "clusters under the cap by construction"
    ),
}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dirs", nargs="*", default=DEFAULT_SF_DIRS)
    p.add_argument("--runs", type=int, default=1)
    p.add_argument(
        "--only",
        default="",
        help="comma-separated query names; restricts the sweep",
    )
    p.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.json"
        ),
    )
    a = p.parse_args()

    from pedri_analysis_spark.session import get_spark

    with get_spark(app_name="pedri-scaling-check") as spark:
        return _check(spark, a)


def _check(spark, a) -> int:
    from bench import run_bench, warm
    from pedri_analysis_spark.plans import all_queries

    queries = all_queries()
    if a.only:
        keep = {n for n in a.only.split(",") if n}
        missing = keep - queries.keys()
        if missing:
            raise SystemExit(f"--only names not in registry: {sorted(missing)}")
        queries = {n: f for n, f in queries.items() if n in keep}
    timings: dict[str, dict[str, float]] = {}
    failures: dict[str, dict[str, str]] = {}
    for i, sf_dir in enumerate(a.sf_dirs):
        label = os.path.basename(sf_dir.rstrip("/"))
        # per SF: the bucketed tables are built from this SF's data
        warm(spark, sf_dir)
        if i == 0:
            # One discarded sweep pays each query's cold JIT and codegen,
            # which would otherwise inflate the first SF's timings and
            # shrink its ratios.
            run_bench(spark, queries, sf_dir, 1)
        t, f = run_bench(spark, queries, sf_dir, a.runs)
        timings[label] = t
        if f:
            failures[label] = f
        print(
            f"{label}: {len(t)} queries, total {sum(t.values()):.1f}s, "
            f"{len(f)} failed",
            file=sys.stderr,
        )

    labels = [os.path.basename(d.rstrip("/")) for d in a.sf_dirs]
    ratios: dict[str, dict[str, float]] = {}
    superlinear: list[dict] = []
    for name in sorted(queries):
        r: dict[str, float] = {}
        for lo, hi in zip(labels, labels[1:]):
            t_lo = timings.get(lo, {}).get(name)
            t_hi = timings.get(hi, {}).get(name)
            if t_lo is None or t_hi is None or t_lo <= 0:
                continue
            step = f"{lo}->{hi}"
            r[step] = round(t_hi / t_lo, 2)
            if t_hi >= NOISE_FLOOR_S and r[step] > RATIO_MAX:
                superlinear.append(
                    {"query": name, "step": step, "ratio": r[step], "t_hi_s": t_hi}
                )
        ratios[name] = r

    # Noise guard (the committed bench-noise lesson, machine-enforced):
    # a single-run flag on this co-tenant host is evidence of LOAD as
    # often as of a plan defect — re-measure every flagged step isolated
    # best-of-3 and keep only flags that survive.  Exonerated entries
    # are recorded so the artifact shows the retest happened.
    dirs_by_label = {
        os.path.basename(d.rstrip("/")): d for d in a.sf_dirs
    }
    exonerated: list[dict] = []
    confirmed: list[dict] = []
    for s in superlinear:
        lo, hi = s["step"].split("->")
        sub = {s["query"]: queries[s["query"]]}
        t_lo, f_lo = run_bench(spark, sub, dirs_by_label[lo], 3)
        t_hi, f_hi = run_bench(spark, sub, dirs_by_label[hi], 3)
        if f_lo or f_hi or s["query"] not in t_lo or s["query"] not in t_hi:
            confirmed.append(s)  # a retest failure is not an exoneration
            continue
        ratio = round(t_hi[s["query"]] / t_lo[s["query"]], 2)
        entry = dict(s, retest_ratio=ratio, retest_t_hi_s=t_hi[s["query"]])
        if t_hi[s["query"]] >= NOISE_FLOOR_S and ratio > RATIO_MAX:
            confirmed.append(entry)
        else:
            exonerated.append(entry)
            print(
                f"retest exonerated {s['query']} {s['step']}: "
                f"{s['ratio']}x single-run -> {ratio}x isolated best-of-3",
                file=sys.stderr,
            )
    superlinear = confirmed

    out = {
        "sf_dirs": a.sf_dirs,
        "runs": a.runs,
        "ratio_max": RATIO_MAX,
        "noise_floor_s": NOISE_FLOOR_S,
        "timings": timings,
        "ratios": ratios,
        "failures": failures,
        "superlinear": superlinear,
        "approx_past_cap": APPROX_PAST_CAP,
        "noise_exonerated": exonerated,
    }
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {a.out}")
    for s in superlinear:
        print(
            f"SUPER-LINEAR {s['ratio']:5.1f}x {s['step']}: {s['query']} "
            f"({s['t_hi_s']:.2f}s at the larger SF)"
        )
    if failures:
        print(f"FAIL: broken queries: { {k: sorted(v) for k, v in failures.items()} }")
    return 1 if superlinear or failures else 0


if __name__ == "__main__":
    sys.exit(main())

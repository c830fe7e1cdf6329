"""The r11 draft queries (plans/draft_r11.py) are REGISTERED as of r11
(the r10 freeze is over: the r04/r05 staleness tail is drained and the
rewritten semdedup/zorder re-proven, per VERDICT r10).  Their generic
oracle-parity and plan-invariant coverage now comes from the registry
sweeps (tests/test_oracle_parity.py, tests/test_plan_audit.py); this
module keeps only the checks the sweeps cannot express."""

from __future__ import annotations

from tests.conftest import assert_query_matches_oracle


def test_reservoir_prefilter_is_exact(spark, duck, monkeypatch):
    """The hash-threshold pre-filter must be invisible in the result:
    force a tiny margin so under-filled strata actually occur and the
    fallback path runs, then compare against the unfiltered oracle."""
    from pedri_analysis_spark.plans import draft_r11 as d

    monkeypatch.setattr(d, "RESERVOIR_MARGIN", 1)
    assert_query_matches_oracle(
        spark,
        duck,
        d.QUERIES["stratified_reservoir_topk"],
        d.ORACLE_SQL["stratified_reservoir_topk"],
    )


def test_boot_weight_map_has_mean_one(spark, duck):
    """The (5,6,5) hex→{0,1,2} map behind _boot_w must weight-sum to 16
    over the 16 equiprobable hex values (mean EXACTLY 1 — the property
    the bootstrap's point-estimate consistency leans on) and agree
    engine-for-engine on every hex character."""
    from pedri_analysis_spark.functions import textexpr as tx
    from pedri_analysis_spark.plans.draft_r11 import _boot_w

    hexes = "0123456789abcdef"
    # evaluate the Spark expression on a literal one-char 'digest' per
    # hex value (rep 0 slices char 1)
    rows = spark.sql(
        "SELECT h, " + _boot_w(tx.SPARK, "h", "0") + " AS w FROM VALUES "
        + ", ".join(f"('{c}')" for c in hexes)
        + " AS t(h)"
    ).collect()
    sw = {r["h"]: r["w"] for r in rows}
    drows = duck.sql(
        "SELECT h, " + _boot_w(tx.DUCK, "h", "0") + " AS w FROM (SELECT unnest(["
        + ", ".join(f"'{c}'" for c in hexes)
        + "]) AS h)"
    ).fetchall()
    dw = dict(drows)
    assert sw == dw
    assert sum(sw.values()) == 16  # mean exactly 1
    assert sorted(set(sw.values())) == [0, 1, 2]

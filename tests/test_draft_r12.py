"""The r12 wave (plans/draft_r12.py), registered in r12: the property
pins of its queries. Registration, oracle parity and plan invariants of
every registered query are checked catalog-wide in
test_oracle_parity.py and test_plan_audit.py."""

from __future__ import annotations

from tests.conftest import assert_query_matches_oracle


def test_fellegi_sunter_chunked_branch_matches_oracle(spark, duck, monkeypatch):
    """The field-agreement pass blocks still grow with the corpus, so
    the pair stage carries the shared mod-chunk cap per pass; every
    real SF is unchunked (nch == 1), so force the cap tiny to
    cross-engine-prove the chunked branch — the branch that actually
    runs past the cap."""
    from pedri_analysis_spark.plans import draft_r12 as d

    monkeypatch.setattr(d, "FS_CHUNK", 4)
    assert_query_matches_oracle(
        spark, duck, d.QUERIES["fellegi_sunter_parts"], d._fs_oracle()
    )


def test_fellegi_sunter_blocking_recall_is_exact_for_fs_classes(spark, duck):
    """The six field-agreement passes generate EVERY match and EVERY
    possible pair (score >= 0 iff >=2 field agreements iff >=1 blocked
    field agrees — the docstring's enumeration), so the blocked
    n_match / n_possible per ptype must equal the quadratic all-pairs
    in-(type, noun)-block ground truth.  n_pairs / n_nonmatch are
    candidate-denominated by design and are NOT compared."""
    from pedri_analysis_spark.plans import draft_r12 as d

    blocked = {
        r["ptype"]: (r["n_match"], r["n_possible"])
        for r in d.QUERIES["fellegi_sunter_parts"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    truth_sql = f"""
    WITH reg AS (
      SELECT p_partkey AS pk, p_type AS ptype,
             split_part(p_name, ' ', 2) AS noun,
             split_part(p_name, ' ', 1) AS adj,
             p_brand AS brand, p_size AS size,
             CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM part
    ),
    scored AS (
      SELECT a.ptype, {d._fs_score('a.', 'b.')} AS score
      FROM reg a JOIN reg b
        ON a.ptype = b.ptype AND a.noun = b.noun AND a.pk < b.pk
    )
    SELECT ptype,
           sum(CASE WHEN score >= {d.FS_T_MATCH} THEN 1 ELSE 0 END)::BIGINT
             AS n_match,
           sum(CASE WHEN score >= {d.FS_T_POSSIBLE} AND score < {d.FS_T_MATCH}
                    THEN 1 ELSE 0 END)::BIGINT AS n_possible
    FROM scored GROUP BY ptype
    """
    truth = {
        t[0]: (t[1], t[2]) for t in duck.execute(truth_sql).fetchall()
    }
    for ptype, (nm, np_) in truth.items():
        got = blocked.get(ptype, (0, 0))
        assert got == (nm, np_), (ptype, got, (nm, np_))
    # and nothing extra: a ptype absent from truth has no match/possible
    for ptype, (nm, np_) in blocked.items():
        if ptype not in truth:
            assert (nm, np_) == (0, 0)


def test_kcore_rounds_monotone(spark):
    """Peeling is monotone: survivor node/edge counts never grow, and a
    converged round (0 removals) stays converged — the structural
    property the fixed-prefix contract leans on."""
    from pedri_analysis_spark.plans import draft_r12 as d

    rows = sorted(
        d.QUERIES["kcore_decomposition"](spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["iter"],
    )
    assert [r["iter"] for r in rows] == list(range(1, d.KCORE_ITERS + 1))
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_nodes"] <= prev["n_nodes"]
        assert cur["n_edges"] <= prev["n_edges"]
        if prev["n_removed"] == 0:
            assert cur["n_removed"] == 0
    for r in rows:
        assert r["n_removed"] >= 0


def test_kcenter_rounds_cover_radius_monotone(spark):
    """Farthest-point traversal's coverage radius is non-increasing in
    the selection round (Gonzalez 1985's key invariant) and the
    selected ids are distinct."""
    from pedri_analysis_spark.plans import draft_r12 as d

    rows = sorted(
        d.QUERIES["kcenter_coreset"](spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["sel_round"],
    )
    assert [r["sel_round"] for r in rows] == list(range(d.KCENTER_K))
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    radii = [r["min_d2_r6"] for r in rows[1:]]  # round 0 is the seed (0.0)
    assert all(a >= b for a, b in zip(radii, radii[1:]))


def test_conformal_infinite_threshold_branch(spark, duck, monkeypatch):
    """A calibration fold too small for a finite quantile must yield the
    conformal q=+infinity convention (cover everything), not a silently
    dropped segment.  Forcing alpha=0 makes ceil((n+1)*100%) > n for
    EVERY segment, so the branch runs for all of them — and must still
    hash-match the oracle."""
    from pedri_analysis_spark.plans import draft_r12 as d

    monkeypatch.setattr(d, "CONF_ALPHA_PCT", 0)
    assert_query_matches_oracle(
        spark,
        duck,
        d.QUERIES["split_conformal_coverage"],
        d._conformal_oracle(),
    )
    rows = d.QUERIES["split_conformal_coverage"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows, "every segment must survive the LEFT join"
    for r in rows:
        assert r["q_dollars"] == -1  # the +infinity sentinel
        assert r["coverage_ppm"] == 1_000_000


def test_eager_phase_plans_pass_lint(spark):
    """kcenter_coreset and power_iteration_top_pc return driver-assembled
    local relations (their per-round argmax / covariance work runs
    eagerly inside the query), so the generic plan-invariant sweep lints
    only a LocalTableScan — this lints the EAGER frames that do the
    distributed work, via the same factored builders the queries call."""
    from pyspark.sql import functions as F

    from pedri_analysis_spark.operators.clustering import _dist2
    from pedri_analysis_spark.plans import draft_r12 as d
    from pedri_analysis_spark.sources.tables import load_table
    from tools.plan_lint import lint_plan

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.01").select(
        "vec_id", "embedding"
    )
    c0 = emb.orderBy(F.asc("vec_id")).limit(1).collect()[0]
    frames = {
        "kcenter_pick": d._kcenter_pick_frame(
            emb, _dist2("embedding", list(c0["embedding"]))
        ),
        "pi_cells": d._pi_cells(emb, emb.count()),
    }
    for name, frame in frames.items():
        facts = lint_plan(
            frame._jdf.queryExecution().executedPlan().toString()
        )
        assert not facts["cartesian"], name
        assert not facts["python"], name
        assert not facts["bnlj"], name

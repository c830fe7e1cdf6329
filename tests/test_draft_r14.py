"""The r14 wave (plans/draft_r14.py), registered in r14: the
property pins of its queries.  Registration, oracle parity and plan
invariants come from the catalog-wide sweeps
(tests/test_oracle_parity.py, tests/test_plan_audit.py)."""

from __future__ import annotations

from tests.conftest import SF_DIR


def test_simpson_bounds_and_hapax_identity(spark, duck):
    """0 <= simpson_ppm <= 1e6, the two ppm columns are complements,
    and an all-hapax source (every token once) would have simpson 0 —
    pinned via the identity sum_cc == 0 iff n_tokens == n_distinct."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = d.QUERIES["simpson_diversity_sources"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["simpson_ppm"] <= 1_000_000
        assert r["simpson_ppm"] + r["gini_simpson_ppm"] == 1_000_000
        assert r["n_distinct"] <= r["n_tokens"]


def test_pmi_support_and_symmetry_guards(spark):
    """Every reported pair meets the support floor, is ordered
    (tok_a < tok_b), and df covers n_ab (co-occurrence can't exceed
    either document frequency)."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = d.QUERIES["pmi_top_cooccurrence"](spark, SF_DIR).collect()
    assert rows
    assert len(rows) <= d.PMI_TOPK
    for r in rows:
        assert r["tok_a"] < r["tok_b"]
        assert r["n_ab"] >= d.PMI_MIN_AB
        assert r["n_ab"] <= min(r["df_a"], r["df_b"])


def test_zipf_probe_ranks_monotone(spark):
    """Probe rows appear at exactly the in-vocab power-of-two ranks and
    occurrence counts are non-increasing in rank (rank is a total order
    by occ DESC)."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = sorted(
        d.QUERIES["zipf_rank_freq_audit"](spark, SF_DIR).collect(),
        key=lambda r: r["rank"],
    )
    assert rows
    allowed = set(d._zipf_ranks())
    for r in rows:
        assert r["rank"] in allowed
        assert r["rank_x_occ"] == r["rank"] * r["occ"]
    occs = [r["occ"] for r in rows]
    assert all(a >= b for a, b in zip(occs, occs[1:]))


def test_bh_stepup_structure(spark):
    """BH rejections are a prefix of the p-ascending order, every
    rejected rank satisfies its own threshold only if it is <= i_max
    (step-up, not step-down: a rank can be rejected without its own
    inequality holding), ranks are 1..m, and p in [0, 1e6]."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = sorted(
        d.QUERIES["benjamini_hochberg_fdr"](spark, SF_DIR).collect(),
        key=lambda r: r["bh_rank"],
    )
    assert rows
    m = rows[0]["m"]
    assert [r["bh_rank"] for r in rows] == list(range(1, m + 1))
    flags = [r["rejected"] for r in rows]
    assert all(f in (0, 1) for f in flags)
    # prefix property
    if 0 in flags:
        first_zero = flags.index(0)
        assert all(f == 0 for f in flags[first_zero:])
    # the LAST rejected rank must satisfy its own inequality
    if 1 in flags:
        i_max = max(r["bh_rank"] for r in rows if r["rejected"])
        r = next(x for x in rows if x["bh_rank"] == i_max)
        assert r["p_ppm"] * m <= d.BH_Q_PPM * i_max
    for r in rows:
        assert 0 <= r["p_ppm"] <= 1_000_000


def test_binseg_gain_nonnegative_and_split_interior(spark):
    """The variance-explained gain is >= -2 (floor-quantization slack of
    the three div terms; the REAL gain is >= 0 by convexity) and the
    split is interior."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = d.QUERIES["binseg_changepoint_daily"](spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_left"] >= 1 and r["n_right"] >= 1
    assert r["gain_q"] >= -2


def test_autocorr_r2_bounds_and_lag_cover(spark):
    """|r2_signed_micro| <= 1e6 + quantization slack (Cauchy-Schwarz)
    and every lag 1..ACF_MAX_LAG reports (the daily calendar is dense
    enough at the test SF)."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = sorted(
        d.QUERIES["autocorr_daily_revenue"](spark, SF_DIR).collect(),
        key=lambda r: r["lag"],
    )
    assert [r["lag"] for r in rows] == list(range(1, d.ACF_MAX_LAG + 1))
    for r in rows:
        assert abs(r["r2_signed_micro"]) <= 1_002_001  # (1000+1)^2 slack
        assert r["n_pairs"] >= 2


def test_ari_pieces_consistent(spark):
    """Pair-counting identities: index <= min(sum_c2_clusters,
    sum_c2_labels) <= n_pairs and |ari_micro| <= 1e6."""
    from pedri_analysis_spark.plans import draft_r14 as d

    r = d.QUERIES["ari_clusters_vs_labels"](spark, SF_DIR).collect()[0]
    assert r["sum_c2_cells"] <= min(r["sum_c2_clusters"], r["sum_c2_labels"])
    assert max(r["sum_c2_clusters"], r["sum_c2_labels"]) <= r["n_pairs"]
    assert abs(r["ari_micro"]) <= 1_000_000


def test_mmr_rounds_distinct_and_tradeoff(spark):
    """Selected ids are distinct, round 0 is the pure-relevance argmax,
    and later rounds never exceed round 0's relevance (MMR trades
    relevance for diversity, never gains it)."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = sorted(
        d.QUERIES["mmr_diverse_topk"](spark, SF_DIR).collect(),
        key=lambda r: r["sel_round"],
    )
    assert [r["sel_round"] for r in rows] == list(range(d.MMR_K))
    ids = [r["vec_id"] for r in rows]
    assert len(set(ids)) == len(ids)
    assert d.MMR_QUERY_ID not in ids
    assert rows[0]["maxsim_r6"] == 0.0
    assert all(r["rel_r6"] <= rows[0]["rel_r6"] for r in rows)


def test_map_ap_bounds_and_hits(spark):
    """0 <= ap_micro <= 1e6, hits_at_k <= min(n_gold, K), and a phrase
    whose entire gold set lands in the top-K has AP consistent with
    full recall (hits == min(n_gold, K))."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = d.QUERIES["map_bm25_eval"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["ap_micro"] <= 1_000_000
        assert r["hits_at_k"] <= min(r["n_gold"], d.MAP_K)
        if r["n_gold"] == 0:
            assert r["ap_micro"] == 0


def test_ppr_mass_and_seed_dominance(spark):
    """PPR ranks are positive on reported rows, total reported mass is
    <= 1 + rounding slack, and the top node is reachable from (indeed,
    usually in) the seed set — pinned weakly: every reported node has
    rank <= the maximum, and at least one seed-prefixed supplier node
    appears in the top list."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = d.QUERIES["personalized_pagerank"](spark, SF_DIR).collect()
    assert rows
    assert all(r["rank"] > 0 for r in rows)
    assert sum(r["rank"] for r in rows) <= 1.0 + 1e-3
    assert any(r["node"].startswith("s") for r in rows)


def test_ktruss_monotone_and_subset_of_kcore_bound(spark):
    """Peeling is monotone (survivor counts never grow; a converged
    round stays converged) and removals are non-negative."""
    from pedri_analysis_spark.plans import draft_r14 as d

    rows = sorted(
        d.QUERIES["k_truss_copurchase"](spark, SF_DIR).collect(),
        key=lambda r: r["iter"],
    )
    assert [r["iter"] for r in rows] == list(range(1, d.KTRUSS_ITERS + 1))
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_edges"] <= prev["n_edges"]
        if prev["n_removed"] == 0:
            assert cur["n_removed"] == 0
    for r in rows:
        assert r["n_removed"] >= 0


def test_prefix_filter_equals_quadratic_truth(spark, duck):
    """The WHOLE POINT of the operator: prefix-filter candidates +
    exact verify must equal the quadratic all-pairs ground truth
    EXACTLY (recall 1.0 by construction, no cap) — computed here
    independently in DuckDB without any prefix logic."""
    from pedri_analysis_spark.plans import draft_r14 as d
    from pedri_analysis_spark.functions import textexpr as tx

    got = sorted(
        (r["a"], r["b"], r["n_a"], r["n_b"], r["n_inter"])
        for r in d.QUERIES["prefix_filter_jaccard_dups"](spark, SF_DIR).collect()
    )
    sh = tx.word_shingles(tx.DUCK, "toks", d.PFJ_K)
    truth_sql = f"""
    WITH toks AS (
      SELECT doc_id, {tx.tokens(tx.DUCK, "text")} AS toks FROM documents
    ),
    g0 AS (SELECT DISTINCT doc_id, unnest({sh}) AS g FROM toks),
    sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM g0 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id ia, b.doc_id ib, count(*)::BIGINT ni
      FROM g0 a JOIN g0 b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT ia, ib, sa.sz, sb.sz, ni
    FROM inter
    JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
    WHERE ({d.PFJ_T_NUM} + {d.PFJ_T_DEN}) * ni >= {d.PFJ_T_NUM} * (sa.sz + sb.sz)
    """
    truth = sorted(tuple(r) for r in duck.execute(truth_sql).fetchall())
    assert got == truth
    assert got, "degenerate: no near-dup pairs at the test SF"


def test_ari_degenerate_partitions_guarded(spark, duck, tmp_path):
    """Perfectly-concentrated data (one cluster AND one label) makes the
    ARI denominator max-E exactly 0; unguarded, DuckDB raises a
    division-by-zero where Spark returns NULL — the engines must instead
    BOTH take the guard branch and report ari_micro = 1000000 (the
    trivial-partitions-agree convention).  r12 advice regression pin."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pedri_analysis_spark.plans import draft_r14 as d

    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    n = t.num_rows
    first_emb = t.column("embedding")[0].as_py()
    deg = pa.table(
        {
            "vec_id": t.column("vec_id"),
            "embedding": pa.array([first_emb] * n, type=t.schema.field("embedding").type),
            "label": pa.array([0] * n, type=t.schema.field("label").type),
        }
    )
    pq.write_table(deg, str(tmp_path / "embeddings.parquet"))

    sdf = d.QUERIES["ari_clusters_vs_labels"](spark, str(tmp_path))
    srow = sdf.collect()[0].asDict()
    assert srow["ari_micro"] == 1_000_000, srow

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    drow = con.sql(d.ORACLE_SQL["ari_clusters_vs_labels"]).fetchall()[0]
    dcols = list(con.sql(d.ORACLE_SQL["ari_clusters_vs_labels"]).columns)
    con.close()
    assert dict(zip(dcols, drow))["ari_micro"] == 1_000_000

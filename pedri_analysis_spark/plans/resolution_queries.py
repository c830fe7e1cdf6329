"""Entity-resolution & graph-analytics wave (round 7).

Five shapes the catalog did not yet exercise, all core to large-scale
data curation:

- blocked fuzzy string join (levenshtein over shared-word candidate
  blocks — the record-linkage primitive);
- sorted-neighborhood dedup (the classic blocking alternative to
  LSH: sort by a normalized key, compare each row to its w nearest
  neighbors inside a prefix block — NO quadratic pass);
- triangle counting over the co-purchase graph (the ordered-edge
  double-join, the standard distributed formulation);
- CDC latest-snapshot compaction (base snapshot ∪ changelog →
  window-latest per key, delete-op filtering — incremental upsert
  ingestion without a table format);
- co-purchase pair mining (top co-occurring item pairs, per-order
  pair fan-out bounded by order size).

Same oracle discipline as plans.relational: identical formula text on
both engines, integer counts, single-IEEE-op ratios, total-ordered
top-k.  Reference parity note: the reference engine has no
entity-resolution surface (core/pedri_analysis.py is single-player
football analytics); these are the beyond-reference LLM-pipeline
operators SURVEY §2.11 commissions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pedri_analysis_spark.cache import materialize
from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.plans.registry import query_table
from pedri_analysis_spark.plans.relational import events_us
from pedri_analysis_spark.sources.tables import load_table

QUERIES, ORACLE_SQL, _register = query_table()


# ---------------------------------------------------------------------------
# Blocked fuzzy string join (record linkage).
# ---------------------------------------------------------------------------
FUZZY_MAX_EDITS = 2


@_register(
    "fuzzy_part_name_pairs",
    f"""
    WITH n AS (SELECT DISTINCT p_name FROM part),
    w AS (
      SELECT p_name,
             string_split(p_name, ' ')[1]  AS w1,
             string_split(p_name, ' ')[-1] AS w2
      FROM n
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name)::BIGINT AS edits
    FROM w a JOIN w b
      ON (a.w1 = b.w1 OR a.w2 = b.w2) AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_EDITS}
    """,
)
def q_fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage: near-identical part names (edit distance ≤ 2)
    found via shared-word candidate blocks — never an all-pairs
    levenshtein.  Candidates are name pairs sharing their first OR last
    word (two equi-joins unioned by the OR), then the exact edit
    distance verifies; both engines implement classic Levenshtein so
    the integer distance is bit-identical.

    Scale: the OR of the two blocking keys is planned as TWO hash
    equi-joins unioned then pair-deduped — never an OR-condition join
    (which Spark can only plan as a nested-loop).  Candidate volume is
    Σ block² over word-blocks, not N² — the same blocking-then-verify
    discipline as the LSH dedup; a hot word-block would get the same
    bucket cap.  The distinct-names frame is dimension-sized (name
    vocabulary, not row count)."""
    names = load_table(spark, "part", sf_dir).select("p_name").distinct()
    # dimension-sized (name vocabulary): cheap to recompute per join leg,
    # so no persist — at 100 TB this frame is the one to cache/broadcast
    w = names.select(
        "p_name",
        F.split("p_name", " ").getItem(0).alias("w1"),
        F.element_at(F.split("p_name", " "), -1).alias("w2"),
    )

    def block(key: str) -> DataFrame:
        a = w.select(F.col("p_name").alias("name_a"), F.col(key).alias("k"))
        b = w.select(F.col("p_name").alias("name_b"), F.col(key).alias("k2"))
        return a.join(
            b, (F.col("k") == F.col("k2")) & (F.col("name_a") < F.col("name_b"))
        ).select("name_a", "name_b")

    cand = block("w1").unionByName(block("w2")).distinct()
    edits = F.levenshtein("name_a", "name_b")
    return cand.filter(edits <= FUZZY_MAX_EDITS).select(
        "name_a", "name_b", edits.cast("bigint").alias("edits")
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup (blocked, window w = 2).
# ---------------------------------------------------------------------------
SN_BLOCK_CHARS = 8
SN_WINDOW = 2
SN_JACCARD_T = 0.5


def _sn_oracle() -> str:
    toks = tx.tokens(tx.DUCK, "text")
    return f"""
    WITH d AS (
      SELECT doc_id, trim(lower(text)) AS nt,
             list_distinct({toks}) AS toks
      FROM documents WHERE length(trim(text)) > 0
    ),
    k AS (SELECT doc_id, nt, toks, substr(nt, 1, {SN_BLOCK_CHARS}) AS blk FROM d),
    w AS (
      SELECT doc_id, toks,
             lead(doc_id, 1) OVER win AS nd1, lead(toks, 1) OVER win AS nt1,
             lead(doc_id, 2) OVER win AS nd2, lead(toks, 2) OVER win AS nt2
      FROM k WINDOW win AS (PARTITION BY blk ORDER BY nt, doc_id)
    ),
    cand AS (
      SELECT doc_id AS a, nd1 AS b, toks AS ta, nt1 AS tb FROM w WHERE nd1 IS NOT NULL
      UNION ALL
      SELECT doc_id AS a, nd2 AS b, toks AS ta, nt2 AS tb FROM w WHERE nd2 IS NOT NULL
    )
    SELECT least(a, b)::BIGINT AS a, greatest(a, b)::BIGINT AS b,
           len(list_intersect(ta, tb))::DOUBLE / len(list_distinct(ta || tb))
             AS jaccard
    FROM cand
    WHERE len(list_intersect(ta, tb))::DOUBLE / len(list_distinct(ta || tb))
          >= {SN_JACCARD_T}
    """


@_register("sorted_neighborhood_dups", _sn_oracle())
def q_sorted_neighborhood_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup: sort documents by normalized text
    inside an 8-char prefix block, compare each doc only to its next
    {w}=2 neighbors, verify candidates with exact token Jaccard — the
    classic windowed-blocking alternative to MinHash (Hernández &
    Stolfo's merge/purge), catching near-dups that share a prefix.

    Scale: the window PARTITIONs on the prefix block, so the sort is
    per-block (distributed), never a global single-partition sort; each
    row emits ≤ w candidates, so candidate volume is w·N.  Jaccard uses
    the shared intersect/union formula text of the LSH verify, so both
    engines compute the identical single IEEE division."""
    d = (
        load_table(spark, "documents", sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.trim(F.lower("text")).alias("nt"),
            F.array_distinct(F.expr(tx.tokens(tx.SPARK, "text"))).alias("toks"),
        )
    )
    k = d.withColumn("blk", F.substring("nt", 1, SN_BLOCK_CHARS))
    win = W.partitionBy("blk").orderBy("nt", "doc_id")
    w = k.select(
        "doc_id",
        "toks",
        F.lead("doc_id", 1).over(win).alias("nd1"),
        F.lead("toks", 1).over(win).alias("nt1"),
        F.lead("doc_id", 2).over(win).alias("nd2"),
        F.lead("toks", 2).over(win).alias("nt2"),
    )
    cand = (
        w.filter(F.col("nd1").isNotNull())
        .select(
            F.col("doc_id").alias("a"),
            F.col("nd1").alias("b"),
            F.col("toks").alias("ta"),
            F.col("nt1").alias("tb"),
        )
        .unionByName(
            w.filter(F.col("nd2").isNotNull()).select(
                F.col("doc_id").alias("a"),
                F.col("nd2").alias("b"),
                F.col("toks").alias("ta"),
                F.col("nt2").alias("tb"),
            )
        )
    )
    jac = F.size(F.array_intersect("ta", "tb")).cast("double") / F.size(
        F.array_distinct(F.concat("ta", "tb"))
    )
    return cand.select(
        F.least("a", "b").cast("bigint").alias("a"),
        F.greatest("a", "b").cast("bigint").alias("b"),
        jac.alias("jaccard"),
    ).filter(F.col("jaccard") >= SN_JACCARD_T)


# ---------------------------------------------------------------------------
# Co-purchase graph: shared edge CTE for pair mining + triangle count.
# ---------------------------------------------------------------------------
COPURCHASE_MIN_CO = 2  # an edge needs >= 2 co-occurring orders
COPURCHASE_TOP = 25


def _copurchase_edges_sql() -> str:
    return f"""
    pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS co_n
      FROM pp a JOIN pp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {COPURCHASE_MIN_CO}
    )"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One collect_set aggregate per order + in-JVM pair explode instead of
    # the distinct + orderkey self-join (r15 optimization): the distinct's
    # (orderkey, partkey) shuffle AND both join legs collapse into a single
    # partial-agg'd shuffle on orderkey; pair fan-out is the same C(lines,2)
    # per order, generated by nested array transforms inside codegen.
    # sort_array gives pa < pb for free; collect_set absorbs the distinct.
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS pa, y AS pb))))"
                )
            ).alias("e")
        )
        .select("e.pa", "e.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co_n"))
        .filter(F.col("co_n") >= COPURCHASE_MIN_CO)
    )


@_register(
    "copurchase_top_pairs",
    f"""
    WITH {_copurchase_edges_sql()}
    SELECT pa::BIGINT AS pa, pb::BIGINT AS pb, co_n
    FROM e
    ORDER BY co_n DESC, pa, pb
    LIMIT {COPURCHASE_TOP}
    """,
)
def q_copurchase_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Frequently bought together': item pairs co-occurring in ≥ 2
    orders, top 25 by co-occurrence (total-ordered on the pair keys).

    Scale: the pair generator self-joins WITHIN an order key, so
    fan-out per order is C(lines, 2) — bounded by order size (≤ ~7
    lines in TPC-H-shaped data), never corpus².  One shuffle on
    orderkey for the join, one partial-agg'd shuffle on the pair, then
    TakeOrderedAndProject.  A pathological mega-order (one basket with
    10⁶ items) would get a per-order line cap first — the same
    degenerate-bucket discipline as the LSH buckets."""
    return (
        _copurchase_edges(spark, sf_dir)
        .select(F.col("pa").cast("bigint"), F.col("pb").cast("bigint"), "co_n")
        .orderBy(F.desc("co_n"), "pa", "pb")
        .limit(COPURCHASE_TOP)
    )


@_register(
    "triangle_count_copurchase",
    f"""
    WITH {_copurchase_edges_sql()}
    SELECT
      (SELECT count(*) FROM e)::BIGINT AS n_edges,
      count(*)::BIGINT AS n_triangles
    FROM e e1
    JOIN e e2 ON e2.pa = e1.pb
    JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
)
def q_triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the thresholded co-purchase graph — the
    ordered-edge double-join: with every edge stored as (lo, hi), each
    triangle {{a<b<c}} is counted exactly once as e(a,b)⋈e(b,c)⋈e(a,c).

    Scale: ordering the edges bounds the first join's fan-out by the
    out-degree of the LOWER endpoint (the standard degree-ordering
    trick caps it at O(E^1.5) candidate wedges); both joins are hash
    equi-joins on edge endpoints, and the co_n ≥ 2 threshold prunes the
    random-co-occurrence noise that would densify the graph.  The edge
    frame is persisted: it feeds three join legs, and recomputing the
    order-pair aggregation three times would triple the dominant
    shuffle."""
    # NO released() scope here (r15 fix): the returned frame references e
    # on all three join legs, and an eager unpersist made the caller's
    # action re-derive the order-pair aggregate 3x (profiled: 12 parquet
    # scans, 0 cache hits in the executed plan).  The bench clears the
    # cache between queries.  n_edges is a bounded driver scalar.
    e, n_edges = materialize(_copurchase_edges(spark, sf_dir).select("pa", "pb"))
    e1 = e.alias("e1")
    e2 = e.select(
        F.col("pa").alias("p2a"), F.col("pb").alias("p2b")
    ).alias("e2")
    e3 = e.select(
        F.col("pa").alias("p3a"), F.col("pb").alias("p3b")
    ).alias("e3")
    tri = (
        e1.join(e2, F.col("p2a") == F.col("e1.pb"))
        .join(
            e3,
            (F.col("p3a") == F.col("e1.pa"))
            & (F.col("p3b") == F.col("p2b")),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return tri.select(
        F.lit(n_edges).cast("bigint").alias("n_edges"), "n_triangles"
    )


# ---------------------------------------------------------------------------
# CDC latest-snapshot compaction (upsert + delete changelog apply).
# ---------------------------------------------------------------------------
CDC_CUTOFF_US = 1_705_363_200_000_000  # 2024-01-16T00:00:00Z in epoch-µs


@_register(
    "cdc_latest_snapshot",
    f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events
    ),
    base AS (
      SELECT user_id, event_type, ts_us, event_id
      FROM ev WHERE ts_us < {CDC_CUTOFF_US}
      QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) = 1
    ),
    changelog AS (
      SELECT user_id, event_type, ts_us, event_id
      FROM ev WHERE ts_us >= {CDC_CUTOFF_US}
    ),
    merged AS (
      SELECT * FROM base UNION ALL SELECT * FROM changelog
    ),
    latest AS (
      SELECT user_id, event_type, ts_us
      FROM merged
      QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) = 1
    )
    SELECT user_id, event_type AS state_type, ts_us AS state_ts_us
    FROM latest WHERE event_type <> 'error'
    """,
)
def q_cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert compaction without a table format: a compacted base
    snapshot (latest pre-cutoff row per key) unioned with the
    post-cutoff changelog, window-latest per key again, then delete-op
    filtering ('error' = tombstone).  The two-stage construction is the
    point: at 100 TB the base is already 1 row/key, so each incremental
    merge shuffles |keys| + |delta| rows — never the full history —
    and both window passes share the same (user_id) partitioning, which
    Catalyst reuses across the union.  Tombstoned keys drop at the END
    (a delete must win over earlier upserts by event time, so it must
    survive to the final window before filtering)."""
    ev = events_us(spark, sf_dir).select(
        "user_id", "event_type", "ts_us", "event_id"
    )
    latest_w = W.partitionBy("user_id").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )

    def compact(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rn", F.row_number().over(latest_w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    base = compact(ev.filter(F.col("ts_us") < CDC_CUTOFF_US))
    changelog = ev.filter(F.col("ts_us") >= CDC_CUTOFF_US)
    latest = compact(base.unionByName(changelog))
    return latest.filter(F.col("event_type") != "error").select(
        "user_id",
        F.col("event_type").alias("state_type"),
        F.col("ts_us").alias("state_ts_us"),
    )


# ---------------------------------------------------------------------------
# Association rules over the co-purchase pairs: support / confidence /
# lift — market-basket mining on top of the bounded pair generator.
# ---------------------------------------------------------------------------
RULES_TOP = 20


@_register(
    "association_rules_lift",
    f"""
    WITH {_copurchase_edges_sql()},
    n AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_orders FROM lineitem),
    pa AS (
      SELECT l_partkey, count(DISTINCT l_orderkey)::BIGINT AS n_ord
      FROM lineitem GROUP BY l_partkey
    )
    SELECT e.pa::BIGINT AS pa, e.pb::BIGINT AS pb, e.co_n,
           CAST(e.co_n AS DOUBLE) / n.n_orders AS support,
           CAST(e.co_n AS DOUBLE) / a.n_ord AS confidence,
           CAST(e.co_n * n.n_orders AS DOUBLE) / (a.n_ord * b.n_ord) AS lift
    FROM e
    JOIN pa a ON a.l_partkey = e.pa
    JOIN pa b ON b.l_partkey = e.pb
    CROSS JOIN n
    ORDER BY lift DESC, pa, pb
    LIMIT {RULES_TOP}
    """,
)
def q_association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules: support, confidence and lift for
    the thresholded co-purchase pairs — the Apriori-style statistics
    without the candidate-explosion (pairs only, already bounded by the
    per-order fan-out of the edge generator).

    Determinism: every statistic is integer counts with ONE double
    division (the multiplications stay exact in int64 first), identical
    formula text both dialects; top-k is total-ordered on (lift, pa,
    pb).  Scale: per-item order counts are one partial-agg'd shuffle;
    the pair↔item-count joins hash on the item key; the 1-row order
    total broadcasts."""
    e = _copurchase_edges(spark, sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    n = li.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
    per_item = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_ord")
    )
    a = per_item.select(
        F.col("l_partkey").alias("ka"), F.col("n_ord").alias("n_a")
    )
    b = per_item.select(
        F.col("l_partkey").alias("kb"), F.col("n_ord").alias("n_b")
    )
    return (
        e.join(a, e.pa == F.col("ka"))
        .join(b, e.pb == F.col("kb"))
        .crossJoin(F.broadcast(n))
        .select(
            F.col("pa").cast("bigint"),
            F.col("pb").cast("bigint"),
            "co_n",
            (F.col("co_n").cast("double") / F.col("n_orders")).alias("support"),
            (F.col("co_n").cast("double") / F.col("n_a")).alias("confidence"),
            (
                (F.col("co_n") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "pa", "pb")
        .limit(RULES_TOP)
    )


@_register(
    "copurchase_degree_histogram",
    f"""
    WITH {_copurchase_edges_sql()},
    d AS (
      SELECT p, count(*)::BIGINT AS degree FROM (
        SELECT pa AS p FROM e
        UNION ALL
        SELECT pb AS p FROM e
      ) GROUP BY p
    )
    SELECT degree, count(*)::BIGINT AS n_parts
    FROM d GROUP BY degree
    ORDER BY degree
    """,
)
def q_copurchase_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph: per-node degree
    (each (lo, hi) edge contributes one to both endpoints), histogrammed
    to (degree, n_parts) — the first diagnostic run on any large graph
    before choosing join strategies (a heavy tail means the triangle /
    pair joins need degree-ordering or hub isolation).

    Scale: each edge emits its two endpoints via ONE explode (a union
    of two projections would run the edge-generation join+aggregate
    twice — the plan audit caught exactly that in the first cut);
    degrees are one hash aggregate on the node key; the histogram
    aggregates the already-reduced |V|-row frame to at most max-degree
    rows.  Output is bounded by the graph's maximum degree regardless
    of corpus size."""
    e = _copurchase_edges(spark, sf_dir).select("pa", "pb")
    nodes = e.select(F.explode(F.array("pa", "pb")).alias("p"))
    d = nodes.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    return (
        d.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view delta apply).
# ---------------------------------------------------------------------------


def rollup_from_snapshot(snapshot: DataFrame) -> DataFrame:
    """The materialized-view definition: per state_type, how many users
    are currently in that state (tombstoned keys excluded).  Applied to
    a full snapshot it gives the from-scratch MV; the incremental path
    below must produce a hash-identical frame without recomputing it."""
    return (
        snapshot.filter(F.col("event_type") != "error")
        .groupBy(F.col("event_type").alias("state_type"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


def apply_rollup_delta(
    base_mv: DataFrame, base_snapshot: DataFrame, changelog: DataFrame
) -> DataFrame:
    """Maintain the per-state user-count MV under a CDC delta batch
    WITHOUT recomputing from the raw history — classic incremental view
    maintenance with signed-count propagation:

    1. the delta touches only keys present in the changelog, so the
       base snapshot is narrowed by an equi-join on those keys (the
       |changed-keys| frame, never the full fact history);
    2. each changed key retracts its old state (-1, if it had one) and
       asserts its new latest state (+1, unless the delta's winner is
       the 'error' tombstone);
    3. the signed per-state deltas merge into the base MV with one
       full-outer equi-join on the 5-value state key; states whose
       count reaches zero drop, states born in the delta appear.

    Inputs are positionally any DataFrames with the right columns —
    the unit test feeds MATERIALIZED parquet (a stored MV + stored
    snapshot) and asserts the plan scans no raw pre-cutoff fact."""
    latest_w = W.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    changed = changelog.select("user_id").distinct()
    old_rows = base_snapshot.join(changed, "user_id")
    minus = (
        old_rows.filter(F.col("event_type") != "error")
        .select(F.col("event_type").alias("state_type"), F.lit(-1).alias("s"))
    )
    new_latest = (
        old_rows.unionByName(changelog)
        .withColumn("rn", F.row_number().over(latest_w))
        .filter(F.col("rn") == 1)
    )
    plus = (
        new_latest.filter(F.col("event_type") != "error")
        .select(F.col("event_type").alias("state_type"), F.lit(1).alias("s"))
    )
    delta = (
        minus.unionByName(plus)
        .groupBy("state_type")
        .agg(F.sum("s").cast("bigint").alias("net"))
    )
    return (
        base_mv.join(delta, "state_type", "full_outer")
        .select(
            "state_type",
            (F.coalesce(F.col("n_users"), F.lit(0)) + F.coalesce(F.col("net"), F.lit(0)))
            .cast("bigint")
            .alias("n_users"),
        )
        .filter(F.col("n_users") > 0)
    )


@_register(
    "incremental_rollup_merge",
    f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events
    ),
    latest AS (
      SELECT user_id, event_type
      FROM ev
      QUALIFY row_number() OVER (
        PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) = 1
    )
    SELECT event_type AS state_type, count(*)::BIGINT AS n_users
    FROM latest WHERE event_type <> 'error'
    GROUP BY event_type
    ORDER BY state_type
    """,
)
def q_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance, proven equivalent to
    the from-scratch aggregate: the per-state user-count rollup is
    built once from the pre-cutoff snapshot (the stored MV), then the
    post-cutoff CDC batch (upserts + 'error' tombstones, the same
    event split as cdc_latest_snapshot) is applied as SIGNED deltas —
    retract each changed key's old state, assert its new one — and the
    net per-state deltas merge into the MV via one full-outer join.
    The ORACLE recomputes the rollup over the ENTIRE history from
    scratch: a hash match proves delta-apply == recompute.

    Scale: this is the operation that makes per-key rollups affordable
    at 100 TB — each maintenance cycle shuffles |changed keys| +
    |delta| rows (the changelog key join narrows the key-sized
    snapshot, never the raw fact history) plus a 5-row MV merge,
    where the from-scratch recompute would re-shuffle the full
    history every cycle.  Both window passes share the (user_id)
    partitioning; the final full-outer join is on a 5-value key of a
    5-row frame.  tests/test_incremental_rollup.py feeds MATERIALIZED
    base inputs and pins that the delta plan contains no scan of the
    raw fact."""
    ev = events_us(spark, sf_dir).select("user_id", "event_type", "ts_us", "event_id")
    latest_w = W.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    base_snapshot = (
        ev.filter(F.col("ts_us") < CDC_CUTOFF_US)
        .withColumn("rn", F.row_number().over(latest_w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    changelog = ev.filter(F.col("ts_us") >= CDC_CUTOFF_US)
    base_mv = rollup_from_snapshot(base_snapshot)
    return apply_rollup_delta(base_mv, base_snapshot, changelog).orderBy("state_type")


# ---------------------------------------------------------------------------
# Snapshot reconciliation diff (table-diff audit between two versions)
# ---------------------------------------------------------------------------

# Deterministic v2 synthesis knobs: key % 19 selects the mutation class.
DIFF_DEL = 3  # rows absent from v2
DIFF_UPD = 5  # rows with status + price changed in v2
DIFF_INS = 7  # rows duplicated into v2 under a shifted key
DIFF_KEY_SHIFT = 10_000_000_000


def _snapshot_diff_oracle() -> str:
    return f"""
    WITH v1 AS (
      SELECT o_orderkey AS k, o_orderstatus AS st,
             (o_totalprice::DECIMAL(12,2) * 100)::BIGINT AS pc
      FROM orders
    ),
    v2 AS (
      SELECT k,
             CASE WHEN k % 19 = {DIFF_UPD} THEN 'X' ELSE st END AS st,
             CASE WHEN k % 19 = {DIFF_UPD} THEN pc + 100 ELSE pc END AS pc
      FROM v1 WHERE k % 19 <> {DIFF_DEL}
      UNION ALL
      SELECT k + {DIFF_KEY_SHIFT}, st, pc FROM v1 WHERE k % 19 = {DIFF_INS}
    ),
    d AS (
      SELECT coalesce(a.k, b.k) AS k,
             CASE WHEN b.k IS NULL THEN 'removed'
                  WHEN a.k IS NULL THEN 'added'
                  WHEN a.st <> b.st OR a.pc <> b.pc THEN 'changed'
                  ELSE 'identical' END AS verdict,
             CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
                   AND a.st <> b.st THEN 1 ELSE 0 END AS chg_st,
             CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
                   AND a.pc <> b.pc THEN 1 ELSE 0 END AS chg_pc
      FROM v1 a FULL OUTER JOIN v2 b ON a.k = b.k
    )
    SELECT verdict, count(*)::BIGINT AS n_rows,
           sum(chg_st)::BIGINT AS n_status_changes,
           sum(chg_pc)::BIGINT AS n_price_changes
    FROM d GROUP BY verdict ORDER BY verdict
    """


@_register("snapshot_diff_audit", _snapshot_diff_oracle())
def q_snapshot_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (table diff): classify every key of two
    table versions as added / removed / changed / identical with
    per-column change counts — the audit a warehouse runs before
    publishing a rebuilt snapshot (did the pipeline change only what the
    upstream delta says it should?).  Version 2 is synthesized
    deterministically from orders (key % 19 picks delete / update /
    insert classes — the record_linkage corruption idiom) so the diff
    operator itself is what's exercised.

    Determinism: prices compared in exact cents; verdict classes and
    per-column flags are pure integer/string comparisons; output is the
    4-row verdict rollup.

    Scale: ONE full-outer hash join on the snapshot key (both sides
    shuffle-partitioned on k — at 100 TB both snapshots would be
    bucketed on key, making this the zero-exchange SMJ the bucketing
    test pins) followed by a 4-row aggregate.  Per-column drift detail
    is computed inline from the joined row — no per-column subqueries,
    one pass."""
    o = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)"
        ).alias("pc"),
    )
    v2 = (
        o.where(F.expr(f"k % 19 <> {DIFF_DEL}"))
        .select(
            "k",
            F.expr(f"CASE WHEN k % 19 = {DIFF_UPD} THEN 'X' ELSE st END").alias("st"),
            F.expr(f"CASE WHEN k % 19 = {DIFF_UPD} THEN pc + 100 ELSE pc END").alias("pc"),
        )
        .unionByName(
            o.where(F.expr(f"k % 19 = {DIFF_INS}")).select(
                (F.col("k") + F.lit(DIFF_KEY_SHIFT)).alias("k"), "st", "pc"
            )
        )
    )
    a = o.select(
        F.col("k").alias("ak"), F.col("st").alias("ast"), F.col("pc").alias("apc")
    )
    b = v2.select(
        F.col("k").alias("bk"), F.col("st").alias("bst"), F.col("pc").alias("bpc")
    )
    d = a.join(b, F.col("ak") == F.col("bk"), "full_outer").select(
        F.expr(
            "CASE WHEN bk IS NULL THEN 'removed'"
            " WHEN ak IS NULL THEN 'added'"
            " WHEN ast <> bst OR apc <> bpc THEN 'changed'"
            " ELSE 'identical' END"
        ).alias("verdict"),
        F.expr(
            "CASE WHEN ak IS NOT NULL AND bk IS NOT NULL AND ast <> bst"
            " THEN 1 ELSE 0 END"
        ).alias("chg_st"),
        F.expr(
            "CASE WHEN ak IS NOT NULL AND bk IS NOT NULL AND apc <> bpc"
            " THEN 1 ELSE 0 END"
        ).alias("chg_pc"),
    )
    return (
        d.groupBy("verdict")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("chg_st").cast("bigint").alias("n_status_changes"),
            F.sum("chg_pc").cast("bigint").alias("n_price_changes"),
        )
        .orderBy("verdict")
    )

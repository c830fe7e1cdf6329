"""Sink round-trip tests (SURVEY S5-S7)."""

from __future__ import annotations

import csv
import glob
import json
import os
from pathlib import Path

import pytest

# Frames for the bounded-vs-fallback byte check: (SQL, order_by).
_CSV_CASES = {
    "empty": ("SELECT 1 AS a, 'x' AS b WHERE false", None),
    "quoting": (
        "SELECT * FROM VALUES (1, 'a,b', 'say \"hi\"'), (2, 'two\nlines', 'cr\r')"
        " AS t(k, s1, s2)",
        ["k"],
    ),
    "null_vs_empty": (
        "SELECT * FROM VALUES (1, CAST(NULL AS STRING), ''), (2, '', CAST(NULL AS STRING))"
        " AS t(k, s1, s2)",
        ["k"],
    ),
    "one_column_null": ("SELECT * FROM VALUES (CAST(NULL AS STRING)), ('x') AS t(s)", ["s"]),
    "whitespace": ("SELECT '  lead' AS a, 'trail  ' AS b, '  both  ' AS c", None),
    "doubles_and_timestamp": (
        "SELECT * FROM VALUES (1, 1e-7D, TIMESTAMP'2023-03-10 12:34:56.789'),"
        " (2, 1.2345678901235E12D, TIMESTAMP'1999-12-31 23:59:59'),"
        " (3, CAST('NaN' AS DOUBLE), CAST(NULL AS TIMESTAMP)) AS t(k, d, ts)",
        ["k"],
    ),
    "quoted_column_names": (
        "SELECT 1 AS `#first`, 2 AS `a,b`, 3 AS ` pad `, 4 AS `q\"x`, 5 AS `back\\slash,`,"
        " 6 AS `new\nline`",
        None,
    ),
}


def _both_paths(monkeypatch, write):
    """(bounded bytes, fallback bytes) of one sink call, asserting which path
    each side took; BOUNDED_ROWS = -1 sends even an empty frame to the
    coalesce(1) fallback."""
    from pedri_analysis_spark.sources import sinks

    moves = []
    real_move = sinks._move_single_part
    monkeypatch.setattr(
        sinks, "_move_single_part", lambda *a: moves.append(a) or real_move(*a)
    )
    bounded = Path(write()).read_bytes()
    assert moves == []
    monkeypatch.setattr(sinks, "BOUNDED_ROWS", -1)
    fallback = Path(write()).read_bytes()
    assert len(moves) == 1
    return bounded, fallback


def test_csv_single(spark, tmp_path):
    from pedri_analysis_spark.sources.sinks import write_csv_single

    df = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], ["match_id", "name"]
    )
    out = write_csv_single(df, str(tmp_path / "stats.csv"), order_by=["match_id"])
    with open(out) as f:
        rows = list(csv.DictReader(f))
    assert [r["match_id"] for r in rows] == ["1", "2", "3"]
    assert rows[0]["name"] == "a"


@pytest.mark.parametrize("case", sorted(_CSV_CASES))
def test_csv_bounded_path_matches_spark_writer(spark, tmp_path, monkeypatch, case):
    """The driver-side CSV path writes the same bytes as the Spark CSV
    writer: quoting, null vs "", trimmed whitespace, doubles, timestamps
    and header escaping."""
    from pedri_analysis_spark.sources.sinks import write_csv_single

    sql, order_by = _CSV_CASES[case]
    df = spark.sql(sql)
    out = str(tmp_path / "out.csv")
    bounded, fallback = _both_paths(
        monkeypatch, lambda: write_csv_single(df, out, order_by)
    )
    assert bounded == fallback
    if case == "empty":
        assert bounded == b"a,b\n"
    assert not glob.glob(str(tmp_path / "*.spark-tmp"))


def test_text_list_bounded_path_matches_spark_writer(spark, tmp_path, monkeypatch):
    """A null value is an empty line on both paths."""
    from pedri_analysis_spark.sources.sinks import write_text_list

    df = spark.sql(
        "SELECT * FROM VALUES ('b'), (CAST(NULL AS STRING)), ('a,\"x\"'), ('b') AS t(v)"
    )
    out = str(tmp_path / "ids.txt")
    bounded, fallback = _both_paths(monkeypatch, lambda: write_text_list(df, out, "v"))
    assert bounded == fallback == b'\na,"x"\nb\n'


def test_json_summary(spark, tmp_path):
    from pedri_analysis_spark.sources.sinks import write_json_summary

    df = spark.createDataFrame([(49, 3088.5)], ["matches", "total_minutes"])
    out = write_json_summary(df, str(tmp_path / "summary.json"))
    with open(out) as f:
        data = json.load(f)
    assert data == {"matches": 49, "total_minutes": 3088.5}


def test_text_list(spark, tmp_path):
    from pedri_analysis_spark.sources.sinks import write_text_list

    df = spark.createDataFrame([(7,), (3,), (7,), (10,)], ["match_id"])
    out = write_text_list(df, str(tmp_path / "ids.txt"), "match_id")
    lines = open(out).read().split()
    assert lines == ["10", "3", "7"]  # string-sorted, distinct


def test_partitioned_parquet_prunes(spark, tmp_path):
    from pedri_analysis_spark.sources.sinks import write_partitioned

    df = spark.createDataFrame(
        [(1, "en"), (2, "de"), (3, "en")], ["doc_id", "lang"]
    )
    out = write_partitioned(df, str(tmp_path / "docs"), ["lang"])
    assert os.path.isdir(os.path.join(out, "lang=en"))
    back = spark.read.parquet(out).filter("lang = 'en'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan  # partition pruning active
    assert back.count() == 2


def test_write_jsonl_sharded_roundtrip(spark, tmp_path):
    import json as _json

    from pedri_analysis_spark.sources.sinks import write_jsonl_sharded

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    out = write_jsonl_sharded(df.repartition(3), str(tmp_path / "export"))
    files = glob.glob(os.path.join(out, "part-*"))
    assert len(files) == 3  # shard count = partition count
    rows = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                rows.append(_json.loads(line))  # every line is standalone JSON
    assert len(rows) == df.count()
    assert {r["doc_id"] for r in rows} == {
        r.doc_id for r in df.select("doc_id").collect()
    }


def test_orc_roundtrip(spark, tmp_path):
    """ORC is the other columnar format Spark writes natively (no extra
    package); verify a typed round-trip so the engine's source/sink
    matrix isn't parquet-only."""
    from pedri_analysis_spark.sources.tables import load_table

    src = load_table(spark, "nation", "/root/testdata/sf0.001")
    out = str(tmp_path / "nation_orc")
    src.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert back.schema == src.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Data-lake schema evolution: a directory whose newer files carry an
    added column reads with mergeSchema as the unified schema, older rows
    null-filled — and WITHOUT mergeSchema Spark just takes one footer
    (the production pitfall this pins)."""
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.mode(
        "append"
    ).parquet(d)
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "name", "score"]
    ).write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_backfill_partitions_replaces_only_target_days(spark, tmp_path):
    """Dynamic partition overwrite: re-writing one day's partition must
    leave every other partition's files byte-identical, and a repeated
    identical backfill must converge (idempotent repair)."""
    import os

    from pedri_analysis_spark.sources.sinks import (
        backfill_partitions,
        write_partitioned,
    )

    base = str(tmp_path / "days")
    full = spark.createDataFrame(
        [(d, i, float(d * 100 + i)) for d in (1, 2, 3) for i in range(5)],
        "day int, k int, v double",
    )
    write_partitioned(full, base, ["day"])

    def files_for(day):
        d = os.path.join(base, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)), os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    before_d1, before_d3 = files_for(1), files_for(3)
    # backfill day 2 with corrected values
    fixed = spark.createDataFrame(
        [(2, i, -1.0) for i in range(5)], "day int, k int, v double"
    )
    backfill_partitions(fixed, base, ["day"])
    assert files_for(1) == before_d1 and files_for(3) == before_d3
    got = {
        (r["day"], r["k"]): r["v"] for r in spark.read.parquet(base).collect()
    }
    assert all(got[(2, i)] == -1.0 for i in range(5))
    assert got[(1, 0)] == 100.0 and got[(3, 4)] == 304.0
    # idempotence: the same backfill again converges
    backfill_partitions(fixed, base, ["day"])
    again = {
        (r["day"], r["k"]): r["v"] for r in spark.read.parquet(base).collect()
    }
    assert again == got

"""The benchmark's workloads: what one pass runs and how its output is
checked.

Each workload is closed-loop with a single client: a pass starts only after
the previous one ended.  ``prepare`` writes the seeded inputs (timed as
``gen_s``), ``warm`` does the static warm-ups that belong to set-up,
``run_pass`` is the timed unit, and ``check_pass`` runs after each pass,
outside the timed region, and returns the pass's correctness failures.
"""

from __future__ import annotations

import contextlib
import csv
import importlib
import io
import os
import shutil
import time

import inputs

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v) -> str:
    """The value canonicalisation of ``tools/drive_driver_contract.py``
    (floats compared at 9 decimals, NULL as a sentinel)."""
    if v is None:
        return "\x00"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def canon_rows(columns, rows) -> list[tuple]:
    """Rows as sorted tuples, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


class PedriSeason:
    """``run_all.run_all`` over a season of match files: overhead-bound,
    write-heavy (~20 single-file artifacts per pass)."""

    name = "pedri_season"
    ops_per_pass = 1
    n_copies = 300
    # basic per-match CSV written by run_all, as typed values
    _CSV_TYPES = {
        "match_id": int, "match_date": str, "position": str, "minutes": float,
        "passes_attempted": int, "passes_completed": int, "pass_pct": float,
        "key_passes": int, "progressive_passes": int, "shots": int, "xg": float,
    }

    def __init__(self, root: str, work: str):
        self.fixtures = os.path.join(root, "tests", "fixtures", "events")
        self.corpus = os.path.join(work, "season")
        self.out = os.path.join(work, "out")
        self.copies: dict[int, int] = {}
        self.expected: list[tuple] = []
        self.columns: list[str] = []

    def prepare(self, seed: int) -> None:
        self.copies = inputs.make_match_corpus(self.fixtures, self.corpus, seed, self.n_copies)

    def warm(self, spark) -> None:
        pass

    def run_pass(self, spark, index: int, tracer) -> list[str]:
        from pedri_analysis_spark.run_all import run_all

        # run_all prints the lineup report with DataFrame.show(); keep the
        # benchmark's stdout machine-readable.
        with contextlib.redirect_stdout(io.StringIO()):
            run_all(spark, self.corpus, None, self._out(index))
        return []

    def _out(self, index: int) -> str:
        return os.path.join(self.out, f"pass{index}")

    def _expected_rows(self) -> list[tuple]:
        """DuckDB's per-match rows for each source fixture (the registered
        oracle of run_all's basic CSV), copied to every match id that
        was drawn from it."""
        if not self.expected:
            import duckdb

            from pedri_analysis_spark.plans.pedri_queries import ORACLE_SQL

            res = duckdb.sql(ORACLE_SQL["pedri_run_all_basic_csv"])
            cols = [c for c in res.columns if c != "row_idx"]
            by_source = {}
            for row in res.fetchall():
                rec = dict(zip(res.columns, row))
                by_source[rec["match_id"]] = rec
            rows = []
            for mid, src in self.copies.items():
                if src in by_source:
                    rows.append([mid if c == "match_id" else by_source[src][c] for c in cols])
            self.expected = canon_rows(cols, rows)
            self.columns = cols
        return self.expected

    def check_pass(self, spark, index: int) -> list[str]:
        mismatch = self._mismatch(index)
        return [f"pass {index}: {mismatch}"] if mismatch else []

    def _mismatch(self, index: int) -> str | None:
        expected = self._expected_rows()
        path = os.path.join(self._out(index), "csv", "pedri_match_stats.csv")
        with open(path, newline="") as f:
            reader = csv.DictReader(f)
            cols = reader.fieldnames
            rows = [
                [None if r[c] == "" else self._CSV_TYPES[c](r[c]) for c in cols] for r in reader
            ]
        if sorted(cols) != sorted(self.columns):
            return f"columns {cols} != {self.columns}"
        got = canon_rows(cols, rows)
        if got != expected:
            return f"{len(got)} per-match rows, expected {len(expected)}; first diff " + next(
                (f"{a} vs {b}" for a, b in zip(got, expected) if a != b), "in length"
            )
        summary = os.path.join(self._out(index), "csv", "pedri_summary.csv")
        with open(summary, newline="") as f:
            matches = int(next(csv.DictReader(f))["matches"])
        if matches != len(expected):
            return f"summary counts {matches} matches, expected {len(expected)}"
        return None

    def end_pass(self, index: int) -> None:
        shutil.rmtree(self._out(index), ignore_errors=True)


# One registered query per covered plans module, chosen to keep a warm
# pass near 4 s at 4 cores and every DuckDB oracle under ~3 s: a histogram
# rollup, a window, a sampler, a bucketed join, MinHash-LSH near-dup
# pairs, a tokenizer rollup, a mapInPandas decode kernel (the Python
# workers) and a stream-shaped windowed rollup.
CATALOG = [
    ("relational", "histogram_acctbal"),
    ("relational_ext", "percent_rank_acctbal"),
    ("sampling_queries", "stratified_source_mix"),
    ("layout_queries", "bucketed_join_segment_revenue"),
    ("dedup_queries", "minhash_near_dups"),
    ("text_queries", "bpe_token_stats"),
    ("multimodal_queries", "wav_roundtrip_stats"),
    ("streaming_queries", "tumbling_window_counts"),
]


def plans_module(name: str):
    return importlib.import_module(f"pedri_analysis_spark.plans.{name}")


class CatalogMix:
    """A fixed list of registered catalog queries over a seeded sf0.1-shaped
    star schema, each run through a noop write: read-only, Catalyst-,
    codegen- and Python-worker-heavy."""

    name = "catalog_mix"
    ops_per_pass = len(CATALOG)

    def __init__(self, root: str, work: str):
        self.sf_dir = os.path.join(work, "sf")
        self.queries: dict = {}

    def prepare(self, seed: int) -> None:
        inputs.make_tables(self.sf_dir, seed)

    def warm(self, spark) -> None:
        from pyspark.sql.functions import pandas_udf

        from pedri_analysis_spark.plans.layout_queries import ensure_bucketed_tables

        self.queries = {name: plans_module(module).QUERIES[name] for module, name in CATALOG}

        @pandas_udf("long")
        def plus_one(s):
            return s + 1

        # Python-worker pool with pandas/pyarrow imported, and the bucketed
        # tables the layout query joins (written once per warehouse).
        spark.range(1024).select(plus_one("id")).collect()
        ensure_bucketed_tables(spark, self.sf_dir)

    def run_pass(self, spark, index: int, tracer) -> list[str]:
        failures = []
        for module, name in CATALOG:
            t0 = time.perf_counter()
            try:
                df = self.queries[name](spark, self.sf_dir)
                if tracer is not None:
                    tracer.add("plans.build_s", time.perf_counter() - t0)
                    tracer.plan(df)
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - one query failing is one failed operation
                failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            if tracer is not None:
                tracer.add(f"plans.{module}_s", time.perf_counter() - t0)
        return failures

    def check_pass(self, spark, index: int) -> list[str]:
        """After the cold pass, collect every query once more (untimed) and
        compare it with its DuckDB oracle over the same files.  The collect
        also runs the queries once more before the timed passes."""
        if index != 0:
            return []
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            bad = []
            for module, name in CATALOG:
                try:
                    df = self.queries[name](spark, self.sf_dir)
                    cols, rows = df.columns, df.collect()
                except Exception as exc:  # noqa: BLE001 - one query failing is one failure
                    bad.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                    continue
                res = con.sql(plans_module(module).ORACLE_SQL[name])
                ocols = list(res.columns)
                if sorted(cols) != sorted(ocols) or canon_rows(cols, rows) != canon_rows(
                    ocols, res.fetchall()
                ):
                    bad.append(f"{name}: result differs from its oracle")
            return bad
        finally:
            con.close()

    def end_pass(self, index: int) -> None:
        pass


WORKLOADS = {w.name: w for w in (PedriSeason, CatalogMix)}

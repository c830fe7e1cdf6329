"""End-to-end training-data curation orchestrator (beyond-reference
§3-style assembled workload): one command takes a document corpus through
the full pre-training pipeline and writes the artifact set a data team
ships:

    out_dir/
      health/table_health.csv        ingestion constraint gate (5 checks)
      curation/curation_report.csv   per-(lang, reason) doc+token accounting
      dedup/near_dup_pairs.csv       verified MinHash-LSH near-dup pairs
      packing/packing_stats.csv      per-shard sequence-packing efficiency
      tokens/bpe_token_stats.csv     ws + BPE token budgets per language
      export/                        JSONL shards of the KEPT documents
      manifest.json                  row counts + kept/dropped accounting

Stage order mirrors production curation: gate the raw table, score and
filter, drop near-dups, account tokens, pack, export. Every stage is one
of this engine's oracle-checked operators — the orchestrator only
composes plans and writes sinks.

Scale: the corpus parses once per stage from parquet (each stage is an
independent job, as in any batch scheduler); exports stream through the
distributed JSONL writer (no coalesce); all decisions are content-hash /
deterministic so a re-run is bit-identical.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pedri_analysis_spark.cache import materialize, released
from pedri_analysis_spark.functions import textexpr as tx
from pedri_analysis_spark.operators import dedup as dd
from pedri_analysis_spark.sources.sinks import write_csv_single, write_jsonl_sharded
from pedri_analysis_spark.sources.tables import load_table

CURATION_MIN_TOKENS = 16  # same gates as text_queries.corpus_curation_report
CURATION_QUALITY_T = 0.30


def _kept_documents(spark: SparkSession, sf_dir: str):
    """The curation-surviving corpus: exact-dup rank 1, long enough,
    quality above threshold (the same expressions the oracle-checked
    corpus_curation_report aggregates)."""
    from pedri_analysis_spark.plans.text_queries import _quality_exprs
    from pyspark.sql import Window as W

    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "lang", "source"
    )
    e = _quality_exprs(tx.SPARK)
    toks = d.withColumn("toks", F.expr(tx.tokens(tx.SPARK, "text"))).withColumn(
        "_h", F.md5("text")
    )
    ranked = toks.withColumn(
        "_rn", F.row_number().over(W.partitionBy("_h").orderBy("doc_id"))
    )
    return (
        ranked.filter(F.col("_rn") == 1)
        .filter(F.size("toks") >= CURATION_MIN_TOKENS)
        .filter(F.expr(e["quality_score"]) >= CURATION_QUALITY_T)
        .select("doc_id", "text", "lang", "source")
    )


def curate_all(spark: SparkSession, sf_dir: str, out_dir: str) -> dict:
    """Run the full curation pipeline; returns the manifest dict."""
    from pedri_analysis_spark.plans.pipeline_queries import q_sequence_packing
    from pedri_analysis_spark.plans.relational_ext import QUERIES as REL_EXT
    from pedri_analysis_spark.plans.text_queries import (
        QUERIES as TEXT_Q,
    )

    for sub in ("health", "curation", "dedup", "packing", "tokens", "export"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)

    with released():
        # 1. ingestion gate over the relational side (fail-fast signal).
        # 5 rows — collect once, reuse for both the CSV and the manifest.
        health = REL_EXT["table_health_report"](spark, sf_dir)
        health_rows = health.collect()
        write_csv_single(
            health, os.path.join(out_dir, "health", "table_health.csv"), ["check_name"]
        )

        # 2. per-reason curation accounting (planted-dup corpus)
        report = TEXT_Q["corpus_curation_report"](spark, sf_dir)
        write_csv_single(
            report,
            os.path.join(out_dir, "curation", "curation_report.csv"),
            ["lang", "reason"],
        )

        # 3. near-dup pairs over the kept corpus. `kept` feeds the pair scan,
        # the anti-join, both counts, and the export — materialize so the
        # md5-rank window + quality projection run once, not four times.
        kept, n_kept = materialize(_kept_documents(spark, sf_dir))
        # constants passed EXPLICITLY from plans.dedup_queries: the manifest
        # oracle (plans.pipeline_queries) embeds those constants via
        # minhash_pair_ctes, so relying on dedup.py keyword defaults
        # coincidentally matching would let a one-sided retune silently
        # desynchronize the artifact from its oracle
        from pedri_analysis_spark.plans import dedup_queries as dq

        pairs = dd.minhash_near_dups(
            kept,
            n_hashes=dq.N_HASHES,
            bands=dq.BANDS,
            shingle_k=dq.SHINGLE_K,
            threshold=dq.JACCARD_T,
            max_bucket=dq.MAX_BUCKET,
        )
        write_csv_single(
            pairs, os.path.join(out_dir, "dedup", "near_dup_pairs.csv"), ["a", "b"]
        )
        # drop the higher-keyed side of each verified pair (min-key survives)
        losers = pairs.select(F.col("b").alias("doc_id")).distinct()
        final = kept.join(losers, "doc_id", "left_anti")

        # 4. token budgets + packing efficiency
        write_csv_single(
            TEXT_Q["bpe_token_stats"](spark, sf_dir),
            os.path.join(out_dir, "tokens", "bpe_token_stats.csv"),
            ["lang"],
        )
        write_csv_single(
            q_sequence_packing(spark, sf_dir),
            os.path.join(out_dir, "packing", "packing_stats.csv"),
            ["shard"],
        )

        # 5. JSONL export of the final corpus
        export_dir = write_jsonl_sharded(
            final.repartition(4), os.path.join(out_dir, "export")
        )

        n_raw = load_table(spark, "documents", sf_dir).count()
        n_final = final.count()
    manifest = {
        "n_raw_docs": n_raw,
        "n_after_curation": n_kept,
        "n_near_dup_dropped": n_kept - n_final,
        "n_exported": n_final,
        "export_dir": export_dir,
        "health_checks": {r["check_name"]: bool(r["passed"]) for r in health_rows},
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest


def main() -> None:
    import argparse

    from pedri_analysis_spark.session import get_spark

    p = argparse.ArgumentParser(description="run the full curation pipeline")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--out-dir", default="curation_out")
    args = p.parse_args()
    manifest = curate_all(get_spark(), args.sf_dir, args.out_dir)
    print(json.dumps(manifest, indent=2, sort_keys=True))


if __name__ == "__main__":
    main()

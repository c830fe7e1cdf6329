"""Golden-file test for the curation orchestrator: one call produces the
complete artifact set with self-consistent accounting."""

from __future__ import annotations

import glob
import json
import os

from tests.conftest import SF_DIR, persistent_rdds

SF_TINY = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def test_curate_all_releases_its_caches(spark, tmp_path):
    """Every frame curate_all materializes, its own or a callee's (the
    MinHash signatures of the pair scan), is unpersisted before it
    returns. It runs first: at a later call the leaked frame's plan would
    already be cached, and the leak would not show."""
    from pedri_analysis_spark.curate_all import curate_all

    before = persistent_rdds(spark)
    curate_all(spark, SF_TINY, str(tmp_path / "curation"))
    assert not persistent_rdds(spark) - before


def test_curate_all_artifact_set(spark, tmp_path):
    from pedri_analysis_spark.curate_all import curate_all

    out = str(tmp_path / "curation")
    manifest = curate_all(spark, SF_TINY, out)

    for rel in (
        "health/table_health.csv",
        "curation/curation_report.csv",
        "dedup/near_dup_pairs.csv",
        "packing/packing_stats.csv",
        "tokens/bpe_token_stats.csv",
        "manifest.json",
    ):
        assert os.path.exists(os.path.join(out, rel)), rel

    # export shards parse as JSONL and match the manifest count
    rows = []
    for f in glob.glob(os.path.join(out, "export", "part-*")):
        with open(f) as fh:
            rows.extend(json.loads(line) for line in fh)
    assert len(rows) == manifest["n_exported"]

    # accounting is self-consistent and monotone
    assert (
        manifest["n_raw_docs"]
        >= manifest["n_after_curation"]
        >= manifest["n_exported"]
        > 0
    )
    assert manifest["n_near_dup_dropped"] == (
        manifest["n_after_curation"] - manifest["n_exported"]
    )
    # the TPC-H fixture passes every ingestion check
    assert all(manifest["health_checks"].values())

    # exported docs are unique by content (exact dedup happened upstream)
    texts = [r["text"] for r in rows]
    assert len(texts) == len(set(texts))


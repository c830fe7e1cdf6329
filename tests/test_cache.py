"""cache.released() unpersists what was materialized inside it, by its own
body or by a callee, on every exit path, and each nested scope releases
only its own frames."""

from __future__ import annotations

import pytest

from pedri_analysis_spark.cache import materialize, released
from tests.conftest import persistent_rdds


def _frame(spark, n):
    # a distinct plan per n, so no other test's cache entry is shared
    return spark.range(n).selectExpr("id", "id * 7 AS k")


def test_released_unpersists_when_the_block_raises(spark):
    before = persistent_rdds(spark)
    with pytest.raises(RuntimeError, match="stage failed"):
        with released() as held:
            _, rows = materialize(_frame(spark, 1101))
            lazy = _frame(spark, 1102).persist()
            held.append(lazy)
            lazy.count()
            assert rows == 1101
            assert len(persistent_rdds(spark) - before) == 2
            raise RuntimeError("stage failed")
    assert not persistent_rdds(spark) - before


def test_released_frees_frames_a_callee_materialized(spark):
    def callee():
        df, _ = materialize(_frame(spark, 1103))
        return df.groupBy().count()  # a lazy plan over the callee's cache

    before = persistent_rdds(spark)
    with released():
        assert callee().collect()[0][0] == 1103
        assert len(persistent_rdds(spark) - before) == 1
    assert not persistent_rdds(spark) - before


def test_nested_scopes_release_only_their_own_frames(spark):
    before = persistent_rdds(spark)
    with released():
        materialize(_frame(spark, 1104))
        outer = persistent_rdds(spark) - before
        with released():
            materialize(_frame(spark, 1105))
            assert len(persistent_rdds(spark) - before) == 2
        assert persistent_rdds(spark) - before == outer
    assert not persistent_rdds(spark) - before

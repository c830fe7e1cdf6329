"""gen_sf_synth invariants: the synthetic decade is only an honest
weak-scaling measurement if (a) every replicated table's key-joined
counterpart is replicated with MATCHING shifts (r9 ADVICE fix — with
orders symlinked, replica lineitem rows matched nothing and order-joined
queries measured 10x scan but ~1x join output) and (b) replica
similarity spaces stay disjoint (no planted cross-replica near-dups).

Pure DuckDB — no Spark session needed; runs the real generator at
--replicas 2 from sf0.001 into a tmp dir.
"""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

from tests.conftest import ROOT

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def synth_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sf_synth") / "sf0.002synth"
    subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "gen_sf_synth.py"),
            "--src",
            SRC,
            "--replicas",
            "2",
            "--out",
            str(out),
        ],
        check=True,
        capture_output=True,
    )
    return str(out)


def _one(con, sql: str):
    return con.execute(sql).fetchone()[0]


def test_full_join_chain_replicates(synth_dir):
    """Every replica lineitem row finds its order, every replica order
    its customer, every replica lineitem its supplier and part — the
    join output grows with the data, not just the scan."""
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "supplier", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{synth_dir}/{t}.parquet')"
        )
        n_src = _one(
            con, f"SELECT count(*) FROM read_parquet('{SRC}/{t}.parquet')"
        )
        assert _one(con, f"SELECT count(*) FROM {t}") == 2 * n_src, t
    n_li = _one(con, "SELECT count(*) FROM lineitem")
    assert (
        _one(
            con,
            "SELECT count(*) FROM lineitem l JOIN orders o"
            " ON l.l_orderkey = o.o_orderkey",
        )
        == n_li
    )
    n_ord = _one(con, "SELECT count(*) FROM orders")
    assert (
        _one(
            con,
            "SELECT count(*) FROM orders o JOIN customer c"
            " ON o.o_custkey = c.c_custkey",
        )
        == n_ord
    )
    assert (
        _one(
            con,
            "SELECT count(*) FROM lineitem l JOIN supplier s"
            " ON l.l_suppkey = s.s_suppkey",
        )
        == n_li
    )
    assert (
        _one(
            con,
            "SELECT count(*) FROM lineitem l JOIN part p"
            " ON l.l_partkey = p.p_partkey",
        )
        == n_li
    )


def test_replica_trade_graphs_are_disjoint(synth_dir):
    """The customer<->supplier edge set must split into per-replica
    components: no edge may pair a replica-0 customer with a replica-1
    supplier or vice versa (the property LPA/BFS/component queries'
    weak-scaling step relies on)."""
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{synth_dir}/{t}.parquet')"
        )
    cross = _one(
        con,
        """
        SELECT count(*) FROM (
          SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        WHERE (c >= 10000000) <> (s >= 1000000)
        """,
    )
    assert cross == 0


def test_replica_documents_share_no_char_trigrams(synth_dir):
    """The Caesar-cipher replica must not plant cross-replica near-dups:
    identical docs across replicas share (almost) no char 3-grams, so
    near-dup pair counts stay per-replica (true weak scaling, not a
    data-borne quadratic)."""
    con = duckdb.connect()
    sim = _one(
        con,
        f"""
        WITH d AS (SELECT doc_id, text
                   FROM read_parquet('{synth_dir}/documents.parquet')),
        pairs AS (
          SELECT a.text AS ta, b.text AS tb
          FROM d a JOIN d b ON b.doc_id = a.doc_id + 10000000
          LIMIT 20
        )
        SELECT max(
          len(list_intersect(
            list_transform(generate_series(1, len(ta) - 2),
                           i -> substr(ta, i, 3)),
            list_transform(generate_series(1, len(tb) - 2),
                           i -> substr(tb, i, 3))))::DOUBLE
          / len(list_distinct(
            list_transform(generate_series(1, len(ta) - 2),
                           i -> substr(ta, i, 3))))
        ) FROM pairs
        """,
    )
    # rotated letters leave only digit/space/punct grams in common
    assert sim < 0.5, sim

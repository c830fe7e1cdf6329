r"""Synthesize a larger scale factor from sf0.1 by DETERMINISTIC
replication — the extra measured decade for the weak-scaling check
(VERDICT r7 ask #2).

``--replicas K`` stamps K copies of the three tables the expensive
dedup/similarity/graph family actually scales on:

* ``documents``: doc_id shifted per replica; replica i's text goes
  through a CAESAR CIPHER (letters rotated by i).  This is the
  load-bearing design choice: a cipher changes every character n-gram
  AND every word shingle while preserving lengths, token counts, and
  whitespace structure exactly, so replicas share the corpus
  distribution but have DISJOINT similarity spaces (true weak
  scaling).  The first cut used per-token ``_r{i}`` suffixes — word
  shingles diverged but interior CHAR 3-grams still collided across
  replicas, planting K-way genuine near-dups whose pair count grows
  quadratically in K *in the data itself*, indistinguishable from an
  algorithmic quadratic.
* ``embeddings``: vec_id shifted; replica i's vectors get an ISOMETRY
  (cyclic component roll by 7i plus a deterministic sign-flip
  pattern).  An isometry preserves every within-replica pairwise
  cosine exactly (each replica has identical near-dup structure) while
  cross-replica cosines decorrelate.  The first cut shifted one
  component by 0.037i — far too small to pull replica twins under the
  near-dup threshold, same planted-quadratic problem.
* ``lineitem``: l_orderkey/l_partkey/l_suppkey shifted per replica —
  replica co-purchase graphs are disjoint components.
* ``orders``/``customer``/``supplier``/``part`` (r9, ADVICE fix): the
  whole key-joined chain is replicated with MATCHING shifts
  (o_orderkey↔l_orderkey, o_custkey↔c_custkey, s_suppkey↔l_suppkey,
  p_partkey↔l_partkey).  Before r9 only lineitem was replicated, so
  for replicas i>0 the lineitem⋈orders join matched NOTHING —
  order-joined queries (LPA, BFS, Nelson-Aalen, the TPC-H analogues)
  measured 10x scan volume but ~1x join/graph output, understating
  real growth.  Now replica subgraphs exist: every replica lineitem
  row finds its order, every replica order its customer, and the
  customer↔supplier trade graph has K disjoint replica components.

``nation``/``region``/``events`` are symlinked unchanged: nation and
region are fixed-cardinality dims (more customers per nation is
exactly how a bigger corpus looks), and the events family is
self-contained.  Queries on unscaled tables simply measure ~1x.

No randomness anywhere; re-running produces byte-identical parquet.

Usage:
    python tools/gen_sf_synth.py --replicas 10        # -> .scratch/sf1.0synth
    python tools/scaling_check.py --sf-dirs /root/testdata/sf0.1 \
        .scratch/sf1.0synth
"""

from __future__ import annotations

import argparse
import os

import duckdb

DOC_SHIFT = 10_000_000
VEC_SHIFT = 10_000_000
OK_SHIFT = 1_000_000_000
PK_SHIFT = 10_000_000
SK_SHIFT = 1_000_000
CK_SHIFT = 10_000_000

ALL_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
SYNTH_TABLES = (
    "documents", "embeddings", "lineitem", "orders", "customer", "supplier", "part"
)


_LOWER = "abcdefghijklmnopqrstuvwxyz"
_UPPER = _LOWER.upper()


def replica_select(table: str, i: int) -> str:
    """The SELECT producing replica ``i`` (0 = verbatim original)."""
    src = f"read_parquet('{{src}}/{table}.parquet')"
    if table == "documents":
        rot = i % 26
        if i == 0 or rot == 0:
            text = "text"
        else:
            frm = _LOWER + _UPPER
            to = (
                _LOWER[rot:] + _LOWER[:rot] + _UPPER[rot:] + _UPPER[:rot]
            )
            text = f"translate(text, '{frm}', '{to}')"
        return (
            f"SELECT doc_id + {i * DOC_SHIFT} AS doc_id, {text} AS text, "
            f"* EXCLUDE (doc_id, text) FROM {src}"
        )
    if table == "lineitem":
        return (
            f"SELECT l_orderkey + {i * OK_SHIFT} AS l_orderkey, "
            f"l_partkey + {i * PK_SHIFT} AS l_partkey, "
            f"l_suppkey + {i * SK_SHIFT} AS l_suppkey, "
            f"* EXCLUDE (l_orderkey, l_partkey, l_suppkey) FROM {src}"
        )
    if table == "orders":
        return (
            f"SELECT o_orderkey + {i * OK_SHIFT} AS o_orderkey, "
            f"o_custkey + {i * CK_SHIFT} AS o_custkey, "
            f"* EXCLUDE (o_orderkey, o_custkey) FROM {src}"
        )
    if table == "customer":
        return (
            f"SELECT c_custkey + {i * CK_SHIFT} AS c_custkey, "
            f"* EXCLUDE (c_custkey) FROM {src}"
        )
    if table == "supplier":
        return (
            f"SELECT s_suppkey + {i * SK_SHIFT} AS s_suppkey, "
            f"* EXCLUDE (s_suppkey) FROM {src}"
        )
    if table == "part":
        return (
            f"SELECT p_partkey + {i * PK_SHIFT} AS p_partkey, "
            f"* EXCLUDE (p_partkey) FROM {src}"
        )
    raise ValueError(table)


def synth_embeddings(src: str, out: str, replicas: int) -> int:
    """Replicate embeddings with a per-replica ISOMETRY: cyclic roll by
    7i components plus a deterministic ±1 pattern (pure integer hash of
    the component index and replica — no RNG).  Orthogonal transforms
    preserve all within-replica pairwise cosines exactly and leave
    norms untouched; cross-replica cosines decorrelate."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(src, "embeddings.parquet"))
    vec_id = tbl["vec_id"].to_numpy()
    label = tbl["label"].to_numpy()
    emb = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float32)
    dim = emb.shape[1]
    ids, labels, vecs = [], [], []
    for i in range(replicas):
        if i == 0:
            v = emb
        else:
            j = np.arange(dim, dtype=np.int64)
            signs = np.where(((j * 2654435761 + i * 40503) >> 7) & 1 == 1, -1.0, 1.0)
            v = np.roll(emb, 7 * i, axis=1) * signs.astype(np.float32)
        ids.append(vec_id + i * VEC_SHIFT)
        labels.append(label)
        vecs.append(v.astype(np.float32))
    out_tbl = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), type=pa.int64()),
            "embedding": pa.array(
                [row for v in vecs for row in v.tolist()],
                type=pa.list_(pa.float32()),
            ),
            "label": pa.array(np.concatenate(labels), type=pa.int32()),
        }
    )
    dst = os.path.join(out, "embeddings.parquet")
    pq.write_table(out_tbl, dst)
    return len(out_tbl)


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = argparse.ArgumentParser()
    p.add_argument("--src", default="/root/testdata/sf0.1")
    p.add_argument("--replicas", type=int, default=10)
    p.add_argument("--out", default=None)
    a = p.parse_args()
    out = a.out or os.path.join(
        repo, ".scratch", f"sf{round(0.1 * a.replicas, 2)}synth"
    )
    os.makedirs(out, exist_ok=True)

    con = duckdb.connect()
    for t in SYNTH_TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if t == "embeddings":
            n = synth_embeddings(a.src, out, a.replicas)
        else:
            union = " UNION ALL ".join(
                replica_select(t, i).format(src=a.src) for i in range(a.replicas)
            )
            con.execute(f"COPY ({union}) TO '{dst}' (FORMAT PARQUET)")
            n = con.execute(
                f"SELECT count(*) FROM read_parquet('{dst}')"
            ).fetchone()[0]
        print(f"{t}: {a.replicas} replicas, {n} rows -> {dst}")
    for t in ALL_TABLES:
        if t in SYNTH_TABLES:
            continue
        dst = os.path.join(out, f"{t}.parquet")
        if os.path.islink(dst) or os.path.exists(dst):
            os.remove(dst)
        os.symlink(os.path.join(a.src, f"{t}.parquet"), dst)
    print(f"symlinked {len(ALL_TABLES) - len(SYNTH_TABLES)} unscaled tables")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

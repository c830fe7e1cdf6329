"""Sinks (SURVEY §2.1 S5-S7): CSV stat tables, JSON summaries, text lists.

The reference writes single ordered files from the driver (csv.DictWriter
/ json.dump), and so do the bounded sinks here: ``write_csv_single`` and
``write_text_list`` collect their (ordered) rows through ONE driver
collect, capped at ``BOUNDED_ROWS + 1``, and write them with plain
``open()``. CSV lines come from ``to_csv``, the same Univocity generator
the Spark CSV writer uses, so quoting, null vs ``""``, doubles and
timestamps are byte-identical to a Spark write; ``limit`` over
``orderBy`` plans as a single-stage ``TakeOrderedAndProject``. Input with
more than ``BOUNDED_ROWS`` rows falls back to a ``coalesce(1)`` Hadoop
write plus a move out of the temp dir. For bulk output use
``write_partitioned`` / ``write_jsonl_sharded``, which stay distributed.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame

# Row cap of the driver-side path: ~60x the largest run_all output (1,711
# rows). Larger input (e.g. curate_all's near-dup pairs at a large SF) is
# written by the distributed coalesce(1) writer instead.
BOUNDED_ROWS = 100_000

_CONTROL_AND_SPACE = "".join(map(chr, range(33)))


def _csv_header(columns: list[str]) -> str:
    """The header line the Spark CSV writer emits for ``columns`` under its
    default options: each name trimmed of characters <= ' ', quoted when it
    is empty or holds a delimiter, quote or line break (or, as the first
    field, starts with the ``#`` comment char), with ``\\`` and ``"``
    escaped by a backslash inside quotes."""
    fields = []
    for i, name in enumerate(columns):
        name = name.strip(_CONTROL_AND_SPACE)
        if not name or any(c in name for c in ',"\n\r') or (i == 0 and name[0] == "#"):
            name = '"' + name.replace("\\", "\\\\").replace('"', '\\"') + '"'
        fields.append(name)
    return ",".join(fields) + "\n"


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.writelines(lines)


def _move_single_part(tmp: str, path: str) -> str:
    """Move the one part file of a coalesce(1) write to ``path``."""
    part = [p for p in glob.glob(os.path.join(tmp, "part-*")) if not p.endswith(".crc")][0]
    shutil.move(part, path)
    shutil.rmtree(tmp)
    return path


def write_csv_single(df: DataFrame, path: str, order_by: list[str] | None = None) -> str:
    """One ordered, headered CSV file (reference S5:
    core/pedri_analysis.py:637-661). Returns the final file path."""
    if order_by:
        df = df.orderBy(*order_by)
    if len(df.columns) == 1:
        # A lone null is an empty line, which the CSV writer skips; to_csv,
        # declared non-null, fails on it.
        df = df.where("`%s` IS NOT NULL" % df.columns[0].replace("`", "``"))
    rows = df.selectExpr("to_csv(struct(*)) AS line").limit(BOUNDED_ROWS + 1).collect()
    if len(rows) <= BOUNDED_ROWS:
        _write_lines(path, [_csv_header(df.columns)] + [r[0] + "\n" for r in rows])
        return path
    tmp = path + ".spark-tmp"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    return _move_single_part(tmp, path)


def write_json_summary(df: DataFrame, path: str) -> str:
    """One-row-summary JSON object (reference S6:
    core/pedri_analysis_extended.py:641-652): collect the single row on
    the driver and dump it — the correct move for a 1-row aggregate."""
    rows = df.collect()
    payload = rows[0].asDict(recursive=True) if len(rows) == 1 else [
        r.asDict(recursive=True) for r in rows
    ]
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    return path


def write_text_list(df: DataFrame, path: str, column: str) -> str:
    """Sorted one-value-per-line text file (reference S7:
    find_pedri_matches_in_events.py:71-74)."""
    values = (
        df.select(df[column].cast("string").alias("value"))
        .distinct()
        .orderBy("value")
    )
    rows = values.limit(BOUNDED_ROWS + 1).collect()
    if len(rows) <= BOUNDED_ROWS:
        # null is an empty line, as in the Hadoop text writer
        _write_lines(path, [("" if r[0] is None else r[0]) + "\n" for r in rows])
        return path
    tmp = path + ".spark-tmp"
    values.coalesce(1).write.mode("overwrite").text(tmp)
    return _move_single_part(tmp, path)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> str:
    """Bulk parquet output partitioned for downstream pruning — the sink
    for anything that does NOT fit the single-file contract."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    return path


def backfill_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> str:
    """Idempotent BACKFILL into an existing partitioned dataset: dynamic
    partition overwrite replaces ONLY the partitions present in ``df``
    and leaves every other partition's files untouched (static overwrite
    mode would truncate the whole table — the classic backfill footgun).

    The mode is set per-write via the DataFrameWriter option, not a
    session conf, so concurrent writers with different intents cannot
    race on global state.  Re-running the same backfill converges to the
    same bytes (deterministic input -> safe to retry).  At 100 TB this
    is the daily-pipeline repair primitive: recompute one day, slot it
    in, never touch the other 3 000 days.

    Scale note: requires the write to be partition-pruned upstream
    (recompute ONLY the target partitions); the sink itself shuffles
    nothing."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return path


def write_jsonl_sharded(df: DataFrame, path: str) -> str:
    """Training-export sink: JSON-Lines shards (one JSON object per line,
    one file per partition — the interchange format LLM data pipelines
    feed to tokenizer/packing stages). This is Spark's native distributed
    json writer: no coalesce, shard count = partition count, so it scales
    to any corpus; pair with ``repartition(n)`` upstream to size shards.
    Returns the directory path."""
    df.write.mode("overwrite").json(path)
    return path

"""SparkSession factory.

One place to encode the execution-model decisions that matter at scale:
AQE on (runtime join-strategy switch, skew splitting, partition coalescing),
Arrow on (vectorized pandas interchange for the few pandas-UDF operators),
UTC session timezone (oracle comparability), and shuffle parallelism sized
to the machine rather than Spark's default 200.

On a real cluster the same builder is used; only ``master`` and the memory /
parallelism knobs change (callers pass overrides via ``extra_conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "pedri_analysis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with scale-appropriate defaults.

    Notes on the defaults:

    - ``spark.sql.adaptive.enabled``: lets Spark re-plan at runtime —
      converts sort-merge joins to broadcast when the built side turns out
      small, splits skewed shuffle partitions, and coalesces tiny ones.
      This is the main defence against skew at 100 TB.
    - ``spark.sql.shuffle.partitions``: sized to cores locally; AQE
      coalescing makes the exact number less critical.
    - ``spark.sql.session.timeZone=UTC``: deterministic timestamp
      semantics, comparable with the DuckDB oracle (UTC-naive).
    - nested schema pruning on: the event schema is deeply nested and we
      want parquet/JSON scans to read only the touched leaves.
    - ``spark.sql.codegen.cache.maxEntries``: Spark keeps 100 generated
      classes by default, fewer than one ``run_all`` pass compiles (~256),
      so every warm pass recompiled nearly all of them. A cold 279-query
      ``bench.py`` sweep at sf0.1 compiles 3,827 classes with an unbounded
      cache (6,062 with the default, and 5,646 again in a second sweep);
      5,000 holds them with ~30% headroom. The cost is metaspace: 243 MB
      after two sweeps against 207 MB with the default cache. A static
      conf: it counts only when the SparkContext starts.
    - ``spark.sql.codegen.useIdInClassName=false``: by default each
      whole-stage class is named after its codegen stage id, and AQE
      numbers the stages as it re-plans a running query, so the same code
      can arrive under another id, and so another cache key, from one run
      to the next. Seen in the cache keys of three ``run_all`` passes over
      the fixtures: every class a warm pass compiled (10 and 3 of 236) was
      a cold-pass class with only the stage id changed. Without the id the
      warm passes compile none, and the cold pass 218. Stage ids stay in
      the plan strings.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Parquet ms/us timestamps (the current events table is
        # timestamp[us]) arrive as TIMESTAMP_NTZ; with the UTC session
        # timezone casting NTZ -> TIMESTAMP is an identity shift, matching
        # the DuckDB oracle's naive timestamps. nanosAsLong is kept as a
        # safety net: should a regeneration ever emit NANOS-precision
        # parquet (unreadable as timestamps by Spark 4), it degrades to
        # BIGINT epoch-nanos instead of failing — events_us /
        # with_event_time dispatch on whichever dtype actually arrives.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # PySpark 4's per-call error-context capture walks the Python stack
        # and makes TWO extra py4j round trips on EVERY DataFrame API call
        # (pyspark/errors/utils.py::_with_origin). Profiled r15: ~0.3-0.4 s
        # of pure driver time per complex query build. It only enriches
        # error messages with user line numbers — scale-independent driver
        # hygiene to disable in a production pipeline, no result change.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

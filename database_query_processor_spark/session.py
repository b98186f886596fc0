"""SparkSession factory.

The reference engine hand-manages a global buffer pool split across
join/sort consumers (reference: src/qp/optimizer/BufferManager.java:14-21,
src/QueryMain.java:93-115). On Spark, memory/spill management is
Tungsten's job; our knobs are partition counts, AQE, and broadcast
thresholds — set here once with scale-minded defaults.

Design notes for the 100 TB target (tested on local[32]):
  * AQE on: runtime partition coalescing, skew-join splitting, and
    plan re-optimization replace the reference's randomized
    iterative-improvement optimizer (src/qp/optimizer/RandomOptimizer.java).
  * shuffle.partitions defaults to cores locally; on a real cluster
    this should be ~2-3x total executor cores — AQE coalesces down,
    so err high. Exposed as a parameter.
  * maxPartitionBytes 128m: at 100 TB that is ~800k input splits —
    fine for a 1000-executor cluster, keeps per-task memory bounded.
  * Arrow enabled: every Pandas-UDF extension operator (dedup,
    similarity, multimodal) rides vectorized Arrow batches.
  * session timezone pinned UTC so timestamp semantics are stable
    across engines (and match the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cpus() -> int:
    """SPARK_GRAFT_CPUS, parsed lazily with a clear error — an
    import-time int('') would kill every entry point with a bare
    ValueError before argparse could say anything useful."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        n = int(raw)
    except ValueError as exc:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be an integer, got {raw!r}"
        ) from exc
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be >= 1, got {n}")
    return n


def get_spark(
    app_name: str = "database_query_processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-minded defaults."""
    cpus = _default_cpus()
    master = master or f"local[{cpus}]"
    # explicit None check — `or` would silently replace a passed 0
    # with the default instead of surfacing the invalid value
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    elif shuffle_partitions < 1:
        raise ValueError(
            f"shuffle_partitions must be >= 1, got {shuffle_partitions}"
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Pin ANSI explicitly: Spark 4.x defaults it ON (3.x defaulted
        # off). The whole 205-query oracle surface is verified under
        # ANSI=true; pinning makes that intent survive version drift.
        # Consequence: data-dependent divides MUST be guarded
        # (try_divide / predicates) — unguarded x/0 is a job-killing
        # DIVIDE_BY_ZERO, not a NULL.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/dqps-warehouse")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # InferFiltersFromGenerate copies the generator's INPUT
        # expression into an inferred `size(e) > 0 AND e IS NOT NULL`
        # filter below the Generate. The text pipelines explode
        # COMPUTED arrays (shingles, n-grams, token arrays) built from
        # higher-order functions — CodegenFallback, so the duplicated
        # tree is interpreted with no subexpression reuse and the
        # "filter" costs 2 more full evaluations per row than the
        # explode itself (measured 18x on the 3-gram pipeline: 29.8 s
        # -> 1.7 s at sf0.1, artifacts/X04_DECOMP_r12.json). The
        # rule's upside — pruning empty-array rows before a shuffle or
        # at a parquet scan — needs STORED arrays. Only x36 explodes
        # one, embeddings.embedding, which is never null or empty, so
        # the inferred filter would remove nothing (tests/test_plans.py
        # gates the list). Excluding the rule is scale-independent (the
        # re-evaluation tax is per-row on any cluster) and
        # semantics-preserving (the filter it infers only removes rows
        # the Generate drops anyway).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long, catalog converts to micros.
        # catalog.footer_schema mirrors this on the driver: it maps an
        # INT64 timestamp[ns] footer column to long.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

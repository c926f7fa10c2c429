"""SparkSession factory with warehouse-grade defaults.

The reference engine's physical tricks (combiner partial-agg, spill-aware
sort, shuffle compression, speculative execution, locality scheduling —
SURVEY.md §4) are all Spark built-ins; this module simply turns the right
knobs on so every plan produced by the engine inherits them.

Scale notes (100 TB / 1000-executor design):
- AQE on: runtime coalescing of shuffle partitions, auto skew-join
  splitting, dynamic broadcast-join demotion. On a real cluster the same
  config holds; only ``spark.sql.shuffle.partitions`` should be raised to
  ~2-3x total cores (AQE coalesces the excess).
- ``maxPartitionBytes`` 128m: one task per HDFS-block-ish chunk, same
  split math as the reference's FileInputFormat
  (max(minSize, min(goalSize, blockSize))).
- Arrow enabled: every Pandas-UDF boundary is vectorized batch transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


#: Dev-scale AQE skew thresholds (round 9, from the round-8 planted-skew
#: study's sharpest finding): AQE's skew split silently does NOT fire at
#: dev scale — a 50%-hot partition is ~80 MB, under the 256 MB default
#: ``skewedPartitionThresholdInBytes`` — so "AQE on" runs the unsplit
#: plan while reporting adaptive execution. ``profile="dev"`` scales the
#: two byte thresholds down so the same skew PHYSICS is observable (and
#: testable) on a laptop-sized corpus; the prod defaults are untouched
#: because at 100 TB the hot partition dwarfs 256 MB and the split fires
#: unaided. See SCALING.md round 8 (the 3.02 s -> 1.38 s split) and
#: ``operators.joins.choose_skew_join_strategy`` (the per-join picker
#: this session-level answer complements). The skew FACTOR comes down
#: too: shuffle partitions default to the core count, and with N
#: partitions a key holding a fraction f of the rows sits at
#: 1 + f·N/(1-f) times the median — exactly 5.0× for a 50%-hot key on a
#: 4-core laptop, which the default factor 5 (a strict comparison) never
#: splits. Factor 2 splits any key above 1/(N+1) of the rows.
_DEV_PROFILE_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
}


def build_session(
    app_name: str = "hadoop_20_warehouse_fix_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str = "prod",
) -> SparkSession:
    """Build a SparkSession tuned for the engine.

    Local-mode defaults come from ``SPARK_GRAFT_CPUS`` (driver contract);
    on a real cluster pass ``master=None`` and let spark-submit set it.

    ``profile="dev"`` additionally applies :data:`_DEV_PROFILE_CONF` —
    dev-scale AQE skew thresholds so runtime skew splitting fires on
    megabyte-sized hot partitions (it never does under the 256 MB prod
    default; pytest pins a skew=true split firing under this profile).
    ``extra_conf`` still wins over the profile."""
    if profile not in ("prod", "dev"):
        raise ValueError(f"profile must be 'prod' or 'dev', got {profile!r}")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not (cpus.isdigit() or cpus == "*"):
        # Validate ONCE: a bad value must not reach the master URL
        # (local[] / local[auto] fails getOrCreate long after the
        # shuffle-partitions fallback pretended to handle it).
        cpus = "32"
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # events.ts physical encoding has changed between driver rounds
        # (NANOS, then MICROS/NTZ); these two make every encoding surface
        # as something catalog.normalize_event_ts maps to TimestampType.
        # catalog.ensure_events_conf re-asserts them at runtime for
        # vanilla (driver-built) sessions.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # InferFiltersFromGenerate synthesizes size(e)>0 AND isnotnull(e)
        # from explode(e); predicate pushdown then re-inlines e below the
        # projection, so a computed array (e.g. the interpreted shingle
        # transform) is evaluated 3x per row. Generate already skips
        # empty/null arrays, and parquet can't push size() filters, so
        # the rule is pure overhead for this engine's explode-heavy
        # pipelines (measured 4x on shingle dedup at sf0.1).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if profile == "dev":
        for k, v in _DEV_PROFILE_CONF.items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory.

The reference pins everything to IST (``config/settings.py:32`` in the
reference). For oracle comparison we default the session timezone to UTC
(DuckDB timestamps are UTC-naive); reference-parity tests may pass
``tz="Asia/Kolkata"``.

Scale posture: AQE on (runtime shuffle coalescing + skew-join splitting),
shuffle partitions sized to the local core count rather than the 200
default. On a real cluster these come from spark-submit conf; the factory
only sets them when it owns the session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def get_spark(
    app_name: str = "options_data_pipeline_spark",
    tz: str = "UTC",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # floor for AQE's coalesced partitions: the 1m default assumes
        # shuffle stages are IO-bound, but this engine's small shuffles
        # are compute-dense (array_intersect over adjacency arrays, HOF
        # dot products, md5 grams) — a ~10 MB post-shuffle stage coalesced
        # to 10 tasks serializes ~11 s of executor work per task in the
        # worst JIT state (part_triangle_counts measured 28.9 s in-suite
        # vs 5.3 s with the floor lowered; full-suite A/B 304.0 -> 266.1 s,
        # pinned_over_budget 3 -> 0). At production scale shuffles are
        # GB-sized and advisoryPartitionSizeInBytes governs instead — the
        # floor only matters for small, compute-heavy stages, exactly
        # where losing parallelism hurts.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # JIT code cache sized for a long-lived session running hundreds of
        # distinct codegen'd stages: the default 240m (116m per segmented
        # heap) fills after ~100 queries (~1 MB of profiled nmethods per
        # query, measured r13), after which the sweeper flushes warm code
        # and hot paths run interpreted/recompiling. Single-variable A/B on
        # the 233-query bench: 310.3 s -> 271.8 s (-12%); the per-position
        # cumulative delta is flat for the first ~40 queries and grows
        # after — exactly the cache-full signature. On a cluster the same
        # flag belongs in executor options for long-lived executors.
        # Driver JVM options apply only when this process launches the
        # JVM; under spark-submit (or an already-running JVM) they must be
        # passed on the command line instead.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # write µs-typed parquet timestamps (not legacy INT96): what every
        # modern reader (pyarrow/DuckDB/Spark) round-trips losslessly
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # SPARK_GRAFT_CONF="k=v;k2=v2": ad-hoc conf overrides for probe/bench
    # experiments (e.g. flipping autoBroadcastJoinThreshold to attribute a
    # join-strategy pivot) without editing tool code
    env_overrides: dict[str, str] = {}
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
            env_overrides[k.strip()] = v.strip()
    if env_overrides:
        # env overrides beat explicit per-run extra_conf — make every such
        # run say so loudly, so a lingering probe knob can never skew a
        # committed BASELINE/BENCH artifact silently
        import sys

        print(
            f"[session] SPARK_GRAFT_CONF active, overriding: {env_overrides}",
            file=sys.stderr,
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

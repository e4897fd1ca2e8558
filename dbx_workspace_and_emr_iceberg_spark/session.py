"""SparkSession factory.

The reference pins its engine config in the EMR ``spark-defaults``
classification (/root/reference/main.tf:792-806): Iceberg catalog wiring
plus demo-scale parallelism (``spark.sql.shuffle.partitions=1``,
main.tf:804-805). We keep the catalog wiring as an optional config swap
(see sources/lakehouse.py) and do the *opposite* on parallelism: this
engine is designed for ~100 TB on a multi-executor cluster, so AQE,
partition coalescing and skew-join handling are always on, and local
parallelism matches the machine.

All settings here are cluster-size-relative, not hard-coded absolutes:
on a real cluster only ``master`` and memory change; the plan-shaping
configs (AQE, broadcast threshold, partition sizing) carry over.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "spark-graft",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    Scale posture (SURVEY.md §2 X6): AQE on with coalescing + skew-join,
    Arrow for every Python<->JVM hop, shuffle partitions sized to the
    machine locally (on a cluster this should be ~2-3x total cores; AQE
    coalescing makes over-provisioning cheap).
    """
    n = cpus or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{n}]")
        # -- parallelism & adaptivity (100 TB posture; contra main.tf:804) --
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- Python boundary: always Arrow-vectorized --
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- determinism for the DuckDB oracle: naive==UTC timestamps --
        .config("spark.sql.session.timeZone", "UTC")
        # -- local driver doubles as executor: give it headroom --
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # -- timestamps as Iceberg stores them (int64 micros): INT96
        # footers carry no min/max, so such a column never prunes; the
        # DataFrameWriter option of the same name has no effect --
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # -- keep every generated class: the JVM-wide cache is keyed on
        # the Java source, and at Spark's 100 entries (4 LRU segments
        # of 25) a session recompiles, and HotSpot re-JITs, classes it
        # already built.  The whole registry generates ~4,240 distinct
        # classes; 8192 leaves each segment room for its share --
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        # -- list a read's paths on the driver: above the threshold
        # (32 paths by default) Spark lists them in a job with one task
        # per path, and a lakehouse read names every file its manifest
        # lists.  The manifests already name each file, and the commit
        # layer is local-FS scoped (sources/lakehouse.py `_commit`) --
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # getOrCreate REUSES any existing session, applying only runtime
    # confs: master/local[n], driver memory, and static confs (e.g. the
    # iceberg catalog wiring in extra_conf) are silently ignored then.
    # Warn LOUDLY when the caller asked for those on a reused session —
    # a "config swap" that did nothing is worse than a warning.
    # getActiveSession() is THREAD-LOCAL — a session created on another
    # thread is still reused by getOrCreate with no active session on
    # this one, so also check the process-wide default
    # (_instantiatedSession).
    existing = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    spark = b.getOrCreate()
    if existing is not None:
        # runtime confs ARE applied to a reused session by getOrCreate;
        # only an explicit cpus ask (master/shuffle-partitions are
        # static) or a static extra_conf key was silently dropped
        static_keys = [
            k
            for k in (extra_conf or {})
            if not spark.conf.isModifiable(k)
        ]
        if cpus or static_keys:
            import warnings

            warnings.warn(
                "get_spark: reusing the existing SparkSession — "
                "cpus/master/driver-memory"
                + (
                    f" and static conf keys {static_keys}"
                    if static_keys
                    else ""
                )
                + " were NOT applied; stop the session first to "
                "rebuild with them",
                RuntimeWarning,
                stacklevel=2,
            )
    spark.sparkContext.setLogLevel("WARN")
    return spark

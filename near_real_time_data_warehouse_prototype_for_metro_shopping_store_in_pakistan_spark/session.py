"""SparkSession bootstrap tuned for the warehouse workload.

The reference has no engine configuration beyond hard-coded buffer
sizes (src/Main.java:11, src/GenerateStream.java:8). On Spark the
equivalent knobs are AQE + shuffle partition sizing; everything else
(join strategy, pushdown, codegen) is Catalyst's job.

Scale notes (100 TB / 1000-executor design intent):
- AQE enabled: runtime coalescing of small post-shuffle partitions and
  skew-join splitting replace any hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. On a real cluster this would be set ~2-3x total cores.
- Arrow enabled for the few Pandas-UDF paths (multimodal stubs); all
  hot-path operators are built-in functions, JVM-side.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def initial_shuffle_partitions(explicit: int | None, cores: int) -> int:
    """``explicit``, else ``$SPARK_GRAFT_SHUFFLE_PARTITIONS`` (unset or
    empty = not given, as for ``$SPARK_GRAFT_CPUS``), else ``cores``."""
    return (
        explicit
        or int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or 0)
        or cores
    )


def get_spark(
    app_name: str = "metro-warehouse-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    catalog_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Session timezone is pinned to UTC so calendar derivations
    (year/month/quarter/weekday — SURVEY §2.8 F1-F8) are stable and
    match the DuckDB oracle's naive-timestamp semantics.

    ``catalog_dir`` switches on the DURABLE catalog: managed tables and
    views persist in a Hive(Derby)-backed metastore under that
    directory, so a later, separate session pointed at the same path
    resolves them by name — the Spark equivalent of the reference's
    MySQL catalog durability (SQL/Star_Schema_Metro.sql DDL;
    CREATE VIEW in SQL/OLAP Queries - Metro.sql:276-288). Derby allows
    one JVM at a time; concurrent warehouses would swap in a shared
    metastore service, same code path. NOTE: configs only apply to a
    NEWLY built session — getOrCreate ignores them when one exists.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # local[*] runs everything in the driver JVM; the 1g default
        # heap GC-thrashes on wide shuffles. Overridable via env; only
        # effective when this process launches the JVM (normal case).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"),
        )
        # Keep JVM unified-logging (gc warnings etc.) off stdout so
        # harness contracts that parse our stdout (bench.py's one JSON
        # line) never see interleaved JVM noise.
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
        .config("spark.sql.session.timeZone", "UTC")
        # INITIAL shuffle partitions = 1x cores, scale-adaptive via
        # $SPARK_GRAFT_CPUS (never a constant). 2-3x cores was
        # A/B-measured in r14 and REJECTED at this workload shape:
        # the commit-bound lifecycle rows pay ~+1s each in tiny-task
        # overhead (q18 7.8->9.1s, q19 9.0->9.8s at 3x) while the
        # parallel operator rows showed no gain — AQE's runtime
        # coalescing already right-sizes the big shuffles, making the
        # initial count a fixed-overhead knob here. On a real cluster
        # with straggler-prone nodes 2-3x total cores remains the
        # standard guidance; set it through this parameter.
        .config(
            "spark.sql.shuffle.partitions",
            str(initial_shuffle_partitions(shuffle_partitions, cores)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # int64 micros, not legacy INT96: INT96 carries NO parquet
        # footer min/max statistics, which would blind the manifest
        # sink's zone maps (operators.sinks stats_cols) on event-time
        # columns — the dominant range-scan key at scale
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
    )
    if catalog_dir:
        metastore = os.path.join(catalog_dir, "metastore_db")
        builder = (
            builder.config(
                "spark.sql.warehouse.dir", os.path.join(catalog_dir, "warehouse")
            )
            .config(
                "spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={metastore};create=true",
            )
            .enableHiveSupport()
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""SparkSession factory.

Mirrors the intent of the reference's session builder
(``run.py:31-54`` in /root/reference) — a single place that owns the
session configuration — but tuned for an analytics engine that must
scale: AQE on (runtime re-planning, skew-join handling), UTC session
time zone (deterministic timestamp semantics vs the DuckDB oracle),
Arrow enabled for the few pandas-UDF operators, and ns-parquet
timestamps read as longs (Spark cannot natively read
TIMESTAMP(NANOS) parquet columns; catalog.py normalizes them).

Delta Lake is optional: if delta-spark is importable we configure it
(the reference depends on it for its HUB zone), otherwise the writer
layer falls back to a pure-Spark merge (see writer.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "metadata_ingestion_poc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In production this runs on a cluster (``master`` comes from the
    environment / spark-submit); locally we default to ``local[N]``.
    Shuffle partitions default to the core count — at 100 TB this is
    instead sized to ~128-256 MiB per post-shuffle partition, but AQE
    coalescing makes the initial number far less critical.
    """
    master = master or os.environ.get("SPARK_MASTER", f"local[{DEFAULT_CPUS}]")
    shuffle = shuffle_partitions or DEFAULT_CPUS

    # JIT code cache (round 15): a long-lived JVM running hundreds of
    # DISTINCT codegen-heavy plans (this engine's literal-table ANN
    # scans are the extreme case) saturates HotSpot's default 240 MB
    # reserved code cache mid-run; UseCodeCacheFlushing then silently
    # thrashes the hottest compiled methods, and the most codegen-
    # heavy queries degrade 50-90% (measured: q290 in-suite 15.1 s at
    # the default vs 8.2 s at 512m while its isolated time never
    # moved — the full-suite A/B is in OPTIMIZATION_r15.md). Applied
    # to driver AND executors (local mode runs codegen in the driver
    # JVM; a cluster compiles the same classes in every executor),
    # appended to any extraJavaOptions the caller passes in extra_conf
    # rather than replacing them. Only effective when this process launches the JVM — a
    # pre-existing gateway (driver harness, test session reuse) keeps
    # its own value, which is exactly the non-invasive behavior the
    # driver contract needs.
    conf = with_code_cache(
        extra_conf, os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m")
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata ships ns-precision parquet timestamps (events.ts);
        # read them as int64 nanos and normalize in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )

    try:  # Delta is optional in this environment (reference: run.py:38-47)
        from delta import configure_spark_with_delta_pip  # type: ignore

        builder = configure_spark_with_delta_pip(
            builder.config(
                "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
            ).config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog",
            )
        )
    except ImportError:
        pass

    for k, v in conf.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def with_code_cache(
    extra_conf: dict[str, str] | None, code_cache: str
) -> dict[str, str]:
    """``extra_conf`` with ``-XX:ReservedCodeCacheSize`` appended to the
    caller's driver and executor ``extraJavaOptions`` (set alone when
    the caller gave none). A caller whose options already size the code
    cache keeps its own value."""
    conf = dict(extra_conf or {})
    for key in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        opts = conf.get(key, "")
        if "-XX:ReservedCodeCacheSize=" not in opts:
            conf[key] = f"{opts} -XX:ReservedCodeCacheSize={code_cache}".strip()
    return conf


def has_delta(spark: SparkSession) -> bool:
    """True if Delta Lake classes are on the session's classpath."""
    try:
        from delta.tables import DeltaTable  # noqa: F401

        return True
    except ImportError:
        return False

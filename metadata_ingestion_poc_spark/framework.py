"""Pipeline orchestration: the reference's run loop, Spark-first.

Parity with the reference POC's run loop (its framework.py:13-39) —
read → audit columns → RAW append → to_hub → HUB upsert per enabled
source — with two changes to how the work is scheduled:

- the reference executed two actions against an uncached plan,
  scanning every source twice (and re-evaluating current_timestamp
  between zones). We cache the audited batch once;
- the zone writes only read that cached batch and never each other,
  so they run as concurrent Spark jobs from driver threads
  (``concurrency.run_concurrent``): read → audit → {quarantine | RAW
  | HUB} overlapped. A source costs about its longest write (the HUB
  merge) instead of the sum of all three.

Audit columns (the reference's framework.py:27-32 semantics):
- _source_id     constant per source
- _ingest_ts_utc current_timestamp() at plan execution (fixed once by
                 the cached plan, so every zone sees the same value)
- ingest_date    ISO date STRING (driver-computed once per run — a
                 string, not DateType, matching the reference's RAW
                 partition layout), injectable for deterministic tests.
"""

from __future__ import annotations

import datetime as dt
import os
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .concurrency import run_concurrent
from .config import Config
from .metadata import Source, SourceSystem, load_sources
from .sources import get_reader
from .transform import to_hub
from .writer import write_hub, write_raw


def add_audit_columns(
    df: DataFrame, source: Source, ingest_date: str | None = None
) -> DataFrame:
    ingest_date = ingest_date or dt.datetime.now(dt.timezone.utc).date().isoformat()
    return (
        df.withColumn("_source_id", F.lit(source.id))
        .withColumn("_ingest_ts_utc", F.current_timestamp())
        .withColumn("ingest_date", F.lit(ingest_date))
    )


CORRUPT_COL = "_corrupt_record"


def zone_paths(source: Source, cfg: Config) -> dict[str, str]:
    """The RAW, HUB and quarantine directories ``source`` writes.

    An empty ``cfg.quarantine_base`` derives ``<raw_base>_quarantine``.
    Raises ``ValueError`` when two zones resolve to the same directory:
    run_source writes the zones concurrently, and two writers on one
    path would race (staging.py's single-writer contract).
    """
    rel = f"{source.domain}/{source.entity}"
    quarantine_base = cfg.quarantine_base or f"{cfg.raw_base}_quarantine"
    zones = {
        "RAW": f"{cfg.raw_base}/{rel}",
        "HUB": f"{cfg.hub_base}/{rel}",
        "quarantine": f"{quarantine_base}/{rel}",
    }
    seen: dict[str, str] = {}
    for zone, path in zones.items():
        where = path.rstrip("/") if "://" in path else os.path.realpath(path)
        if where in seen:
            raise ValueError(
                f"source {source.id!r}: the {seen[where]} and {zone} zones "
                f"resolve to the same directory {where}"
            )
        seen[where] = zone
    return zones


def quarantine_malformed(df: DataFrame, source: Source, cfg: Config) -> int:
    """Append the rows a PERMISSIVE read flagged as malformed to the
    quarantine zone; returns how many landed.

    When the source schema captures parse failures in
    ``_corrupt_record`` (csv/json `columnNameOfCorruptRecord`), those
    rows are appended to the quarantine zone — partitioned like RAW,
    keeping the raw malformed payload for replay after a schema fix.
    The count rides that write as an Observation. Without the column
    this is a no-op returning 0, preserving the reference's permissive
    behavior.
    """
    if CORRUPT_COL not in df.columns:
        return 0
    obs = Observation(f"quarantine_{source.id}")
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).observe(
        obs, F.count(F.lit(1)).alias("rows_quarantined")
    )
    write_raw(bad, zone_paths(source, cfg)["quarantine"], source.raw_partitions)
    return int(obs.get["rows_quarantined"])


def run_source(
    spark: SparkSession,
    source: Source,
    cfg: Config,
    ingest_date: str | None = None,
) -> dict[str, int]:
    """Ingest one source; returns observed metrics for the run.

    The audited batch is cached once, and its zone writes — the HUB
    merge, the RAW append of the clean rows and, when the read captured
    ``_corrupt_record``, the quarantine append — are submitted together
    as concurrent Spark jobs. Whichever job reaches a partition first
    fills the cache; the others read it. If a write fails, the error is
    raised once every other write has finished, and the cache is
    dropped either way.

    Metrics ride the writes through Spark's Observation API — an
    accumulator attached to an existing action, NOT an extra count()
    scan (at 100 TB a metrics-only second pass over the source is the
    observability anti-pattern). ``rows_ingested`` counts clean rows
    written; ``null_key_rows`` counts rows with any NULL hub primary
    key — the upsert-identity health signal a metadata-driven pipeline
    alerts on. Both are observed on the RAW branch only, above the
    cache rather than inside the cached plan, so they count each row
    exactly once whichever job fills the cache. ``rows_quarantined``
    is observed on the quarantine append and is 0 for sources without
    ``_corrupt_record``.
    """
    zones = zone_paths(source, cfg)
    reader = get_reader(source.type)
    batch = add_audit_columns(reader(spark, source.options), source, ingest_date)
    batch = batch.cache()
    clean = batch
    if CORRUPT_COL in batch.columns:
        clean = batch.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)

    obs = Observation(f"ingest_{source.id}")
    if source.hub_primary_keys:
        any_null = reduce(
            lambda a, b: a | b,
            [F.col(k).isNull() for k in source.hub_primary_keys],
        )
        null_key = F.count_if(any_null)
    else:
        null_key = F.lit(0)
    observed = clean.observe(
        obs,
        F.count(F.lit(1)).alias("rows_ingested"),
        null_key.cast("long").alias("null_key_rows"),
    )

    # the HUB merge is the longest write: its thread starts first, so
    # its jobs tend to lead the FIFO queue and the appends back-fill
    # the slots it leaves idle
    writes = [
        lambda: write_hub(
            spark,
            to_hub(clean, source),
            zones["HUB"],
            source.hub_primary_keys,
            checkpoint_base=cfg.checkpoint_base,
            source_id=source.id,
        ),
        lambda: write_raw(observed, zones["RAW"], source.raw_partitions),
        lambda: quarantine_malformed(batch, source, cfg),
    ]
    try:
        _, _, quarantined = run_concurrent(spark, *writes)
    finally:
        batch.unpersist()
    return {**{k: int(v) for k, v in obs.get.items()},
            "rows_quarantined": quarantined}


def run(
    spark: SparkSession,
    sources_yaml: str,
    env: str = "local",
    ingest_date: str | None = None,
    metrics_sink=None,
) -> list[str]:
    """Ingest every enabled source; returns the ids that ran.

    ``metrics_sink``: optional ``(source_id, metrics_dict) -> None``
    callback receiving each source's observed counters
    (``rows_ingested``, ``null_key_rows``, ``rows_quarantined``; see
    run_source) — the hook a production deployment points at its
    metrics system.
    """
    ss: SourceSystem = load_sources(sources_yaml)
    cfg = Config.from_defaults(ss.defaults, env=env)
    ran: list[str] = []
    for source in ss.sources:
        if not source.enabled:
            continue
        metrics = run_source(spark, source, cfg, ingest_date)
        if metrics_sink is not None:
            metrics_sink(source.id, metrics)
        ran.append(source.id)
    return ran

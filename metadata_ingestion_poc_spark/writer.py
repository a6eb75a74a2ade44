"""Zone writers: RAW (partitioned append parquet) and HUB (keyed upsert).

Parity with the reference's writer (writer.py:9-36 in /root/reference),
with two deliberate upgrades:

- Delta Lake is used when available (same MERGE semantics, schema
  autoMerge on); otherwise a pure-Spark merge emulation provides the
  same keyed-upsert contract: existing-anti-join ∪ incoming, written
  to a staging dir and swapped in. The emulation is also the portable
  upsert pattern when Delta isn't an option.
- The reference's keyless edge case is preserved: no primary keys →
  merge condition would be literal false → every row inserts, i.e.
  append (overwrite on initial load).

Concurrency: ``framework.run_source`` calls :func:`write_raw` and
:func:`write_hub` (and the quarantine append, itself a
:func:`write_raw`) from concurrent driver threads over one cached
batch. That is safe because each call owns a distinct directory —
``framework.zone_paths`` refuses a source whose zones share one — and
the HUB merge's staging swap keeps its single-writer contract per path.

Scale notes: the HUB merge shuffles both sides on the key columns;
at 100 TB you bucket the HUB table by the keys (or rely on Delta's
dynamic file pruning) so the merge only rewrites touched files.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .staging import commit_swap, recover, staging_dir


def write_raw(df: DataFrame, path: str, partitions: list[str]) -> None:
    """Append-only partitioned parquet (RAW zone)."""
    writer = df.write.mode("append")
    if partitions:
        writer = writer.partitionBy(*partitions)
    writer.parquet(path)


def _delta_available(spark: SparkSession) -> bool:
    try:
        from delta.tables import DeltaTable  # noqa: F401
    except ImportError:
        return False
    # jars must actually be on the classpath, not just the python pkg
    try:
        spark._jvm.io.delta.tables.DeltaTable  # type: ignore[union-attr]
        return True
    except Exception:
        return False


def _write_hub_delta(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str]
) -> None:
    from delta.tables import DeltaTable

    spark.conf.set("spark.databricks.delta.schema.autoMerge.enabled", "true")
    if DeltaTable.isDeltaTable(spark, path):
        cond = (
            " AND ".join(f"t.{k} = s.{k}" for k in keys) if keys else "false"
        )
        (
            DeltaTable.forPath(spark, path)
            .alias("t")
            .merge(df.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
    else:
        df.write.format("delta").mode("overwrite" if not keys else "append").save(
            path
        )


def _write_hub_parquet_merge(
    spark: SparkSession, df: DataFrame, path: str, keys: list[str]
) -> None:
    """Pure-Spark keyed upsert: keep existing rows whose key is absent
    from the incoming batch, union the batch, swap atomically-enough
    via a staging directory (single-writer assumption, like the POC).
    Schema evolution = unionByName(allowMissingColumns=True).

    Divergence from Delta MERGE, on purpose: an incoming batch with
    duplicate keys is accepted as-is (all its rows land), where MERGE
    raises on multiple source matches. Callers that need latest-wins
    batch semantics reduce first (see streaming.pipeline's order_col).
    """
    target = Path(path)
    recover(target)
    if not keys:
        mode = "append" if target.exists() else "overwrite"
        df.write.mode(mode).parquet(path)
        return
    if not target.exists():
        df.write.mode("overwrite").parquet(path)
        return

    existing = spark.read.parquet(path)
    # no distinct on the incoming keys: a left_anti join already ignores
    # duplicates on its right side, and a distinct would only add an
    # aggregation and a shuffle to the merge's critical path
    kept = existing.join(df.select(*keys), on=keys, how="left_anti")
    merged = kept.unionByName(df, allowMissingColumns=True)

    staging = staging_dir(target)
    merged.write.mode("overwrite").parquet(str(staging))
    commit_swap(target, staging)


def write_hub(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint_base: str | None = None,  # reserved for streaming sinks
    source_id: str | None = None,
) -> None:
    """Keyed upsert into the HUB zone (Delta when available)."""
    if _delta_available(spark):
        _write_hub_delta(spark, df, path, keys)
    else:
        _write_hub_parquet_merge(spark, df, path, keys)


def read_hub(spark: SparkSession, path: str) -> DataFrame:
    if _delta_available(spark):
        from delta.tables import DeltaTable

        if DeltaTable.isDeltaTable(spark, path):
            return spark.read.format("delta").load(path)
    recover(Path(path))
    return spark.read.parquet(path)

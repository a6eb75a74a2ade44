"""End-to-end ingestion-framework tests over synthesized fixtures,
covering the reference's edge cases (SURVEY.md §5): keyed upsert
idempotence, keyless merge degenerating to append, composite keys,
schema evolution, disabled-source skip, unknown reader type.
"""

from __future__ import annotations

import textwrap

import pytest

from metadata_ingestion_poc_spark.framework import run
from metadata_ingestion_poc_spark.sources import get_reader
from metadata_ingestion_poc_spark.writer import read_hub


@pytest.fixture()
def lake(tmp_path):
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "people.csv").write_text(
        "person_id,name,country\n1,Ada,UK\n2,Grace,US\n3,Anna-María,ES\n"
    )
    (tmp_path / "in" / "clicks.json").write_text(
        '{"click_id": 1, "person_id": 1, "n": 3}\n'
        '{"click_id": 2, "person_id": 2, "n": 5}\n'
    )
    (tmp_path / "in" / "sales.csv").write_text(
        "category,yr,total\nphones,2023,10\nphones,2024,12\nlaptops,2023,7\n"
    )
    yaml_path = tmp_path / "sources.yaml"
    yaml_path.write_text(
        textwrap.dedent(
            f"""
            version: 1
            defaults:
              raw_base: {tmp_path}/lake/raw
              hub_base: {tmp_path}/lake/hub
              checkpoint_base: {tmp_path}/lake/checkpoints
            sources:
              - id: people_csv
                type: csv
                domain: crm
                entity: people
                options:
                  path: {tmp_path}/in/people.csv
                  header: true
                  inferSchema: true
                hub_primary_keys: [person_id]
              - id: clicks_json
                type: json
                domain: web
                entity: clicks
                options:
                  path: {tmp_path}/in/clicks.json
                hub_primary_keys: []
              - id: sales_olap
                type: olap
                domain: sales
                entity: cube
                options:
                  fallback_csv_path: {tmp_path}/in/sales.csv
                hub_primary_keys: [category, yr]
              - id: disabled_src
                enabled: false
                type: csv
                domain: crm
                entity: nope
                options:
                  path: /nonexistent.csv
            """
        )
    )
    return tmp_path, str(yaml_path)


def test_run_ingests_enabled_sources_only(spark, lake):
    tmp, yaml_path = lake
    ran = run(spark, yaml_path, ingest_date="2026-08-13")
    assert ran == ["people_csv", "clicks_json", "sales_olap"]


def test_raw_zone_partitioned_by_ingest_date(spark, lake):
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    raw = spark.read.parquet(f"{tmp}/lake/raw/crm/people")
    assert raw.count() == 3
    assert (tmp / "lake/raw/crm/people/ingest_date=2026-08-13").exists()
    row = raw.filter("person_id = 3").first()
    assert row.name == "Anna-María"  # UTF-8 survives the round trip
    assert row._source_id == "people_csv"


def test_hub_upsert_idempotent(spark, lake):
    """Running the pipeline twice must not duplicate keyed HUB rows."""
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    first = read_hub(spark, f"{tmp}/lake/hub/crm/people").count()
    run(spark, yaml_path, ingest_date="2026-08-14")
    second = read_hub(spark, f"{tmp}/lake/hub/crm/people").count()
    assert first == second == 3


def test_hub_upsert_updates_matching_keys(spark, lake):
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    (tmp / "in" / "people.csv").write_text(
        "person_id,name,country\n1,Ada Lovelace,UK\n4,Alan,UK\n"
    )
    run(spark, yaml_path, ingest_date="2026-08-14")
    hub = read_hub(spark, f"{tmp}/lake/hub/crm/people")
    rows = {r.person_id: r.name for r in hub.collect()}
    assert rows == {1: "Ada Lovelace", 2: "Grace", 3: "Anna-María", 4: "Alan"}


def test_keyless_hub_degenerates_to_append(spark, lake):
    """Reference edge case writer.py:24,34 — empty keys ⇒ append."""
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    run(spark, yaml_path, ingest_date="2026-08-14")
    hub = read_hub(spark, f"{tmp}/lake/hub/web/clicks")
    assert hub.count() == 4  # 2 rows × 2 runs


def test_composite_key_upsert(spark, lake):
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    (tmp / "in" / "sales.csv").write_text(
        "category,yr,total\nphones,2023,99\ntablets,2024,5\n"
    )
    run(spark, yaml_path, ingest_date="2026-08-14")
    hub = read_hub(spark, f"{tmp}/lake/hub/sales/cube")
    rows = {(r.category, r.yr): r.total for r in hub.collect()}
    assert rows[("phones", 2023)] == 99  # updated
    assert rows[("phones", 2024)] == 12  # untouched
    assert rows[("tablets", 2024)] == 5  # inserted
    assert len(rows) == 4


def test_schema_evolution_widens_hub(spark, lake):
    tmp, yaml_path = lake
    run(spark, yaml_path, ingest_date="2026-08-13")
    (tmp / "in" / "people.csv").write_text(
        "person_id,name,country,email\n5,Eve,FR,eve@example.com\n"
    )
    run(spark, yaml_path, ingest_date="2026-08-14")
    hub = read_hub(spark, f"{tmp}/lake/hub/crm/people")
    assert "email" in hub.columns
    rows = {r.person_id: r for r in hub.collect()}
    assert rows[5].email == "eve@example.com"
    assert rows[1].email is None  # widened with nulls for old rows


def test_unknown_reader_type_fails_fast():
    # "avro" is a registered (capability-gated) reader now — use a
    # genuinely unknown kind
    with pytest.raises(ValueError, match="unknown reader type"):
        get_reader("feather")


def test_orc_reader_roundtrip(spark, tmp_path):
    path = str(tmp_path / "orc_src")
    spark.range(0, 50).selectExpr("id", "id * 2 AS v").write.orc(path)
    out = get_reader("orc")(spark, {"path": path})
    assert sorted(r.id for r in out.select("id").collect()) == list(range(50))


def test_binary_reader_blobs_with_glob(spark, tmp_path):
    import os

    blobs = tmp_path / "blobs"
    blobs.mkdir()
    (blobs / "a.bin").write_bytes(b"\x00\x01abc")
    (blobs / "b.bin").write_bytes(b"hello")
    (blobs / "skip.txt").write_bytes(b"x")
    out = get_reader("binary")(
        spark, {"path": str(blobs), "pathGlobFilter": "*.bin"}
    )
    rows = {
        os.path.basename(r.path): bytes(r.content) for r in out.collect()
    }
    assert rows == {"a.bin": b"\x00\x01abc", "b.bin": b"hello"}


def test_quarantine_malformed_json_rows(spark, tmp_path):
    """A PERMISSIVE json read with one malformed line: the bad row is
    appended to the quarantine zone with its raw payload; only clean
    rows reach RAW and HUB."""
    from metadata_ingestion_poc_spark.config import Config
    from metadata_ingestion_poc_spark.framework import run_source
    from metadata_ingestion_poc_spark.metadata import Source

    src_file = tmp_path / "in.json"
    src_file.write_text(
        '{"pk": 1, "v": "a"}\n'
        "{this is not json at all\n"
        '{"pk": 2, "v": "b"}\n'
    )
    source = Source(
        id="json_src",
        type="json",
        domain="d",
        entity="e",
        options={"path": str(src_file)},
        hub_primary_keys=["pk"],
    )
    cfg = Config.from_defaults(
        {"raw_base": str(tmp_path / "raw"), "hub_base": str(tmp_path / "hub")}
    )
    m = run_source(spark, source, cfg, ingest_date="2026-01-01")
    assert m["rows_quarantined"] == 1

    hub = spark.read.parquet(str(tmp_path / "hub" / "d" / "e"))
    assert sorted(r.pk for r in hub.collect()) == [1, 2]
    assert "_corrupt_record" not in hub.columns

    q = spark.read.parquet(str(tmp_path / "raw_quarantine" / "d" / "e"))
    rows = q.collect()
    assert len(rows) == 1
    assert "not json" in rows[0]["_corrupt_record"]
    # quarantine keeps the RAW partition layout for replay
    assert (tmp_path / "raw_quarantine" / "d" / "e"
            / "ingest_date=2026-01-01").exists()


def test_csv_explicit_schema_with_corrupt_capture(spark, tmp_path):
    from metadata_ingestion_poc_spark.sources import get_reader

    f = tmp_path / "in.csv"
    f.write_text("1,alpha\ntwo,beta,extra,cols,here\n3,gamma\n")
    out = get_reader("csv")(
        spark,
        {
            "path": str(f),
            "schema": "pk INT, v STRING, _corrupt_record STRING",
            "columnNameOfCorruptRecord": "_corrupt_record",
            "mode": "PERMISSIVE",
        },
    )
    rows = out.collect()
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    good = sorted(r.pk for r in rows if r["_corrupt_record"] is None)
    assert good == [1, 3]
    assert len(bad) == 1 and "two" in bad[0]["_corrupt_record"]


def test_xml_reader_rowtag_and_options(spark, tmp_path):
    xdir = tmp_path / "xml_src"
    xdir.mkdir()
    (xdir / "t.xml").write_text(
        "<items><item><id>1</id><name>ring</name></item>"
        "<item><id>2</id><name>bolt</name></item></items>"
    )
    out = get_reader("xml")(spark, {"path": str(xdir), "rowTag": "item"})
    rows = sorted((r.id, r.name) for r in out.collect())
    assert rows == [(1, "ring"), (2, "bolt")]


def test_xml_source_type_accepted_in_metadata():
    from metadata_ingestion_poc_spark.metadata import Source

    s = Source(
        id="x1", type="xml", domain="d", entity="e",
        options={"path": "/tmp/x", "rowTag": "item"},
    )
    assert s.type == "xml"


def test_run_reports_observed_metrics(spark, lake):
    tmp, yaml_path = lake
    seen = {}
    run(
        spark, yaml_path, ingest_date="2026-08-13",
        metrics_sink=lambda sid, m: seen.__setitem__(sid, m),
    )
    assert seen["people_csv"]["rows_ingested"] == 3
    assert seen["people_csv"]["null_key_rows"] == 0
    assert seen["clicks_json"]["rows_ingested"] == 2
    assert seen["clicks_json"]["null_key_rows"] == 0  # keyless source
    assert seen["sales_olap"]["rows_ingested"] == 3


def test_run_source_counts_null_keys(spark, tmp_path):
    from metadata_ingestion_poc_spark.config import Config
    from metadata_ingestion_poc_spark.framework import run_source
    from metadata_ingestion_poc_spark.metadata import Source

    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "k.csv").write_text(
        "k1,k2,v\n1,a,x\n,b,y\n2,,z\n3,c,w\n"
    )
    src = Source(
        id="nullkeys", type="csv", domain="d", entity="e",
        options={
            "path": str(tmp_path / "in" / "k.csv"),
            "header": True, "inferSchema": True,
        },
        hub_primary_keys=["k1", "k2"],
    )
    cfg = Config(
        env="local",
        raw_base=str(tmp_path / "raw"),
        hub_base=str(tmp_path / "hub"),
        checkpoint_base=str(tmp_path / "cp"),
    )
    m = run_source(spark, src, cfg, ingest_date="2026-08-13")
    assert m == {"rows_ingested": 4, "null_key_rows": 2, "rows_quarantined": 0}


def test_snapshot_reader_registered(spark, tmp_path):
    """The 'snapshot' source type ingests versioned snapshot tables
    through the same registry as every other reader, with the
    `version` option time-traveling."""
    import pyspark.sql.functions as F

    from metadata_ingestion_poc_spark import snapshots as S

    t = str(tmp_path / "snap_tbl")
    S.snapshot_write(
        spark.range(7).select(F.col("id"), F.lit("a").alias("tag")), t
    )
    S.snapshot_write(
        spark.range(7, 9).select(F.col("id"), F.lit("b").alias("tag")), t
    )
    assert get_reader("snapshot")(spark, {"path": t}).count() == 9
    v1 = get_reader("snapshot")(spark, {"path": t, "version": "1"})
    assert sorted(r["id"] for r in v1.collect()) == list(range(7))


def test_avro_reader_roundtrip(spark, tmp_path):
    """Avro read through the dispatch: write a fixture with the
    resolved format name (the short alias is absent in this
    distribution — avro_format_name falls back to the implementation
    class), read it back via get_reader("avro")."""
    from metadata_ingestion_poc_spark.sources import (
        avro_format_name,
        get_reader,
    )

    path = str(tmp_path / "avro_src")
    src = spark.range(0, 10).selectExpr(
        "id", "cast(id as string) AS name", "id * 2.5 AS score"
    )
    src.write.format(avro_format_name(spark)).save(path)
    got = get_reader("avro")(spark, {"path": path})
    assert sorted((r.id, r.name, r.score) for r in got.collect()) == [
        (i, str(i), i * 2.5) for i in range(10)
    ]


# --- overlapped zone writes -------------------------------------------

CSV_SCHEMA = "k INT, v STRING, _corrupt_record STRING"


@pytest.fixture()
def split_source(tmp_path):
    """A CSV source of four files (one input split each). Every file
    holds three clean rows, one of them with a NULL key, and one
    malformed line captured in ``_corrupt_record``."""
    from metadata_ingestion_poc_spark.config import Config
    from metadata_ingestion_poc_spark.metadata import Source

    landing = tmp_path / "in"
    landing.mkdir()
    for i in range(4):
        (landing / f"part{i}.csv").write_text(
            f"{10 * i + 1},a{i}\n,b{i}\n{10 * i + 2},c{i}\n"
            f"not-a-number,d{i},extra\n"
        )
    source = Source(
        id="split_csv", type="csv", domain="d", entity="split",
        options={
            "path": str(landing),
            "schema": CSV_SCHEMA,
            "columnNameOfCorruptRecord": "_corrupt_record",
            "mode": "PERMISSIVE",
        },
        hub_primary_keys=["k"],
    )
    cfg = Config.from_defaults(
        {"raw_base": str(tmp_path / "raw"), "hub_base": str(tmp_path / "hub")}
    )
    return source, cfg


def test_overlapped_counters_exact_every_run(spark, split_source):
    """The counters ride the RAW branch above the cache, so they count
    every row once whichever concurrent write fills the cache."""
    from metadata_ingestion_poc_spark.framework import run_source

    source, cfg = split_source
    read = get_reader("csv")(spark, source.options)
    assert read.rdd.getNumPartitions() >= 4
    for day in range(5):
        m = run_source(spark, source, cfg, ingest_date=f"2026-02-0{day + 1}")
        assert m == {
            "rows_ingested": 12, "null_key_rows": 4, "rows_quarantined": 4,
        }, f"run {day}"
    hub = read_hub(spark, f"{cfg.hub_base}/d/split")
    # 8 keyed rows upserted in place; the 4 NULL-key rows of each run
    # never match an old row, so they accumulate
    assert hub.count() == 8 + 5 * 4


def test_failed_hub_write_waits_for_siblings_and_keeps_old_hub(
    spark, split_source, monkeypatch
):
    from metadata_ingestion_poc_spark import framework
    from metadata_ingestion_poc_spark.framework import run_source

    source, cfg = split_source
    run_source(spark, source, cfg, ingest_date="2026-03-01")
    hub_path = f"{cfg.hub_base}/d/split"
    before = sorted(map(str, read_hub(spark, hub_path).collect()))

    finished = []
    real_write_raw = framework.write_raw

    def write_raw(df, path, partitions):
        real_write_raw(df, path, partitions)
        finished.append(path)

    def write_hub(*args, **kwargs):
        raise RuntimeError("hub write failed")

    monkeypatch.setattr(framework, "write_raw", write_raw)
    monkeypatch.setattr(framework, "write_hub", write_hub)
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    with pytest.raises(RuntimeError, match="hub write failed"):
        run_source(spark, source, cfg, ingest_date="2026-03-02")
    # RAW and quarantine appends had both finished when the error surfaced
    assert sorted(finished) == sorted(
        [f"{cfg.raw_base}/d/split", f"{cfg.quarantine_base}/d/split"]
    )
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == persisted
    assert sorted(map(str, read_hub(spark, hub_path).collect())) == before


def test_parquet_merge_keeps_every_row_of_a_repeated_batch_key(spark, tmp_path):
    """The merge anti-joins the old rows against the batch keys as they
    are, duplicates included: a repeated key drops its old row once,
    every batch row of it lands, and old NULL-key rows never match."""
    from metadata_ingestion_poc_spark.writer import _write_hub_parquet_merge

    path = str(tmp_path / "hub")
    schema = "pk BIGINT, v STRING"
    old = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (None, "n1"), (None, "n2")], schema
    )
    _write_hub_parquet_merge(spark, old, path, ["pk"])
    batch = spark.createDataFrame(
        [(1, "x"), (1, "y"), (1, "y"), (3, "z")], schema
    )
    _write_hub_parquet_merge(spark, batch, path, ["pk"])
    got = sorted(
        (r.pk if r.pk is not None else -1, r.v)
        for r in read_hub(spark, path).collect()
    )
    assert got == [
        (-1, "n1"), (-1, "n2"), (1, "x"), (1, "y"), (1, "y"),
        (2, "old2"), (3, "z"),
    ]


def test_run_source_rejects_zones_sharing_a_directory(spark, tmp_path):
    from metadata_ingestion_poc_spark.config import Config
    from metadata_ingestion_poc_spark.framework import run_source
    from metadata_ingestion_poc_spark.metadata import Source

    src = Source(
        id="clash", type="csv", domain="d", entity="e",
        options={"path": str(tmp_path / "absent.csv")},
        hub_primary_keys=["k"],
    )
    lake = tmp_path / "lake"
    cfg = Config(
        env="local", raw_base=str(lake), hub_base=f"{tmp_path}/./lake",
        checkpoint_base="",
    )
    with pytest.raises(ValueError, match="RAW and HUB zones resolve"):
        run_source(spark, src, cfg)
    cfg = Config(
        env="local", raw_base=str(lake / "raw"), hub_base=str(lake / "hub"),
        checkpoint_base="", quarantine_base=str(lake / "hub"),
    )
    with pytest.raises(ValueError, match="HUB and quarantine zones"):
        run_source(spark, src, cfg)

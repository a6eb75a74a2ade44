"""Seeded landing-batch generator for the ``ingest_upsert`` workload.

Batches are built from three sf0.1 tables, each landed in the format its
source reads:

- ``orders``   as CSV with an explicit schema that captures malformed
  lines in ``_corrupt_record``; every batch plants a few such lines;
- ``customer`` as JSON lines, schema inferred by Spark; every batch
  carries rows whose key is NULL;
- ``lineitem`` as parquet, keyed on ``(l_orderkey, l_linenumber)``.

Batch 0 is the initial load. Each later batch holds about 10% as many
rows: updates of live keys, drawn with a bias toward recently inserted
ones, plus keys never seen before. No key repeats within a batch: the
parquet merge keeps in-batch duplicates by design, so a duplicate would
make "latest version per key" ambiguous.

The generator also keeps the model the checks compare against: the
expected HUB per source (latest version per key, plus every NULL-key row
ever landed, since a NULL key never matches in the merge), the clean and
quarantined row counts per batch.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate DATE, o_orderpriority STRING, "
    "_corrupt_record STRING"
)
LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.date32()),
    ]
)


@dataclass(frozen=True)
class Table:
    name: str
    source_id: str
    fmt: str
    domain: str
    keys: tuple[str, ...]
    initial_rows: int
    # landing file name inside a batch directory
    file: str


TABLES = (
    Table("orders", "orders_csv", "csv", "sales", ("o_orderkey",), 6000,
          "orders.csv"),
    Table("customer", "customer_json", "json", "crm", ("c_custkey",), 2000,
          "customer.json"),
    Table("lineitem", "lineitem_parquet", "parquet", "sales",
          ("l_orderkey", "l_linenumber"), 24000, "lineitem.parquet"),
)
UPDATE_SHARE = 0.05  # of the initial row count, per later batch
NEW_SHARE = 0.05
MALFORMED_PER_BATCH = 3  # orders.csv lines that fail the explicit schema
NULL_KEYS_PER_BATCH = 2  # customer.json rows with c_custkey = null
# Recency bias of updates: index from the newest key is len * u**3.
RECENCY_POWER = 3


def ingest_date(batch: int) -> str:
    return (dt.date(2026, 1, 1) + dt.timedelta(days=batch)).isoformat()


def _batch_rows(t: Table, later: bool) -> tuple[int, int]:
    """(updates, new keys) in one batch of table ``t``."""
    if not later:
        return 0, t.initial_rows
    return (round(t.initial_rows * UPDATE_SHARE),
            round(t.initial_rows * NEW_SHARE))


def _normalize(t: Table, row: dict) -> dict:
    """Source row → the row as landed (dates as dates, exact floats)."""
    if t.name == "orders":
        row["o_orderdate"] = row["o_orderdate"].date()
    elif t.name == "customer":
        row["c_nationkey"] = int(row["c_nationkey"])
    elif t.name == "lineitem":
        row["l_shipdate"] = row["l_shipdate"].date()
    return row


def _mutate(t: Table, row: dict, batch: int, rng: random.Random) -> dict:
    """A new version of ``row``: non-key columns change, keys do not."""
    row = dict(row)
    if t.name == "orders":
        row["o_orderstatus"] = "OFP"[batch % 3]
        row["o_totalprice"] = round(row["o_totalprice"] + rng.uniform(-99, 99), 2)
    elif t.name == "customer":
        row["c_acctbal"] = round(row["c_acctbal"] + rng.uniform(-50, 50), 2)
        row["c_mktsegment"] = rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )
    else:
        row["l_quantity"] = row["l_quantity"] + 1.0
        row["l_linestatus"] = "F" if row["l_linestatus"] == "O" else "O"
    return row


def _pool(t: Table, sf_dir: str, need: int, rng: random.Random) -> list[dict]:
    """``need`` source rows with distinct keys, in seeded order."""
    table = pq.read_table(f"{sf_dir}/{t.name}.parquet")
    # the source may repeat a key (lineitem does); oversample, then dedup
    take = rng.sample(range(table.num_rows), min(table.num_rows, need * 3 // 2))
    rows = table.take(pa.array(take, pa.int64())).to_pylist()
    seen: set[tuple] = set()
    out = []
    for row in rows:
        key = tuple(row[k] for k in t.keys)
        if key in seen:
            continue
        seen.add(key)
        out.append(_normalize(t, row))
        if len(out) == need:
            return out
    raise ValueError(f"{t.name}: only {len(out)} distinct keys, need {need}")


def _write_csv(path: Path, rows: list[dict], bad: list[tuple[int, str]]) -> None:
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    lines = [",".join(cols)]
    for r in rows:
        lines.append(",".join(
            repr(r[c]) if isinstance(r[c], float) else str(r[c]) for c in cols
        ))
    for pos, text in bad:
        lines.insert(1 + pos, text)
    path.write_text("\n".join(lines) + "\n")


def _write_json(path: Path, rows: list[dict]) -> None:
    path.write_text(
        "".join(json.dumps(r, sort_keys=True) + "\n" for r in rows)
    )


def _write_parquet(path: Path, rows: list[dict]) -> None:
    table = pa.Table.from_pylist(rows, schema=LINEITEM_SCHEMA)
    pq.write_table(table, path, compression="snappy")


@dataclass
class Expected:
    """What the pipeline must hold after a prefix of the batches."""

    # per source id: key → latest row, and the NULL-key rows landed
    live: dict[str, dict[tuple, dict]] = field(default_factory=dict)
    null_rows: dict[str, list[dict]] = field(default_factory=dict)
    # per (source id, batch): clean rows, NULL-key rows, quarantined rows
    clean: dict[tuple[str, int], int] = field(default_factory=dict)
    null_keys: dict[tuple[str, int], int] = field(default_factory=dict)
    quarantined: dict[tuple[str, int], int] = field(default_factory=dict)

    def hub_rows(self, source_id: str) -> list[dict]:
        return list(self.live[source_id].values()) + self.null_rows[source_id]


@dataclass
class Landing:
    root: Path
    batches: int
    # per batch: the landed rows of each table, in file order (clean only)
    rows: list[dict[str, list[dict]]]
    bad_lines: list[int]

    def batch_dir(self, batch: int) -> Path:
        return self.root / f"batch_{batch:03d}"

    def landed_bytes(self, batch: int, source_id: str) -> int:
        t = next(t for t in TABLES if t.source_id == source_id)
        return (self.batch_dir(batch) / t.file).stat().st_size

    def expected(self, batches: int) -> Expected:
        """The model after batches ``0 .. batches-1`` have been ingested."""
        exp = Expected()
        for t in TABLES:
            exp.live[t.source_id] = {}
            exp.null_rows[t.source_id] = []
        for b in range(batches):
            for t in TABLES:
                sid, day = t.source_id, ingest_date(b)
                rows = self.rows[b][t.name]
                nulls = 0
                for r in rows:
                    hub = dict(r, _source_id=sid, ingest_date=day)
                    key = tuple(r[k] for k in t.keys)
                    if any(v is None for v in key):
                        exp.null_rows[sid].append(hub)
                        nulls += 1
                    else:
                        exp.live[sid][key] = hub
                exp.clean[(sid, b)] = len(rows)
                exp.null_keys[(sid, b)] = nulls
                exp.quarantined[(sid, b)] = (
                    self.bad_lines[b] if t.name == "orders" else 0
                )
        return exp


def generate(seed: int, sf_dir: str, root: Path, batches: int) -> Landing:
    """Write ``batches`` landing batches under ``root``; same seed, same bytes."""
    rng = random.Random(seed)
    later = batches - 1
    pools = {}
    for t in TABLES:
        upd, new = _batch_rows(t, True)
        pools[t.name] = _pool(t, sf_dir, t.initial_rows + later * new, rng)
    live: dict[str, dict[tuple, dict]] = {t.name: {} for t in TABLES}
    order: dict[str, list[tuple]] = {t.name: [] for t in TABLES}  # insertion
    cursor = {t.name: 0 for t in TABLES}
    all_rows: list[dict[str, list[dict]]] = []
    bad_counts: list[int] = []
    for b in range(batches):
        bdir = root / f"batch_{b:03d}"
        bdir.mkdir(parents=True, exist_ok=True)
        batch: dict[str, list[dict]] = {}
        for t in TABLES:
            upd, new = _batch_rows(t, b > 0)
            keys = order[t.name]
            chosen: dict[tuple, None] = {}  # insertion-ordered set
            while len(chosen) < min(upd, len(keys)):
                back = int(len(keys) * rng.random() ** RECENCY_POWER)
                chosen.setdefault(keys[len(keys) - 1 - back])
            rows = [_mutate(t, live[t.name][k], b, rng) for k in chosen]
            fresh = pools[t.name][cursor[t.name]: cursor[t.name] + new]
            cursor[t.name] += new
            rows += fresh
            for r in rows:
                key = tuple(r[k] for k in t.keys)
                if key not in live[t.name]:
                    order[t.name].append(key)
                live[t.name][key] = r
            rng.shuffle(rows)
            if t.name == "customer":
                for i in range(NULL_KEYS_PER_BATCH):
                    ghost = dict(fresh[i % len(fresh)], c_custkey=None)
                    ghost["c_name"] = f"Unkeyed#{b:03d}-{i}"
                    rows.insert(rng.randrange(len(rows) + 1), ghost)
            batch[t.name] = rows
            path = bdir / t.file
            if t.name == "orders":
                bad = [
                    (
                        rng.randrange(len(rows) + 1),
                        f"{10_000_000 + b * 100 + i},not_a_number,O,1.0,"
                        f"1996-01-0{1 + i},1-URGENT",
                    )
                    for i in range(MALFORMED_PER_BATCH)
                ]
                _write_csv(path, rows, sorted(bad))
            elif t.name == "customer":
                _write_json(path, rows)
            else:
                _write_parquet(path, rows)
        all_rows.append(batch)
        bad_counts.append(MALFORMED_PER_BATCH)
    return Landing(root=root, batches=batches, rows=all_rows,
                   bad_lines=bad_counts)


def sources_yaml(landing: Landing, batch: int, lake: Path) -> str:
    """The pipeline's source metadata for one batch (JSON is valid YAML)."""
    bdir = landing.batch_dir(batch)
    sources = []
    for t in TABLES:
        options: dict = {"path": str(bdir / t.file)}
        if t.fmt == "csv":
            options.update(
                header=True,
                mode="PERMISSIVE",
                columnNameOfCorruptRecord="_corrupt_record",
                schema=ORDERS_DDL,
            )
        sources.append(
            {
                "id": t.source_id,
                "type": t.fmt,
                "domain": t.domain,
                "entity": t.name,
                "options": options,
                "hub_primary_keys": list(t.keys),
            }
        )
    return json.dumps(
        {
            "version": 1,
            "defaults": {
                "raw_base": str(lake / "raw"),
                "hub_base": str(lake / "hub"),
                "checkpoint_base": str(lake / "checkpoints"),
                "quarantine_base": str(lake / "quarantine"),
            },
            "sources": sources,
        },
        indent=1,
    )


def hub_path(lake: Path, source_id: str) -> Path:
    t = next(t for t in TABLES if t.source_id == source_id)
    return lake / "hub" / t.domain / t.name


def quarantine_path(lake: Path, source_id: str) -> Path:
    t = next(t for t in TABLES if t.source_id == source_id)
    return lake / "quarantine" / t.domain / t.name

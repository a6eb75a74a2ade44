"""Output checks, all run outside the timed windows.

Query outputs are compared by digest: row count plus the order-insensitive
hash of ``tools/check.py`` (the mirror of the DuckDB-oracle harness), so a
recorded digest means what that harness means. HUB tables are compared
with the generator's model the same way, leaving out the one column whose
value is the wall clock (``_ingest_ts_utc``).
"""

from __future__ import annotations

import sys

from .ingest_gen import Expected

_path = list(sys.path)
from tools.check import table_hash  # noqa: E402

# tools/check.py prepends its own checkout location on import; drop it so
# the program keeps resolving from this checkout.
sys.path[:] = _path

HUB_CLOCK_COLUMN = "_ingest_ts_utc"


def digest(cols: list[str], rows: list[tuple]) -> dict:
    return {"rows": len(rows), "hash": table_hash(cols, rows)}


def digest_problem(name: str, got: dict, expected: dict | None,
                   rows_only: bool) -> str | None:
    """Why ``got`` does not match the recorded digest, or None."""
    if expected is None:
        return f"{name}: no recorded digest"
    if got["rows"] != expected["rows"]:
        return f"{name}: {got['rows']} rows, expected {expected['rows']}"
    if not rows_only and got["hash"] != expected["hash"]:
        return f"{name}: hash {got['hash']}, expected {expected['hash']}"
    return None


def hub_problem(source_id: str, cols: list[str], rows: list[tuple],
                exp: Expected) -> str | None:
    """Compare a HUB table read back (``cols``/``rows``) with the model."""
    keep = [i for i, c in enumerate(cols) if c != HUB_CLOCK_COLUMN]
    cols = [cols[i] for i in keep]
    rows = [tuple(r[i] for i in keep) for r in rows]
    want = exp.hub_rows(source_id)
    want_cols = sorted(want[0]) if want else []
    if sorted(cols) != want_cols:
        return f"{source_id}: HUB columns {sorted(cols)}, expected {want_cols}"
    got = digest(cols, rows)
    wanted = digest(want_cols, [tuple(r[c] for c in want_cols) for r in want])
    if got != wanted:
        return f"{source_id}: HUB {got}, expected {wanted}"
    return None


def count_problems(exp: Expected, batches: range,
                   sink: dict[tuple[str, int], dict[str, int]],
                   quarantined: dict[tuple[str, int], int]) -> list[tuple[str, int, str]]:
    """Per (source, batch): observed counters against the generator."""
    out = []
    for (sid, b), clean in sorted(exp.clean.items()):
        if b not in batches:
            continue
        m = sink.get((sid, b))
        if m is None:
            out.append((sid, b, "no metrics reported"))
            continue
        if m["rows_ingested"] != clean:
            out.append((sid, b, f"rows_ingested {m['rows_ingested']} != {clean}"))
        if m["null_key_rows"] != exp.null_keys[(sid, b)]:
            out.append((sid, b, f"null_key_rows {m['null_key_rows']} != "
                                f"{exp.null_keys[(sid, b)]}"))
        q = quarantined.get((sid, b), 0)
        if q != exp.quarantined[(sid, b)]:
            out.append((sid, b, f"quarantined {q} != {exp.quarantined[(sid, b)]}"))
    return out

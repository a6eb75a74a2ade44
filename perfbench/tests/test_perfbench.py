"""Tests of the benchmark's own code: generator, checks and statistics.

    python -m pytest perfbench/tests -q

No Spark session is started; the generator reads the sf0.1 tables under
``$SPARK_GRAFT_SF_ROOT`` (default ``~/testdata``).
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from perfbench import ingest_gen as gen
from perfbench.metrics import tail
from perfbench.verify import count_problems, digest, digest_problem, hub_problem
from perfbench.workloads import SF_ROOT

SF01 = os.path.join(SF_ROOT, "sf0.1")


def _landing_bytes(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


@pytest.fixture(scope="module")
def landed(tmp_path_factory):
    root = tmp_path_factory.mktemp("land")
    return {
        name: (gen.generate(seed, SF01, root / name, 3), root / name)
        for name, seed in (("a", 11), ("b", 11), ("c", 12))
    }


def test_same_seed_same_bytes_other_seed_other_bytes(landed):
    a, b, c = (_landing_bytes(landed[k][1]) for k in "abc")
    assert sorted(a) == [
        f"batch_{i:03d}/{t.file}" for i in range(3)
        for t in sorted(gen.TABLES, key=lambda t: t.file)
    ]
    assert a == b
    assert all(a[f] != c[f] for f in a)


def test_batches_have_no_duplicate_keys_and_favour_recent_keys(landed):
    landing, _ = landed["a"]
    for t in gen.TABLES:
        for b in range(landing.batches):
            keys = [tuple(r[k] for k in t.keys) for r in landing.rows[b][t.name]]
            keyed = [k for k in keys if None not in k]
            assert len(keyed) == len(set(keyed))
    # keys new in batch 1 are ~5% of the live keys but draw far more of
    # batch 2's updates (P(len * u**3 < 5% of len) = 0.05 ** (1/3) = 37%)
    keys = [{r["o_orderkey"] for r in landing.rows[b]["orders"]} for b in range(3)]
    new_in_1 = keys[1] - keys[0]
    updated_in_2 = keys[2] & (keys[0] | keys[1])
    assert len(updated_in_2 & new_in_1) > 0.2 * len(updated_in_2)


def _hub_as_read(exp: gen.Expected, sid: str) -> tuple[list[str], list[tuple]]:
    """The model's HUB rows as Spark would return them (with the clock)."""
    rows = exp.hub_rows(sid)
    cols = sorted(rows[0])
    return cols + ["_ingest_ts_utc"], [
        tuple(r[c] for c in cols) + ("2026-01-01 00:00",) for r in rows
    ]


def test_ingest_check_catches_a_wrong_hub_row(landed):
    landing, _ = landed["a"]
    exp = landing.expected(landing.batches)
    sid = "orders_csv"
    cols, rows = _hub_as_read(exp, sid)
    assert hub_problem(sid, cols, rows, exp) is None
    i = cols.index("o_totalprice")
    wrong = list(rows)
    wrong[5] = wrong[5][:i] + (wrong[5][i] + 0.01,) + wrong[5][i + 1:]
    assert "HUB" in hub_problem(sid, cols, wrong, exp)
    assert "HUB" in hub_problem(sid, cols, rows[1:], exp)


def test_ingest_counts_check_catches_a_wrong_counter(landed):
    landing, _ = landed["a"]
    exp = landing.expected(landing.batches)
    sink = {k: {"rows_ingested": n, "null_key_rows": exp.null_keys[k]}
            for k, n in exp.clean.items()}
    quarantined = {k: n for k, n in exp.quarantined.items() if n}
    assert count_problems(exp, range(3), sink, quarantined) == []
    sink[("customer_json", 2)] = dict(sink[("customer_json", 2)],
                                      rows_ingested=1)
    quarantined[("orders_csv", 1)] -= 1
    assert [(s, b) for s, b, _ in count_problems(exp, range(3), sink,
                                                  quarantined)] == [
        ("customer_json", 2), ("orders_csv", 1)
    ]


def test_digest_check_catches_a_wrong_query_result():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, None), (3, 7.25)]
    want = digest(cols, rows)
    assert digest_problem("q", digest(cols, rows[::-1]), want, False) is None
    wrong = digest(cols, [(1, 0.5), (2, None), (3, 7.5)])
    assert "hash" in digest_problem("q", wrong, want, False)
    # a rows-only query still fails on a row count
    assert digest_problem("q", wrong, want, True) is None
    assert "rows" in digest_problem("q", digest(cols, rows[:2]), want, True)
    assert "no recorded" in digest_problem("q", want, None, False)


@pytest.mark.parametrize("n", [11, 12, 20, 37, 100, 1000])
def test_tail_keeps_ten_samples_beyond(n):
    values = [float((i * 7919) % n) for i in range(n)]  # a permutation
    value, pct = tail(values)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_needs_eleven_samples():
    with pytest.raises(ValueError):
        tail([1.0] * 10)

"""The program's layers as the traced run sees them.

:func:`instrument` wraps each layer's public entry points in spans;
:func:`per_layer` turns the spans of the timed operations into the
``per_layer`` metrics named in ``BENCHMARK.json``.
"""

from __future__ import annotations

import importlib

from .tracing import Span, Tracer, bytes_added, data_files, exec_seconds, \
    replace_everywhere, self_time

PKG = "metadata_ingestion_poc_spark"

# Operator entry points the curation_llm list reaches, by module. A
# public function called from another one gets a nested span; self time
# keeps them apart.
OPERATORS = {
    "minhash_lsh_pairs": "dedup",
    "simhash_pairs": "dedup",
    "ngram_jaccard_pairs": "dedup",
    "connected_components": "components",
    "prefix_filter_jaccard_pairs": "dedup",
    "cosine_topk": "similarity",
    "ivf_build_index": "similarity",
    "ivf_ann_topk": "similarity",
    "lsh_ann_topk": "similarity",
    "bfs_hops": "graph",
    "kcore": "graph",
}


def _bytes_written(path_arg: int):
    """Span hooks counting the bytes a writer adds under its path argument."""

    def before(span: Span, args, kwargs):
        path = kwargs.get("path", args[path_arg] if len(args) > path_arg else None)
        return path, data_files(path)

    def after(span: Span, state, _):
        path, listing = state
        span.counts["bytes"] = bytes_added(listing, data_files(path))

    return before, after


def instrument(tracer: Tracer) -> None:
    """Wrap every layer entry point in a span, wherever it is bound."""
    importlib.import_module(f"{PKG}.queries")  # binds operators by name
    mods = {
        m: importlib.import_module(f"{PKG}.{m}")
        for m in ("catalog", "sources", "framework", "writer", "staging")
    }

    def wrap(mod, attr, name, before=None, after=None):
        fn = getattr(mod, attr)
        replace_everywhere(fn, tracer.wrap(fn, name, before, after))

    wrap(mods["catalog"], "load_table", "catalog.load_table")
    wrap(mods["framework"], "run_source", "framework.run_source")
    wrap(mods["framework"], "quarantine_malformed", "framework.quarantine")
    wrap(mods["writer"], "write_hub", "writer.write_hub", *_bytes_written(2))
    wrap(mods["writer"], "read_hub", "writer.read_hub")
    wrap(mods["staging"], "recover", "staging.recover")
    wrap(mods["staging"], "commit_swap", "staging.commit_swap")

    # The quarantine zone's append is part of the quarantine path: it
    # stays in framework.quarantine's self time, not in writer.write_raw.
    write_raw = mods["writer"].write_raw
    traced_raw = tracer.wrap(write_raw, "writer.write_raw", *_bytes_written(1))

    def write_raw_outside_quarantine(*args, **kwargs):
        if tracer.current == "framework.quarantine":
            return write_raw(*args, **kwargs)
        return traced_raw(*args, **kwargs)

    replace_everywhere(write_raw, write_raw_outside_quarantine)

    get_reader = mods["sources"].get_reader

    def traced_get_reader(kind):
        return tracer.wrap(get_reader(kind), "sources.read")

    replace_everywhere(get_reader, traced_get_reader)

    for fn_name, mod_name in OPERATORS.items():
        mod = importlib.import_module(f"{PKG}.operators.{mod_name}")
        wrap(mod, fn_name, f"operators.{fn_name}")


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in report order."""
    names = [
        ("session.get_spark_s", "s"),
        ("catalog.load_table_s", "s"),
        ("catalog.load_table_calls", "count"),
        ("sources.read_s", "s"),
        ("sources.read_jobs", "count"),
        ("framework.run_source_s", "s"),
        ("framework.quarantine_s", "s"),
        ("framework.rows_ingested", "count"),
        ("framework.rows_quarantined", "count"),
        ("framework.null_key_rows", "count"),
        ("writer.write_raw_s", "s"),
        ("writer.raw_bytes_written", "bytes"),
        ("writer.write_hub_s", "s"),
        ("writer.hub_bytes_written", "bytes"),
        ("writer.hub_write_amp", "ratio"),
        ("writer.read_hub_s", "s"),
        ("writer.hub_files", "count"),
        ("staging.recover_s", "s"),
        ("staging.commit_swap_s", "s"),
        ("queries.build_s", "s"),
        ("queries.build_jobs", "count"),
    ]
    for fn in OPERATORS:
        names += [
            (f"operators.{fn}.self_s", "s"),
            (f"operators.{fn}.calls", "count"),
            (f"operators.{fn}.jobs", "count"),
        ]
    names += [
        ("spark.analysis_ms", "ms"),
        ("spark.optimization_ms", "ms"),
        ("spark.planning_ms", "ms"),
        ("spark.exec_s", "s"),
        ("spark.jobs", "count"),
        ("spark.stages", "count"),
        ("spark.tasks", "count"),
        ("spark.executor_run_ms", "ms"),
        ("spark.busy_ratio", "ratio"),
        ("spark.shuffle_read_bytes", "bytes"),
        ("spark.shuffle_write_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"),
        ("ingest_rows_per_s", "1/s"),
        ("hub_read_p50_s", "s"),
        ("hub_bytes_per_row", "bytes"),
        ("error_rate", "ratio"),
        ("op_tail_pct", "%"),
        ("peak_rss_mb", "MB"),
    ]
    return names


def per_layer(tracer: Tracer, op_ids: set[int], cores: int,
              extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics over the spans of the timed ops ``op_ids``.

    ``extra`` carries the values the workload measured itself (setup
    time, Catalyst phases, row counts, read latency, the bytes landed the
    HUB write amplification is taken against); layers it never reached
    read 0.
    """
    extra = dict(extra)
    landed = extra.pop("landed_bytes", 0)
    spans = [s for s in tracer.spans if s.op in op_ids]

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def jobs_of(name: str) -> int:
        return sum(len(s.jobs) for s in spans if s.name == name)

    def counted(name: str, key: str) -> float:
        return sum(s.counts.get(key, 0) for s in spans if s.name == name)

    m = {n: 0.0 for n, _ in per_layer_names()}
    m.update(
        {
            "catalog.load_table_s": self_time(spans, "catalog.load_table"),
            "catalog.load_table_calls": len(named("catalog.load_table")),
            "sources.read_s": self_time(spans, "sources.read"),
            "sources.read_jobs": jobs_of("sources.read"),
            "framework.run_source_s": self_time(spans, "framework.run_source"),
            "framework.quarantine_s": self_time(spans, "framework.quarantine"),
            "writer.write_raw_s": self_time(spans, "writer.write_raw"),
            "writer.raw_bytes_written": counted("writer.write_raw", "bytes"),
            "writer.write_hub_s": self_time(spans, "writer.write_hub"),
            "writer.hub_bytes_written": counted("writer.write_hub", "bytes"),
            "writer.read_hub_s": self_time(spans, "writer.read_hub"),
            "staging.recover_s": self_time(spans, "staging.recover"),
            "staging.commit_swap_s": self_time(spans, "staging.commit_swap"),
            "queries.build_s": self_time(spans, "queries.build"),
            "queries.build_jobs": jobs_of("queries.build"),
        }
    )
    for fn in OPERATORS:
        name = f"operators.{fn}"
        m[f"{name}.self_s"] = self_time(spans, name)
        m[f"{name}.calls"] = len(named(name))
        m[f"{name}.jobs"] = jobs_of(name)

    jobs = [tracer.jobs[j] for s in spans for j in s.jobs]
    exec_s = exec_seconds(jobs)
    run_ms = sum(j.executor_run_ms for j in jobs)
    m.update(
        {
            "spark.exec_s": exec_s,
            "spark.jobs": len(jobs),
            "spark.stages": sum(j.stages for j in jobs),
            "spark.tasks": sum(j.tasks for j in jobs),
            "spark.executor_run_ms": run_ms,
            "spark.busy_ratio": run_ms / (exec_s * 1000 * cores) if exec_s else 0.0,
            "spark.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
            "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
            "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        }
    )
    m.update(extra)
    if landed:
        m["writer.hub_write_amp"] = m["writer.hub_bytes_written"] / landed
    return m

"""Per-layer instrumentation for traced runs, and the per-layer metrics.

Spans are recorded from the benchmark's side, around the calls into
each module's public functions: the module attribute the program calls
through is replaced by a timing wrapper for the traced run. The program
itself is unchanged. Parsed-file counts come from a Spark accumulator
added by a wrapper around the parse stage's partition function.
"""

from __future__ import annotations

import math

import common

TOOL_METHODS = (
    "query", "query_inspect", "update", "batch_update", "batch_array_add",
    "batch_array_remove", "batch_array_replace", "batch_array_sort", "batch_array_unique",
)

def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def instrument_vault(tracer: common.Tracer, engine, spark):
    """Wrap the vault path's layer boundaries; returns the accumulator
    that counts files the parse stage emits."""
    from frontmatter_mcp_spark import engine as engine_mod
    from frontmatter_mcp_spark import files, query_schema
    from frontmatter_mcp_spark.sources import markdown

    for owner in (files, markdown):
        tracer.wrap(owner, "collect_files", "files.collect_files")
    for fn in ("update_file", "parse_document", "dump_document"):
        tracer.wrap(files, fn, f"files.{fn}")
    for fn in ("parsed_df", "parse_summary", "files_dataframe"):
        tracer.wrap(markdown, fn, f"markdown.{fn}")
    tracer.wrap(engine_mod, "translate", "dialect.translate")
    tracer.wrap(query_schema, "create_base_schema", "query_schema.create_base_schema")
    tracer.wrap(engine, "_build_files", "engine.build_files")
    for m in TOOL_METHODS:
        tracer.wrap(engine, m, "engine.call")

    sql = spark.sql

    def traced_sql(*args, **kwargs):
        if not tracer.active:
            return sql(*args, **kwargs)
        with tracer.span("sql.plan"):
            df = sql(*args, **kwargs)
        tracer.wrap(df, "collect", "sql.collect")
        return df

    spark.sql = traced_sql
    tracer._restore.append((spark, "sql", sql))

    parsed = spark.sparkContext.accumulator(0)
    parse = markdown._parse_partition

    def counting_parse(batches):
        for pdf in parse(batches):
            parsed.add(len(pdf))
            yield pdf

    tracer._restore.append((markdown, "_parse_partition", parse))
    markdown._parse_partition = counting_parse
    return parsed


def _spark_sum(calls, key) -> float:
    return sum(c["spark"][key] for c in calls)


def vault_metrics(tracer: common.Tracer, calls: list[dict], files_parsed: int,
                  overhead_pairs: list[tuple[float, float]], names: list[str]) -> dict[str, float]:
    """Per-layer metrics of a traced vault run (the other workload's
    layers read 0). ``overhead_pairs`` holds (untraced, traced) wall
    times of alternated top-k calls."""
    m = dict.fromkeys(names, 0.0)
    by_req: dict[str, list[dict]] = {}
    for s in tracer.spans:
        by_req.setdefault(s["request"], []).append(s)

    def dur(c, name):
        return sum((s["end"] - s["start"]) * 1e3 for s in by_req.get(c["request"], []) if s["name"] == name)

    def cnt(c, name):
        return sum(1 for s in by_req.get(c["request"], []) if s["name"] == name)

    read = [c for c in calls if c["phase"] == "read"]
    edit = [c for c in calls if c["phase"] == "edit"]
    queries = [c for c in read if c["tool"] == "query"]
    shape = lambda *names: [c for c in calls if c["shape"] in names]  # noqa: E731

    m["server.self_ms"] = _mean(dur(c, "server.handle_line") - dur(c, "engine.call") for c in calls)
    m["server.response_bytes"] = _mean(c["bytes"] for c in calls)
    for key, name in (("topk", "topk"), ("scan", "scan"), ("inspect", "inspect"),
                      ("update", "update"), ("requery", "requery")):
        m[f"server.{name}_p50_ms"] = common.median(c["wall"] * 1e3 for c in shape(key))
    m["server.requery_cpu_ms"] = common.median(common.cpu_total(c["cpu"]) * 1e3 for c in shape("requery"))
    for kind in ("local", "dist"):
        bs = shape(f"batch_{kind}")
        if bs:
            m[f"server.batch_{kind}_files_per_s"] = sum(c["files"] for c in bs) / sum(c["wall"] for c in bs)

    m["files.collect_files_ms"] = _mean(dur(c, "files.collect_files") for c in read)
    m["files.collect_files_calls"] = _mean(cnt(c, "files.collect_files") for c in read)
    for fn in ("update_file", "parse_document", "dump_document"):
        n = sum(cnt(c, f"files.{fn}") for c in edit)
        if n:
            m[f"files.{fn}_ms"] = sum(dur(c, f"files.{fn}") for c in edit) / n

    rebuilds = sum(cnt(c, "markdown.parsed_df") for c in calls)
    lookups = sum(cnt(c, "engine.build_files") for c in read)
    read_rebuilds = sum(cnt(c, "markdown.parsed_df") for c in read)
    m["engine.snapshot_rebuilds"] = sum(cnt(c, "markdown.parsed_df") for c in edit)
    m["engine.snapshot_hit_ratio"] = 1 - read_rebuilds / lookups if lookups else 0.0
    if rebuilds:
        m["markdown.files_parsed"] = files_parsed / rebuilds
        m["markdown.parse_summary_ms"] = sum(dur(c, "markdown.parse_summary") for c in calls) / rebuilds
        m["markdown.files_dataframe_ms"] = sum(dur(c, "markdown.files_dataframe") for c in calls) / rebuilds
    m["dialect.translate_ms"] = _mean(dur(c, "dialect.translate") for c in queries)
    m["query_schema.create_base_schema_ms"] = _mean(
        dur(c, "query_schema.create_base_schema") for c in shape("inspect"))
    m["sql.plan_ms"] = _mean(dur(c, "sql.plan") for c in queries)
    m["sql.collect_ms"] = _mean(dur(c, "sql.collect") for c in queries)
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.query_{k}"] = _mean(c["spark"][k] for c in queries)
    m["spark.inspect_jobs"] = _mean(c["spark"]["jobs"] for c in shape("inspect"))
    m["spark.requery_jobs"] = _mean(c["spark"]["jobs"] for c in shape("requery"))
    m["spark.requery_tasks"] = _mean(c["spark"]["tasks"] for c in shape("requery"))
    m["spark.batch_dist_tasks"] = _mean(c["spark"]["tasks"] for c in shape("batch_dist"))
    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = _spark_sum(calls, k) / len(calls)
    for part in ("driver_py", "jvm", "pyworker"):
        m[f"proc.{part}_cpu_ms"] = _mean(c["cpu"][part] * 1e3 for c in calls)
    m["trace.overhead_ratio"] = (common.median(t for _, t in overhead_pairs)
                                 / common.median(u for u, _ in overhead_pairs))
    return m


def analytics_metrics(passes: list[dict], records: list[dict], names: list[str]) -> dict[str, float]:
    """Per-layer metrics of a traced analytics run, whose passes trace
    alternate queries. The overhead is the geometric mean over queries of
    each query's traced wall time against its untraced one; half the
    queries are traced in the earlier pass and half in the later, so
    the warm-up drift between passes cancels."""
    m = dict.fromkeys(names, 0.0)
    per_pass = passes[0]["queries"] / len(records)  # records -> one pass
    n_query = sum(p["queries"] for p in passes)
    m["workload.build_s"] = sum(r["build_s"] for r in records) * per_pass
    m["workload.execute_s"] = sum(r["execute_s"] for r in records) * per_pass
    m["workload.jobs_in_build"] = sum(r["build"]["jobs"] for r in records) * per_pass
    m["workload.materialized_bytes"] = max(r["materialized_bytes"] for r in records)
    for k in ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sum(r["build"][k] + r["execute"][k] for r in records) / len(records)
    for part in ("driver_py", "jvm", "pyworker"):
        m[f"proc.{part}_cpu_ms"] = sum(p["cpu"][part] for p in passes) * 1e3 / n_query
    logs = []
    for n in passes[0]["query_wall"]:
        on = [p["query_wall"][n] for p in passes if n in p["traced"]]
        off = [p["query_wall"][n] for p in passes if n not in p["traced"]]
        logs.append(math.log(_mean(on) / _mean(off)))
    m["trace.overhead_ratio"] = math.exp(_mean(logs))
    return m

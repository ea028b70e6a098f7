#!/usr/bin/env python3
"""Benchmark of the MCP tool path and the analytics queries.

    python3 perfbench/run.py --workload vault|analytics --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench/`` and removed at the end. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). A full record of the run, and the spans of
a traced run, are written to ``.perfbench/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"

# top-k calls alternated with tracing off and on, for trace.overhead_ratio
OVERHEAD_PAIRS = 6


def spec(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of every ``end_to_end`` or ``per_layer`` metric."""
    with open(ROOT / "BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def stop_session(spark, proc) -> None:
    """Stop Spark and its JVM, then wait for every descendant to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)
    deadline = time.monotonic() + 60
    while len(proc.pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)
    try:
        while True:  # reap anything that ended while we waited
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
    except ChildProcessError:
        pass


def run_vault(args, work: Path, record: dict) -> tuple[dict, int, int]:
    import common
    import layers
    import vault_workload as vw

    t = time.perf_counter()
    vault = vw.make_inputs(work, args.seed)
    gen_s = time.perf_counter() - t
    spark = common.make_session(work)
    proc = common.ProcTree()
    try:
        wl = vw.VaultWorkload(vault, spark, None)
        wl.warm_up()
        setup_s = common.process_age_s() - gen_s
        tracer = None
        if args.trace:
            tracer = common.Tracer()
            accum = layers.instrument_vault(tracer, wl.engine, spark)
            wl.client.tracer = tracer
        client = wl.client
        t0 = time.perf_counter()
        while wl.rounds == 0 or time.perf_counter() - t0 < args.seconds:
            client.phase = "read"
            wl.read_round()
            client.phase = "edit"
            wl.edit_round()
        record["rounds"] = wl.rounds
        record["timed_wall_s"] = time.perf_counter() - t0
        peak = proc.peak_rss_mb()
        overhead = None
        if tracer is not None:
            overhead = wl.overhead_pairs(tracer, OVERHEAD_PAIRS)
            record["overhead_pairs_ms"] = [(u * 1e3, t * 1e3) for u, t in overhead]
            tracer.unwrap_all()
        wl.fresh_engine_check()
        calls = client.calls
        failed = sum(c["failed"] for c in calls)
        walls = [c["wall"] for c in calls]
        cpu_ms = lambda c: common.cpu_total(c["cpu"]) * 1e3  # noqa: E731
        topk = [c for c in calls if c["shape"] == "topk"]
        requery = [c for c in calls if c["shape"] == "requery"]
        metrics = {
            "setup_s": setup_s,
            "calls_per_s": len(calls) / sum(walls),
            "cpu_ms_per_call": sum(cpu_ms(c) for c in calls) / len(calls),
            "headline_p50_ms": common.median(c["wall"] * 1e3 for c in topk),
            "headline_cpu_ms": common.median(cpu_ms(c) for c in topk),
            "requery_p50_ms": common.median(c["wall"] * 1e3 for c in requery),
            "requery_cpu_ms": common.median(cpu_ms(c) for c in requery),
            "peak_rss_mb": peak["driver_py"] + peak["jvm"],
        }
        shapes = {}
        for c in calls:
            shapes.setdefault(c["shape"], []).append(c["wall"] * 1e3)
        record["shape_p50_ms"] = {k: common.median(v) for k, v in shapes.items()}
        record["shape_count"] = {k: len(v) for k, v in shapes.items()}
        record["calls"] = [
            {"shape": c["shape"], "wall_ms": c["wall"] * 1e3, "cpu_ms": cpu_ms(c)}
            for c in calls
        ]
        record["gen_s"] = gen_s
        record["peak_rss_mb_by_process"] = peak
        if tracer is not None:
            record["per_layer"] = layers.vault_metrics(
                tracer, calls, accum.value, overhead, [n for n, _ in spec("per_layer")])
            parsed = record["per_layer"]["markdown.files_parsed"]
            if parsed != vw.N_FILES:
                raise common.CheckFailed(f"parse stage emitted {parsed} files per rebuild, wrote {vw.N_FILES}")
            if record["per_layer"]["engine.snapshot_hit_ratio"] != 1:
                raise common.CheckFailed("read phase missed the snapshot cache")
            tracer.dump(OUT / f"trace-vault-seed{args.seed}.jsonl")
        return metrics, len(calls), failed
    finally:
        stop_session(spark, proc)


def run_analytics(args, work: Path, record: dict) -> tuple[dict, int, int]:
    import analytics as an
    import common
    import layers
    import tables

    t = time.perf_counter()
    data = work / "tables"
    tables.write_tables(data, args.seed)
    gen_s = time.perf_counter() - t
    spark = common.make_session(work)
    proc = common.ProcTree()
    try:
        wl = an.AnalyticsWorkload(data, spark, None)
        wl.run_pass(record=False)  # the first pass is the warm-up
        setup_s = common.process_age_s() - gen_s
        oracle = an.oracle_answers(data, wl.names)
        bad = wl.check(oracle)
        if bad:
            raise common.CheckFailed(f"differs from the DuckDB oracle: {bad}")
        if args.trace:
            wl.tracer = common.Tracer()
        # a traced run times at least two passes and traces alternate
        # queries in each, so every query has a traced and an untraced
        # wall time for trace.overhead_ratio
        min_passes = 2 if args.trace else 1
        t0 = time.perf_counter()
        while len(wl.passes) < min_passes or time.perf_counter() - t0 < args.seconds:
            parity = len(wl.passes) % 2
            wl.run_pass(traced={n for i, n in enumerate(wl.names) if i % 2 == parity} if args.trace else set())
            bad = wl.check(oracle)
            if bad:
                raise common.CheckFailed(f"differs from the DuckDB oracle: {bad}")
        record["passes"] = [
            {"wall_ms": p["wall"] * 1e3, "cpu_ms": common.cpu_total(p["cpu"]) * 1e3,
             "query_wall_ms": {n: w * 1e3 for n, w in p["query_wall"].items()},
             "traced": p["traced"]} for p in wl.passes
        ]
        peak = proc.peak_rss_mb()
        n_queries = sum(p["queries"] for p in wl.passes)
        metrics = {
            "setup_s": setup_s,
            "calls_per_s": n_queries / sum(p["wall"] for p in wl.passes),
            "cpu_ms_per_call": sum(common.cpu_total(p["cpu"]) for p in wl.passes) * 1e3 / n_queries,
            "headline_cpu_ms": common.median(common.cpu_total(p["cpu"]) * 1e3 for p in wl.passes),
            "headline_p50_ms": common.median(p["wall"] * 1e3 for p in wl.passes),
            "peak_rss_mb": peak["driver_py"] + peak["jvm"],
        }
        record["gen_s"] = gen_s
        record["peak_rss_mb_by_process"] = peak
        if wl.tracer is not None:
            record["per_layer"] = layers.analytics_metrics(
                wl.passes, wl.query_records, [n for n, _ in spec("per_layer")])
            record["queries"] = wl.query_records
            wl.tracer.dump(OUT / f"trace-analytics-seed{args.seed}.jsonl")
        return metrics, n_queries, 0
    finally:
        stop_session(spark, proc)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["vault", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "frontmatter_mcp_spark" / "engine.py").is_file():
        log(f"the program's sources are not under {ROOT}")
        return 2
    # tests/ for the repository's own oracle check (canonical answer form)
    sys.path[:0] = [str(ROOT), str(HERE), str(ROOT / "tests")]
    import common

    work = OUT / f"work-{os.getpid()}"
    common.pin_environment(work)
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "cores": common.host_cores(),
                    "driver_memory": common.driver_memory()}
    runner = run_vault if args.workload == "vault" else run_analytics
    try:
        metrics, attempted, failed = runner(args, work, record)
    except Exception:  # noqa: BLE001 — any failure is reported as an incorrect run
        log(traceback.format_exc())
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    gated = spec("end_to_end")
    record["end_to_end"] = {n: metrics[n] for n, _ in gated}
    record["end_to_end_extra"] = {n: v for n, v in metrics.items() if n not in record["end_to_end"]}
    if args.trace:
        out = {n: {"value": record["per_layer"][n], "unit": u} for n, u in spec("per_layer")}
    else:
        out = {n: {"value": metrics[n], "unit": u} for n, u in gated}
    name = f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (OUT / name).write_text(json.dumps(record, indent=1, default=str))
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

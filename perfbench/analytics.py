"""The ``analytics`` workload: a fixed sample of registry queries over
seeded tables, each built (``QUERIES[q].spark``) and then collected, in
whole passes over the sample. Every answer is compared with the query's
DuckDB oracle, order-insensitively, outside the timed region.
"""

from __future__ import annotations

import time
from pathlib import Path

import common

# (registry query, why it is in the sample)
SAMPLE = [
    ("q57_hash_split_sample", "dp_sampling: hash-bucket split"),
    ("q98", "dp_text; uses pin()"),
    ("q268", "dp_eval; uses overlap()"),
    ("q80_sequence_packing", "dp_tokenize; uses total_order"),
    ("q42_multimodal_features", "dp_multimodal"),
    ("q232_quantile_normalize", "dp_stats; uses total_order"),
    ("q172", "dp_timeseries"),
]


def resolve_sample() -> list[str]:
    from frontmatter_mcp_spark.workload import QUERIES

    out = []
    for prefix, _ in SAMPLE:
        key = prefix.split("_")[0] + "_"
        names = [n for n in QUERIES if n.startswith(key)]
        if len(names) != 1:
            raise KeyError(f"sample query {prefix!r} not in the registry")
        out.append(names[0])
    return out


def oracle_answers(data: Path, names: list[str]) -> dict[str, tuple]:
    """Each query's DuckDB oracle answer in the canonical form of the
    repository's own oracle check (``tests/oracle_check.py``), fetched
    through Arrow as that check does."""
    from oracle_check import canonicalize, duck_connection

    from frontmatter_mcp_spark.workload import QUERIES

    con = duck_connection(str(data))
    try:
        out = {}
        for n in names:
            tbl = con.sql(QUERIES[n].oracle).fetch_arrow_table()
            cols = list(tbl.schema.names)
            out[n] = canonicalize(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])
        return out
    finally:
        con.close()


class AnalyticsWorkload:
    def __init__(self, data: Path, spark, tracer: common.Tracer | None) -> None:
        from frontmatter_mcp_spark.workload import QUERIES

        self.data = data
        self.spark = spark
        self.tracer = tracer
        self.names = resolve_sample()
        self.queries = QUERIES
        self.proc = common.ProcTree()
        self.answers: dict[str, list] = {}
        self.passes: list[dict] = []
        self.query_records: list[dict] = []

    def run_pass(self, record: bool = True, traced: set[str] = frozenset()) -> None:
        """Build and collect every sample query once; with a tracer, the
        queries named in ``traced`` are traced and the others are not."""
        rec = {"wall": 0.0, "cpu": None, "queries": len(self.names), "query_wall": {},
               "traced": sorted(traced)}
        cpu0 = self.proc.cpu()
        for n in self.names:
            tr = self.tracer if n in traced else None
            if tr is not None:
                tr.request = n
                self.spark.sparkContext.setJobGroup(f"{n}:build", n)
            t0 = time.perf_counter()
            df = self.queries[n].spark(self.spark, str(self.data))
            t1 = time.perf_counter()
            if tr is not None:
                held = common.storage_bytes(self.spark)
                self.spark.sparkContext.setJobGroup(f"{n}:execute", n)
            rows = df.collect()
            t2 = time.perf_counter()
            rec["wall"] += t2 - t0
            rec["query_wall"][n] = t2 - t0
            self.answers[n] = (df.columns, rows)
            if tr is not None and record:
                build = common.spark_counters(self.spark, f"{n}:build")
                execute = common.spark_counters(self.spark, f"{n}:execute")
                self.query_records.append({
                    "query": n, "build_s": t1 - t0, "execute_s": t2 - t1,
                    "build": build, "execute": execute,
                    "materialized_bytes": max(held, common.storage_bytes(self.spark)),
                })
                tr.spans.append({"name": "workload.build", "request": n, "parent": None,
                                 "start": t0, "end": t1})
                tr.spans.append({"name": "workload.execute", "request": n, "parent": None,
                                 "start": t1, "end": t2})
                tr.request = None
        rec["cpu"] = common.cpu_delta(cpu0, self.proc.cpu())
        if record:
            self.passes.append(rec)

    def check(self, oracle: dict[str, tuple]) -> list[str]:
        """Names of sample queries whose last answer differs from the oracle."""
        from oracle_check import canonicalize

        return [
            n for n in self.names
            if canonicalize(self.answers[n][0], [tuple(r) for r in self.answers[n][1]]) != oracle[n]
        ]

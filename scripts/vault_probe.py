"""Vault-scale probe of the engine's query path, outside the benchmark.

Usage:
    python scripts/vault_probe.py [--files 1000,20000,100000] [--repeat 3]
        [--body-bytes 2000] [--seed 1]

For each vault size it generates an N-file markdown vault in a fresh
directory under /tmp (removed afterwards; each note has a body of about
``--body-bytes`` bytes of prose) and times, through one
``FrontmatterEngine`` on a default session, these operations:

  listing   the snapshot-cache check: walk the glob, ``stat`` each file
  rebuild   invalidate, then re-parse and cache the vault (a tiny query)
  topk / group / unnest / inspect
            a snapshot-hit query of that shape
  batch     a distributed ``batch_update`` of every file

"cold" is the first call of an operation (a query shape's first call
runs on the snapshot the last rebuild left); "warm" is the median of
the next ``--repeat`` calls. Output: one ``RESULT|`` JSON line per
size, then a table.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from frontmatter_mcp_spark import files as fm  # noqa: E402
from frontmatter_mcp_spark.engine import FrontmatterEngine  # noqa: E402
from frontmatter_mcp_spark.session import get_spark  # noqa: E402

GLOB = "**/*.md"
SQL = {
    "topk": (
        "SELECT path, title, priority FROM files WHERE status = 'open' "
        "ORDER BY priority DESC, path LIMIT 20"
    ),
    "group": "SELECT status, COUNT(*) AS n FROM files GROUP BY status ORDER BY status",
    "unnest": (
        "SELECT tag, COUNT(*) AS n FROM files, UNNEST(from_json(tags, '[\"VARCHAR\"]')) "
        "AS t(tag) GROUP BY tag ORDER BY n DESC, tag"
    ),
}
STATUSES = ["backlog", "doing", "done", "open", "review"]
TAGS = ["python", "notes", "mcp", "spark", "sql", "yaml", "draft", "idea", "todo", "ops"]
WORDS = ["vault", "note", "query", "spark", "index", "draft", "meeting", "review",
         "link", "table", "idea", "plan", "list", "tag", "status", "project"]


def write_vault(root: Path, n: int, seed: int, body_bytes: int) -> None:
    """n notes in 20 areas x 5 topics, frontmatter of the benchmark's shape."""
    rng = random.Random(seed)
    # one shared pool of prose, sliced per note: generation stays cheap
    prose = " ".join(rng.choice(WORDS) for _ in range(body_bytes // 3 + 64))
    for i in range(n):
        d = root / f"area{i % 20:02d}" / f"topic{i // 20 % 5}"
        d.mkdir(parents=True, exist_ok=True)
        tags = ", ".join(rng.sample(TAGS, rng.randint(1, 4)))
        extra = f"project: proj-{rng.randrange(12)}\n" if rng.random() < 0.6 else ""
        start = rng.randrange(64)
        (d / f"note{i:06d}.md").write_text(
            f"---\ntitle: Note {i}\nstatus: {rng.choice(STATUSES)}\n"
            f"priority: {rng.randint(1, 5)}\ndate: 2024-{rng.randint(1, 12):02d}-"
            f"{rng.randint(1, 28):02d}\ntags: [{tags}]\n{extra}---\n"
            f"# Note {i}\n\n{prose[start:start + body_bytes]}\n",
            encoding="utf-8",
        )


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1e3


def cold_warm(fn, repeat: int) -> dict[str, float]:
    cold = timed(fn)
    return {"cold_ms": round(cold), "warm_ms": round(statistics.median(timed(fn) for _ in range(repeat)))}


def probe_size(spark, n: int, repeat: int, body_bytes: int, seed: int) -> dict:
    root = Path(tempfile.mkdtemp(prefix=f"vault_probe_{n}_", dir="/tmp"))
    try:
        t0 = time.perf_counter()
        write_vault(root, n, seed, body_bytes)
        rec = {"files": n, "body_bytes": body_bytes, "gen_s": round(time.perf_counter() - t0, 1)}
        eng = FrontmatterEngine(spark, root)
        rec["listing"] = cold_warm(lambda: fm.collect_files(root, GLOB), repeat)

        def rebuild():
            eng.invalidate()
            eng.query(GLOB, "SELECT COUNT(*) AS n FROM files")

        rec["rebuild"] = cold_warm(rebuild, repeat)
        for shape, sql in SQL.items():
            rec[shape] = cold_warm(lambda sql=sql: eng.query(GLOB, sql), repeat)
        rec["inspect"] = cold_warm(lambda: eng.query_inspect(GLOB), repeat)
        stamp = itertools.count()
        rec["batch"] = cold_warm(
            lambda: eng.batch_update(GLOB, {"probe": next(stamp)}, distributed=True), repeat
        )
        eng.invalidate()
        print("RESULT|" + json.dumps(rec), flush=True)
        return rec
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", default="1000,20000,100000")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--body-bytes", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    sizes = [int(x) for x in args.files.split(",")]

    spark = get_spark(app_name="vault_probe")
    # the first mapInPandas of a session pays the Python workers' start-up
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4).repartition(par).mapInPandas(lambda it: it, "id long").count()

    records = [probe_size(spark, n, args.repeat, args.body_bytes, args.seed) for n in sizes]
    ops = ["listing", "rebuild", "topk", "group", "unnest", "inspect", "batch"]
    print(f"{'files':>7} " + " ".join(f"{op:>15}" for op in ops))
    print(f"{'':>7} " + " ".join(f"{'cold/warm ms':>15}" for _ in ops))
    for rec in records:
        cells = [f"{rec[op]['cold_ms']}/{rec[op]['warm_ms']}" for op in ops]
        print(f"{rec['files']:>7} " + " ".join(f"{c:>15}" for c in cells))
    spark.stop()


if __name__ == "__main__":
    main()

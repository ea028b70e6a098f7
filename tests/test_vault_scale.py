"""Moderate-scale vault: the distributed parse path and snapshot cache
must handle thousands of files (guards parse-pipeline regressions)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from frontmatter_mcp_spark.engine import FrontmatterEngine
from frontmatter_mcp_spark.sources.markdown import listing_df

N_FILES = 1500


def test_engine_on_1500_file_vault(spark, tmp_path):
    tags = ["python", "mcp", "duckdb", "markdown", "obsidian", "notes", "api", "cli"]
    for i in range(N_FILES):
        sub = tmp_path / f"d{i % 10}"
        sub.mkdir(exist_ok=True)
        (sub / f"f{i:05d}.md").write_text(
            f"---\ntitle: note {i}\ndate: 2024-{i % 12 + 1:02d}-{i % 28 + 1:02d}\n"
            f"tags: [{tags[i % 8]}, {tags[(i + 3) % 8]}]\npriority: {i % 5 + 1}\n---\n"
            f"body text for note {i} with some words\n"
        )
    eng = FrontmatterEngine(spark, tmp_path)

    t0 = time.perf_counter()
    out = eng.query(
        "**/*.md",
        """
        SELECT priority, COUNT(*) AS n
        FROM files, UNNEST(from_json(tags, '["VARCHAR"]')) AS t(tag)
        WHERE tag = 'python'
        GROUP BY priority
        """,
    )
    cold = time.perf_counter() - t0
    assert sum(r["n"] for r in out["results"]) == 2 * N_FILES // 8

    # warm query on the unchanged vault reuses the cached snapshot
    t0 = time.perf_counter()
    out2 = eng.query("**/*.md", "SELECT COUNT(*) AS n FROM files WHERE date >= '2024-07-01'")
    warm = time.perf_counter() - t0
    assert out2["results"][0]["n"] > 0
    # the warm path must skip the parse stage entirely (snapshot reuse);
    # generous bound to stay CI-stable
    assert warm < cold

    schema = eng.query_inspect("**/*.md")
    assert schema["file_count"] == N_FILES
    assert schema["schema"]["tags"]["type"] == "array"


@pytest.mark.parametrize("n_files", [1, 40, N_FILES])
def test_listing_is_one_wave_of_tasks(spark, tmp_path, n_files):
    """The listing that the parse and the distributed rewrites run over
    has at most one task per core and about one task per 32 files
    (every mapInPandas task pays a fixed cost): no task gets fewer than
    16 files unless the whole vault has fewer, and a vault that fills
    every core gives each task 32 or more."""
    for i in range(n_files):
        (tmp_path / f"f{i:05d}.md").write_text(f"---\nn: {i}\n---\n")
    df = listing_df(spark, tmp_path, "*.md")
    slots = spark.sparkContext.defaultParallelism
    n_tasks = df.rdd.getNumPartitions()
    assert 1 <= n_tasks <= slots
    sizes = [r["count"] for r in df.groupBy(F.spark_partition_id()).count().collect()]
    assert len(sizes) == n_tasks and sum(sizes) == n_files
    assert min(sizes) >= min(n_files, 16)
    if n_files >= 32 * slots:
        assert min(sizes) >= 32

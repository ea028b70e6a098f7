"""Stage shape of the vault's query path: the listing needs no Python
round, a rebuild's parse is the only Python stage, the snapshot caches
no note bodies, and ``query_inspect`` on a snapshot hit is one aggregate
that agrees with ``query`` on file count and warnings."""

from __future__ import annotations

import uuid

import pytest

from frontmatter_mcp_spark.engine import FrontmatterEngine
from frontmatter_mcp_spark.sources.markdown import listing_df

GLOB = "**/*.md"
TOPK_SQL = (
    "SELECT path, title, priority FROM files WHERE status = 'open' "
    "ORDER BY priority DESC, path LIMIT 5"
)
# enough files that a listing of about 32 files per task has several
# partitions, plus two malformed ones
N_GOOD = 96
N_FILES = N_GOOD + 2


@pytest.fixture()
def vault(tmp_path):
    statuses = ["open", "done", "open", "wip"]
    tags = ["python", "mcp", "spark", "notes", "cli", "yaml", "api"]
    for i in range(N_GOOD):
        sub = tmp_path / f"area{i % 3}"
        sub.mkdir(exist_ok=True)
        extra = f"summary: note {i}\n" if i % 4 else ""
        (sub / f"n{i:02d}.md").write_text(
            f"---\ntitle: note {i}\nstatus: {statuses[i % 4]}\npriority: {i % 5}\n"
            f"tags: [{tags[i % 7]}, {tags[(i + 2) % 7]}]\n{extra}---\nbody {i}\n"
        )
    (tmp_path / "area1" / "broken.md").write_text("---\ntitle: [unclosed\n---\nx\n")
    (tmp_path / "bad.md").write_text('---\nkey: "unterminated\n---\n')
    return tmp_path


def _plan_stages(plan, into_cache: bool = True) -> list[list[str]]:
    """Node class names of an executed plan, grouped by the stage that
    runs them: each shuffle exchange starts a new stage below it. AQE
    wrappers and query stages are looked through; a cached relation is
    entered only with ``into_cache``."""
    stages: list[list[str]] = []

    def walk(node, stage: list[str]) -> None:
        name = node.getClass().getName()
        if name.endswith("AdaptiveSparkPlanExec"):
            return walk(node.executedPlan(), stage)
        if name.endswith("QueryStageExec"):
            return walk(node.plan(), stage)
        stage.append(name)
        if name.endswith("InMemoryTableScanExec"):
            if into_cache:
                walk(node.relation().cachedPlan(), stage)
            return
        if "Exchange" in name:
            stage = []
            stages.append(stage)
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), stage)

    top: list[str] = []
    stages.append(top)
    walk(plan, top)
    return [s for s in stages if s]


def _runs_python(name: str) -> bool:
    # pandas/Arrow UDF operators, or a scan of rows that Python pickled
    return ".python." in name or name.endswith("RDDScanExec")


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan()


def test_listing_is_a_local_table_scan(spark, vault):
    """The listing plans as a LocalTableScan, not a scan of pickled
    rows, also when the session has Arrow switched off."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(key, arrow)
            df = listing_df(spark, vault, GLOB)
            assert df.count() == N_FILES
            nodes = [n for s in _plan_stages(_executed_plan(df)) for n in s]
            assert any(n.endswith("LocalTableScanExec") for n in nodes), nodes
            assert not any(_runs_python(n) for n in nodes), nodes
    finally:
        spark.conf.set(key, before)


def test_rebuild_parse_has_one_python_stage(spark, vault):
    eng = FrontmatterEngine(spark, vault)
    eng.query(GLOB, "SELECT COUNT(*) AS n FROM files")
    stages = _plan_stages(_executed_plan(eng._snapshot.parsed))
    python = [s for s in stages if any(_runs_python(n) for n in s)]
    assert len(python) == 1, stages
    assert any(n.endswith("MapInPandasExec") for n in python[0])


def test_snapshot_caches_no_bodies(spark, vault):
    eng = FrontmatterEngine(spark, vault)
    eng.query(GLOB, TOPK_SQL)
    assert eng._snapshot.parsed.columns == ["path", "props", "array_keys", "error"]


def test_inspect_on_snapshot_hit_is_one_aggregate(spark, vault):
    eng = FrontmatterEngine(spark, vault)
    eng.query(GLOB, "SELECT COUNT(*) AS n FROM files")
    assert eng._snapshot.parsed.rdd.getNumPartitions() > 1
    sc = spark.sparkContext
    group = f"inspect-{uuid.uuid4().hex}"
    # setJobGroup sets three thread-local properties; put all three back
    # so later jobs on this thread carry none of them
    props = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    before = {k: sc.getLocalProperty(k) for k in props}
    sc.setJobGroup(group, "query_inspect on a snapshot hit")
    try:
        out = eng.query_inspect(GLOB)
    finally:
        for k, v in before.items():
            sc.setLocalProperty(k, v)
    assert out["file_count"] == N_GOOD
    # one aggregate over the cached parse, nothing else; adaptive
    # execution runs the aggregate's shuffle map stage as a job of its own
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2


def test_inspect_agrees_with_query_on_a_multi_partition_snapshot(spark, vault):
    """File count and warnings come from the snapshot's one aggregate;
    the answer must not depend on how the parse is partitioned."""
    eng = FrontmatterEngine(spark, vault)
    out = eng.query(GLOB, TOPK_SQL)
    assert eng._snapshot.parsed.rdd.getNumPartitions() > 1
    inspect = eng.query_inspect(GLOB)
    assert inspect["file_count"] == N_GOOD
    assert len(out["warnings"]) == 2
    assert inspect["warnings"] == out["warnings"] == sorted(out["warnings"])
    assert inspect["schema"]["tags"]["type"] == "array"
    assert inspect["schema"]["title"] == {
        "type": "string",
        "nullable": False,
        "examples": sorted(f"note {i}" for i in range(N_GOOD))[:5],
    }
    assert inspect["schema"]["summary"]["nullable"] is True

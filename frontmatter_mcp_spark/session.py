"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a cluster deployment would set per-job:
AQE on (runtime re-plan + skew-join), shuffle partitions sized to cores
(not the 200 default), Arrow enabled for the pandas-UDF path, UTC session
timezone so timestamp semantics match a UTC-naive oracle (DuckDB).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

# unset, size the session to the host: the cores this process may run
# on, and a driver heap of at most a quarter of physical memory (16g
# where the host has 64g or more). A fixed 32-core, 16g default
# oversubscribed smaller hosts: on a 4-core host, local[32] re-parsed a
# 5000-file vault with about twice the wall and CPU time of local[4].
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _default_driver_memory() -> str:
    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, physical_mb // 4)}m"


def ship_package_to_executors(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    mapInPandas / pandas_udf closures are pickled *by reference* to their
    defining module, so workers must be able to ``import
    frontmatter_mcp_spark`` — which fails whenever the driver process was
    launched from a different cwd (no PYTHONPATH entry). Shipping a
    content-hashed zip via addPyFile fixes that for any deployment, local
    or cluster."""
    import frontmatter_mcp_spark

    pkg_dir = Path(frontmatter_mcp_spark.__file__).parent
    sources = sorted(p for p in pkg_dir.rglob("*.py"))
    digest = hashlib.md5(
        b"".join(p.relative_to(pkg_dir).as_posix().encode() + p.read_bytes() for p in sources)
    ).hexdigest()[:12]
    zip_path = Path(tempfile.gettempdir()) / f"frontmatter_mcp_spark_{digest}.zip"
    if not zip_path.exists():
        tmp = zip_path.with_suffix(".tmp")
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in sources:
                zf.write(p, f"frontmatter_mcp_spark/{p.relative_to(pkg_dir).as_posix()}")
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(str(zip_path))


def get_spark(
    app_name: str = "frontmatter_mcp_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is a SQL conf that applies equally there.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions ~ cores for local; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata writes events.ts as TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long, normalize in tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # the frontmatter DataSource implements pushFilters(); Spark
        # refuses to plan such a reader unless pushdown is enabled
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package_to_executors(spark)
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to a session we didn't build.

    The driver harness constructs its own SparkSession and passes it in;
    these confs are all runtime-settable.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    ship_package_to_executors(spark)
    return spark

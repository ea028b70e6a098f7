"""Markdown-with-frontmatter source: glob scan -> distributed parse ->
the dynamic all-strings ``files`` DataFrame.

Reference pipeline (server.py:150-160 -> files.py -> query.py:23-59):
glob -> parse YAML frontmatter per file -> union-of-keys schema ->
all-strings columnar table named ``files``. Here the parse is a
``mapInPandas`` stage reading file contents executor-side, so the scan
scales horizontally: the driver only lists paths (cheap), content I/O
and YAML parsing are distributed.

Stage IRs:
  listing DF (abs_path, path, mtime)   driver-listed into an Arrow table:
     a LocalTableScan (no Python worker), coalesced to at most one
     task per core (one wave) and about one per 32 files; no shuffle
  -> parsed DF (path, mtime, props MAP, array_keys, body, error)
     via mapInPandas (Arrow-batched, executor file reads, libyaml
     parse when installed): the only Python round of the stage; the
     engine's snapshot caches only (path, props, array_keys, error)
  -> files DF (path, k1, k2, ...) by pivoting the key union
     (parse_summary's one aggregate discovers the keys; the pivot
     itself is a narrow projection of map lookups — no shuffle)

Every task that runs Python pays a fixed cost on top of its work:
pyspark's worker calls ``importlib.invalidate_caches()`` for each task
(``worker_util.setup_spark_files``), which re-reads the directory of
every zipimporter on the worker's path (the Spark jars, ``pyspark.zip``,
py4j and the shipped package zip: 17 archives, about 27 000 entries).
Timed inside warm workers on a 4-core host, four tasks at a time, one
such call took 130-400 ms. So the listing is built where no Python
round is needed to read it, and each stage that must run Python (the
parse, the distributed rewrites) runs as one wave of tasks.
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from frontmatter_mcp_spark.files import Listing, collect_files, parse_document, serialize_value

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("mtime", T.DoubleType(), True),
        T.StructField("props", T.MapType(T.StringType(), T.StringType(), True), True),
        T.StructField("array_keys", T.ArrayType(T.StringType()), True),
        T.StructField("body", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


LISTING_SCHEMA = T.StructType(
    [
        T.StructField("abs_path", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("mtime", T.DoubleType(), False),
    ]
)


def listing_df(
    spark: SparkSession,
    base_dir: str | Path,
    glob: str,
    listing: Listing | None = None,
) -> DataFrame:
    """Driver-side glob listing (the reference's A1, server.py:32-36);
    ``listing`` is a ``collect_files`` result the caller already
    walked, else the glob is walked here.

    At real scale the listing itself comes from the storage catalog /
    ``binaryFile`` distributed listing; the parse stage downstream is
    already distributed either way. The parse stage and the engine's
    distributed rewrites all run over this listing, so its partitioning
    sets their task count.
    """
    base = Path(base_dir)
    if listing is None:
        listing = collect_files(base, glob)
    # an Arrow table plans as a LocalTableScan whatever the session's
    # Arrow setting; a list of rows plans as a scan of pickled rows, and
    # unpickling them costs every downstream task a second Python round
    table = pa.table(
        [
            pa.array([str(p) for p in listing], pa.string()),
            pa.array([p.relative_to(base).as_posix() for p in listing], pa.string()),
            pa.array(listing.mtimes, pa.float64()),
        ],
        names=LISTING_SCHEMA.names,
    )
    df = spark.createDataFrame(table, LISTING_SCHEMA)
    if listing:
        # one wave of tasks, and about one task per 32 files: a second
        # wave only adds the per-task Python cost (module docstring). A
        # no-op mapInPandas over 1000 rows took 2.3-2.9 s as 32 tasks and
        # 0.7-0.85 s as 4 on a 4-core host. A 1000-file vault on 32
        # cores still parses 32-way (a flat ~512-files/task sizing gave
        # it only 2 tasks — measured 2.5x slower end-to-end). coalesce,
        # not repartition: the scan's slices merge in place, in path
        # order, with no shuffle stage in front of the parse.
        slots = spark.sparkContext.defaultParallelism
        df = df.coalesce(max(1, min(len(listing) // 32 + 1, slots)))
    return df


def _parse_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {
            "path": [],
            "mtime": [],
            "props": [],
            "array_keys": [],
            "body": [],
            "error": [],
        }
        for abs_path, rel_path, mtime in zip(pdf["abs_path"], pdf["path"], pdf["mtime"]):
            props: dict | None = None
            array_keys: list | None = None
            body: str | None = None
            error: str | None = None
            try:
                content = open(abs_path, encoding="utf-8").read()
                doc = parse_document(content)
                props = {
                    str(k): serialize_value(v) for k, v in doc["metadata"].items()
                }
                array_keys = [
                    str(k) for k, v in doc["metadata"].items() if isinstance(v, list)
                ]
                body = doc["body"]
            except Exception as e:  # noqa: BLE001 — warnings-not-errors contract
                error = f"Failed to parse {rel_path}: {e}"
            out["path"].append(rel_path)
            out["mtime"].append(mtime)
            out["props"].append(props)
            out["array_keys"].append(array_keys)
            out["body"].append(body)
            out["error"].append(error)
        yield pd.DataFrame(out)


def parsed_df(
    spark: SparkSession,
    base_dir: str | Path,
    glob: str,
    listing: Listing | None = None,
) -> DataFrame:
    """Distributed parse of every glob-matched file (errors as rows)."""
    return listing_df(spark, base_dir, glob, listing).mapInPandas(
        _parse_partition, schema=PARSED_SCHEMA
    )


def parse_summary(parsed: DataFrame) -> tuple[list[str], list[str], int]:
    """(sorted key union, sorted parse warnings, count of files parsed
    without error) in ONE job — everything the snapshot serves besides
    the rows themselves. Warnings sort by their leading path, matching
    the reference's per-file iteration order."""
    row = (
        parsed.select(
            F.col("error"),
            F.when(F.col("error").isNull(), F.map_keys("props")).alias("ks"),
        )
        .agg(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("ks")))
            ).alias("keys"),
            F.array_sort(F.collect_list("error")).alias("errs"),
            F.count_if(F.col("error").isNull()).alias("ok"),
        )
        .collect()[0]
    )
    return list(row.keys or []), list(row.errs or []), row.ok


def files_dataframe(parsed: DataFrame, keys: list[str]) -> DataFrame:
    """Pivot the parsed map to the dynamic all-strings ``files`` schema:
    ``path`` plus one string column per frontmatter key; files lacking a
    key get NULL (map lookup of a missing key). Pure projection."""
    ok = parsed.filter(F.col("error").isNull())
    # a frontmatter key literally named 'path' must yield ONE column with
    # the metadata value winning per-file (the reference's dict-update
    # precedence, query.py records |= metadata) — never two ambiguous
    # 'path' columns
    path_col = F.col("path")
    if "path" in keys:
        path_col = F.coalesce(F.col("props").getItem("path"), F.col("path"))
    return ok.select(
        path_col.alias("path"),
        *[F.col("props").getItem(k).alias(k) for k in keys if k != "path"],
    )

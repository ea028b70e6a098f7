"""Markdown-with-frontmatter source: glob scan -> distributed parse ->
the dynamic all-strings ``files`` DataFrame.

Reference pipeline (server.py:150-160 -> files.py -> query.py:23-59):
glob -> parse YAML frontmatter per file -> union-of-keys schema ->
all-strings columnar table named ``files``. Here the parse is a
``mapInPandas`` stage reading file contents executor-side, so the scan
scales horizontally: the driver only lists paths (cheap), content I/O
and YAML parsing are distributed.

Stage IRs:
  listing DF (path, rel_path, mtime)            driver-listed, spread over
     at most one task per core (one wave) and about one per 32 files
  -> parsed DF (path, mtime, props MAP, array_keys, body, error)
     via mapInPandas (Arrow-batched, executor file reads, libyaml
     parse when installed)
  -> files DF (path, k1, k2, ...) by pivoting the key union
     (one lightweight agg to discover keys; the pivot itself is a
     narrow projection of map lookups — no shuffle)
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from frontmatter_mcp_spark.files import collect_files, parse_document, serialize_value

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


def listing_df(spark: SparkSession, base_dir: str | Path, glob: str) -> DataFrame:
    """Driver-side glob listing (the reference's A1, server.py:32-36).

    At real scale the listing itself comes from the storage catalog /
    ``binaryFile`` distributed listing; the parse stage downstream is
    already distributed either way. The parse stage and the engine's
    distributed rewrites all run over this listing, so its partitioning
    sets their task count.
    """
    base = Path(base_dir)
    rows = [
        (str(p), p.relative_to(base).as_posix(), p.stat().st_mtime)
        for p in collect_files(base, glob)
    ]
    schema = T.StructType(
        [
            T.StructField("abs_path", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("mtime", T.DoubleType(), False),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    if rows:
        # one wave of tasks, and about one task per 32 files: every
        # mapInPandas task pays a fixed cost (about 0.25 s on a 4-core
        # host), so a second wave only adds that cost. A no-op
        # mapInPandas over 1000 rows took 2.3-2.9 s as 32 tasks and
        # 0.7-0.85 s as 4 on such a host. A 1000-file vault on 32
        # cores still parses 32-way (a flat ~512-files/task sizing gave
        # it only 2 tasks — measured 2.5x slower end-to-end).
        slots = spark.sparkContext.defaultParallelism
        df = df.repartition(max(1, min(len(rows) // 32 + 1, slots)))
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


def parsed_df(spark: SparkSession, base_dir: str | Path, glob: str) -> DataFrame:
    """Distributed parse of every glob-matched file (errors as rows)."""
    return listing_df(spark, base_dir, glob).mapInPandas(
        _parse_partition, schema=PARSED_SCHEMA
    )


def parse_summary(parsed: DataFrame) -> tuple[list[str], list[str]]:
    """(sorted key union, sorted parse warnings) in ONE job.

    The cold query path previously ran two driver actions over the
    cached parse (warnings collect, then key-union collect); fusing them
    halves the pre-SQL job count. Warnings sort by their leading path,
    matching the reference's per-file iteration order (the old collect
    order was partition-interleaved anyway)."""
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
        )
        .collect()[0]
    )
    return list(row.keys or []), list(row.errs or [])


def key_union(parsed: DataFrame) -> list[str]:
    """Union of frontmatter keys across all parsed files (A6,
    query.py:41-43) — a tiny distinct-aggregate; the key set is bounded
    by the vault's vocabulary, not its row count."""
    rows = (
        parsed.filter(F.col("error").isNull())
        .select(F.explode(F.map_keys("props")).alias("k"))
        .distinct()
        .collect()
    )
    return sorted(r.k for r in rows)


def files_dataframe(
    parsed: DataFrame, keys: list[str] | None = None
) -> DataFrame:
    """Pivot the parsed map to the dynamic all-strings ``files`` schema:
    ``path`` plus one string column per frontmatter key; files lacking a
    key get NULL (map lookup of a missing key). Pure projection."""
    if keys is None:
        keys = key_union(parsed)
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


def parse_warnings(parsed: DataFrame) -> list[str]:
    return [r.error for r in parsed.filter(F.col("error").isNotNull()).select("error").collect()]

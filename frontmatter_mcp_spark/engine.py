"""FrontmatterEngine — the public tool surface of the engine.

Mirrors the reference MCP server's 11 tools (server.py:121-675) with the
same parameters and response dicts, so behavior is externally checkable:

  query(glob, sql)            -> {results, row_count, columns[, warnings]}
  query_inspect(glob)         -> {file_count, schema}
  update(path, set, unset)    -> {path, frontmatter[, warnings]}
  batch_update(glob, set, unset)
  batch_array_add/remove/replace/sort/unique(glob, property, ...)
                              -> {updated_count, updated_files[, warnings]}
  index_status/index_wait/index_refresh (when semantic search enabled)

Execution model: the ``files`` table is a DataFrame pipeline
(listing -> mapInPandas parse -> key-union pivot -> temp view) and user
SQL goes verbatim (modulo the documented dialect shim) to ``spark.sql``
— Catalyst plans it, exactly as the reference hands SQL to DuckDB
(query.py:72). A per-(glob, listing-signature) snapshot cache plays the
role of the reference's mtime parse cache: an unchanged vault never
re-parses. The snapshot is the cached parse plus what one aggregate
over it returns (key union, warnings, file count), so ``query_inspect``
runs one aggregate on a hit. The cache holds only what queries read
(path, props, array_keys, error; no note bodies) and keeps the parse's
partitioning.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from frontmatter_mcp_spark import files as fm
from frontmatter_mcp_spark import mutations as mut
from frontmatter_mcp_spark import query_schema as qs
from frontmatter_mcp_spark.functions.sqlfuncs import register_sql_functions
from frontmatter_mcp_spark.plans.dialect import translate
from frontmatter_mcp_spark.semantic.indexer import EmbeddingIndexer, IndexerState
from frontmatter_mcp_spark.semantic.model import EmbeddingModel
from frontmatter_mcp_spark.semantic.query import attach_embeddings, register_embed_udf
from frontmatter_mcp_spark.semantic.store import EmbeddingStore
from frontmatter_mcp_spark.sources import markdown as md


class _Snapshot(NamedTuple):
    files: DataFrame | None  # the pivoted view; None when the vault is wide
    parsed: DataFrame  # cached: path, props, array_keys, error
    warnings: list[str]
    keys: list[str]
    file_count: int  # files parsed without error


def _build_response(base: dict[str, Any], warnings: list[str]) -> dict[str, Any]:
    """Attach warnings only when non-empty (reference server.py:39-46)."""
    if warnings:
        return {**base, "warnings": warnings}
    return base


def _edit_row(abs_path: str | Path, rel: str, edit, list_all: bool) -> tuple:
    """One file of a batch mutation, on the driver or in an executor:
    (rel, listed, warning). ``edit(metadata, rel)`` changes the
    frontmatter in place and returns (write, warning); a file is listed
    when written, or, with ``list_all``, whenever it was edited without
    error (batch_update: even a no-op set counts, reference
    server.py:294-306). Failures become warnings (partial success)."""
    try:
        _, write, warning = fm.edit_file(abs_path, lambda meta: edit(meta, rel))
    except Exception as e:  # noqa: BLE001 — partial success contract
        return rel, False, f"Failed to update {rel}: {e}"
    return rel, write or list_all, warning


def _array_edit(op, prop: str, **args):
    """The edit of an array tool: ``op`` is a mutations.py function,
    called as op(current, path=rel, prop=prop, **args) -> (new, changed,
    warning); the file is written (and listed) only when it changed."""

    def edit(metadata: dict[str, Any], rel: str) -> tuple[bool, str | None]:
        new_value, changed, warning = op(metadata.get(prop), path=rel, prop=prop, **args)
        if changed:
            metadata[prop] = new_value
        return changed, warning

    return edit


def _batch_response(rows: list) -> dict[str, Any]:
    """Reply of a batch mutation from its (rel, listed, warning) rows,
    put in ``collect_files`` order (paths sorted part by part: `bad/x.md`
    before `bad.md`), whichever order the rows arrived in."""
    rows = sorted(rows, key=lambda r: Path(r[0]))
    updated = [rel for rel, listed, _ in rows if listed]
    warnings = [w for _, _, w in rows if w]
    return _build_response(
        {"updated_count": len(updated), "updated_files": updated}, warnings
    )


def _referenced_identifiers(sql: str) -> set[str]:
    """Lexical superset of the identifiers a SQL string references —
    bare words plus backtick/double-quoted names, with '*' recorded for
    SELECT *. Used only to NARROW the wide-vault projection, so over-
    approximation is safe (an extra column costs a map lookup; a missed
    one would break the query)."""
    import re

    ids = set(re.findall(r"`([^`]+)`", sql))
    ids |= set(re.findall(r'"([^"]+)"', sql))
    ids |= set(re.findall(r"\b\w+\b", sql))
    if "*" in sql:
        ids.add("*")
    return ids


class FrontmatterEngine:
    #: key-count threshold above which the files view stops pivoting
    #: EVERY frontmatter key into a column and instead projects only the
    #: keys each query references (SURVEY §7.4: thousands of distinct
    #: keys would otherwise build a thousands-of-columns row — Catalyst
    #: analysis cost and row width both blow up)
    WIDE_SCHEMA_LIMIT = 512

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str | Path,
        semantic: bool = False,
        model: EmbeddingModel | None = None,
        cache_dir: str | Path | None = None,
        wide_schema_limit: int | None = None,
        max_rows: int | None = None,
        distributed_mutation_threshold: int = 1000,
    ) -> None:
        self.spark = spark
        # resolved once: listings, `resolve_path` and the relative paths
        # of replies all agree also for a relative or symlinked base
        self.base_dir = Path(base_dir).resolve()
        self.max_rows = max_rows
        self.distributed_mutation_threshold = distributed_mutation_threshold
        self.wide_schema_limit = (
            wide_schema_limit if wide_schema_limit is not None else self.WIDE_SCHEMA_LIMIT
        )
        from frontmatter_mcp_spark.session import ship_package_to_executors

        ship_package_to_executors(spark)  # user-supplied sessions too
        register_sql_functions(spark)
        self._snapshot_key: tuple | None = None
        self._snapshot: _Snapshot | None = None

        self.semantic_enabled = semantic
        self.indexer: EmbeddingIndexer | None = None
        self.store: EmbeddingStore | None = None
        if semantic:
            self.model = model or EmbeddingModel()
            from frontmatter_mcp_spark.settings import DEFAULT_CACHE_DIR_NAME

            cache = (
                Path(cache_dir)
                if cache_dir
                else self.base_dir / DEFAULT_CACHE_DIR_NAME
            )
            self.store = EmbeddingStore(
                spark, cache, self.model.name, self.model.get_dimension()
            )
            self.indexer = EmbeddingIndexer(
                spark, self.base_dir, "**/*.md", self.store, self.model
            )
            register_embed_udf(spark, self.model)

    @classmethod
    def from_settings(
        cls, spark: SparkSession, settings: "Settings | None" = None
    ) -> "FrontmatterEngine":
        """Build an engine from FRONTMATTER_* environment variables —
        the reference server's construction path (settings.py:12-51 +
        dependencies.py:19-46): base dir, semantic enable flag, model
        name, and cache dir all come from the environment."""
        from frontmatter_mcp_spark.settings import get_settings

        s = settings or get_settings()
        model = None
        if s.enable_semantic:
            model = EmbeddingModel(model_name=s.embedding_model)
        return cls(
            spark,
            s.base_dir,
            semantic=s.enable_semantic,
            model=model,
            cache_dir=s.cache_dir if s.enable_semantic else None,
            max_rows=s.max_rows,
        )

    # ------------------------------------------------------------------
    # files-table construction with the snapshot cache (A3/A4)
    # ------------------------------------------------------------------
    def _listing_signature(self, glob: str) -> tuple[tuple, fm.Listing]:
        """(snapshot key, listing): one walk, one ``stat`` per file; a
        rebuild parses the listing the key was taken from."""
        listing = fm.collect_files(self.base_dir, glob)
        return (glob, tuple(listing), tuple(listing.mtimes)), listing

    def _build_files(self, glob: str) -> _Snapshot:
        key, listing = self._listing_signature(glob)
        if self._snapshot is None or self._snapshot_key != key:
            self.invalidate()
            # cache only what queries read: the note bodies stay out
            parsed = md.parsed_df(self.spark, self.base_dir, glob, listing).select(
                "path", "props", "array_keys", "error"
            )
            parsed.cache()
            keys, warnings, file_count = md.parse_summary(parsed)
            # narrow vaults pivot every key once and cache the view;
            # wide vaults (> wide_schema_limit keys) defer to a
            # per-query projection of only the referenced keys
            files_df = (
                md.files_dataframe(parsed, keys)
                if len(keys) <= self.wide_schema_limit
                else None
            )
            self._snapshot_key = key
            self._snapshot = _Snapshot(files_df, parsed, warnings, keys, file_count)
        return self._snapshot

    def invalidate(self) -> None:
        if self._snapshot is not None:
            self._snapshot.parsed.unpersist()
        self._snapshot = None
        self._snapshot_key = None

    # ------------------------------------------------------------------
    # query tools
    # ------------------------------------------------------------------
    def query(self, glob: str, sql: str) -> dict[str, Any]:
        """The main entry point (reference server.py:121-169)."""
        snap = self._build_files(glob)
        files_df, warnings = snap.files, snap.warnings
        if files_df is None:
            refs = _referenced_identifiers(sql)
            use = snap.keys if "*" in refs else sorted(set(snap.keys) & refs)
            files_df = md.files_dataframe(snap.parsed, use)
        if (
            self.semantic_enabled
            and self.indexer is not None
            and self.indexer.state == IndexerState.READY
        ):
            files_df = attach_embeddings(files_df, self.store)
        files_df.createOrReplaceTempView("files")
        result = self.spark.sql(translate(sql))
        if self.max_rows is None:
            # the reference's response contract: the full result, collected
            rows = [r.asDict(recursive=True) for r in result.collect()]
        else:
            # driver-OOM escape hatch for vault-scale SELECT *: stream
            # partitions through the driver and stop at the cap instead of
            # materializing the whole result (collect() of an unbounded
            # query over a 100 TB corpus would OOM the driver)
            import itertools

            it = result.toLocalIterator(prefetchPartitions=False)
            rows = [r.asDict(recursive=True) for r in itertools.islice(it, self.max_rows + 1)]
            if len(rows) > self.max_rows:
                rows = rows[: self.max_rows]
                warnings = warnings + [
                    f"result truncated to max_rows={self.max_rows}; add a "
                    "LIMIT (with ORDER BY for determinism) to control which "
                    "rows are returned"
                ]
        return _build_response(
            {"results": rows, "row_count": len(rows), "columns": result.columns},
            warnings,
        )

    def query_inspect(self, glob: str) -> dict[str, Any]:
        """Schema advertisement (reference server.py:87-118)."""
        snap = self._build_files(glob)
        schema = qs.create_base_schema(snap.parsed, file_count=snap.file_count)
        if (
            self.semantic_enabled
            and self.indexer is not None
            and self.indexer.state == IndexerState.READY
        ):
            schema = qs.add_semantic_schema(schema, self.model.get_dimension())
        return _build_response(
            {"file_count": snap.file_count, "schema": schema}, snap.warnings
        )

    # ------------------------------------------------------------------
    # mutation tools (driver-side filesystem ops; warnings contract)
    # ------------------------------------------------------------------
    def update(
        self,
        path: str,
        set: dict[str, Any] | None = None,  # noqa: A002 — reference param name
        unset: list[str] | None = None,
    ) -> dict[str, Any]:
        abs_path = fm.resolve_path(self.base_dir, path)
        out = fm.update_file(abs_path, self.base_dir, set, unset)
        self.invalidate()
        return out

    def _batch_edit(
        self, glob: str, distributed: bool | None, edit, list_all: bool = False
    ) -> dict[str, Any]:
        """Run ``edit`` over every file the glob matches (``_edit_row``).
        An explicit `distributed` wins; otherwise the rewrite runs as a
        mapInPandas stage on executors once the glob matches at least
        `distributed_mutation_threshold` files (below that, Spark job
        overhead exceeds the driver loop). Both paths give the same reply
        and file bytes; on a cluster the executor path is the one that
        works when the vault lives on shared storage mounted there."""
        listing = fm.collect_files(self.base_dir, glob)
        if distributed is None:
            distributed = len(listing) >= self.distributed_mutation_threshold
        if distributed:
            # ships edit and _edit_row only: the engine (and its
            # SparkSession) cannot be pickled
            def rewrite(batches):
                import pandas as pd

                for pdf in batches:
                    rows = [
                        _edit_row(p, rel, edit, list_all)
                        for p, rel in zip(pdf["abs_path"], pdf["path"])
                    ]
                    yield pd.DataFrame(rows, columns=["path", "listed", "warning"])

            rows = (
                md.listing_df(self.spark, self.base_dir, glob, listing)
                .mapInPandas(rewrite, schema="path string, listed boolean, warning string")
                .collect()
            )
        else:
            rows = [
                _edit_row(p, p.relative_to(self.base_dir).as_posix(), edit, list_all)
                for p in listing
            ]
        self.invalidate()
        return _batch_response(rows)

    def batch_update(
        self,
        glob: str,
        set: dict[str, Any] | None = None,  # noqa: A002
        unset: list[str] | None = None,
        distributed: bool | None = None,
    ) -> dict[str, Any]:
        set_unset = fm.set_unset(set, unset)
        return self._batch_edit(
            glob, distributed, lambda meta, rel: set_unset(meta), list_all=True
        )

    def batch_array_add(
        self,
        glob: str,
        property: str,  # noqa: A002
        value: Any,
        allow_duplicates: bool = False,
        distributed: bool | None = None,
    ) -> dict[str, Any]:
        edit = _array_edit(mut.add_value, property, value=value, allow_duplicates=allow_duplicates)
        return self._batch_edit(glob, distributed, edit)

    def batch_array_remove(
        self, glob: str, property: str, value: Any, distributed: bool | None = None  # noqa: A002
    ) -> dict[str, Any]:
        edit = _array_edit(mut.remove_value, property, value=value)
        return self._batch_edit(glob, distributed, edit)

    def batch_array_replace(
        self,
        glob: str,
        property: str,  # noqa: A002
        old_value: Any,
        new_value: Any,
        distributed: bool | None = None,
    ) -> dict[str, Any]:
        edit = _array_edit(mut.replace_value, property, old=old_value, new=new_value)
        return self._batch_edit(glob, distributed, edit)

    def batch_array_sort(
        self, glob: str, property: str, reverse: bool = False, distributed: bool | None = None  # noqa: A002
    ) -> dict[str, Any]:
        edit = _array_edit(mut.sort_values, property, reverse=reverse)
        return self._batch_edit(glob, distributed, edit)

    def batch_array_unique(
        self, glob: str, property: str, distributed: bool | None = None  # noqa: A002
    ) -> dict[str, Any]:
        return self._batch_edit(glob, distributed, _array_edit(mut.unique_values, property))

    # ------------------------------------------------------------------
    # index tools (reference server.py:172-234)
    # ------------------------------------------------------------------
    def index_status(self) -> dict[str, Any]:
        if not self.indexer:
            return {"state": "disabled"}
        return self.indexer.status()

    def index_wait(self, timeout: float | None = None) -> dict[str, Any]:
        if not self.indexer:
            return {"state": "disabled"}
        completed = self.indexer.wait(timeout)
        return {**self.indexer.status(), "completed": completed}

    def index_refresh(self) -> dict[str, Any]:
        if not self.indexer:
            return {"state": "disabled"}
        started = self.indexer.refresh()
        return {**self.indexer.status(), "started": started}

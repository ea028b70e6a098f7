"""Markdown + YAML frontmatter parsing and file mutation.

Spark-first re-expression of the reference's file layer
(src/frontmatter_mcp/files.py): the parse itself is plain Python over
PyYAML (libyaml-backed when installed; used inside a mapInPandas stage
by sources.markdown), mutation rewrites are
driver/executor-side filesystem ops, and the mtime cache becomes both an
in-memory dict (small vaults) and the basis of incremental snapshots.

Contracts kept from the reference:
- values normalize to strings: None stays NULL, YAML lists JSON-encode,
  everything else is str() (files.py:52-67 + query.py:10-20, ADR-0005/6);
- paths are relative to the base dir (ADR-0007);
- per-file parse errors become warnings, never aborts (files.py:70-107);
- update() merges `set` minus `unset`, pops `unset`, writes only on
  change, creates frontmatter when absent (files.py:110-150).
"""

from __future__ import annotations

import json
import os
import re
import stat
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import yaml

_FM_RE = re.compile(r"\A---\s*\n(.*?)\n---\s*\n?", re.DOTALL)

# libyaml's parser under PyYAML's own SafeConstructor and resolver: the
# same Python values as yaml.safe_load, about 6x faster per document
_FAST_LOADER = getattr(yaml, "CSafeLoader", yaml.SafeLoader)


def _load_yaml(text: str) -> Any:
    """``yaml.safe_load`` through libyaml when it is installed. Text that
    libyaml rejects is loaded again by the pure-Python loader, so a
    malformed document raises that loader's error and message (the
    warning text callers build from it stays the reference's)."""
    try:
        return yaml.load(text, Loader=_FAST_LOADER)
    except (yaml.YAMLError, UnicodeEncodeError):  # libyaml encodes str to UTF-8 first
        return yaml.safe_load(text)


def split_frontmatter(content: str) -> tuple[str | None, str]:
    """Split a markdown document into (frontmatter_yaml, body).

    Returns (None, content) when there is no frontmatter block.
    """
    m = _FM_RE.match(content)
    if not m:
        return None, content
    return m.group(1), content[m.end() :]


def serialize_value(v: Any) -> str | None:
    """Reference value normalization (query.py:10-20): None -> NULL,
    list -> JSON string, anything else -> str()."""
    if v is None:
        return None
    if isinstance(v, list):
        return json.dumps(v, ensure_ascii=False)
    return str(v)


def parse_document(content: str) -> dict[str, Any]:
    """Parse YAML frontmatter from markdown text.

    Returns {"metadata": dict, "body": str}. Raises yaml.YAMLError on
    malformed YAML (callers convert to warnings).
    Non-dict frontmatter (a bare list/scalar) is treated as empty,
    matching python-frontmatter's handling.
    """
    fm, body = split_frontmatter(content)
    metadata: dict[str, Any] = {}
    if fm is not None:
        loaded = _load_yaml(fm)
        if isinstance(loaded, dict):
            metadata = loaded
    return {"metadata": metadata, "body": body}


def dump_document(metadata: dict[str, Any], body: str) -> str:
    """Serialize metadata + body back to markdown with YAML frontmatter.
    No frontmatter block is emitted when metadata is empty."""
    if not metadata:
        return body
    fm = yaml.safe_dump(
        metadata, default_flow_style=False, allow_unicode=True, sort_keys=False
    )
    return f"---\n{fm}---\n\n{body.lstrip(chr(10))}" if body else f"---\n{fm}---\n"


@dataclass
class ParsedFile:
    path: str  # relative to base_dir
    mtime: float
    metadata: dict[str, Any]
    body: str

    def record(self) -> dict[str, str | None]:
        """All-strings row for the files table (path + serialized props)."""
        rec: dict[str, str | None] = {"path": self.path}
        for k, v in self.metadata.items():
            rec[str(k)] = serialize_value(v)
        return rec


def parse_file(abs_path: str | Path, base_dir: str | Path) -> ParsedFile:
    p = Path(abs_path)
    content = p.read_text(encoding="utf-8")
    doc = parse_document(content)
    return ParsedFile(
        path=p.relative_to(base_dir).as_posix(),
        mtime=p.stat().st_mtime,
        metadata=doc["metadata"],
        body=doc["body"],
    )


@dataclass
class FileRecordCache:
    """mtime-keyed parse cache (reference files.py:19-49): hit iff the
    stored mtime equals the current one."""

    _store: dict[str, tuple[float, ParsedFile]] = field(default_factory=dict)

    def get(self, rel_path: str, mtime: float) -> ParsedFile | None:
        hit = self._store.get(rel_path)
        if hit is not None and hit[0] == mtime:
            return hit[1]
        return None

    def set(self, rel_path: str, mtime: float, parsed: ParsedFile) -> None:
        self._store[rel_path] = (mtime, parsed)

    def invalidate(self, rel_path: str) -> None:
        self._store.pop(rel_path, None)

    def clear(self) -> None:
        self._store.clear()


class Listing(list):
    """What ``collect_files`` returns: the matched paths, sorted, with
    ``mtimes[i]`` the mtime of ``self[i]`` from the same ``stat``. The
    engine keys its snapshot on it and hands the same listing to the
    parse stage, so a cache check and a rebuild walk the vault once."""

    def __init__(self, paths=(), mtimes=()):
        super().__init__(paths)
        self.mtimes: list[float] = list(mtimes)


def collect_files(base_dir: str | Path, glob: str) -> Listing:
    """Expand a glob under base_dir, keeping regular files only, sorted
    for determinism (reference server.py:32-36). Each match is
    ``stat``-ed once, for its type and its mtime."""
    entries = []
    for p in Path(base_dir).glob(glob):
        try:
            st = os.stat(p)
        except OSError:  # dangling symlink, or removed since the walk
            continue
        if stat.S_ISREG(st.st_mode):
            entries.append((p, st.st_mtime))
    entries.sort(key=lambda e: e[0])
    return Listing([p for p, _ in entries], [m for _, m in entries])


def parse_files(
    paths: list[Path],
    base_dir: str | Path,
    cache: FileRecordCache | None = None,
) -> tuple[list[ParsedFile], list[str]]:
    """Parse many files with mtime caching; per-file failures become
    warnings naming the relative path (reference files.py:70-107)."""
    records: list[ParsedFile] = []
    warnings: list[str] = []
    for p in paths:
        rel = p.relative_to(base_dir).as_posix()
        try:
            mtime = p.stat().st_mtime
            if cache is not None:
                hit = cache.get(rel, mtime)
                if hit is not None:
                    records.append(hit)
                    continue
            parsed = parse_file(p, base_dir)
            if cache is not None:
                cache.set(rel, mtime, parsed)
            records.append(parsed)
        except Exception as e:  # noqa: BLE001 — warnings-not-errors contract
            warnings.append(f"Failed to parse {rel}: {e}")
    return records, warnings


def resolve_path(base_dir: str | Path, rel_path: str) -> Path:
    """Path-safety resolve (reference server.py:60-84): reject escapes
    from base_dir and missing files."""
    base = Path(base_dir).resolve()
    target = (base / rel_path).resolve()
    if not target.is_relative_to(base):
        raise ValueError(f"Path escapes base directory: {rel_path}")
    if not target.exists():
        raise FileNotFoundError(f"File not found: {rel_path}")
    return target


def resolve_write_path(base_dir: str | Path, rel_path: str) -> Path:
    """Escape-checked resolve for files that may not exist yet (the
    write-side half of the reference's path-safety rule, server.py:76-79)."""
    base = Path(base_dir).resolve()
    target = (base / rel_path).resolve()
    if not target.is_relative_to(base):
        raise ValueError(f"Path escapes base directory: {rel_path}")
    return target


def update_file(
    abs_path: Path,
    base_dir: str | Path,
    set_props: dict[str, Any] | None = None,
    unset_props: list[str] | None = None,
) -> dict[str, Any]:
    """Set/unset frontmatter properties (reference files.py:110-150).
    `unset` wins over `set` for the same key; rewrites the file whenever
    set/unset is provided — even a no-op set renormalizes the YAML and
    bumps mtime, matching the reference's frontmatter.dump behavior;
    creates a frontmatter block if the file has none."""
    set_props = set_props or {}
    unset_props = unset_props or []
    content = abs_path.read_text(encoding="utf-8")
    doc = parse_document(content)
    metadata, body = dict(doc["metadata"]), doc["body"]
    for k, v in set_props.items():
        if k not in unset_props:
            metadata[k] = v
    for k in unset_props:
        metadata.pop(k, None)
    if set_props or unset_props:
        abs_path.write_text(dump_document(metadata, body), encoding="utf-8")
    rel = Path(abs_path).relative_to(base_dir).as_posix()
    return {"path": rel, "frontmatter": metadata}

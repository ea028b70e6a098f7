"""Parse/update/cache layer tests (reference: tests/test_files.py)."""

from __future__ import annotations

import json
import os

import pytest
import yaml
from hypothesis import given, settings
from hypothesis import strategies as st

from frontmatter_mcp_spark import files as fm


def write(p, text):
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(text, encoding="utf-8")


def test_split_frontmatter_basic():
    head, body = fm.split_frontmatter("---\ntitle: x\n---\nBody here\n")
    assert head == "title: x"
    assert body == "Body here\n"


def test_split_frontmatter_absent():
    head, body = fm.split_frontmatter("No frontmatter\n")
    assert head is None
    assert body == "No frontmatter\n"


def test_serialize_value_contract():
    # ADR-0005/0006: None -> NULL, list -> JSON, else str()
    assert fm.serialize_value(None) is None
    assert fm.serialize_value([1, "a"]) == '[1, "a"]'
    assert fm.serialize_value(True) == "True"
    assert fm.serialize_value(42) == "42"
    assert fm.serialize_value(3.14) == "3.14"
    assert fm.serialize_value("s") == "s"


def test_parse_file_record(tmp_path):
    write(tmp_path / "a.md", "---\ndate: 2025-11-27\ntags:\n  - python\n  - mcp\n---\nBody\n")
    parsed = fm.parse_file(tmp_path / "a.md", tmp_path)
    rec = parsed.record()
    assert rec["path"] == "a.md"
    assert rec["date"] == "2025-11-27"
    assert json.loads(rec["tags"]) == ["python", "mcp"]
    assert parsed.body.strip() == "Body"


def test_parse_files_malformed_yaml_warning(tmp_path):
    # FIXTURES F7: one bad file among good ones -> one warning, others parse
    write(tmp_path / "good.md", "---\ntitle: ok\n---\n")
    write(tmp_path / "bad.md", "---\ninvalid: [unclosed\n---\n")
    records, warnings = fm.parse_files(
        fm.collect_files(tmp_path, "*.md"), tmp_path, fm.FileRecordCache()
    )
    assert [r.path for r in records] == ["good.md"]
    # libyaml words this error differently; the warning must still carry
    # the pure-Python loader's message, character for character
    with pytest.raises(yaml.YAMLError) as pure:
        yaml.load("invalid: [unclosed", Loader=yaml.SafeLoader)
    assert warnings == [f"Failed to parse bad.md: {pure.value}"]


# the frontmatter of FIXTURES.md F1-F6 (F7, malformed input, is above)
FIXTURE_FRONTMATTER = [
    "date: 2025-11-27\ntags:\n  - python\n  - mcp\nsummary: A summary",
    "date: 2025-11-26\ntags: [duckdb]",
    "title: abcdefghijklmnopqrst\ndate: 2024-03-09\ntags: [python, notes, cli]\n"
    "draft: true\npriority: 3\nprop_6: xyz",
    "summary:",
    "summary: Has summary",
    "value: string",
    "value: 42",
    "value: 3.14",
    "value: true",
    "value: [a, b]",
    'date: <% tp.date.now("YYYY-MM-DD") %>',
    "tags: [a, b, a, c, b]",
    "tags: []",
    "tags: [python, mcp, [nested, array]]",
    "date: 2025-11-27\ntags: scalar-not-array",
]

# plain scalars whose type the YAML 1.1 resolver decides
RESOLVED_SCALARS = [
    "yes", "No", "on", "~", "null", "2025-11-27", "2025-11-27 10:00:00",
    "2025-11-27T10:00:00+02:00", "0o17", "017", "0x1F", "1_000", "1e3",
    "6.02e+23", ".inf", "-.Inf", ".nan", "+1", "-0", "190:20:30", "true",
    "FALSE", "'quoted'", '"esc\\tape"', "plain text, with comma",
]


def _outcome(load):
    try:
        return "ok", repr(load())  # repr tells True from 1 and 1.0
    except yaml.YAMLError as e:
        return "error", str(e)


def _assert_loads_like_safe_load(frontmatter: str) -> None:
    doc = f"---\n{frontmatter}\n---\nBody\n"
    head, _ = fm.split_frontmatter(doc)

    def reference():
        loaded = yaml.safe_load(head)
        return loaded if isinstance(loaded, dict) else {}

    assert _outcome(lambda: fm.parse_document(doc)["metadata"]) == _outcome(reference)


@pytest.mark.parametrize(
    "frontmatter",
    FIXTURE_FRONTMATTER
    + [f"k: {s}" for s in RESOLVED_SCALARS]
    + [f"k: [{s}]" for s in RESOLVED_SCALARS if "," not in s],
)
def test_parse_document_loads_like_safe_load(frontmatter):
    _assert_loads_like_safe_load(frontmatter)


_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(), st.floats(), st.text(max_size=20), st.dates()
)
_values = st.recursive(
    _scalars,
    lambda kids: st.lists(kids, max_size=4)
    | st.dictionaries(st.text(min_size=1, max_size=8), kids, max_size=4),
    max_leaves=12,
)


@given(
    st.dictionaries(st.text(min_size=1, max_size=12), _values, min_size=1, max_size=6),
    st.sampled_from([False, True, None]),
)
@settings(max_examples=300, deadline=None)
def test_parse_document_loads_like_safe_load_property(metadata, flow):
    text = yaml.safe_dump(
        metadata, default_flow_style=flow, allow_unicode=True, sort_keys=False
    )
    _assert_loads_like_safe_load(text.rstrip("\n"))


def test_mtime_cache_hit_and_invalidate(tmp_path):
    write(tmp_path / "a.md", "---\nk: v1\n---\n")
    cache = fm.FileRecordCache()
    paths = fm.collect_files(tmp_path, "*.md")
    r1, _ = fm.parse_files(paths, tmp_path, cache)
    assert r1[0].metadata["k"] == "v1"
    # rewriting with a forced different mtime must re-parse
    write(tmp_path / "a.md", "---\nk: v2\n---\n")
    import os

    st = (tmp_path / "a.md").stat()
    os.utime(tmp_path / "a.md", (st.st_atime, st.st_mtime + 10))
    r2, _ = fm.parse_files(fm.collect_files(tmp_path, "*.md"), tmp_path, cache)
    assert r2[0].metadata["k"] == "v2"


def test_collect_files_keeps_one_mtime_per_path(tmp_path):
    import os

    write(tmp_path / "b.md", "---\nk: v\n---\n")
    write(tmp_path / "a" / "x.md", "---\nk: v\n---\n")
    (tmp_path / "dir.md").mkdir()
    os.symlink(tmp_path / "gone.md", tmp_path / "dangling.md")
    os.utime(tmp_path / "b.md", (1.0, 1234.5))
    listing = fm.collect_files(tmp_path, "**/*.md")
    assert listing == [tmp_path / "a" / "x.md", tmp_path / "b.md"]
    assert listing.mtimes == [(tmp_path / "a" / "x.md").stat().st_mtime, 1234.5]


def test_update_file_set_unset_precedence(tmp_path):
    write(tmp_path / "a.md", "---\nkeep: kept\ndrop: old\n---\nBody\n")
    out = fm.update_file(
        tmp_path / "a.md", tmp_path, set_props={"drop": "new", "added": 1}, unset_props=["drop"]
    )
    # unset wins over set for the same key (reference files.py:130-140)
    assert "drop" not in out["frontmatter"]
    assert out["frontmatter"]["added"] == 1
    reparsed = fm.parse_file(tmp_path / "a.md", tmp_path)
    assert reparsed.metadata == {"keep": "kept", "added": 1}
    assert reparsed.body.strip() == "Body"


def test_update_noop_set_still_rewrites(tmp_path):
    # reference files.py:142-145 writes whenever set/unset is provided —
    # a no-op set renormalizes the YAML and bumps mtime
    write(tmp_path / "a.md", "---\nk:    v\n---\nBody\n")
    st0 = (tmp_path / "a.md").stat()
    os.utime(tmp_path / "a.md", (st0.st_atime, st0.st_mtime - 10))
    before_mtime = (tmp_path / "a.md").stat().st_mtime
    fm.update_file(tmp_path / "a.md", tmp_path, set_props={"k": "v"})
    assert (tmp_path / "a.md").stat().st_mtime > before_mtime
    assert "k: v" in (tmp_path / "a.md").read_text()
    # but with neither set nor unset, nothing is written
    st1 = (tmp_path / "a.md").stat()
    os.utime(tmp_path / "a.md", (st1.st_atime, st1.st_mtime - 10))
    before_mtime = (tmp_path / "a.md").stat().st_mtime
    fm.update_file(tmp_path / "a.md", tmp_path)
    assert (tmp_path / "a.md").stat().st_mtime == before_mtime


def test_update_creates_frontmatter_when_absent(tmp_path):
    write(tmp_path / "a.md", "Just a body\n")
    fm.update_file(tmp_path / "a.md", tmp_path, set_props={"title": "t"})
    reparsed = fm.parse_file(tmp_path / "a.md", tmp_path)
    assert reparsed.metadata == {"title": "t"}
    assert "Just a body" in reparsed.body


def test_resolve_path_escape_rejected(tmp_path):
    write(tmp_path / "a.md", "x")
    with pytest.raises(ValueError, match="escapes"):
        fm.resolve_path(tmp_path, "../outside.md")
    with pytest.raises(FileNotFoundError):
        fm.resolve_path(tmp_path, "missing.md")
    assert fm.resolve_path(tmp_path, "a.md").name == "a.md"


def test_dump_round_trip_preserves_key_order(tmp_path):
    meta = {"z": 1, "a": 2, "m": [1, 2]}
    text = fm.dump_document(meta, "Body\n")
    doc = fm.parse_document(text)
    assert doc["metadata"] == meta
    assert list(doc["metadata"]) == ["z", "a", "m"]

"""Mutation tool tests (reference: tests/test_server.py:237-660,
fixture edge cases FIXTURES.md F6)."""

from __future__ import annotations

import os

import pytest

from frontmatter_mcp_spark import engine as engine_mod
from frontmatter_mcp_spark.engine import FrontmatterEngine
from frontmatter_mcp_spark.files import parse_file


@pytest.fixture()
def vault(tmp_path):
    (tmp_path / "a.md").write_text(
        "---\ndate: 2025-11-27\ntags:\n  - python\n  - mcp\n---\nBody A\n"
    )
    (tmp_path / "b.md").write_text("---\ndate: 2025-11-26\ntags:\n  - duckdb\n---\nBody B\n")
    return tmp_path


@pytest.fixture()
def engine(spark, vault):
    return FrontmatterEngine(spark, vault)


def tags(vault, name):
    return parse_file(vault / name, vault).metadata.get("tags")


def test_update_set_and_unset(engine, vault):
    out = engine.update("a.md", set={"status": "done"}, unset=["date"])
    assert out["frontmatter"]["status"] == "done"
    assert "date" not in out["frontmatter"]
    meta = parse_file(vault / "a.md", vault).metadata
    assert meta["status"] == "done" and "date" not in meta


def test_update_rejects_escaping_path(engine):
    with pytest.raises(ValueError):
        engine.update("../evil.md", set={"x": 1})


def test_batch_update(engine, vault):
    out = engine.batch_update("*.md", set={"reviewed": True})
    assert out["updated_count"] == 2
    assert sorted(out["updated_files"]) == ["a.md", "b.md"]
    assert parse_file(vault / "b.md", vault).metadata["reviewed"] is True


def test_array_add_basic_and_missing_prop(engine, vault):
    out = engine.batch_array_add("a.md", "tags", "spark")
    assert out["updated_files"] == ["a.md"]
    assert tags(vault, "a.md") == ["python", "mcp", "spark"]
    # property absent -> created as [value]
    engine.batch_array_add("a.md", "aliases", "alias-1")
    assert parse_file(vault / "a.md", vault).metadata["aliases"] == ["alias-1"]


def test_array_add_duplicate_skipped_unless_allowed(engine, vault):
    out = engine.batch_array_add("a.md", "tags", "python")
    assert out["updated_count"] == 0
    assert tags(vault, "a.md") == ["python", "mcp"]
    engine.batch_array_add("a.md", "tags", "python", allow_duplicates=True)
    assert tags(vault, "a.md") == ["python", "mcp", "python"]


def test_array_add_list_value_is_single_element(engine, vault):
    # reference tests/test_server.py:331-339: nested list NOT flattened
    engine.batch_array_add("a.md", "tags", ["nested", "array"])
    assert tags(vault, "a.md") == ["python", "mcp", ["nested", "array"]]


def test_array_add_non_array_warns(engine, vault):
    out = engine.batch_array_add("a.md", "date", "x")
    assert out["updated_count"] == 0
    assert any("not an array" in w for w in out["warnings"])


def test_array_remove_first_occurrence_only(engine, vault):
    (vault / "dup.md").write_text("---\ntags:\n  - a\n  - b\n  - a\n---\n")
    engine.invalidate()
    engine.batch_array_remove("dup.md", "tags", "a")
    assert tags(vault, "dup.md") == ["b", "a"]


def test_array_remove_absent_value_noop(engine, vault):
    out = engine.batch_array_remove("a.md", "tags", "nope")
    assert out["updated_count"] == 0
    assert "warnings" not in out


def test_array_replace_first_occurrence(engine, vault):
    (vault / "dup.md").write_text("---\ntags:\n  - a\n  - b\n  - a\n---\n")
    engine.batch_array_replace("dup.md", "tags", "a", "z")
    assert tags(vault, "dup.md") == ["z", "b", "a"]


def test_array_sort_asc_desc_and_skips(engine, vault):
    engine.batch_array_sort("a.md", "tags")
    assert tags(vault, "a.md") == ["mcp", "python"]
    # already sorted -> skip (updated_count 0)
    out = engine.batch_array_sort("a.md", "tags")
    assert out["updated_count"] == 0
    engine.batch_array_sort("a.md", "tags", reverse=True)
    assert tags(vault, "a.md") == ["python", "mcp"]
    # single-element arrays skip
    out = engine.batch_array_sort("b.md", "tags")
    assert out["updated_count"] == 0


def test_array_unique_first_occurrence_order(engine, vault):
    (vault / "u.md").write_text("---\ntags: [a, b, a, c, b]\n---\n")
    engine.batch_array_unique("u.md", "tags")
    assert tags(vault, "u.md") == ["a", "b", "c"]


def test_batch_partial_success_with_malformed_file(engine, vault):
    (vault / "bad.md").write_text("---\ninvalid: [unclosed\n---\n")
    out = engine.batch_update("*.md", set={"k": "v"})
    # good files updated, bad one warned about (tests/test_server.py:257-271)
    assert out["updated_count"] == 2
    assert len(out["warnings"]) == 1 and "bad.md" in out["warnings"][0]


def _mutation_vault(root):
    root.mkdir()
    (root / "a.md").write_text(
        "---\ndate: 2025-11-27\ntags:\n  - python\n  - mcp\n  - python\n---\nBody A\n"
    )
    (root / "b.md").write_text("---\ndate: 2025-11-26\ntags:\n  - duckdb\n---\nBody B\n")
    (root / "c.md").write_text("---\ntags: scalar-not-array\n---\nBody C\n")
    (root / "bad.md").write_text("---\nbroken: [oops\n---\n")
    (root / "plain.md").write_text("A body and no frontmatter\n")
    return root


def test_batch_array_distributed_matches_driver_path(spark, tmp_path):
    """A13-A17 scale path: every array op through mapInPandas produces the
    exact driver-loop response (updated files, counts, warnings) and the
    same resulting file bytes."""
    ops = [
        ("batch_array_add", {"value": "spark"}),
        ("batch_array_add", {"value": "python", "allow_duplicates": True}),
        ("batch_array_remove", {"value": "python"}),
        ("batch_array_replace", {"old_value": "mcp", "new_value": "model-ctx"}),
        ("batch_array_sort", {"reverse": True}),
        ("batch_array_unique", {}),
    ]
    eng_d = FrontmatterEngine(spark, _mutation_vault(tmp_path / "driver"))
    eng_x = FrontmatterEngine(spark, _mutation_vault(tmp_path / "dist"))
    for method, kwargs in ops:
        out_d = getattr(eng_d, method)("*.md", "tags", **kwargs)
        out_x = getattr(eng_x, method)("*.md", "tags", **kwargs, distributed=True)
        assert out_x == out_d, f"{method}({kwargs}) diverged"
        for name in ("a.md", "b.md", "c.md", "plain.md"):
            assert (tmp_path / "dist" / name).read_text() == (
                tmp_path / "driver" / name
            ).read_text(), f"{method} left different bytes in {name}"
    # the first add gave the body-only file a frontmatter block on both paths
    assert tags(tmp_path / "dist", "plain.md") == ["spark"]


def test_batch_update_distributed_matches_driver_path(spark, tmp_path):
    """batch_update through mapInPandas gives the driver loop's response,
    warnings included and in its file order, with two malformed files
    (one nested, so file order differs from the warnings' string
    order), and leaves the same bytes."""

    def vault(root):
        _mutation_vault(root)
        (root / "bad").mkdir()
        (root / "bad" / "x.md").write_text("---\nalso: {broken\n---\n")
        return root

    eng_d = FrontmatterEngine(spark, vault(tmp_path / "driver"))
    eng_x = FrontmatterEngine(spark, vault(tmp_path / "dist"))
    out_d = eng_d.batch_update("**/*.md", set={"k": "v"}, unset=["date"])
    out_x = eng_x.batch_update("**/*.md", set={"k": "v"}, unset=["date"], distributed=True)
    assert [w.split(":")[0] for w in out_d["warnings"]] == [
        "Failed to update bad/x.md",
        "Failed to update bad.md",
    ]
    assert out_x == out_d
    # an array op's skip warning interleaves with the parse failures
    out_d = eng_d.batch_array_add("**/*.md", "tags", "spark")
    out_x = eng_x.batch_array_add("**/*.md", "tags", "spark", distributed=True)
    assert len(out_d["warnings"]) == 3 and out_x == out_d
    assert (tmp_path / "dist" / "plain.md").read_text().startswith("---\nk: v\ntags:")
    for name in ("a.md", "b.md", "c.md", "bad.md", "bad/x.md", "plain.md"):
        assert (tmp_path / "dist" / name).read_bytes() == (
            tmp_path / "driver" / name
        ).read_bytes(), f"different bytes in {name}"


def test_mutation_invalidates_query_snapshot(engine, vault):
    out0 = engine.query("*.md", "SELECT * FROM files")
    assert "reviewed" not in out0["columns"]  # dynamic schema: column absent
    engine.batch_update("*.md", set={"reviewed": True})
    out1 = engine.query("*.md", "SELECT COUNT(*) n FROM files WHERE reviewed = 'True'")
    assert out1["results"][0]["n"] == 2  # snapshot invalidated + new column


def test_batch_mutations_auto_dispatch_by_file_count(spark, tmp_path, monkeypatch):
    """With no explicit flag, batch mutations pick the executor-parallel
    path once the glob matches distributed_mutation_threshold files, and
    the driver loop below it — same results either way."""
    vault = tmp_path / "auto"
    vault.mkdir()
    for i in range(4):
        (vault / f"f{i}.md").write_text("---\ntags:\n  - a\n---\nbody\n")
    eng = FrontmatterEngine(spark, vault, distributed_mutation_threshold=3)

    calls = {"dist": 0, "driver": 0}
    orig, orig_listing_df = eng._batch_edit, engine_mod.md.listing_df
    stages = []

    def spy_listing_df(*a, **k):
        stages.append(1)
        return orig_listing_df(*a, **k)

    def spy(*a, **k):
        # a call took the executor path iff it built the listing DataFrame
        # the mapInPandas rewrite runs over; the driver loop builds none
        stages.clear()
        out = orig(*a, **k)
        calls["dist" if stages else "driver"] += 1
        return out

    monkeypatch.setattr(engine_mod.md, "listing_df", spy_listing_df)
    eng._batch_edit = spy

    out = eng.batch_array_add("*.md", "tags", "x")  # 4 files >= 3 -> distributed
    assert out["updated_count"] == 4 and calls == {"dist": 1, "driver": 0}
    out = eng.batch_array_add("f0.md", "tags", "y")  # 1 file < 3 -> driver loop
    assert out["updated_count"] == 1 and calls == {"dist": 1, "driver": 1}
    # explicit flag always wins over the count rule
    out = eng.batch_array_remove("f0.md", "tags", "y", distributed=True)
    assert out["updated_count"] == 1 and calls["dist"] == 2

    # batch_update auto-dispatches through the same rule
    out = eng.batch_update("*.md", set={"seen": True})
    assert out["updated_count"] == 4


def _age(paths):
    """Push each file's mtime 10 s back, so a rewrite shows in its mtime;
    returns {path: (bytes, mtime)}."""
    for p in paths:
        st = p.stat()
        os.utime(p, (st.st_atime, st.st_mtime - 10))
    return {p: (p.read_bytes(), p.stat().st_mtime) for p in paths}


@pytest.mark.parametrize("distributed", [False, True])
def test_batch_update_without_set_or_unset_writes_nothing(spark, tmp_path, distributed):
    """The server's schema requires only `glob`: with neither set nor
    unset, every parsed file is listed and none is written."""
    vault = _mutation_vault(tmp_path / "v")
    before = _age(sorted(vault.glob("*.md")))
    out = FrontmatterEngine(spark, vault).batch_update("*.md", distributed=distributed)
    assert out["updated_files"] == ["a.md", "b.md", "c.md", "plain.md"]
    assert len(out["warnings"]) == 1 and "bad.md" in out["warnings"][0]
    assert {p: (p.read_bytes(), p.stat().st_mtime) for p in before} == before


@pytest.mark.parametrize("distributed", [False, True])
def test_array_op_that_changes_nothing_writes_nothing(spark, tmp_path, distributed):
    vault = _mutation_vault(tmp_path / "v")
    (vault / "s.md").write_text("---\ntags:\n- a\n- b\n---\nBody S\n")
    before = _age(sorted(vault.glob("*.md")))
    eng = FrontmatterEngine(spark, vault)
    out = eng.batch_array_remove("*.md", "tags", "absent", distributed=distributed)
    assert out["updated_count"] == 0
    out = eng.batch_array_sort("s.md", "tags", distributed=distributed)
    assert out == {"updated_count": 0, "updated_files": []}
    assert {p: (p.read_bytes(), p.stat().st_mtime) for p in before} == before


def test_update_through_relative_base_dir(spark, tmp_path, monkeypatch):
    (tmp_path / "bd").mkdir()
    (tmp_path / "bd" / "a.md").write_text("---\nk: old\n---\nBody\n")
    monkeypatch.chdir(tmp_path)
    out = FrontmatterEngine(spark, "bd").update("a.md", set={"k": "new"})
    assert out["path"] == "a.md"
    assert parse_file(tmp_path / "bd" / "a.md", tmp_path / "bd").metadata == {"k": "new"}


def test_update_through_symlinked_base_dir(spark, tmp_path):
    (tmp_path / "real").mkdir()
    (tmp_path / "real" / "a.md").write_text("---\nk: old\n---\nBody\n")
    os.symlink(tmp_path / "real", tmp_path / "link")
    out = FrontmatterEngine(spark, tmp_path / "link").update("a.md", set={"k": "new"})
    assert out["path"] == "a.md"
    assert parse_file(tmp_path / "real" / "a.md", tmp_path / "real").metadata == {"k": "new"}

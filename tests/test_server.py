"""E2E tests for the MCP stdio serving layer (reference
tests/test_server.py:83-695 shapes: query/update/batch_* through the
public tool surface against a tmp vault)."""

from __future__ import annotations

import io
import json

import pytest

from frontmatter_mcp_spark.engine import FrontmatterEngine
from frontmatter_mcp_spark.files import parse_file
from frontmatter_mcp_spark.server import MCPServer


@pytest.fixture()
def vault(tmp_path):
    (tmp_path / "a.md").write_text(
        "---\ntitle: Alpha\npriority: 2\ntags:\n  - python\n  - mcp\n---\nBody A\n"
    )
    (tmp_path / "b.md").write_text(
        "---\ntitle: Beta\npriority: 1\ntags:\n  - duckdb\n---\nBody B\n"
    )
    return tmp_path


@pytest.fixture()
def server(spark, vault):
    return MCPServer(FrontmatterEngine(spark, vault))


def rpc(server, method, params=None, req_id=1):
    out = server.handle_line(
        json.dumps({"jsonrpc": "2.0", "id": req_id, "method": method, "params": params or {}})
    )
    assert out is not None
    return out


def call_tool(server, name, arguments):
    out = rpc(server, "tools/call", {"name": name, "arguments": arguments})
    assert "error" not in out, out
    return out["result"]


def test_initialize_handshake(server):
    out = rpc(server, "initialize", {"protocolVersion": "2024-11-05"})
    assert out["result"]["serverInfo"]["name"] == "frontmatter-mcp-spark"
    assert "tools" in out["result"]["capabilities"]
    # initialized notification gets no response
    assert (
        server.handle_line(
            json.dumps({"jsonrpc": "2.0", "method": "notifications/initialized"})
        )
        is None
    )


def test_tools_list_hides_index_tools_without_semantic(server):
    names = {t["name"] for t in rpc(server, "tools/list")["result"]["tools"]}
    assert names == {
        "query",
        "query_inspect",
        "update",
        "batch_update",
        "batch_array_add",
        "batch_array_remove",
        "batch_array_replace",
        "batch_array_sort",
        "batch_array_unique",
    }
    for tool in rpc(server, "tools/list")["result"]["tools"]:
        assert tool["inputSchema"]["type"] == "object"


def test_tools_list_shows_index_tools_with_semantic(spark, vault):
    server = MCPServer(FrontmatterEngine(spark, vault, semantic=True))
    names = {t["name"] for t in rpc(server, "tools/list")["result"]["tools"]}
    assert {"index_status", "index_wait", "index_refresh"} <= names


def test_query_through_server(server):
    result = call_tool(
        server,
        "query",
        {"glob": "*.md", "sql": "SELECT title FROM files ORDER BY priority"},
    )
    assert result["isError"] is False
    sc = result["structuredContent"]
    assert sc["row_count"] == 2
    assert [r["title"] for r in sc["results"]] == ["Beta", "Alpha"]
    # text content mirrors the structured dict
    assert json.loads(result["content"][0]["text"]) == sc


def test_query_inspect_through_server(server):
    sc = call_tool(server, "query_inspect", {"glob": "*.md"})["structuredContent"]
    assert sc["file_count"] == 2
    assert "title" in sc["schema"]


def test_update_through_server(server, vault):
    sc = call_tool(
        server,
        "update",
        {"path": "a.md", "set": {"status": "done"}, "unset": ["priority"]},
    )["structuredContent"]
    assert sc["frontmatter"]["status"] == "done"
    meta = parse_file(vault / "a.md", vault).metadata
    assert meta["status"] == "done" and "priority" not in meta


def test_batch_flow_through_server(server, vault):
    sc = call_tool(server, "batch_update", {"glob": "*.md", "set": {"reviewed": True}})[
        "structuredContent"
    ]
    assert sc["updated_count"] == 2
    sc = call_tool(
        server, "batch_array_add", {"glob": "*.md", "property": "tags", "value": "spark"}
    )["structuredContent"]
    assert sc["updated_count"] == 2
    sc = call_tool(
        server, "batch_array_sort", {"glob": "a.md", "property": "tags"}
    )["structuredContent"]
    assert sc["updated_files"] == ["a.md"]
    assert parse_file(vault / "a.md", vault).metadata["tags"] == ["mcp", "python", "spark"]
    sc = call_tool(
        server,
        "batch_array_replace",
        {"glob": "a.md", "property": "tags", "old_value": "mcp", "new_value": "model-ctx"},
    )["structuredContent"]
    assert sc["updated_count"] == 1
    sc = call_tool(
        server, "batch_array_remove", {"glob": "a.md", "property": "tags", "value": "spark"}
    )["structuredContent"]
    assert sc["updated_count"] == 1
    call_tool(server, "batch_array_add", {"glob": "a.md", "property": "tags", "value": "python",
                                          "allow_duplicates": True})
    sc = call_tool(server, "batch_array_unique", {"glob": "a.md", "property": "tags"})[
        "structuredContent"
    ]
    assert sc["updated_count"] == 1
    assert parse_file(vault / "a.md", vault).metadata["tags"] == ["model-ctx", "python"]


def test_tool_error_is_result_not_protocol_error(server):
    # path escaping the vault raises inside the engine -> isError result
    result = call_tool(server, "update", {"path": "../evil.md", "set": {"x": 1}})
    assert result["isError"] is True
    assert "escapes" in result["content"][0]["text"]


def test_protocol_errors(server):
    out = rpc(server, "no/such/method")
    assert out["error"]["code"] == -32601
    out = rpc(server, "tools/call", {"name": "nope", "arguments": {}})
    assert out["error"]["code"] == -32602
    out = rpc(server, "tools/call", {"name": "query", "arguments": {"glob": "*.md"}})
    assert out["error"]["code"] == -32602 and "sql" in out["error"]["message"]
    out = rpc(server, "tools/call", {"name": "query", "arguments": {"glob": "*", "sql": "x", "zz": 1}})
    assert out["error"]["code"] == -32602 and "zz" in out["error"]["message"]
    assert server.handle_line("not json")["error"]["code"] == -32700
    assert server.handle_line('{"jsonrpc": "1.0"}')["error"]["code"] == -32600


def test_serve_loop_stdio_roundtrip(server):
    """Full newline-delimited stdio session: handshake, list, call."""
    frames = [
        {"jsonrpc": "2.0", "id": 0, "method": "initialize", "params": {}},
        {"jsonrpc": "2.0", "method": "notifications/initialized"},
        {"jsonrpc": "2.0", "id": 1, "method": "tools/list"},
        {
            "jsonrpc": "2.0",
            "id": 2,
            "method": "tools/call",
            "params": {
                "name": "query",
                "arguments": {"glob": "*.md", "sql": "SELECT COUNT(*) AS n FROM files"},
            },
        },
        {"jsonrpc": "2.0", "id": 3, "method": "ping"},
    ]
    stdin = io.StringIO("".join(json.dumps(f) + "\n" for f in frames))
    stdout = io.StringIO()
    server.serve(stdin, stdout)
    responses = [json.loads(line) for line in stdout.getvalue().splitlines()]
    assert [r["id"] for r in responses] == [0, 1, 2, 3]  # notification skipped
    assert responses[2]["result"]["structuredContent"]["results"] == [{"n": 2}]
    assert responses[3]["result"] == {}


def test_serve_loop_survives_update_of_dated_frontmatter(server, vault):
    """An update reply carries the file's frontmatter; a YAML date in it
    arrives as its ISO string, and the loop goes on to the next frame."""
    (vault / "d.md").write_text("---\ndate: 2025-11-27\ntitle: Dated\n---\nBody D\n")
    frames = [
        {
            "jsonrpc": "2.0",
            "id": 1,
            "method": "tools/call",
            "params": {"name": "update", "arguments": {"path": "d.md", "set": {"status": "done"}}},
        },
        {"jsonrpc": "2.0", "id": 2, "method": "ping"},
    ]
    stdin = io.StringIO("".join(json.dumps(f) + "\n" for f in frames))
    stdout = io.StringIO()
    server.serve(stdin, stdout)
    responses = [json.loads(line) for line in stdout.getvalue().splitlines()]
    assert [r["id"] for r in responses] == [1, 2]
    result = responses[0]["result"]
    assert result["isError"] is False
    assert result["structuredContent"] == {
        "path": "d.md",
        "frontmatter": {"date": "2025-11-27", "title": "Dated", "status": "done"},
    }
    assert json.loads(result["content"][0]["text"]) == result["structuredContent"]
    assert responses[1]["result"] == {}

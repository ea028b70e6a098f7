"""MCP stdio server over FrontmatterEngine.

The reference's entire public API is FastMCP tool definitions served
over stdio (reference server.py:29, main() at server.py:663-675). This
module closes that gap without the fastmcp dependency: a minimal
JSON-RPC 2.0 loop speaking the MCP stdio transport (newline-delimited
JSON frames) that exposes the same tool names, parameters, and response
dicts — `query`, `query_inspect`, `update`, `batch_update`, the five
`batch_array_*` tools, and the three `index_*` tools (listed only when
semantic search is enabled, matching the reference's
``@mcp.tool(enabled=False)`` + ``.enable()`` dance).

Protocol subset implemented: ``initialize``, ``ping``, ``tools/list``,
``tools/call``, and notification handling (no response). Tool results
are returned MCP-style: a ``content`` array with the JSON text plus
``structuredContent`` carrying the same response as parsed JSON (values
JSON cannot hold, such as YAML dates, arrive as their ``str()``);
tool-level failures come back as ``isError: true`` rather than protocol
errors, per the MCP spec.

Run it: ``python -m frontmatter_mcp_spark.server`` with FRONTMATTER_*
env vars set (see settings.py).
"""

from __future__ import annotations

import json
import sys
from typing import Any, Callable, TextIO

PROTOCOL_VERSION = "2024-11-05"
SERVER_NAME = "frontmatter-mcp-spark"
SERVER_VERSION = "0.1.0"

# JSON-RPC 2.0 error codes
PARSE_ERROR = -32700
INVALID_REQUEST = -32600
METHOD_NOT_FOUND = -32601
INVALID_PARAMS = -32602


def _schema(properties: dict[str, dict], required: list[str]) -> dict:
    return {"type": "object", "properties": properties, "required": required}

_GLOB = {"type": "string", "description": "Glob pattern relative to the base directory"}
_PROP = {"type": "string", "description": "Frontmatter property name (array-valued)"}

# name -> (description, input schema, engine method, kwargs adapter)
_TOOLS: dict[str, tuple[str, dict, str]] = {
    "query": (
        "Run SQL against the frontmatter of files matching glob "
        "(table `files`, one column per frontmatter key plus `path`).",
        _schema({"glob": _GLOB, "sql": {"type": "string"}}, ["glob", "sql"]),
        "query",
    ),
    "query_inspect": (
        "Inspect the inferred schema of the files table for a glob.",
        _schema({"glob": _GLOB}, ["glob"]),
        "query_inspect",
    ),
    "update": (
        "Set/unset frontmatter properties in a single file.",
        _schema(
            {
                "path": {"type": "string"},
                "set": {"type": "object"},
                "unset": {"type": "array", "items": {"type": "string"}},
            },
            ["path"],
        ),
        "update",
    ),
    "batch_update": (
        "Set/unset frontmatter properties in all files matching glob.",
        _schema(
            {
                "glob": _GLOB,
                "set": {"type": "object"},
                "unset": {"type": "array", "items": {"type": "string"}},
            },
            ["glob"],
        ),
        "batch_update",
    ),
    "batch_array_add": (
        "Append a value to an array property in matching files.",
        _schema(
            {
                "glob": _GLOB,
                "property": _PROP,
                "value": {},
                "allow_duplicates": {"type": "boolean", "default": False},
            },
            ["glob", "property", "value"],
        ),
        "batch_array_add",
    ),
    "batch_array_remove": (
        "Remove the first occurrence of a value from an array property.",
        _schema({"glob": _GLOB, "property": _PROP, "value": {}}, ["glob", "property", "value"]),
        "batch_array_remove",
    ),
    "batch_array_replace": (
        "Replace the first occurrence of a value in an array property.",
        _schema(
            {"glob": _GLOB, "property": _PROP, "old_value": {}, "new_value": {}},
            ["glob", "property", "old_value", "new_value"],
        ),
        "batch_array_replace",
    ),
    "batch_array_sort": (
        "Sort an array property in matching files.",
        _schema(
            {"glob": _GLOB, "property": _PROP, "reverse": {"type": "boolean", "default": False}},
            ["glob", "property"],
        ),
        "batch_array_sort",
    ),
    "batch_array_unique": (
        "Dedupe an array property preserving first-occurrence order.",
        _schema({"glob": _GLOB, "property": _PROP}, ["glob", "property"]),
        "batch_array_unique",
    ),
}

_INDEX_TOOLS: dict[str, tuple[str, dict, str]] = {
    "index_status": (
        "Status of the semantic embedding index.",
        _schema({}, []),
        "index_status",
    ),
    "index_wait": (
        "Wait for the semantic index to become ready.",
        _schema({"timeout": {"type": "number"}}, []),
        "index_wait",
    ),
    "index_refresh": (
        "Trigger a semantic index refresh.",
        _schema({}, []),
        "index_refresh",
    ),
}


class MCPServer:
    """JSON-RPC request dispatcher over one FrontmatterEngine."""

    def __init__(self, engine: Any) -> None:
        self.engine = engine
        self.tools = dict(_TOOLS)
        if getattr(engine, "semantic_enabled", False):
            self.tools.update(_INDEX_TOOLS)
        self._methods: dict[str, Callable[[dict], Any]] = {
            "initialize": self._initialize,
            "ping": lambda params: {},
            "tools/list": self._tools_list,
            "tools/call": self._tools_call,
        }

    # -- protocol methods ------------------------------------------------
    def _initialize(self, params: dict) -> dict:
        return {
            "protocolVersion": PROTOCOL_VERSION,
            "capabilities": {"tools": {}},
            "serverInfo": {"name": SERVER_NAME, "version": SERVER_VERSION},
        }

    def _tools_list(self, params: dict) -> dict:
        return {
            "tools": [
                {"name": name, "description": desc, "inputSchema": schema}
                for name, (desc, schema, _) in self.tools.items()
            ]
        }

    def _tools_call(self, params: dict) -> dict:
        name = params.get("name")
        if name not in self.tools:
            raise _RpcError(INVALID_PARAMS, f"Unknown tool: {name}")
        _, schema, method = self.tools[name]
        args = params.get("arguments") or {}
        missing = [k for k in schema["required"] if k not in args]
        if missing:
            raise _RpcError(INVALID_PARAMS, f"Missing required arguments: {missing}")
        unknown = [k for k in args if k not in schema["properties"]]
        if unknown:
            raise _RpcError(INVALID_PARAMS, f"Unexpected arguments: {unknown}")
        try:
            result = getattr(self.engine, method)(**args)
        except Exception as e:  # noqa: BLE001 — tool errors are results, not protocol errors
            return {
                "content": [{"type": "text", "text": f"{type(e).__name__}: {e}"}],
                "isError": True,
            }
        text = json.dumps(result, default=str)
        # the structured copy is the text's JSON, not the engine's dict:
        # frontmatter values such as YAML dates are not JSON types, and
        # serve() must be able to write the reply line
        return {
            "content": [{"type": "text", "text": text}],
            "structuredContent": json.loads(text),
            "isError": False,
        }

    # -- JSON-RPC plumbing ----------------------------------------------
    def handle_line(self, line: str) -> dict | None:
        """One JSON-RPC frame in, one (or None for notifications) out."""
        try:
            req = json.loads(line)
        except ValueError as e:
            return _error_response(None, PARSE_ERROR, f"Parse error: {e}")
        if not isinstance(req, dict) or req.get("jsonrpc") != "2.0" or "method" not in req:
            return _error_response(req.get("id") if isinstance(req, dict) else None,
                                   INVALID_REQUEST, "Invalid request")
        req_id = req.get("id")
        method = req["method"]
        if method.startswith("notifications/"):
            return None
        handler = self._methods.get(method)
        if handler is None:
            if req_id is None:
                return None  # unknown notification: ignore
            return _error_response(req_id, METHOD_NOT_FOUND, f"Method not found: {method}")
        try:
            result = handler(req.get("params") or {})
        except _RpcError as e:
            return _error_response(req_id, e.code, e.message)
        return {"jsonrpc": "2.0", "id": req_id, "result": result}

    def serve(self, stdin: TextIO, stdout: TextIO) -> None:
        """Blocking newline-delimited JSON-RPC loop (MCP stdio transport)."""
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            resp = self.handle_line(line)
            if resp is not None:
                stdout.write(json.dumps(resp) + "\n")
                stdout.flush()


class _RpcError(Exception):
    def __init__(self, code: int, message: str) -> None:
        super().__init__(message)
        self.code = code
        self.message = message


def _error_response(req_id: Any, code: int, message: str) -> dict:
    return {"jsonrpc": "2.0", "id": req_id, "error": {"code": code, "message": message}}


def main() -> None:
    """Entry point mirroring reference server.py:663-675: settings from
    env, semantic indexer started when enabled, then serve stdio."""
    from frontmatter_mcp_spark.engine import FrontmatterEngine
    from frontmatter_mcp_spark.session import get_spark

    spark = get_spark(app_name=SERVER_NAME)
    engine = FrontmatterEngine.from_settings(spark)
    if engine.semantic_enabled and engine.indexer is not None:
        engine.indexer.start()
    MCPServer(engine).serve(sys.stdin, sys.stdout)


if __name__ == "__main__":
    main()

"""MCP (Model Context Protocol) adapter over the serving reader.

The reference's flagship consumer surface is an MCP server whose
`search_files` tool answers agent queries over the index
(/root/reference/src/mcp-server.ts:338-441). This module is the same
surface for this engine: a stdio JSON-RPC 2.0 loop (newline-delimited
messages, the MCP stdio transport) exposing

  * search_files    — BM25 / phrase / proximity / tier-ladder top-k
    with urls
  * find_references — per-doc token positions of a symbol (the
    reference's positional lookup tool, src/mcp-server.ts:763-847 —
    served from positional postings, not an AST walk)
  * get_definition  — definition sites of a symbol (keyword-phrase
    probes over positional postings — the pattern-match analog of the
    reference's tree-sitter walk, src/code-intel.ts:154-332)
  * index_stats     — corpus + read-amplification counters
  * analyze_intent  — query intent class + keywords + typed entities
                      (the reference's analyze_intent,
                      src/mcp-server.ts:187-202 → functions/intent.py)
  * session_start / session_list / session_info / session_end /
    session_record_view — agent-session context carryover (reference
    src/mcp-server.ts:204-313): parquet sidecar sessions
    (mantic_sh_spark/sessions.py), viewed docs deterministically
    boosted in that session's later searches (pass sessionId to
    search_files)
  * get_context     — zero-query working-context summary (reference
                      src/mcp-server.ts:315-332)

backed by ONE long-lived `serve.IndexReader` — no per-query process
spawn and no Spark job on the query path (the reference shells out via
execSync per query, src/mcp-server.ts:365; here the reader's hot-term
LRU and metadata memo persist across calls, which is where the 3-19×
latency win over the reference's published numbers comes from).

Protocol subset implemented (enough for any MCP client to drive it):
  initialize → capabilities/serverInfo handshake
  notifications/initialized → acknowledged silently
  tools/list → the eleven tool schemas
  tools/call → dispatch, result as MCP text content
  ping → {}
Unknown methods get a JSON-RPC -32601; malformed requests never kill
the loop (same discipline as serve.serve_loop).
"""

from __future__ import annotations

import json
import time

from .serve import IndexReader

PROTOCOL_VERSION = "2025-06-18"
SERVER_INFO = {"name": "mantic-sh-spark", "version": "0.3.0"}

TOOLS = [
    {
        "name": "search_files",
        "description": (
            "Full-text search over the indexed corpus. Returns the top-k "
            "documents ranked by BM25 (or exact/sloppy phrase match when "
            "phrase=true, or the exact-title-match-wins tier ladder when "
            "tiered=true), with their urls and scores."
        ),
        "inputSchema": {
            "type": "object",
            "properties": {
                "query": {"type": "string", "description": "search terms or phrase"},
                "maxResults": {"type": "integer", "default": 10, "minimum": 1},
                "phrase": {"type": "boolean", "default": False,
                           "description": "exact in-order phrase match (positional index)"},
                "tiered": {"type": "boolean", "default": False,
                           "description": "R1 tier ladder: exact title/lead "
                                          "containment ranks above BM25"},
                "slop": {"type": "integer", "default": 0,
                         "description": "max extra tokens a phrase match may stretch"},
                "snippets": {"type": "boolean", "default": True,
                             "description": "include a context window around the first hit"},
                "budgetMs": {"type": "number",
                             "description": "soft deadline; partial results are flagged"},
                "sessionId": {"type": "string",
                              "description": "record this query in the session and apply "
                                             "its view boost (see session_start)"},
                "indexDir": {"type": "string",
                             "description": "target another committed index (LRU pool)"},
            },
            "required": ["query"],
        },
    },
    {
        "name": "find_references",
        "description": (
            "Find every occurrence of a symbol/term across the corpus. "
            "Returns per-document token positions (camelCase identifiers "
            "match as exact phrases), ranked by occurrence count."
        ),
        "inputSchema": {
            "type": "object",
            "properties": {
                "symbol": {"type": "string", "description": "identifier or term to locate"},
                "maxResults": {"type": "integer", "default": 10, "minimum": 1},
                "maxPositions": {"type": "integer", "default": 100, "minimum": 1,
                                 "description": "max token positions returned per document"},
                "indexDir": {"type": "string",
                             "description": "target another committed index (LRU pool)"},
            },
            "required": ["symbol"],
        },
    },
    {
        "name": "get_definition",
        "description": (
            "Find where a symbol is DEFINED: occurrences immediately "
            "preceded by a definition keyword (def/class/function/...), "
            "ranked by keyword priority then position."
        ),
        "inputSchema": {
            "type": "object",
            "properties": {
                "symbol": {"type": "string", "description": "identifier to locate the definition of"},
                "maxResults": {"type": "integer", "default": 10, "minimum": 1},
                "indexDir": {"type": "string",
                             "description": "target another committed index (LRU pool)"},
            },
            "required": ["symbol"],
        },
    },
    {
        "name": "index_stats",
        "description": "Corpus size, average doc length, and reader cache/read-amplification counters.",
        "inputSchema": {"type": "object", "properties": {
            "indexDir": {"type": "string",
                         "description": "target another committed index (LRU pool)"},
        }},
    },
    {
        "name": "analyze_intent",
        "description": (
            "Classify a natural-language query: intent kind (phrase / "
            "field / fuzzy / terms), extracted keywords, typed entities "
            "(url/email/version/number/identifier), and the engine the "
            "auto-router would pick."
        ),
        "inputSchema": {
            "type": "object",
            "properties": {
                "query": {"type": "string", "description": "query to analyze"},
            },
            "required": ["query"],
        },
    },
    {
        "name": "session_start",
        "description": (
            "Start an agent session for context carryover: queries and "
            "viewed docs are recorded, and viewed docs are boosted in "
            "this session's later searches (pass sessionId to "
            "search_files)."
        ),
        "inputSchema": {
            "type": "object",
            "properties": {
                "name": {"type": "string", "description": "session name (auto if absent)"},
                "intent": {"type": "string", "description": "session goal"},
                "indexDir": {"type": "string"},
            },
        },
    },
    {
        "name": "session_list",
        "description": "List sessions of this index with query/view counts.",
        "inputSchema": {"type": "object", "properties": {
            "indexDir": {"type": "string"},
        }},
    },
    {
        "name": "session_info",
        "description": "Full session detail: metadata, query history, viewed docs.",
        "inputSchema": {
            "type": "object",
            "properties": {
                "sessionId": {"type": "string"},
                "indexDir": {"type": "string"},
            },
            "required": ["sessionId"],
        },
    },
    {
        "name": "session_end",
        "description": "End a session (its recorded history stays on disk, Spark-scannable).",
        "inputSchema": {
            "type": "object",
            "properties": {
                "sessionId": {"type": "string"},
                "indexDir": {"type": "string"},
            },
            "required": ["sessionId"],
        },
    },
    {
        "name": "session_record_view",
        "description": (
            "Record docs viewed/modified during a session — these get a "
            "deterministic additive boost (+0.1 per view, capped) in the "
            "session's subsequent searches."
        ),
        "inputSchema": {
            "type": "object",
            "properties": {
                "sessionId": {"type": "string"},
                "views": {
                    "type": "array",
                    "items": {
                        "type": "object",
                        "properties": {
                            "doc_id": {"type": "integer"},
                            "url": {"type": "string"},
                            "viewed": {"type": "boolean", "default": True},
                            "modified": {"type": "boolean", "default": False},
                        },
                    },
                    "description": "docs viewed or modified",
                },
                "indexDir": {"type": "string"},
            },
            "required": ["sessionId", "views"],
        },
    },
    {
        "name": "get_context",
        "description": (
            "Zero-query working-context summary: recent queries, "
            "most-returned docs, viewed/modified docs, and suggested "
            "follow-up terms (one session, or all sessions of the index)."
        ),
        "inputSchema": {"type": "object", "properties": {
            "sessionId": {"type": "string"},
            "indexDir": {"type": "string"},
        }},
    },
]


class McpServer:
    """Stateful MCP server over a DEFAULT index plus an LRU pool of
    further indexes: every tool accepts an optional `indexDir` argument
    targeting another committed index, served from `serve.ReaderPool`
    (the reference's MCP server does the same — its tools take a repo
    path and it keeps an LRU of loaded indexes, src/cache.ts:10-47).
    Transport-agnostic: `handle` maps a parsed JSON-RPC request to a
    response dict (None for notifications), `serve_stdio` wires it to
    newline-delimited stdio."""

    _TOOL_NAMES = frozenset(
        ("search_files", "find_references", "get_definition", "index_stats",
         "analyze_intent", "session_start", "session_list", "session_info",
         "session_end", "session_record_view", "get_context"))

    def __init__(self, index_dir: str, reader: IndexReader | None = None,
                 max_readers: int = 8):
        from .serve import ReaderPool

        self.pool = ReaderPool(max_readers=max_readers)
        self._default_key = ReaderPool._key(index_dir)
        self.reader = reader if reader is not None else self.pool.get(index_dir)
        self.n_calls = 0
        self._stores: dict[str, "object"] = {}

    def _reader_for(self, args: dict) -> IndexReader:
        from .serve import ReaderPool

        idx = args.get("indexDir")
        if not idx or ReaderPool._key(idx) == self._default_key:
            # the default index is pinned on self.reader, never the
            # pool: an indexDir spelling of the default must not build
            # a duplicate reader (injected reader / LRU eviction cases)
            return self.reader
        return self.pool.get(idx)

    def _store_for(self, reader: IndexReader) -> "object":
        """SessionStore keyed by the reader's index root (sessions are
        sidecars OF an index, so an indexDir-targeted call gets that
        index's sessions)."""
        from .sessions import SessionStore

        root = str(reader.paths.root)
        store = self._stores.get(root)
        if store is None:
            store = self._stores[root] = SessionStore(root)
        return store

    # ------------------------------------------------------------ rpc
    def handle(self, req: dict) -> dict | None:
        rid = req.get("id")
        method = req.get("method", "")
        if method.startswith("notifications/"):
            return None  # notifications carry no response by protocol
        try:
            if method == "initialize":
                result = {
                    "protocolVersion": PROTOCOL_VERSION,
                    "capabilities": {"tools": {}},
                    "serverInfo": SERVER_INFO,
                }
            elif method == "ping":
                result = {}
            elif method == "tools/list":
                result = {"tools": TOOLS}
            elif method == "tools/call":
                result = self._call_tool(req.get("params") or {})
            else:
                return {"jsonrpc": "2.0", "id": rid,
                        "error": {"code": -32601, "message": f"method not found: {method}"}}
            return {"jsonrpc": "2.0", "id": rid, "result": result}
        except Exception as exc:  # tool errors surface as MCP isError results
            return {
                "jsonrpc": "2.0",
                "id": rid,
                "result": {
                    "content": [{"type": "text", "text": f"{type(exc).__name__}: {exc}"}],
                    "isError": True,
                },
            }

    # ---------------------------------------------------------- tools
    def _call_tool(self, params: dict) -> dict:
        name = params.get("name")
        args = params.get("arguments") or {}
        self.n_calls += 1
        if name not in self._TOOL_NAMES:
            # validate BEFORE resolving indexDir: an unknown tool must
            # not pay reader construction or evict a pooled reader
            raise ValueError(f"unknown tool: {name}")
        reader = self._reader_for(args)
        if name == "search_files":
            t0 = time.time()
            budget = args.get("budgetMs")
            kw = dict(
                with_urls=True,
                phrase=bool(args.get("phrase", False)),
                slop=int(args.get("slop", 0)),
                budget_ms=float(budget) if budget is not None else None,
                with_snippets=bool(args.get("snippets", True)),
            )
            k = int(args.get("maxResults", 10))
            sid = args.get("sessionId")
            if args.get("tiered") and (kw["phrase"] or sid):
                # R1 ladder is its own ranking mode: phrase and session
                # boost re-rank BM25 scores, which a tier column would
                # silently contradict — refuse the combinations loudly
                # rather than silently dropping one. budgetMs bounds it
                # like any top-k (partial answers are flagged).
                raise ValueError("tiered=true is exclusive with phrase/sessionId")
            if sid:
                from .sessions import boosted_search

                store = self._store_for(reader)
                store.check(sid)  # validate before paying for the search
                results = boosted_search(reader, store, sid, args["query"], k=k, **kw)
                store.record_query(sid, args["query"], k, results,
                                   (time.time() - t0) * 1e3)
            else:
                results = reader.search(args["query"], k=k,
                                        tiered=bool(args.get("tiered", False)), **kw)
            payload = {
                "results": results,
                "ms": round((time.time() - t0) * 1e3, 2),
            }
            if reader.truncated:
                payload["truncated"] = True
            return {
                "content": [{"type": "text", "text": json.dumps(payload)}],
                "isError": False,
            }
        if name == "analyze_intent":
            from dataclasses import asdict

            from .functions.intent import parse_query

            plan = asdict(parse_query(args["query"]))
            plan["engine"] = {"phrase": "phrase", "field": "bm25f",
                              "fuzzy": "fuzzy", "terms": "wand"}[plan["kind"]]
            return {
                "content": [{"type": "text", "text": json.dumps(plan)}],
                "isError": False,
            }
        if name in ("session_start", "session_list", "session_info",
                    "session_end", "session_record_view", "get_context"):
            store = self._store_for(reader)
            if name == "session_start":
                payload = store.start(args.get("name"), args.get("intent"))
            elif name == "session_list":
                payload = {"sessions": store.list()}
            elif name == "session_info":
                payload = store.info(args["sessionId"])
            elif name == "session_end":
                payload = store.end(args["sessionId"])
            elif name == "session_record_view":
                n = store.record_views(args["sessionId"], args.get("views") or [])
                payload = {"recorded": n}
            else:  # get_context
                payload = store.context(args.get("sessionId"))
            return {
                "content": [{"type": "text", "text": json.dumps(payload)}],
                "isError": False,
            }
        if name == "find_references":
            t0 = time.time()
            refs = reader.references(
                args["symbol"],
                k=int(args.get("maxResults", 10)),
                max_positions=int(args.get("maxPositions", 100)),
            )
            payload = {"references": refs,
                       "ms": round((time.time() - t0) * 1e3, 2)}
            return {
                "content": [{"type": "text", "text": json.dumps(payload)}],
                "isError": False,
            }
        if name == "get_definition":
            t0 = time.time()
            defs = reader.definitions(
                args["symbol"], k=int(args.get("maxResults", 10)))
            payload = {"definitions": defs,
                       "ms": round((time.time() - t0) * 1e3, 2)}
            return {
                "content": [{"type": "text", "text": json.dumps(payload)}],
                "isError": False,
            }
        if name == "index_stats":
            payload = {
                "n_docs": reader.n_docs,
                "avgdl": reader.avgdl,
                "calls": self.n_calls,
                **reader.counters(),
            }
            gated = reader.gated_segments
            if gated:
                # fold health: segments this reader is gating out (an
                # in-flight or crashed extend/merge fold — heals on the
                # next mutation's GC pass)
                payload["gated_segments"] = gated
            return {
                "content": [{"type": "text", "text": json.dumps(payload)}],
                "isError": False,
            }
        raise ValueError(f"unknown tool: {name}")


def serve_stdio(index_dir: str, stdin=None, stdout=None) -> int:
    """Newline-delimited JSON-RPC over stdio (MCP stdio transport).
    Returns the number of requests handled. The loop never dies on a
    malformed line — parse errors answer JSON-RPC -32700."""
    import sys

    stdin = stdin if stdin is not None else sys.stdin
    stdout = stdout if stdout is not None else sys.stdout
    server = McpServer(index_dir)
    handled = 0
    for line in stdin:
        line = line.strip()
        if not line:
            continue
        try:
            req = json.loads(line)
        except ValueError:
            print(json.dumps({"jsonrpc": "2.0", "id": None,
                              "error": {"code": -32700, "message": "parse error"}}),
                  file=stdout, flush=True)
            continue
        handled += 1
        resp = server.handle(req)
        if resp is not None:
            print(json.dumps(resp), file=stdout, flush=True)
    return handled

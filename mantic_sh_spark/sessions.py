"""Agent-session tracking over the serving surface.

Reference analog: the MCP session machinery — session_start /
session_list / session_info / session_end / session_record_view tools
(/root/reference/src/mcp-server.ts:204-313) whose point is CONTEXT
CARRYOVER: files viewed in a session are boosted in that session's
later searches.

Layout: one parquet sidecar directory per session under
`<index>/sessions/<session_id>/`:

  meta-*.parquet   (session_id, name, intent, started_at, ended_at)
  log-*.parquet    (ts, q, k, n_results, ms, top_doc_ids) — the
                   serve.QueryLog schema, so the R13 session-boost
                   join (serve.session_doc_boost) reads it unchanged
  views-*.parquet  (ts, doc_id, url, viewed, modified)

Everything is columnar and Spark-scannable (the S9 sink discipline):
`spark.read.parquet(f"{index}/sessions/<id>/log-*")` is a valid
analytics input. Writes are process-local pyarrow appends — serving-
plane state, no Spark job, same as QueryLog. Mutating the index never
touches sessions (they reference doc ids, and the boost path re-checks
liveness at query time).

Boost semantics (documented, deterministic, OPT-IN — the rank-identity
path is untouched unless a sessionId is passed): a doc viewed v times
in the session gets `score + 0.1 * min(v, 5)`, re-rounded to 4
decimals, tie-break doc_id asc — the additive prior-join shape of the
`context_boost` oracle entry (R6/R13), applied reader-side over the
BOUNDED viewed set (viewed docs get exact BM25 scores via
IndexReader._scores_for_docs, so a viewed doc competes even from far
outside the unboosted top-k; tombstoned docs are dropped first).
"""

from __future__ import annotations

import json
import os
import time

VIEW_BOOST = 0.1  # per view, capped at 5 views (see module docstring)
VIEW_CAP = 5


def _write_rows(path: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def _meta_cols(meta: dict) -> dict:
    """Explicitly-typed meta row: ended_at must be float64 even when
    None, or the start file (null type) and the end marker (double)
    fail to concat on read."""
    import pyarrow as pa

    return {
        "session_id": pa.array([meta["session_id"]], pa.string()),
        "name": pa.array([meta["name"]], pa.string()),
        "intent": pa.array([meta["intent"]], pa.string()),
        "started_at": pa.array([meta["started_at"]], pa.float64()),
        "ended_at": pa.array([meta["ended_at"]], pa.float64()),
    }


def _read_dir(d: str, prefix: str) -> "object | None":
    """Concat all `<prefix>-*.parquet` files in d, or None."""
    import pyarrow.parquet as pq

    files = sorted(
        os.path.join(d, f) for f in os.listdir(d)
        if f.startswith(prefix + "-") and f.endswith(".parquet")
    ) if os.path.isdir(d) else []
    if not files:
        return None
    import pyarrow as pa

    return pa.concat_tables([pq.read_table(f) for f in files])


class SessionStore:
    """Process-local store over `<index>/sessions/` (safe to reopen —
    all state is on disk; a second process sees committed sessions)."""

    def __init__(self, index_dir: str):
        self.root = os.path.join(index_dir, "sessions")
        self._seq = 0

    def _dir(self, session_id: str) -> str:
        # ids are generated by start(); reject path-escaping ids from
        # clients before touching the filesystem
        if not session_id or "/" in session_id or ".." in session_id:
            raise ValueError(f"invalid session id: {session_id!r}")
        return os.path.join(self.root, session_id)

    # ------------------------------------------------------ lifecycle
    def start(self, name: str | None = None, intent: str | None = None) -> dict:
        self._seq += 1
        # ns timestamp + pid + per-store seq + random suffix: two stores
        # in one process starting within the same tick must not share a
        # directory (review r4 finding)
        sid = (f"s{time.time_ns():x}-{os.getpid():x}-{self._seq}-"
               f"{os.urandom(3).hex()}")
        d = self._dir(sid)
        os.makedirs(d, exist_ok=True)
        meta = {
            "session_id": sid,
            "name": name or sid,
            "intent": intent or "",
            "started_at": time.time(),
            "ended_at": None,
        }
        _write_rows(os.path.join(d, "meta-0.parquet"), _meta_cols(meta))
        return meta

    def _meta(self, session_id: str) -> dict:
        t = _read_dir(self._dir(session_id), "meta")
        if t is None:
            raise FileNotFoundError(f"no session {session_id!r}")
        rows = t.to_pylist()
        # the end() marker is a second meta file; latest ended_at wins
        out = rows[0]
        for r in rows[1:]:
            if r.get("ended_at") is not None:
                out = {**out, "ended_at": r["ended_at"]}
        return out

    def check(self, session_id: str) -> None:
        """Raise if the session does not exist — callers validate
        BEFORE paying for a search (review r4 finding: an unknown
        sessionId must not run the full query and then error on the
        record step)."""
        self._meta(session_id)

    def end(self, session_id: str) -> dict:
        meta = self._meta(session_id)
        if meta["ended_at"] is None:
            meta["ended_at"] = time.time()
            _write_rows(
                os.path.join(self._dir(session_id), f"meta-{int(time.time() * 1e6)}.parquet"),
                _meta_cols(meta),
            )
        return meta

    def list(self) -> list[dict]:
        if not os.path.isdir(self.root):
            return []
        out = []
        for sid in sorted(os.listdir(self.root)):
            try:
                meta = self._meta(sid)
            except (FileNotFoundError, ValueError):
                continue
            log = _read_dir(self._dir(sid), "log")
            views = _read_dir(self._dir(sid), "views")
            meta["n_queries"] = log.num_rows if log is not None else 0
            meta["n_views"] = views.num_rows if views is not None else 0
            out.append(meta)
        return out

    def info(self, session_id: str) -> dict:
        meta = self._meta(session_id)
        log = _read_dir(self._dir(session_id), "log")
        views = _read_dir(self._dir(session_id), "views")
        meta["queries"] = (
            [] if log is None
            else [{"q": r["q"], "n_results": r["n_results"], "ms": r["ms"]}
                  for r in sorted(log.to_pylist(), key=lambda r: r["ts"])]
        )
        meta["views"] = (
            [] if views is None
            else [{"doc_id": r["doc_id"], "url": r["url"], "modified": r["modified"]}
                  for r in sorted(views.to_pylist(), key=lambda r: r["ts"])]
        )
        return meta

    # ------------------------------------------------------ recording
    def record_query(self, session_id: str, q: str, k: int,
                     results: list[dict], ms: float) -> None:
        d = self._dir(session_id)
        if not os.path.isdir(d):
            raise FileNotFoundError(f"no session {session_id!r}")
        import pyarrow as pa

        # EXACT serve.QueryLog column types (k/n_results int32): a job
        # unioning a serve-loop log dir with session log dirs must not
        # hit an int32-vs-int64 schema merge conflict (review r4
        # finding; QueryLog.SCHEMA_COLS is the shared contract)
        _write_rows(
            os.path.join(d, f"log-{int(time.time() * 1e6)}.parquet"),
            {
                "ts": pa.array([time.time()], pa.float64()),
                "q": pa.array([q], pa.string()),
                "k": pa.array([int(k)], pa.int32()),
                "n_results": pa.array([len(results)], pa.int32()),
                "ms": pa.array([float(ms)], pa.float64()),
                "top_doc_ids": pa.array(
                    [[int(r["doc_id"]) for r in results]], pa.list_(pa.int64())
                ),
            },
        )

    def record_views(self, session_id: str, views: list[dict]) -> int:
        """views: [{doc_id | url, viewed?, modified?}] — returns the
        number of rows recorded. doc_id is authoritative; a url-only
        view is stored with doc_id=-1 (boost path ignores it)."""
        d = self._dir(session_id)
        if not os.path.isdir(d):
            raise FileNotFoundError(f"no session {session_id!r}")
        if not views:
            return 0
        now = time.time()
        _write_rows(
            os.path.join(d, f"views-{int(now * 1e6)}.parquet"),
            {
                "ts": [now] * len(views),
                "doc_id": [int(v.get("doc_id", -1)) for v in views],
                "url": [str(v.get("url", "")) for v in views],
                "viewed": [bool(v.get("viewed", True)) for v in views],
                "modified": [bool(v.get("modified", False)) for v in views],
            },
        )
        return len(views)

    # ---------------------------------------------------------- boost
    def view_counts(self, session_id: str) -> dict[int, int]:
        """doc_id → times viewed (doc_id >= 0 only)."""
        views = _read_dir(self._dir(session_id), "views")
        if views is None:
            return {}
        out: dict[int, int] = {}
        for doc in views.column("doc_id").to_pylist():
            if doc >= 0:
                out[doc] = out.get(doc, 0) + 1
        return out

    # --------------------------------------------------------- context
    def context(self, session_id: str | None = None) -> dict:
        """Zero-query working-context summary (the reference's
        get_context tool, src/mcp-server.ts:315-332, re-expressed for a
        retrieval corpus): recent queries, the session's most-returned
        docs, viewed/modified docs, and suggested follow-up terms —
        query terms that co-occurred with the most-viewed docs but were
        not yet queried themselves. All derived from the session
        sidecars; no index scan. An explicitly named session must
        exist — a typo'd id must not read as 'fresh empty session'
        (review r4 finding)."""
        if session_id:
            self._meta(session_id)  # raises FileNotFoundError if absent
        sids = [session_id] if session_id else [m["session_id"] for m in self.list()]
        queries: list[tuple[float, str]] = []
        doc_hits: dict[int, int] = {}
        views: list[dict] = []
        for sid in sids:
            log = _read_dir(self._dir(sid), "log")
            if log is not None:
                for r in log.to_pylist():
                    queries.append((r["ts"], r["q"]))
                    for doc in r["top_doc_ids"]:
                        doc_hits[doc] = doc_hits.get(doc, 0) + 1
            v = _read_dir(self._dir(sid), "views")
            if v is not None:
                views.extend(v.to_pylist())
        queries.sort()
        from .functions.tokenize import tokenize_query

        seen_terms = {t for _, q in queries for t in tokenize_query(q)}
        # suggested terms: tokens of viewed docs' urls not yet queried
        # (cheap, deterministic; url slugs are the corpus's "titles")
        sugg: dict[str, int] = {}
        for v in views:
            for t in tokenize_query(v.get("url") or ""):
                if t not in seen_terms:
                    sugg[t] = sugg.get(t, 0) + 1
        top_docs = sorted(doc_hits.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        return {
            "recent_queries": [q for _, q in queries[-10:]],
            "top_docs": [{"doc_id": d, "hits": h} for d, h in top_docs],
            "viewed": [
                {"doc_id": v["doc_id"], "url": v["url"], "modified": v["modified"]}
                for v in sorted(views, key=lambda v: v["ts"])[-20:]
            ],
            "suggested_terms": [
                t for t, _ in sorted(sugg.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
            ],
            "n_sessions": len(sids),
        }


def boosted_search(reader, store: SessionStore, session_id: str, query: str,
                   k: int = 10, **search_kw) -> list[dict]:
    """search_files with session context carryover: run the reader
    search WITHOUT url/snippet decoration, give every LIVE viewed doc
    its exact BM25 score plus the view bump, merge, re-rank (score
    desc, doc_id asc, 4-decimal rounding — the global determinism
    contract), cut to k, THEN decorate only the final k rows. The
    viewed set is bounded (session-sized), so this adds one
    _scores_for_docs lookup, never a rescan — and because viewed docs
    get exact scores regardless of base membership, BM25 mode needs
    only a k-deep base search (a base doc below rank k can never enter
    the merged top-k). Phrase mode ranks by n_matches, which cannot be
    synthesized for docs the phrase engine did not match — there the
    base is widened by the viewed count instead and only matched docs
    are bumped. Every returned row has the same shape (url/snippet
    present on all rows or none — review r4 finding)."""
    import numpy as np

    from .functions.tokenize import tokenize_query

    with_urls = bool(search_kw.pop("with_urls", False))
    with_snippets = bool(search_kw.pop("with_snippets", False))
    snippet_width = int(search_kw.pop("snippet_width", 160))
    counts = store.view_counts(session_id)
    phrase_mode = bool(search_kw.get("phrase"))
    base_k = k + len(counts) if phrase_mode else k
    base = reader.search(query, k=base_k, **search_kw)
    terms = sorted(set(tokenize_query(query)))
    key = "n_matches" if phrase_mode else "score"
    merged: dict[int, dict] = {r["doc_id"]: dict(r) for r in base}
    if counts:
        ids = np.array(sorted(counts), dtype=np.int64)
        # liveness: never resurrect a tombstoned doc through the boost
        ids = ids[reader.live_mask(ids)]
        scores = (
            reader._scores_for_docs(terms, ids) if len(ids) and not phrase_mode else {}
        )
        for doc in ids.tolist():
            bump = VIEW_BOOST * min(counts[doc], VIEW_CAP)
            if doc in merged:
                merged[doc][key] = round(float(merged[doc][key]) + bump, 4)
                merged[doc]["boosted"] = True
            elif scores.get(doc, 0.0) > 0.0:
                merged[doc] = {"doc_id": doc, key: round(scores[doc] + bump, 4),
                               "boosted": True}
    rows = sorted(merged.values(), key=lambda r: (-float(r[key]), r["doc_id"]))[:k]
    final_ids = [r["doc_id"] for r in rows]
    url_map = reader.urls(final_ids) if with_urls and final_ids else {}
    snip_map = (
        reader.snippets(final_ids, tokenize_query(query), width=snippet_width)
        if with_snippets and final_ids else {}
    )
    for i, r in enumerate(rows):
        r["rank"] = i + 1
        if with_urls:
            r["url"] = url_map.get(r["doc_id"])
        if with_snippets:
            r["snippet"] = snip_map.get(r["doc_id"])
    return rows

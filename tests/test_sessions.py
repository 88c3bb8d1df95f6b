"""Agent-session machinery (reference: session_* MCP tools,
src/mcp-server.ts:204-332): parquet sidecar sessions, deterministic
view boost with liveness, intent analysis, zero-query context."""

import json
import os

import pytest

from mantic_sh_spark.mcp import McpServer
from mantic_sh_spark.serve import IndexReader


def _call(srv, name, args, rid=1):
    resp = srv.handle({"jsonrpc": "2.0", "id": rid, "method": "tools/call",
                       "params": {"name": name, "arguments": args}})
    assert resp["result"].get("isError") is False, resp
    return json.loads(resp["result"]["content"][0]["text"])


def test_session_lifecycle_and_boost(spark, small_corpus):
    idx = small_corpus["index_dir"]
    reader = IndexReader(idx)
    srv = McpServer(idx, reader=reader)

    meta = _call(srv, "session_start", {"name": "bughunt", "intent": "find w1x docs"})
    sid = meta["session_id"]
    assert meta["name"] == "bughunt" and meta["ended_at"] is None

    # a session search with NO views is identical to the plain search
    q = "w1x w5x"
    plain = _call(srv, "search_files", {"query": q, "maxResults": 5})["results"]
    sess = _call(srv, "search_files", {"query": q, "maxResults": 5,
                                       "sessionId": sid})["results"]
    assert sess == plain

    # view the rank-4 doc three times → +0.3, deterministic re-rank
    victim = plain[3]
    _call(srv, "session_record_view",
          {"sessionId": sid,
           "views": [{"doc_id": victim["doc_id"], "url": victim["url"]}] * 3})
    boosted = _call(srv, "search_files", {"query": q, "maxResults": 5,
                                          "sessionId": sid})["results"]
    got = next(r for r in boosted if r["doc_id"] == victim["doc_id"])
    assert got["score"] == round(victim["score"] + 0.3, 4)
    assert got["boosted"] is True
    new_rank = boosted.index(got)
    assert new_rank <= 3  # never sinks; here the bump lifts it
    # everything still sorted by (score desc, doc_id asc)
    keys = [(-r["score"], r["doc_id"]) for r in boosted]
    assert keys == sorted(keys)

    # history: 3 queries recorded (incl. the pre-view one), views listed
    info = _call(srv, "session_info", {"sessionId": sid})
    assert [r["q"] for r in info["queries"]] == [q, q]
    assert len(info["views"]) == 3 and info["views"][0]["doc_id"] == victim["doc_id"]

    # list + end
    sessions = _call(srv, "session_list", {})["sessions"]
    mine = next(s for s in sessions if s["session_id"] == sid)
    assert mine["n_queries"] == 2 and mine["n_views"] == 3
    ended = _call(srv, "session_end", {"sessionId": sid})
    assert ended["ended_at"] is not None

    # zero-query context: recent queries + the viewed doc + suggested
    # follow-up terms from the viewed url's tokens (minus queried ones)
    ctx = _call(srv, "get_context", {"sessionId": sid})
    assert ctx["recent_queries"] == [q, q]
    assert ctx["top_docs"][0]["hits"] >= 1
    assert any(v["doc_id"] == victim["doc_id"] for v in ctx["viewed"])
    assert "w1x" not in ctx["suggested_terms"] and "w5x" not in ctx["suggested_terms"]

    # unknown session and path-escaping ids are rejected cleanly —
    # on info, on context (a typo must not read as an empty session),
    # and on search_files BEFORE the query runs
    for tool, extra in (("session_info", {}), ("get_context", {}),
                        ("search_files", {"query": q})):
        resp = srv.handle({"jsonrpc": "2.0", "id": 9, "method": "tools/call",
                           "params": {"name": tool,
                                      "arguments": {"sessionId": "no-such", **extra}}})
        assert resp["result"]["isError"] is True, tool
    resp = srv.handle({"jsonrpc": "2.0", "id": 10, "method": "tools/call",
                       "params": {"name": "session_info",
                                  "arguments": {"sessionId": "../escape"}}})
    assert resp["result"]["isError"] is True

    # every result row has the same shape (boosted-in rows included)
    shapes = {tuple(sorted(r)) for r in boosted}
    assert len(shapes) <= 2  # 'boosted' key is the only divergence
    assert all("url" in r and "snippet" in r for r in boosted)

    # log sidecar types match serve.QueryLog exactly (union-safe)
    import pyarrow.parquet as pq
    from mantic_sh_spark.sessions import SessionStore

    store = SessionStore(idx)
    d = store._dir(sid)
    import os
    log_file = next(os.path.join(d, f) for f in sorted(os.listdir(d))
                    if f.startswith("log-"))
    sch = pq.read_schema(log_file)
    assert str(sch.field("k").type) == "int32"
    assert str(sch.field("n_results").type) == "int32"


def test_boost_never_resurrects_deleted_doc(spark, tmp_path):
    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=120, vocab_size=150, seed=5),
                      partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)
    reader = IndexReader(idx)
    srv = McpServer(idx, reader=reader)
    sid = _call(srv, "session_start", {})["session_id"]

    plain = _call(srv, "search_files", {"query": "w1x", "maxResults": 5})["results"]
    victim = plain[0]
    _call(srv, "session_record_view",
          {"sessionId": sid, "views": [{"doc_id": victim["doc_id"]}] * 5})
    delete_docs(spark, idx, doc_ids=[victim["doc_id"]])
    reader.refresh()
    boosted = _call(srv, "search_files", {"query": "w1x", "maxResults": 5,
                                          "sessionId": sid})["results"]
    assert all(r["doc_id"] != victim["doc_id"] for r in boosted)


def test_analyze_intent_tool(spark, small_corpus):
    srv = McpServer(small_corpus["index_dir"])
    plan = _call(srv, "analyze_intent", {"query": '"exact phrase here"'})
    assert plan["kind"] == "phrase" and plan["engine"] == "phrase"
    plan2 = _call(srv, "analyze_intent",
                  {"query": "fix bug in https://ex.com/a v1.2.3"})
    assert "url" in plan2["entities"] and "version" in plan2["entities"]
    assert plan2["engine"] in ("wand", "bm25f", "fuzzy")


def test_sessions_are_spark_scannable(spark, small_corpus):
    """S9 contract: session sidecars are ordinary parquet tables — the
    R13 session-boost join (serve.session_doc_boost) reads a session's
    log dir unchanged."""
    from mantic_sh_spark.serve import session_doc_boost
    from mantic_sh_spark.sessions import SessionStore

    idx = small_corpus["index_dir"]
    reader = IndexReader(idx)
    srv = McpServer(idx, reader=reader)
    sid = _call(srv, "session_start", {})["session_id"]
    _call(srv, "search_files", {"query": "w2x", "maxResults": 3, "sessionId": sid})

    store = SessionStore(idx)
    log_dir = store._dir(sid)
    boost = session_doc_boost(spark, log_dir).collect()
    assert boost and all(r.hits >= 1 for r in boost)


def test_boost_liveness_survives_tombstone_rehome(spark, tmp_path):
    """ADVICE r4: tombstones are hive-partitioned by the POSTINGS-OWNING
    segment. After a non-purge merge re-homes them under the dst
    segment, deriving the partition from doc_id // SEG_STRIDE finds
    nothing — a deleted-then-viewed doc must still stay out of the
    session-boosted top-k."""
    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=120, vocab_size=150, seed=5),
                      partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)
    reader = IndexReader(idx)
    srv = McpServer(idx, reader=reader)
    sid = _call(srv, "session_start", {})["session_id"]

    plain = _call(srv, "search_files", {"query": "w1x", "maxResults": 5})["results"]
    victim = plain[0]
    _call(srv, "session_record_view",
          {"sessionId": sid, "views": [{"doc_id": victim["doc_id"]}] * 5})
    delete_docs(spark, idx, doc_ids=[victim["doc_id"]])
    # non-purge merge: postings move to a fresh dst segment and the
    # victim's tombstone is re-homed under it — doc_id // SEG_STRIDE
    # now names a partition that no longer exists
    merge_segments(spark, idx, [0, 1], dst_segment=2, purge=False)
    reader.refresh()
    assert os.path.isdir(f"{idx}/tombstones/segment_id=2"), \
        "re-homed tombstone partition expected"
    boosted = _call(srv, "search_files", {"query": "w1x", "maxResults": 5,
                                          "sessionId": sid})["results"]
    assert all(r["doc_id"] != victim["doc_id"] for r in boosted)

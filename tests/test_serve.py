"""Serving path (serve.IndexReader + serve_loop): must be value-
identical to the distributed WAND engine, hot-cache correctly, and
pick up index mutations on refresh."""

import io
import json

import pytest

from mantic_sh_spark.operators.wand import wand_topk
from mantic_sh_spark.serve import IndexReader, serve_loop
from mantic_sh_spark.sources.synth import SynthConfig, gen_queries


def _spark_results(spark, idx, queries, k):
    out = {}
    for qid, q in queries:
        rows = wand_topk(spark, idx, [(0, q)], k=k).collect()
        out[q] = [(r.doc_id, round(r.score, 4)) for r in sorted(rows, key=lambda r: r.rank)]
    return out


def test_reader_matches_wand(spark, small_corpus):
    idx = small_corpus["index_dir"]
    queries = gen_queries(small_corpus["cfg"], n_queries=12)
    expected = _spark_results(spark, idx, queries, k=8)

    reader = IndexReader(idx)
    for _, q in queries:
        got = [(d, round(s, 4)) for d, s in reader.topk(q, k=8)]
        assert got == expected[q], q
    # absent term → empty, no error
    assert reader.topk("qqabsentterm", k=5) == []
    # hot-term LRU populated after the query sweep
    assert len(reader._blocks_lru) > 0


def test_reader_urls_and_search(spark, small_corpus):
    reader = IndexReader(small_corpus["index_dir"])
    res = reader.search("w1x w2x", k=5, with_urls=True)
    assert len(res) == 5
    assert res[0]["rank"] == 1 and res[0]["url"].startswith("https://")
    assert [r["score"] for r in res] == sorted((r["score"] for r in res), reverse=True)


def test_serve_loop_end_to_end(spark, small_corpus):
    idx = small_corpus["index_dir"]
    reqs = "\n".join([
        json.dumps({"op": "ping"}),
        json.dumps({"q": "w1x w5x", "k": 3, "urls": True}),
        json.dumps({"q": "qqabsentterm"}),
        "not json at all",
        json.dumps({"op": "refresh"}),
        json.dumps({"q": "w1x w5x", "k": 3}),
        json.dumps({"op": "quit"}),
    ])
    out = io.StringIO()
    served = serve_loop(idx, stdin=io.StringIO(reqs), stdout=out)
    lines = [json.loads(line) for line in out.getvalue().splitlines()]
    assert served == 3
    assert lines[0]["ok"] and lines[0]["n_docs"] == 400
    assert len(lines[1]["results"]) == 3 and lines[1]["results"][0]["url"]
    assert lines[2]["results"] == []
    assert "error" in lines[3]
    assert lines[4]["ok"]
    # same query, same docs/scores before and after refresh
    assert [(r["doc_id"], r["score"]) for r in lines[5]["results"]] == [
        (r["doc_id"], r["score"]) for r in lines[1]["results"]
    ]


def test_reader_refresh_sees_deletes(spark, small_corpus, tmp_path):
    """Tombstone → refresh → the deleted doc disappears from serving
    results (parity with the wand/phrase live-docs discipline)."""
    import shutil

    from mantic_sh_spark.operators.delete import delete_docs

    idx = str(tmp_path / "idx_copy")
    shutil.copytree(small_corpus["index_dir"], idx)
    reader = IndexReader(idx)
    before = reader.topk("w1x w3x", k=5)
    victim = before[0][0]

    delete_docs(spark, idx, doc_ids=[victim])
    # stale until refresh (the reader is an immutable-snapshot view)
    reader.refresh()
    after = reader.topk("w1x w3x", k=5)
    assert victim not in {d for d, _ in after}
    assert {d for d, _ in before[1:]} <= {d for d, _ in after}


def test_reader_refuses_other_format_generation(spark, small_corpus, tmp_path):
    """The block layout is versioned: a reader refuses an index whose
    format marker is not INDEX_FORMAT — at open and on refresh() of an
    already-open reader — instead of decoding its blocks into wrong
    doc ids."""
    import shutil

    import pandas as pd
    import pytest

    from mantic_sh_spark.operators.index_build import INDEX_FORMAT
    from mantic_sh_spark.sources.catalog import IndexPaths, write_small_parquet

    idx = str(tmp_path / "idx_copy")
    shutil.copytree(small_corpus["index_dir"], idx)
    reader = IndexReader(idx)
    assert reader.topk("w1x", k=3)
    write_small_parquet(spark, IndexPaths(idx).format_marker,
                        pd.DataFrame({"version": pd.array([5], dtype="int32")}), "version int")
    assert INDEX_FORMAT != 5
    with pytest.raises(RuntimeError, match="format v5"):
        IndexReader(idx)
    with pytest.raises(RuntimeError, match="format v5"):
        reader.refresh()


def test_v7_index_refused_by_reader_and_wand(spark, small_corpus, tmp_path):
    """A v7-marked index (blocks that carried per-posting doc lengths)
    and a v8-marked one (per-term terms/ rows) are refused by both query
    planes with the format_mismatch error — v7 blocks would fail to
    decode, or score without the norms."""
    import shutil

    import pandas as pd
    import pytest

    from mantic_sh_spark.operators.index_build import INDEX_FORMAT
    from mantic_sh_spark.operators.wand import wand_topk
    from mantic_sh_spark.sources.catalog import IndexPaths, write_small_parquet

    assert INDEX_FORMAT == 9
    for old in (7, 8):
        idx = str(tmp_path / f"idx_v{old}")
        shutil.copytree(small_corpus["index_dir"], idx)
        write_small_parquet(spark, IndexPaths(idx).format_marker,
                            pd.DataFrame({"version": pd.array([old], dtype="int32")}),
                            "version int")
        with pytest.raises(RuntimeError, match=f"format v{old}, this code writes v9"):
            IndexReader(idx)
        with pytest.raises(RuntimeError, match=f"format v{old}, this code writes v9"):
            wand_topk(spark, idx, [(0, "w1x")], k=3)


def test_missing_norms_partition_fails_loudly(spark, small_corpus, tmp_path):
    """Blocks store no doc lengths, so a serving segment whose norms
    partition is gone cannot be scored: IndexReader.topk and wand_topk
    raise MissingDocLen naming a doc of that segment instead of
    returning scores; the per-doc scorer too. Positional-free surfaces
    that need no lengths (df) still answer."""
    import shutil

    import pytest

    from mantic_sh_spark.functions.codec import SEG_STRIDE
    from mantic_sh_spark.functions.liveness import MissingDocLen
    from mantic_sh_spark.operators.wand import wand_topk

    idx = str(tmp_path / "idx_no_norms")
    shutil.copytree(small_corpus["index_dir"], idx)
    intact = IndexReader(idx)
    assert intact.counters()["doc_lens_bytes"] == 0  # built on the first decode
    hits = intact.topk("w1x", k=5)
    assert hits and 0 < intact.counters()["doc_lens_bytes"] <= 2 * small_corpus["cfg"].n_docs
    seg = hits[0][0] // SEG_STRIDE
    shutil.rmtree(f"{idx}/norms/segment_id={seg}")
    reader = IndexReader(idx)
    assert reader.df(["w1x"])["w1x"] > 0
    with pytest.raises(MissingDocLen) as err:
        reader.topk("w1x", k=5)
    assert err.value.doc_id // SEG_STRIDE == seg
    with pytest.raises(MissingDocLen):
        reader._scores_for_docs(["w1x"], [hits[0][0]])
    with pytest.raises(Exception, match="MissingDocLen"):
        wand_topk(spark, idx, [(0, "w1x")], k=5).collect()


def test_query_log_sink_and_session_boost(spark, small_corpus, tmp_path):
    """S9/R13: the serve loop persists query history as a parquet table
    a Spark session can scan, and session_doc_boost aggregates it into
    the context-boost prior shape."""
    from mantic_sh_spark.serve import read_query_log, session_doc_boost

    idx = small_corpus["index_dir"]
    log_dir = str(tmp_path / "qlog")
    reqs = "\n".join(
        [json.dumps({"q": f"w{i}x w{i+1}x", "k": 4}) for i in range(1, 6)]
        + [json.dumps({"op": "quit"})]
    )
    served = serve_loop(idx, stdin=io.StringIO(reqs), stdout=io.StringIO(), log_dir=log_dir)
    assert served == 5

    log = read_query_log(spark, log_dir)
    rows = log.orderBy("ts").collect()
    assert len(rows) == 5
    assert rows[0].q == "w1x w2x" and rows[0].n_results == 4 and len(rows[0].top_doc_ids) == 4
    assert all(r.ms >= 0 for r in rows)

    boost = session_doc_boost(spark, log_dir)
    total = boost.agg({"hits": "sum"}).collect()[0][0]
    assert total == sum(r.n_results for r in rows)
    assert boost.filter("hits > 1").count() >= 1  # overlapping queries share docs


def test_cli_md_format(spark, small_corpus, capsys):
    from mantic_sh_spark.cli import main

    assert main(["query", "--index", small_corpus["index_dir"], "--q", "w1x w5x",
                 "--k", "3", "--format", "md"]) == 0
    out = capsys.readouterr().out
    assert "## Results for `w1x w5x`" in out and "| rank | score | url |" in out
    assert out.count("| 1 |") == 1 and "https://" in out


def test_reader_phrase_matches_spark_engine(spark, tmp_path):
    """Phrase serving: IndexReader.phrase_topk (no Spark job) must be
    value-identical to the distributed phrase engine, exact and sloppy,
    and route through the serve loop."""
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.phrase import phrase_topk
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    cfg = SynthConfig(n_docs=220, vocab_size=110, seed=53)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "posidx")
    build_index(spark, pages, idx, n_segments=2, chunk_size=64, block_size=32,
                store_positions=True)
    reader = IndexReader(idx)
    assert reader.has_positions

    for phrase, slop in (("w0x w1x", 0), ("w0x w2x", 2)):
        want = [
            (r.doc_id, r.n_matches)
            for r in phrase_topk(spark, idx, [(0, phrase)], k=50, slop=slop)
            .orderBy("rank").collect()
        ]
        got = reader.phrase_topk(phrase, k=50, slop=slop)
        assert got == want and want, (phrase, slop)

    # serve-loop routing
    out = io.StringIO()
    serve_loop(idx, stdin=io.StringIO(
        json.dumps({"q": "w0x w1x", "phrase": True, "k": 5, "urls": True}) + "\n"
        + json.dumps({"op": "quit"}) + "\n"), stdout=out)
    res = json.loads(out.getvalue().splitlines()[0])["results"]
    assert res and res[0]["rank"] == 1 and "n_matches" in res[0] and res[0]["url"]

    # find_references: per-doc match-start token positions must equal a
    # pure-Python re-tokenization oracle, for a single-term symbol and a
    # multi-token (phrase-matched) one; ranked (n_matches desc, doc asc)
    from mantic_sh_spark.functions.tokenize import tokenize as tok
    doc_toks = {r.doc_id: tok(r.text)
                for r in spark.read.parquet(f"{idx}/docs").collect()}
    for symbol, width in (("w0x", 1), ("w0x w1x", 2)):
        sym = tok(symbol)
        oracle = {}
        for d, toks in doc_toks.items():
            pos = [i for i in range(len(toks) - width + 1)
                   if toks[i:i + width] == sym]
            if pos:
                oracle[d] = pos
        refs = reader.references(symbol, k=10**6, max_positions=10**6)
        assert {r["doc_id"]: r["positions"] for r in refs} == oracle, symbol
        assert [r["doc_id"] for r in refs] == sorted(
            oracle, key=lambda d: (-len(oracle[d]), d))
        assert all(r["n_matches"] == len(oracle[r["doc_id"]]) and r["url"]
                   for r in refs)

    # serve-loop routing: {"symbol": ...} answers references
    out2 = io.StringIO()
    serve_loop(idx, stdin=io.StringIO(
        json.dumps({"symbol": "w0x w1x", "k": 3}) + "\n"
        + json.dumps({"op": "quit"}) + "\n"), stdout=out2)
    sresp = json.loads(out2.getvalue().splitlines()[0])
    assert sresp["results"] and sresp["results"][0]["positions"]

    # MCP surface: find_references round-trips with positions in the
    # payload (reference: the find_references MCP tool,
    # src/mcp-server.ts:763-847)
    from mantic_sh_spark.mcp import McpServer
    srv = McpServer(idx, reader=reader)
    resp = srv.handle({"jsonrpc": "2.0", "id": 9, "method": "tools/call",
                       "params": {"name": "find_references",
                                  "arguments": {"symbol": "w0x w1x",
                                                "maxResults": 5,
                                                "maxPositions": 3}}})
    payload = json.loads(resp["result"]["content"][0]["text"])
    assert resp["result"]["isError"] is False
    assert payload["references"], "expected at least one reference"
    top = payload["references"][0]
    assert top["positions"] and len(top["positions"]) <= 3 and top["url"]


def test_get_definition(spark, tmp_path):
    """get_definition (reference: src/code-intel.ts pattern walk as
    keyword-phrase probes over positional postings): definition sites =
    symbol occurrences immediately preceded by a definition keyword,
    ranked (keyword priority, position, doc); camelCase symbols match
    through tokenization; plain references are NOT definitions."""
    import pandas as pd

    from mantic_sh_spark.mcp import McpServer
    from mantic_sh_spark.operators.index_build import build_index

    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://ex.com/f{i}" for i in range(4)],
        "warc_ts": pd.to_datetime(["2026-01-01"] * 4),
        "html": [b""] * 4,
        "text": [
            "import parseHtml from lib\ndef parseHtml means parse then html",
            "uses parseHtml twice parseHtml here but never defines it",
            "class parseHtml wraps the parser",
            "filler words only nothing else",
        ],
        "lang": ["en"] * 4,
    }))
    idx = str(tmp_path / "defidx")
    build_index(spark, pages, idx, n_segments=1, store_positions=True)
    reader = IndexReader(idx)

    defs = reader.definitions("parseHtml", k=10)
    # 'def' outranks 'class'; doc 1 (references only) absent
    assert [d["url"] for d in defs] == ["https://ex.com/f0", "https://ex.com/f2"]
    assert defs[0]["keyword"] == "def" and defs[1]["keyword"] == "class"
    # position = the SYMBOL's token index: f0 tokens are
    # [import, parse, html, from, lib, def, parse, html, ...] → 6
    assert defs[0]["position"] == 6
    assert defs[1]["position"] == 1
    assert reader.definitions("qqnosuchsymbol") == []
    # a typo symbol returns on its own (BM25) df probe: no positional
    # block and no keyword is fetched
    fresh = IndexReader(idx)
    assert fresh.definitions("qqnosuchsym") == []
    assert len(fresh._pos_lru) == 0 and list(fresh._blocks_lru) == ["qqnosuchsym"]

    # MCP surface
    srv = McpServer(idx, reader=reader)
    resp = srv.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                       "params": {"name": "get_definition",
                                  "arguments": {"symbol": "parseHtml"}}})
    payload = json.loads(resp["result"]["content"][0]["text"])
    assert [d["url"] for d in payload["definitions"]] == [
        "https://ex.com/f0", "https://ex.com/f2"]


def test_timeout_guard_returns_partial(spark, small_corpus):
    """ST4: a per-request time budget stops the top-k kernel between
    rounds after the deadline — the first round always answers with
    exact scores, the reader flags truncation, and an un-budgeted rerun
    is complete again."""
    reader = IndexReader(small_corpus["index_dir"])
    full = reader.topk("w1x w2x", k=8)
    assert not reader.truncated and full

    # the full query cached both terms decoded, and a query over cached
    # terms prunes nothing, so it finishes in one round: drop the caches
    # so the budgeted query needs several rounds
    reader.refresh()
    partial = reader.topk("w1x w2x", k=8, budget_ms=0.0)
    assert reader.truncated
    assert partial and set(partial) <= {(d, s) for d, s in full} | set(partial)
    # partial results are a subset of some segments' true top-k: every
    # returned doc must appear in the full ranking extended to all docs
    exhaustive = dict(reader.topk("w1x w2x", k=10**6))
    assert all(abs(exhaustive[d] - s) < 1e-9 for d, s in partial)

    # budget large enough → complete again, flag cleared
    again = reader.topk("w1x w2x", k=8, budget_ms=60_000)
    assert again == full and not reader.truncated

    # serve-loop surfacing
    out = io.StringIO()
    serve_loop(small_corpus["index_dir"],
               stdin=io.StringIO(json.dumps({"q": "w1x w2x", "budget_ms": 0}) + "\n"
                                 + json.dumps({"op": "quit"}) + "\n"),
               stdout=out)
    resp = json.loads(out.getvalue().splitlines()[0])
    assert resp.get("truncated") is True and resp["results"]


def test_mcp_round_trip(spark, small_corpus):
    """MCP stdio adapter (reference: src/mcp-server.ts:338-441): a full
    JSON-RPC session — initialize handshake, tools/list, search_files
    call — against a built index, with results value-identical to the
    reader's own search()."""
    import io
    import json

    from mantic_sh_spark.mcp import serve_stdio
    from mantic_sh_spark.serve import IndexReader

    idx = small_corpus["index_dir"]
    reqs = [
        {"jsonrpc": "2.0", "id": 1, "method": "initialize",
         "params": {"protocolVersion": "2025-06-18", "capabilities": {}}},
        {"jsonrpc": "2.0", "method": "notifications/initialized"},
        {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
        {"jsonrpc": "2.0", "id": 3, "method": "tools/call",
         "params": {"name": "search_files",
                    "arguments": {"query": "w1x w5x", "maxResults": 5}}},
        {"jsonrpc": "2.0", "id": 4, "method": "tools/call",
         "params": {"name": "index_stats", "arguments": {}}},
        {"jsonrpc": "2.0", "id": 5, "method": "no/such/method"},
        "this is not json",
    ]
    stdin = io.StringIO("\n".join(
        json.dumps(r) if isinstance(r, dict) else r for r in reqs) + "\n")
    stdout = io.StringIO()
    serve_stdio(idx, stdin=stdin, stdout=stdout)
    lines = [json.loads(line) for line in stdout.getvalue().splitlines()]
    by_id = {l.get("id"): l for l in lines}
    # handshake
    assert by_id[1]["result"]["protocolVersion"]
    assert by_id[1]["result"]["serverInfo"]["name"] == "mantic-sh-spark"
    # tool discovery
    names = [t["name"] for t in by_id[2]["result"]["tools"]]
    assert "search_files" in names and "index_stats" in names
    assert "find_references" in names and "get_definition" in names
    # search_files call: content payload matches the reader directly
    content = json.loads(by_id[3]["result"]["content"][0]["text"])
    reader = IndexReader(idx)
    want = reader.search("w1x w5x", k=5, with_urls=True, with_snippets=True)
    assert content["results"] == json.loads(json.dumps(want))
    # snippets default ON over MCP (agents want context, like the
    # reference's context-formatter output): window contains a hit term
    assert all("w1x" in r["snippet"] or "w5x" in r["snippet"]
               for r in content["results"])
    assert by_id[3]["result"]["isError"] is False
    # stats carries corpus + read-amp counters
    st = json.loads(by_id[4]["result"]["content"][0]["text"])
    assert st["n_docs"] == 400 and "last" in st and "total" in st
    # ... and the memory of the epoch's doc lengths (≤ 4 B/doc)
    assert 0 < st["doc_lens_bytes"] <= 4 * 400
    # protocol errors answered, loop alive
    assert by_id[5]["error"]["code"] == -32601
    assert any("error" in l and l.get("id") is None for l in lines)  # parse error


def test_reader_concurrent_queries_identical(spark, small_corpus):
    """Task 7 (serve concurrency): N threads hammering one reader must
    each get value-identical results to a fresh single-threaded reader,
    with no torn refresh (a refresh runs mid-flight)."""
    from concurrent.futures import ThreadPoolExecutor

    from mantic_sh_spark.serve import IndexReader

    idx = small_corpus["index_dir"]
    queries = [q for _, q in gen_queries(small_corpus["cfg"], n_queries=16)]
    want = {q: IndexReader(idx).topk(q, 10) for q in set(queries)}

    reader = IndexReader(idx)

    def hammer(i: int):
        out = []
        for j, q in enumerate(queries):
            if i == 0 and j == 8:
                reader.refresh()  # single-writer refresh mid-traffic
            out.append((q, reader.topk(q, 10)))
        return out

    with ThreadPoolExecutor(6) as pool:
        results = list(pool.map(hammer, range(6)))
    for thread_out in results:
        for q, got in thread_out:
            assert got == want[q], q


def test_read_amplification_counters(spark, small_corpus):
    """Task 8: per-query segments-touched / blocks-considered /
    blocks-decoded counters in the reader, surfaced through the serve
    loop's stats op."""
    import io
    import json

    from mantic_sh_spark.serve import IndexReader, serve_loop

    idx = small_corpus["index_dir"]
    reader = IndexReader(idx)
    reader.topk("w1x w5x", 10)
    c = reader.counters()
    assert c["last"]["segments_touched"] >= 1
    assert c["last"]["blocks_considered"] >= c["last"]["segments_touched"]
    assert c["last"]["blocks_decoded"] >= 1
    assert c["last"]["terms_cold"] == 2  # both terms were LRU-cold
    reader.topk("w1x w5x", 10)
    assert reader.counters()["last"]["terms_cold"] == 0  # hot now
    assert reader.counters()["total"]["queries"] == 2

    # the serve loop surfaces the same counters: cumulative via op:stats
    # and per-request via {"stats": true}
    stdin = io.StringIO('{"q": "w1x w5x", "stats": true}\n{"op": "stats"}\n{"op": "quit"}\n')
    stdout = io.StringIO()
    serve_loop(idx, stdin=stdin, stdout=stdout)
    lines = [json.loads(line) for line in stdout.getvalue().splitlines()]
    assert lines[0]["stats"]["segments_touched"] >= 1  # inline per-request
    st = [l for l in lines if l.get("ok") and "total" in l][0]
    assert st["total"]["queries"] == 1 and st["last"]["segments_touched"] >= 1
    assert st["doc_lens_bytes"] > 0  # the DocLens the query gathered from


def test_serve_loop_concurrent_ids(spark, small_corpus):
    """serve_loop with concurrency>1: responses may interleave, so the
    id field correlates them; every request gets exactly one response
    and results equal the sequential loop's."""
    import io
    import json

    from mantic_sh_spark.serve import IndexReader, serve_loop

    idx = small_corpus["index_dir"]
    queries = [q for _, q in gen_queries(small_corpus["cfg"], n_queries=12)]
    req_lines = [json.dumps({"q": q, "k": 5, "id": i}) for i, q in enumerate(queries)]
    stdin = io.StringIO("\n".join(req_lines) + '\n{"op": "quit"}\n')
    stdout = io.StringIO()
    served = serve_loop(idx, stdin=stdin, stdout=stdout, concurrency=4)
    assert served == len(queries)
    resps = {r["id"]: r for r in map(json.loads, stdout.getvalue().splitlines())}
    assert set(resps) == set(range(len(queries)))
    reader = IndexReader(idx)
    for i, q in enumerate(queries):
        want = [{"rank": j + 1, "doc_id": d, "score": s}
                for j, (d, s) in enumerate(reader.topk(q, 5))]
        assert resps[i]["results"] == json.loads(json.dumps(want)), q


def test_reader_pool_and_mcp_index_dir(spark, small_corpus, tmp_path):
    """ST3 multi-index serving: ReaderPool LRU (reference keeps an LRU
    of loaded repo indexes, src/cache.ts:10-47) + per-call indexDir on
    MCP tools routing to pooled readers."""
    from mantic_sh_spark.mcp import McpServer
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.serve import ReaderPool
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    idx1 = small_corpus["index_dir"]
    idx2 = str(tmp_path / "idx2")
    build_index(spark, gen_pages(spark, SynthConfig(n_docs=60, vocab_size=80, seed=5),
                                 partitions=1), idx2, n_segments=1)

    pool = ReaderPool(max_readers=1)
    r1 = pool.get(idx1)
    assert pool.get(idx1 + "/") is r1  # normalized key, cache hit
    r2 = pool.get(idx2)                # evicts idx1 (capacity 1)
    assert pool.get(idx2) is r2
    assert pool.get(idx1) is not r1    # rebuilt after eviction

    srv = McpServer(idx1)
    def _stats(args):
        resp = srv.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                           "params": {"name": "index_stats", "arguments": args}})
        return json.loads(resp["result"]["content"][0]["text"])
    assert _stats({})["n_docs"] == 400                 # default index
    assert _stats({"indexDir": idx2})["n_docs"] == 60  # pooled second index

    # search routed to the second index returns ITS corpus' urls
    resp = srv.handle({"jsonrpc": "2.0", "id": 2, "method": "tools/call",
                       "params": {"name": "search_files",
                                  "arguments": {"query": "w1x", "maxResults": 3,
                                                "indexDir": idx2}}})
    res = json.loads(resp["result"]["content"][0]["text"])["results"]
    want = {d for d, _ in IndexReader(idx2).topk("w1x", 3)}
    assert {r["doc_id"] for r in res} == want and want


def test_snippets(spark, small_corpus):
    """Context windows (reference: src/context-formatter.ts — matched
    context around each hit): a ~width-char window centered on the
    first query-term occurrence, ellipsized at cut edges, served from
    one row-group-pruned docs read."""
    import json

    from mantic_sh_spark.serve import IndexReader, serve_loop

    idx = small_corpus["index_dir"]
    reader = IndexReader(idx)
    res = reader.search("w1x w5x", k=5, with_snippets=True, snippet_width=80)
    assert len(res) == 5
    for r in res:
        s = r["snippet"]
        assert ("w1x" in s) or ("w5x" in s), s
        assert len(s) <= 80 + 2  # width + ellipses
    # serve loop surface
    import io

    stdin = io.StringIO('{"q": "w1x w5x", "k": 3, "snippets": true}\n{"op": "quit"}\n')
    stdout = io.StringIO()
    serve_loop(idx, stdin=stdin, stdout=stdout)
    resp = json.loads(stdout.getvalue().splitlines()[0])
    assert all("snippet" in r for r in resp["results"])


def test_stale_reader_self_heals_across_external_merge(spark, tmp_path):
    """A long-lived reader whose index is compacted by ANOTHER process
    holds dataset handles that still list the retired segment files;
    the next cold read raises. topk must self-heal — refresh() + one
    retry — and answer from the post-merge index instead of propagating
    the I/O error (refresh-contract automation for serving
    deployments)."""
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=240, vocab_size=250, seed=23),
                      partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3)

    stale = IndexReader(idx)  # holds pre-merge dataset handles
    epoch0 = stale._epoch
    # the "other process": retire ALL source segments under the reader
    merge_segments(spark, idx, [0, 1, 2], dst_segment=9)

    fresh = IndexReader(idx)
    for q in ("w1x", "w1x w2x", "w0x w3x"):
        assert stale.topk(q, k=8) == fresh.topk(q, k=8), q
    assert stale._epoch > epoch0, "self-heal must have refreshed the reader"
    assert stale._blocks(["w1x"])["w1x"].segs.tolist() == [9]


def _exhaustive_minus(spark, idx, queries, k, dead=frozenset()):
    """q → exhaustive bm25_topk over the docs table, minus tombstoned
    docs: ask for k+|dead| and drop them (the rank order is a total
    order, so the prefix is stable — tools/fuzz_wand.py::_minus)."""
    from mantic_sh_spark.functions.tokenize import tokens_col
    from mantic_sh_spark.operators.query import bm25_topk

    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    rows = (bm25_topk(spark, docs, list(enumerate(queries)), k=k + len(dead))
            .orderBy("query_id", "rank").collect())
    out = {q: [] for q in queries}
    for r in rows:
        lst = out[queries[r.query_id]]
        if r.doc_id not in dead and len(lst) < k:
            lst.append((r.doc_id, r.score))
    return out


def _blocks_overlap(tb) -> bool:
    """Do any two of this term's block [first_doc, last_doc] intervals
    overlap?"""
    import numpy as np

    o = np.argsort(tb.first, kind="stable")
    return bool(np.any(tb.first[o][1:] <= tb.last[o][:-1]))


def test_topk_matches_oracles_after_deletes_and_extend(spark, tmp_path):
    """The reader's one kernel call over every segment (bound factors
    pre-scaled into block maxima, the epoch's DeadDocs) must equal the
    distributed engine and the exhaustive engine minus tombstoned docs,
    on an index with deletes AND an extend (avgdl drift → bound_factor
    != 1)."""
    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages
    from mantic_sh_spark.streaming.incremental import extend_index

    pages = gen_pages(spark, SynthConfig(n_docs=300, vocab_size=300, seed=17),
                      partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3)
    # extend with much longer docs → global avgdl drifts upward
    more = gen_pages(spark, SynthConfig(n_docs=120, vocab_size=300, seed=18,
                                        len_mu=5.6), partitions=2)
    extend_index(spark, idx, more, n_new_segments=2)
    reader0 = IndexReader(idx)
    victims = [d for d, _ in reader0.topk("w1x", k=3)]
    delete_docs(spark, idx, doc_ids=victims[:2])

    reader = IndexReader(idx)
    assert any(f != 1.0 for f in reader.bound_factors.values()), \
        "fixture must exercise the bound-factor scaling path"
    queries = ("w1x", "w1x w2x", "w0x w3x w9x", "qqabsent")
    wand = _spark_results(spark, idx, [(0, q) for q in queries], k=8)
    exhaustive = _exhaustive_minus(spark, idx, queries, 8, frozenset(victims[:2]))
    for q in queries:
        hits = reader.topk(q, k=8)
        assert hits == wand[q] == exhaustive[q], q
        assert all(d not in victims[:2] for d, _ in hits), q


def test_noncontiguous_merge_keeps_blocks_disjoint(spark, tmp_path):
    """The compactor keeps re-encoded blocks within one stride range
    when live segments remain (merge sets split_ranges automatically),
    so a non-contiguous merge keeps every term's block intervals
    disjoint (tight interval bounds); results match the distributed
    engine and the independent exhaustive engine."""
    from mantic_sh_spark.functions.tokenize import tokenize_query
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=400, vocab_size=200, seed=23),
                      partitions=4)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=4)
    merge_segments(spark, idx, [0, 2], dst_segment=5, purge=True)

    reader = IndexReader(idx)
    queries = ("w1x", "w1x w2x", "w0x w4x w7x", "w3x w9x")
    for q in queries:
        blocks = reader._blocks(sorted(set(tokenize_query(q))))
        assert not any(_blocks_overlap(tb) for tb in blocks.values()), q
    wand = _spark_results(spark, idx, [(0, q) for q in queries], k=8)
    exhaustive = _exhaustive_minus(spark, idx, queries, 8)
    for q in queries:
        assert reader.topk(q, k=8) == wand[q] == exhaustive[q], q


def test_topk_ranks_legacy_overlapping_compaction(spark, tmp_path, monkeypatch):
    """LEGACY layout (compactions from before split_ranges existed): a
    non-contiguous merge whose re-encoded blocks span the stride gap
    and envelop a live segment's doc range. Those are just overlapping
    intervals to the kernel: the reader and the distributed engine must
    still equal the exhaustive engine."""
    import mantic_sh_spark.functions.codec as codec_mod
    from mantic_sh_spark.functions.tokenize import tokenize_query
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=400, vocab_size=200, seed=23),
                      partitions=4)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=4)
    # reproduce the pre-split_ranges compactor behavior
    orig = codec_mod.compact_stream_fn

    def legacy(*a, **kw):
        kw["split_ranges"] = False
        return orig(*a, **kw)

    monkeypatch.setattr(codec_mod, "compact_stream_fn", legacy)
    # fold segments 0 and 2, leaving 1 and 3 live in between
    merge_segments(spark, idx, [0, 2], dst_segment=5, purge=True)

    reader = IndexReader(idx)
    # the fixture must actually produce the overlapping layout, and at
    # least one multi-term query must run over it
    assert _blocks_overlap(reader._blocks(["w1x"])["w1x"]), \
        "expected a spanning block from the legacy non-contiguous compaction"
    queries = ("w1x", "w1x w2x", "w0x w4x w7x", "w3x w9x")
    assert any(
        len(tokenize_query(q)) > 1
        and any(_blocks_overlap(tb) for tb in reader._blocks(tokenize_query(q)).values())
        for q in queries
    ), "no multi-term query hit the overlapping layout — fixture drifted"
    wand = _spark_results(spark, idx, [(0, q) for q in queries], k=8)
    exhaustive = _exhaustive_minus(spark, idx, queries, 8)
    for q in queries:
        assert reader.topk(q, k=8) == wand[q] == exhaustive[q], q


def test_heavy_churn_liveness_stays_bitmap_bounded(spark, small_corpus, tmp_path):
    """~1e7 live tombstones (a heavily-churned index between purges)
    must cost the reader at most one bit per corpus row — a sorted id
    array would be ~80 MB resident per replica — and ranks must stay
    identical to the few-tombstone state (the synthetic ids are past
    every real doc, so membership is unchanged)."""
    import os
    import shutil

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mantic_sh_spark.operators.delete import delete_docs

    idx = str(tmp_path / "idx_churn")
    shutil.copytree(small_corpus["index_dir"], idx)

    reader = IndexReader(idx)
    q = "w1x w3x"
    victim = reader.topk(q, k=5)[0][0]
    delete_docs(spark, idx, doc_ids=[victim])
    reader.refresh()
    want = reader.topk(q, k=10)
    assert victim not in {d for d, _ in want}

    # inject ~1e7 synthetic tombstones into segment 0's partition — doc
    # ids (origin segment 0) far past the real docs
    n_fake = 10_000_000
    fake = np.arange(n_fake, dtype=np.int64) + 500_000
    os.makedirs(f"{idx}/tombstones/segment_id=0", exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": fake}),
        f"{idx}/tombstones/segment_id=0/synthetic-churn.parquet",
    )
    reader.refresh()
    got = reader.topk(q, k=10)
    assert got == want, "ranks must not depend on the tombstone volume"
    assert reader.topk(q, k=10, budget_ms=60_000) == want
    max_row = int(fake[-1])
    nbytes = reader._dead_docs().nbytes
    assert nbytes <= (max_row + 1) / 8 + 64 * 1024, nbytes
    assert not reader.live_mask(np.array([victim, fake[0], fake[-1]])).any()


def test_urls_self_heal_across_purging_merge(spark, tmp_path):
    """urls()/snippets() on an open reader must survive a purging merge
    that rewrites the docs files its handle lists: refresh and retry,
    like every query surface, instead of raising FileNotFoundError."""
    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=240, vocab_size=250, seed=29),
                      partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3)
    reader = IndexReader(idx)
    hits = [d for d, _ in reader.topk("w1x w2x", k=10)]
    victim, live = hits[0], hits[1:]
    want_urls = reader.urls(live)
    want_snips = reader.snippets(live, ["w1x"])
    assert len(want_urls) == len(live)
    delete_docs(spark, idx, doc_ids=[victim])
    # purge rewrites the docs dir of every segment holding a victim
    merge_segments(spark, idx, [0, 1, 2], dst_segment=9, purge=True)
    assert reader.urls(live) == want_urls
    assert reader.snippets(live, ["w1x"]) == want_snips


def test_get_definition_assignment_forms(spark, tmp_path):
    """Assignment-style definitions have no leading keyword (VERDICT r4
    #7, reference src/code-intel.ts:154-332): `X = function`,
    `X = async () =>`, `X = lambda` must be found via symbol-first
    trailer probes, ranked below every leading-keyword form, with the
    position on the SYMBOL."""
    import pandas as pd

    from mantic_sh_spark.operators.index_build import build_index

    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://ex.com/a{i}" for i in range(7)],
        "warc_ts": pd.to_datetime(["2026-01-01"] * 7),
        "html": [b""] * 7,
        "text": [
            "export parseHtml = function (s) { return s }",
            "parseHtml = async () => { await fetchIt() }",
            "makeToken = lambda s: s.strip()",
            "calls parseHtml here and parseHtml there only",
            "def parseHtml means the keyword form still wins",
            # prose REFERENCE, not a definition: determiner guard must
            # drop the [parse, html, function] trailer match here
            "please call the parseHtml function with a string",
            # prose with 'a': same guard, different determiner
            "wrap a parseHtml function call in retries",
        ],
        "lang": ["en"] * 7,
    }))
    idx = str(tmp_path / "defidx2")
    build_index(spark, pages, idx, n_segments=1, store_positions=True)
    reader = IndexReader(idx)

    defs = reader.definitions("parseHtml", k=10)
    by_url = {d["url"]: d for d in defs}
    # keyword form first, then assignment forms; pure references absent
    assert [d["url"] for d in defs] == [
        "https://ex.com/a4",   # def parseHtml
        "https://ex.com/a0",   # parseHtml = function
        "https://ex.com/a1",   # parseHtml = async () =>
    ]
    assert defs[0]["keyword"] == "def"
    assert by_url["https://ex.com/a0"]["keyword"] == "=function"
    assert by_url["https://ex.com/a1"]["keyword"] == "=async"
    # a0 tokens: [export, parse, html, function, s, ...] → symbol at 1
    assert by_url["https://ex.com/a0"]["position"] == 1
    assert by_url["https://ex.com/a1"]["position"] == 0

    # the prose-reference docs ("the/a parseHtml function") must not
    # appear at all — the determiner guard drops those trailer matches
    assert "https://ex.com/a5" not in by_url and "https://ex.com/a6" not in by_url

    lam = reader.definitions("makeToken", k=10)
    assert [d["keyword"] for d in lam] == ["=lambda"]
    assert lam[0]["url"] == "https://ex.com/a2"


def test_decoded_lru_budget_and_generation_guard():
    """_DecodedLRU: byte-budget eviction (oldest first), oversized
    entries served-but-never-cached, and the generation guard — a put
    whose decode started before clear() must be dropped, never
    installed into the new generation (review r5 finding)."""
    import numpy as np

    from mantic_sh_spark.serve import _DecodedLRU, _NsDecodeCache

    lru = _DecodedLRU(budget_bytes=100)
    a = np.zeros(5, dtype=np.int64)   # 40 bytes
    b = np.zeros(5, dtype=np.int64)
    c = np.zeros(5, dtype=np.int64)
    lru.put(("k", "a"), (a,))
    lru.put(("k", "b"), (b,))
    assert lru.get(("k", "a")) is not None
    lru.put(("k", "c"), (c,))  # 120 bytes total → evict LRU entry ("b")
    assert lru.get(("k", "b")) is None
    assert lru.get(("k", "a")) is not None and lru.get(("k", "c")) is not None
    # oversized: served but never cached
    lru.put(("k", "big"), (np.zeros(100, dtype=np.int64),))
    assert lru.get(("k", "big")) is None

    # generation guard: adapter pinned pre-clear, put after clear → dropped
    ns = _NsDecodeCache(lru, ("k", 0))
    lru.clear()
    ns.put("stale", (a,))
    assert lru.get(("k", 0, "stale")) is None
    # a fresh adapter (post-clear) installs normally
    ns2 = _NsDecodeCache(lru, ("k", 0))
    ns2.put("fresh", (a,))
    assert ns2.get("fresh") is not None


def test_prewarm_and_recent_queries(spark, small_corpus, tmp_path):
    """prewarm() replays queries so a fresh replica's first real query
    runs the hot path (terms already faulted into the block LRU);
    recent_queries feeds it from a QueryLog dir (newest-first,
    distinct); serve_loop accepts both the {"op": "prewarm"} request
    and the prewarm= kwarg the CLI --prewarm flag passes."""
    import io
    import json

    from mantic_sh_spark.serve import (IndexReader, QueryLog,
                                       recent_queries, serve_loop)

    idx = small_corpus["index_dir"]

    cold = IndexReader(idx)
    assert cold.prewarm(["w1x w9x", "qqabsentterm"]) == 2  # absent is fine
    cold.topk("w1x w9x", k=5)
    assert cold.counters()["last"]["terms_cold"] == 0  # already faulted

    # log → recent_queries: newest-first, distinct, missing dir = []
    log_dir = str(tmp_path / "qlog")
    qlog = QueryLog(log_dir, flush_every=2)
    qlog.record("w1x", 5, [], 1.0)
    qlog.record("w2x w3x", 5, [], 1.0)
    qlog.record("w1x", 5, [], 1.0)  # duplicate, newer
    qlog.flush()
    assert recent_queries(log_dir) == ["w1x", "w2x w3x"]
    assert recent_queries(log_dir, limit=1) == ["w1x"]
    assert recent_queries(str(tmp_path / "nope")) == []

    # serve_loop: the prewarm op answers with the warmed count, and the
    # following query reports zero cold terms; prewarm= kwarg replays
    # the log tail on startup without error
    out = io.StringIO()
    serve_loop(idx, stdin=io.StringIO(
        json.dumps({"op": "prewarm", "queries": ["w0x w2x"]}) + "\n"
        + json.dumps({"q": "w0x w2x", "k": 3, "stats": True}) + "\n"
        + json.dumps({"op": "quit"}) + "\n"), stdout=out,
        log_dir=log_dir, prewarm=2)
    lines = [json.loads(line) for line in out.getvalue().splitlines()]
    assert lines[0] == {"ok": True, "warmed": 1}
    assert lines[1]["stats"]["terms_cold"] == 0


def test_prewarm_one_read_one_decode(spark, small_corpus, tmp_path, monkeypatch):
    """prewarm() on a clean, a tombstoned and a fold-gated index: ONE
    postings read for the whole list; the hot LRU holds every term in
    last-occurrence order (absent ones as empty blocks); every term
    with postings has the ("k",) entry cached_postings accepts; the
    epoch's DocLens and DeadDocs are built; the following topk and
    tiered_topk fetch and decode nothing and answer like a cold
    reader. A small max_hot_terms warms only the list's last terms, a
    small decoded budget decodes only the last terms it holds, and a
    refresh() between the fetch and the install leaves nothing
    behind (the generation pin drops the decoded puts)."""
    import shutil

    from mantic_sh_spark.operators import merge as merge_mod
    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.operators.wand import cached_postings, decoded_nbytes
    from mantic_sh_spark.serve import _NsDecodeCache

    clean = small_corpus["index_dir"]
    tomb = str(tmp_path / "tomb")
    shutil.copytree(clean, tomb)
    delete_docs(spark, tomb, doc_ids=[d for d, _ in IndexReader(tomb).topk("w1x w2x", k=3)])
    gated = str(tmp_path / "gated")
    shutil.copytree(tomb, gated)

    def killed(*a, **kw):
        raise RuntimeError("killed after the committed barrier")

    monkeypatch.setattr(merge_mod, "_finish_merge", killed)
    with pytest.raises(RuntimeError, match="committed barrier"):
        merge_segments(spark, gated, [0, 1], dst_segment=9, purge=False)
    monkeypatch.undo()

    queries = ["w1x w2x w3x", "w4x w1x", "w2x qqabsent w5x", "w6x"]
    order = ["w3x", "w1x", "w4x", "qqabsent", "w2x", "w5x", "w6x"]

    class CountingReads:
        def __init__(self, dataset):
            self.dataset, self.reads = dataset, 0

        def to_table(self, **kw):
            self.reads += 1
            return self.dataset.to_table(**kw)

        def __getattr__(self, name):
            return getattr(self.dataset, name)

    for idx in (clean, tomb, gated):
        r = IndexReader(idx)
        assert (r.gated_segments == [0, 1]) == (idx == gated)
        r._postings = CountingReads(r._postings)
        assert r.prewarm(queries, k=3) == len(queries)
        assert r._postings.reads == 1
        assert list(r._blocks_lru) == order
        assert r._lens is not None and r._dead is not None
        has = [t for t in order if len(r._blocks_lru[t])]
        assert "qqabsent" not in has and len(has) == 6
        assert list(r._decoded._d) == [("k", t) for t in has]
        cache = _NsDecodeCache(r._decoded, ("k",))
        for t in has:
            entry = cached_postings(cache, t, r._blocks_lru[t])
            assert entry is not None
            assert sum(v.nbytes for v in entry) == decoded_nbytes(r._blocks_lru[t])
        cold = IndexReader(idx)
        for q in queries + ["w1x w6x", "w2x w4x w5x"]:
            for run in ("topk", "tiered_topk"):
                assert getattr(r, run)(q, k=5) == getattr(cold, run)(q, k=5)
                assert r.last_stats["terms_cold"] == 0
                assert r.last_stats["blocks_decoded"] == 0
        assert r._postings.reads == 1

        # a second list orders its terms by ITS last queries, whether
        # they were hot already (w1x, w3x) or not (w7x)
        before = [t for t in r._blocks_lru if t not in ("w1x", "w3x")]
        r.prewarm(["w7x w1x", "w3x"])
        assert list(r._blocks_lru) == before + ["w1x", "w7x", "w3x"]
        assert list(r._decoded._d)[-3:] == [("k", "w1x"), ("k", "w7x"), ("k", "w3x")]

    capped = IndexReader(clean, max_hot_terms=3)
    capped._postings = CountingReads(capped._postings)
    capped.prewarm(queries)
    assert capped._postings.reads == 1
    assert list(capped._blocks_lru) == order[-3:]
    assert list(capped._decoded._d) == [("k", t) for t in order[-3:]]

    # a decoded LRU budget of the last two terms decodes only those two
    budgeted = IndexReader(clean)
    budgeted._decoded.budget = sum(
        decoded_nbytes(tb) for tb in IndexReader(clean)._blocks(order[-2:]).values())
    budgeted.prewarm(queries)
    assert list(budgeted._blocks_lru) == order
    assert list(budgeted._decoded._d) == [("k", t) for t in order[-2:]]

    raced = IndexReader(clean)
    orig = raced._doc_lens

    def refreshing():
        raced.refresh()  # between every attempt's fetch and its install
        return orig()

    raced._doc_lens = refreshing
    assert raced.prewarm(queries) == len(queries)
    assert not raced._decoded._d and not raced._blocks_lru


def test_serve_loop_control_ops_answer_errors(spark, small_corpus, tmp_path):
    """A bad control op is answered with an error and the loop keeps
    serving: a non-list prewarm "queries" (a string would warm its
    characters), a bad "limit", a non-object line. A prewarm "k" no
    longer matters, so a non-integer one is ignored."""
    lines = [{"op": "prewarm", "queries": ["w1x"], "k": "x", "id": 1},
             {"op": "prewarm", "queries": "w1x w2x", "id": 2},
             {"op": "prewarm", "limit": "x", "id": 3},
             5,
             {"q": "w1x", "k": 2, "id": 4},
             {"op": "quit"}]
    out = io.StringIO()
    serve_loop(small_corpus["index_dir"],
               stdin=io.StringIO("".join(json.dumps(x) + "\n" for x in lines)),
               stdout=out, log_dir=str(tmp_path / "qlog"))
    got = [json.loads(line) for line in out.getvalue().splitlines()]
    assert got[0] == {"ok": True, "warmed": 1}
    assert got[1]["id"] == 2 and got[1]["error"].startswith("TypeError: queries")
    assert got[2]["id"] == 3 and got[2]["error"].startswith("ValueError")
    assert got[3]["error"].startswith("TypeError")
    assert got[4]["id"] == 4 and len(got[4]["results"]) == 2
    assert len(got) == 5


def test_mcp_tiered_search(spark, small_corpus):
    """search_files tiered=true serves the R1 ladder over MCP,
    value-identical to IndexReader.tiered_topk, with urls + snippets;
    the mode refuses phrase/session combinations loudly."""
    import json

    from mantic_sh_spark.mcp import McpServer
    from mantic_sh_spark.serve import IndexReader

    idx = small_corpus["index_dir"]
    reader = IndexReader(idx)
    srv = McpServer(idx, reader=reader)
    resp = srv.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                       "params": {"name": "search_files",
                                  "arguments": {"query": "w1x",
                                                "tiered": True,
                                                "maxResults": 4}}})
    payload = json.loads(resp["result"]["content"][0]["text"])
    want = reader.tiered_topk("w1x", k=4)
    got = [(r["doc_id"], r["tier"], r["score"]) for r in payload["results"]]
    assert got == want and len(got) == 4
    assert all(r["url"] and "snippet" in r for r in payload["results"])

    resp2 = srv.handle({"jsonrpc": "2.0", "id": 2, "method": "tools/call",
                        "params": {"name": "search_files",
                                   "arguments": {"query": "w1x",
                                                 "tiered": True,
                                                 "phrase": True}}})
    assert resp2["result"]["isError"]
    assert "exclusive" in resp2["result"]["content"][0]["text"]


def test_mcp_tiered_search_passes_budget(spark, small_corpus):
    """search_files tiered=true takes budgetMs like any top-k: the
    deadline reaches IndexReader.tiered_topk (a 0 ms budget stops the
    kernel after its first round), the answer carries exact tiers and
    scores, and a cut answer is flagged truncated."""
    import json

    from mantic_sh_spark.mcp import McpServer
    from mantic_sh_spark.serve import IndexReader

    idx = small_corpus["index_dir"]
    reader = IndexReader(idx)
    srv = McpServer(idx, reader=reader)
    st = small_corpus["cfg"].stop_term
    full = {d: (t, s) for d, t, s in reader.tiered_topk(st, k=10**6)}
    seen = []
    orig = reader.tiered_topk

    def spy(query, k=10, budget_ms=None):
        seen.append(budget_ms)
        return orig(query, k=k, budget_ms=budget_ms)

    reader.tiered_topk = spy
    resp = srv.handle({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                       "params": {"name": "search_files",
                                  "arguments": {"query": st, "tiered": True,
                                                "budgetMs": 0, "maxResults": 5}}})
    assert not resp["result"]["isError"] and seen == [0.0]
    payload = json.loads(resp["result"]["content"][0]["text"])
    got = [(r["doc_id"], r["tier"], r["score"]) for r in payload["results"]]
    assert got and all(full[d] == (t, s) for d, t, s in got)
    assert payload.get("truncated", False) == reader.truncated
    if not reader.truncated:
        assert got == orig(st, k=5)


def test_recent_queries_tie_order_and_corrupt_fragment(tmp_path, monkeypatch):
    """Equal-timestamp rows come out newest-first (a truncating limit
    drops the OLDEST of a tie), and a truncated fragment from a crashed
    flush is skipped instead of failing the boot-time prewarm."""
    import time as time_mod

    from mantic_sh_spark import serve as serve_mod
    from mantic_sh_spark.serve import QueryLog, recent_queries

    log_dir = str(tmp_path / "qlog")
    qlog = QueryLog(log_dir, flush_every=100)
    monkeypatch.setattr(serve_mod.time, "time", lambda: 1000.0)
    qlog.record("older-tie", 5, [], 1.0)
    qlog.record("newer-tie", 5, [], 1.0)
    qlog.flush()
    assert recent_queries(log_dir) == ["newer-tie", "older-tie"]
    assert recent_queries(log_dir, limit=1) == ["newer-tie"]

    with open(f"{log_dir}/log-9999999999999999-0.parquet", "wb") as f:
        f.write(b"PAR1 not really a parquet file")
    assert recent_queries(log_dir) == ["newer-tie", "older-tie"]


def test_split_blocks_matches_groupby_reference():
    """wand.split_blocks (no Spark) on a shuffled multi-segment table,
    with and without positions, equals a pandas groupby reference
    column by column: rows of one term ordered by (segment, first_doc),
    block_max scaled by its segment's bound factor, unknown tids
    dropped, absent terms and an empty table mapping to empty blocks."""
    import numpy as np
    import pyarrow as pa

    from mantic_sh_spark.functions.codec import SEG_STRIDE, encode_rows
    from mantic_sh_spark.operators.wand import split_blocks

    rng = np.random.default_rng(5)
    tids = [101, 7, 55, 9999]  # 9999: a tid no query term maps to
    batches = []
    for seg in range(3):
        for tid in tids:
            docs = np.sort(rng.choice(200, int(rng.integers(1, 40)), replace=False))
            docs = seg * SEG_STRIDE + docs
            tf = rng.integers(1, 4, len(docs))
            flat = np.concatenate([np.sort(rng.choice(50, t, replace=False)) for t in tf])
            off = np.concatenate(([0], np.cumsum(tf)))
            batches.append(encode_rows([0], [tid], [seg], docs, tf, rng.integers(5, 60, len(docs)),
                                       rng.integers(0, 3, len(docs)), 20.0, 1.2, 0.75, 4,
                                       positions=(flat, off)))
    tbl = pa.Table.from_batches(batches)
    tbl = tbl.take(rng.permutation(len(tbl)))
    tid2term = {101: "a", 7: "b", 55: "c", 4242: "absent"}
    factors = {0: 1.0, 1: 1.5, 2: 2.25}
    cols = [("first", "first_doc"), ("last", "last_doc"), ("mint", "min_tier"), ("n", "n"),
            ("gaps", "doc_gaps"), ("tfs", "tfs"), ("seg", "segment_id")]
    for with_positions in (True, False):
        data = tbl if with_positions else tbl.drop_columns(["positions"])
        got = split_blocks(data, tid2term, factors)
        assert set(got) == set(tid2term.values())
        assert len(got["absent"]) == 0 and got["absent"].n.sum() == 0
        assert got["absent"].segs.tolist() == []
        ref = data.to_pandas()
        for tid, g in ref.groupby("tid"):
            if tid not in tid2term:
                continue
            g = g.sort_values(["segment_id", "first_doc"])
            tb = got[tid2term[tid]]
            for field, col in cols:
                assert list(getattr(tb, field)) == list(g[col]), (tid, field)
            assert np.allclose(tb.bmax, g["block_max"] * g["segment_id"].map(factors))
            assert tb.segs.tolist() == sorted(g["segment_id"].unique())
            if with_positions:
                assert list(tb.positions) == list(g["positions"])
            else:
                assert tb.positions is None
            assert len(tb) == len(g)
    # the pandas frame a Spark UDF receives splits identically
    frame = split_blocks(tbl.to_pandas(), tid2term, factors)
    arrow = split_blocks(tbl, tid2term, factors)
    for t in tid2term.values():
        for f in ("first", "last", "bmax", "mint", "n", "gaps", "tfs", "seg", "positions"):
            assert np.array_equal(getattr(frame[t], f), getattr(arrow[t], f)), (t, f)
    empty = split_blocks(tbl.slice(0, 0), tid2term, factors)
    assert all(len(tb) == 0 for tb in empty.values()) and set(empty) == set(tid2term.values())


def test_reader_serves_without_terms_dir(spark, tmp_path, decoded_df):
    """Serving never reads the terms directory: a reader on a copy
    whose terms/ is deleted answers topk, tiered_topk, phrase_topk,
    definitions and _scores_for_docs exactly like a reader on the intact
    index, its df equals the df counted by decoding every block
    (decoded_df) and the Spark plane's, and an absent term is cached as
    empty blocks."""
    import shutil

    import numpy as np
    import pandas as pd

    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.wand import _term_meta
    from mantic_sh_spark.sources.catalog import IndexPaths
    from mantic_sh_spark.sources.synth import gen_pages

    synth = gen_pages(spark, SynthConfig(n_docs=160, vocab_size=90, seed=31), partitions=2)
    defs = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://ex.com/d{i}" for i in range(3)],
        "warc_ts": pd.to_datetime(["2026-01-01"] * 3),
        "html": [b""] * 3,
        "text": ["def parseHtml then w1x", "class parseHtml wraps w2x",
                 "parseHtml = function of w1x"],
        "lang": ["en"] * 3,
    })).select(*synth.columns)
    idx = str(tmp_path / "idx")
    build_index(spark, synth.unionByName(defs), idx, n_segments=2, store_positions=True)
    bare = str(tmp_path / "bare")
    shutil.copytree(idx, bare)
    reader = IndexReader(bare)
    shutil.rmtree(f"{bare}/terms")
    intact = IndexReader(idx)

    queries = ["w1x", "w1x w2x", "w0x w3x w5x", "qqabsent w1x", "parseHtml"]
    for q in queries:
        assert reader.topk(q, k=8) == intact.topk(q, k=8), q
        assert reader.tiered_topk(q, k=8) == intact.tiered_topk(q, k=8), q
    for ph in ("w0x w1x", "w1x w2x w3x", "parse html", "qqabsent w1x"):
        assert reader.phrase_topk(ph, k=20) == intact.phrase_topk(ph, k=20), ph
    assert reader.references("qqabsent") == intact.references("qqabsent") == []
    got = reader.definitions("parseHtml")
    assert got == intact.definitions("parseHtml") and len(got) == 3
    docs = np.array(sorted(d for d, _ in intact.topk("w1x w2x", k=30)), dtype=np.int64)
    assert reader._scores_for_docs(["w1x", "w2x"], docs) == \
        intact._scores_for_docs(["w1x", "w2x"], docs)
    assert "qqabsent" in reader._blocks_lru and len(reader._blocks_lru["qqabsent"]) == 0

    terms = ["w0x", "w1x", "w2x", "parse", "html", "qqabsent"]
    meta = _term_meta(spark, IndexPaths(idx), terms)
    assert reader.df(terms) == decoded_df(bare, [], terms) == {t: m[0] for t, m in meta.items()}


_DEF_WORDS = ("the", "a", "function", "def", "class", "new", "const", "this")


@pytest.fixture(scope="module")
def defs_corpus(spark, tmp_path_factory):
    """A 4-segment positional index of code-like text: definition
    keywords and determiners are head terms spanning many blocks per
    segment, and the rare symbol `zqrare` sits in five docs of ONE
    segment (segment 1) — a `def` form, an assignment form, a class
    form, a prose reference the determiner guard must drop, and a bare
    reference."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from mantic_sh_spark.operators.index_build import build_index

    rng = np.random.default_rng(71)
    words = list(_DEF_WORDS) + [f"w{i}x" for i in range(40)]
    p = np.array([0.08] * len(_DEF_WORDS) + [0.36 / 40] * 40)
    urls = [f"https://ex.com/c{i}" for i in range(800)]
    texts = [" ".join(rng.choice(words, int(rng.integers(20, 40)), p=p / p.sum()))
             for _ in urls]
    seg_of = {r.url: r.s for r in spark.createDataFrame(pd.DataFrame({"url": urls}))
              .select("url", F.pmod(F.xxhash64("url"), F.lit(4)).alias("s")).collect()}
    planted = ["def zqrare w1x then the zqrare function", "w2x zqrare function w3x",
               "class zqrare new w4x", "call the zqrare function w5x", "w6x zqrare zqrare"]
    for i, extra in zip([i for i, u in enumerate(urls) if seg_of[u] == 1][3:8], planted):
        texts[i] = f"{texts[i]} {extra} {texts[i]}"
    pages = spark.createDataFrame(pd.DataFrame({
        "url": urls, "warc_ts": pd.to_datetime(["2026-01-01"] * len(urls)),
        "html": [b""] * len(urls), "text": texts, "lang": ["en"] * len(urls)}))
    idx = str(tmp_path_factory.mktemp("defs") / "idx")
    build_index(spark, pages, idx, n_segments=4, chunk_size=48, block_size=16,
                store_positions=True)
    return idx


def _doc_tokens(spark, idx):
    from mantic_sh_spark.functions.tokenize import tokenize

    return {r.doc_id: tokenize(r.text)
            for r in spark.read.parquet(f"{idx}/docs").select("doc_id", "text").collect()}


def _defs_oracle(doc_toks, symbol, k):
    """Token-scan definitions: the symbol preceded by a keyword, or
    followed by a trailer and not preceded by a determiner; first
    occurrence per (doc, form), ranked (form, position, doc)."""
    from mantic_sh_spark.functions.tokenize import tokenize

    kws, trs = IndexReader.DEF_KEYWORDS, IndexReader.DEF_TRAILERS
    sym = tokenize(symbol)
    m = len(sym)
    hits = []
    for d, toks in doc_toks.items():
        at = [i for i in range(len(toks) - m + 1) if toks[i:i + m] == sym]
        forms = [[i for i in at if i and toks[i - 1] == kw] for kw in kws]
        forms += [[i for i in at if i + m < len(toks) and toks[i + m] == tw
                   and not (i and toks[i - 1] in IndexReader.DEF_PROSE_GUARD)] for tw in trs]
        hits += [(rank, pos[0], d) for rank, pos in enumerate(forms) if pos]
    labels = list(kws) + [f"={tw}" for tw in trs]
    return [(labels[r], p, d) for r, p, d in sorted(hits)[:k]]


def _check_positional_oracles(spark, idx, reader):
    """definitions, phrase_topk and references of `reader` against the
    token-scan oracles and the Spark phrase engine."""
    from mantic_sh_spark.functions.tokenize import tokenize
    from mantic_sh_spark.operators.phrase import phrase_topk

    doc_toks = _doc_tokens(spark, idx)
    # "function" is a keyword and a trailer (an occurrence is its own
    # neighbour), "the" a determiner, "a the" a symbol holding one
    for symbol in ("zqrare", "w1x", "w7x w8x", "function", "the", "a the"):
        got = [(d["keyword"], d["position"], d["doc_id"])
               for d in reader.definitions(symbol, k=10**6)]
        assert got == _defs_oracle(doc_toks, symbol, 10**6), symbol
    assert reader.definitions("zqrare")[0]["keyword"] == "def"
    phrases = [("zqrare function", 0), ("the zqrare", 0), ("the function", 0),
               ("def w1x", 2), ("w3x the", 1)]
    for ph, slop in phrases:
        want = [(r.doc_id, r.n_matches) for r in phrase_topk(
            spark, idx, [(0, ph)], k=10**6, slop=slop).orderBy("rank").collect()]
        assert reader.phrase_topk(ph, k=10**6, slop=slop) == want != [], ph
    for symbol in ("zqrare", "the function", "w2x"):
        sym = tokenize(symbol)
        oracle = {d: [i for i in range(len(t) - len(sym) + 1) if t[i:i + len(sym)] == sym]
                  for d, t in doc_toks.items()}
        oracle = {d: v for d, v in oracle.items() if v}
        refs = reader.references(symbol, k=10**6, max_positions=10**6)
        assert {r["doc_id"]: r["positions"] for r in refs} == oracle, symbol
        assert [r["doc_id"] for r in refs] == sorted(oracle, key=lambda d: (-len(oracle[d]), d))


def test_positional_run_across_segments_and_legacy_merge(spark, defs_corpus, tmp_path,
                                                         monkeypatch):
    """phrase_topk, references and definitions run the phrase kernel
    once over every segment's blocks and equal their oracles on a
    4-segment index and again after a legacy merge of segments [0, 2]
    (the compactor's split_ranges off: the merged blocks envelop
    segment 1's range, so a term's blocks overlap). The block overlap
    filter prunes: a cold rare-symbol definitions call decodes no more
    blocks than a per-segment run would (every probe term's blocks in
    the symbol's segment), and a cold rare × head phrase decodes fewer."""
    import shutil

    import numpy as np

    import mantic_sh_spark.functions.codec as codec_mod
    from mantic_sh_spark.operators.merge import merge_segments

    idx = str(tmp_path / "idx")
    shutil.copytree(defs_corpus, idx)
    reader = IndexReader(idx)
    (seg,) = reader._blocks(["zqrare"])["zqrare"].segs.tolist()

    def in_seg(t):
        return int((reader._blocks([t])[t].seg == seg).sum())

    # a per-segment run decodes, in the symbol's segment, every block of
    # the symbol and of each definition keyword / trailer present there
    probe_terms = {"zqrare"} | {t for t in IndexReader.DEF_KEYWORDS + IndexReader.DEF_TRAILERS
                                if in_seg(t)}
    cold = IndexReader(idx)
    assert cold.definitions("zqrare")
    st = cold.last_stats
    assert st["blocks_decoded"] <= sum(in_seg(t) for t in probe_terms), st
    # the symbol's BM25 probe counts as a cold term too
    assert st["segments_touched"] == 1 and st["terms_cold"] == 1 + len(
        set(IndexReader.DEF_KEYWORDS + IndexReader.DEF_TRAILERS + IndexReader.DEF_PROSE_GUARD)
        | {"zqrare"})
    assert st["blocks_considered"] > st["blocks_decoded"]
    assert in_seg("function") >= 8
    # warm: the keyword blocks the symbol overlaps were cached as partial
    # decodes, so a repeat call decodes nothing
    first = cold.definitions("zqrare")
    assert cold.definitions("zqrare") == first
    assert cold.last_stats["blocks_decoded"] == 0, cold.last_stats
    cold = IndexReader(idx)
    assert cold.phrase_topk("zqrare function")
    assert cold.last_stats["blocks_decoded"] < in_seg("function") + in_seg("zqrare")
    assert cold.counters()["total"]["queries"] == 1

    _check_positional_oracles(spark, idx, reader)

    orig = codec_mod.compact_stream_fn

    def legacy(*a, **kw):
        kw["split_ranges"] = False
        return orig(*a, **kw)

    monkeypatch.setattr(codec_mod, "compact_stream_fn", legacy)
    merge_segments(spark, idx, [0, 2], dst_segment=5, purge=False)
    merged = IndexReader(idx)
    tb = merged._blocks(["the"])["the"]
    o = np.argsort(tb.first, kind="stable")
    assert np.any(tb.first[o][1:] <= tb.last[o][:-1]), "fixture must overlap blocks"
    _check_positional_oracles(spark, idx, merged)


def test_references_rerun_when_refresh_straddles(spark, defs_corpus, tmp_path):
    """references() re-runs when a refresh() lands mid-attempt: a warm
    reader holds pre-purge blocks of a tombstoned doc; an external
    purge-merge drops the doc and its tombstone, and a refresh racing
    the attempt's liveness read must not let the purged doc back in."""
    import shutil

    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.merge import merge_segments

    idx = str(tmp_path / "idx")
    shutil.copytree(defs_corpus, idx)
    reader = IndexReader(idx)
    victim = reader.references("zqrare")[0]["doc_id"]
    delete_docs(spark, idx, doc_ids=[victim])
    reader.refresh()
    warm = reader.references("zqrare", k=100)
    assert warm and victim not in {r["doc_id"] for r in warm}
    merge_segments(spark, idx, [0, 1, 2, 3], dst_segment=9, purge=True)

    orig = reader._dead_docs
    raced = []

    def racing():
        if not raced:
            raced.append(True)
            reader.refresh()
        return orig()

    reader._dead_docs = racing
    got = reader.references("zqrare", k=100)
    assert raced and victim not in {r["doc_id"] for r in got}
    assert got == IndexReader(idx).references("zqrare", k=100)


def test_topk_rerun_when_refresh_straddles_lengths(spark, defs_corpus, tmp_path):
    """topk() re-runs when a refresh() lands between its block fetch
    and its length gather: the warm pre-purge blocks hold a doc that an
    external purge-merge dropped, so the new epoch's DocLens (built from
    the dst norms) has no row for it. The MissingDocLen that raises is
    a straddle, not a damaged index — the query must answer, as the
    post-purge state."""
    import shutil

    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.merge import merge_segments

    idx = str(tmp_path / "idx")
    shutil.copytree(defs_corpus, idx)
    reader = IndexReader(idx)
    victim = reader.topk("zqrare", k=1)[0][0]
    delete_docs(spark, idx, doc_ids=[victim])
    reader.refresh()
    warm = reader.topk("zqrare", k=100)
    assert warm and victim not in {d for d, _ in warm}
    merge_segments(spark, idx, [0, 1, 2, 3], dst_segment=9, purge=True)

    orig = reader._doc_lens
    raced = []

    def racing():
        if not raced:
            raced.append(True)
            reader.refresh()
        return orig()

    reader._doc_lens = racing
    got = reader.topk("zqrare", k=100)
    assert raced and victim not in {d for d, _ in got}
    assert got == IndexReader(idx).topk("zqrare", k=100)

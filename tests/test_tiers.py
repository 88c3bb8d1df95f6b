"""R1 tier ladder serving form (IndexReader.tiered_topk over the tier
codes the build folds into the postings, format v7): results must be
value-identical to the batch full-corpus mode
(operators/query.tiered_topk) on fresh, mutated, tombstoned and
fold-crashed indexes, and under a budget_ms deadline."""

import os

import pytest
from pyspark.sql import functions as F

from mantic_sh_spark.functions.tokenize import tokens_col
from mantic_sh_spark.operators.query import tiered_topk
from mantic_sh_spark.operators.tiers import DEFAULT_TIER_SPECS, build_tier_index
from mantic_sh_spark.serve import IndexReader


def _batch_docs(spark, idx):
    d = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    for name, _src, window in DEFAULT_TIER_SPECS:
        d = d.withColumn(f"{name}_tokens", F.slice("tokens", 1, window))
    return d


def test_tiered_serving_matches_batch(spark, small_corpus):
    idx = small_corpus["index_dir"]
    assert build_tier_index(spark, idx) == len(DEFAULT_TIER_SPECS)
    docs = _batch_docs(spark, idx)
    fields = [f"{name}_tokens" for name, _s, _w in DEFAULT_TIER_SPECS]
    reader = IndexReader(idx)

    st = small_corpus["cfg"].stop_term
    saw_tier_match = False
    for q in ("w1x", "w2x w3x", "w0x w1x w5x", "qqabsentterm w1x", st, f"{st} w1x"):
        want = [
            (r.doc_id, r.tier, r.score)
            for r in tiered_topk(spark, docs, [(0, q)], tier_fields=fields, k=10)
            .orderBy("rank").collect()
        ]
        got = reader.tiered_topk(q, k=10)
        assert got == want, q
        saw_tier_match |= any(t < len(fields) for _, t, _ in want)
        if q.startswith("qqabsent"):  # no doc holds every term: all final tier
            assert want and {t for _, t, _ in want} == {len(fields)}

        # budget_ms=0 cuts the kernel after its first round: every
        # returned doc carries its exact tier and score, and the answer
        # is partial only when the reader says so
        part = reader.tiered_topk(q, k=10, budget_ms=0)
        exact = {r.doc_id: (r.tier, r.score) for r in tiered_topk(
            spark, docs, [(0, q)], tier_fields=fields, k=10**6).collect()}
        assert len(part) <= 10 and all(exact[d] == (t, s) for d, t, s in part), q
        assert part == sorted(part, key=lambda x: (x[1], -x[2], x[0]))
        if not reader.truncated:
            assert part == want, q
    # the comparison must have exercised a real tier hit, not just the
    # final-tier BM25 path
    assert saw_tier_match

    # serve-loop routing: {"tiered": true} answers with tier column,
    # plus url and snippet when asked; phrase is refused
    import io
    import json

    from mantic_sh_spark.functions.tokenize import tokenize_query
    from mantic_sh_spark.serve import serve_loop

    out = io.StringIO()
    serve_loop(idx, stdin=io.StringIO("".join(json.dumps(r) + "\n" for r in [
        {"q": "w1x", "tiered": True, "k": 4},
        {"q": "w1x", "tiered": True, "k": 4, "urls": True, "snippets": True},
        {"q": "w1x", "tiered": True, "phrase": True},
        {"op": "quit"}])), stdout=out)
    plain, rich, both = (json.loads(x) for x in out.getvalue().splitlines())
    want4 = [{"rank": i + 1, "doc_id": d, "tier": t, "score": s}
             for i, (d, t, s) in enumerate(reader.tiered_topk("w1x", k=4))]
    assert plain["results"] == json.loads(json.dumps(want4))
    ids = [r["doc_id"] for r in want4]
    urls, snips = reader.urls(ids), reader.snippets(ids, tokenize_query("w1x"))
    assert rich["results"] == json.loads(json.dumps(
        [{**r, "url": urls[r["doc_id"]], "snippet": snips[r["doc_id"]]} for r in want4]))
    assert all(r["url"] and r["snippet"] for r in rich["results"])
    assert "exclusive" in both["error"]


def test_build_tier_index_checks_format_and_ladder(spark, small_corpus, tmp_path):
    """build_tier_index runs no job: it returns the ladder size for the
    ladder the format encodes, and refuses any other ladder or an index
    of another format."""
    import shutil

    idx = small_corpus["index_dir"]
    assert build_tier_index(spark, idx) == len(DEFAULT_TIER_SPECS)
    with pytest.raises(ValueError, match="tier ladder"):
        build_tier_index(spark, idx, specs=(("title", "text", 10),))
    old = str(tmp_path / "old")
    shutil.copytree(idx, old)
    shutil.rmtree(f"{old}/format_version")
    with pytest.raises(RuntimeError, match="format v0"):
        build_tier_index(spark, old)


def test_tiered_excludes_deleted_docs(spark, tmp_path):
    """Liveness on the tiered path: tombstoning a tier-matched doc (no
    purge) must drop it from tiered serving after refresh — the
    kernel's DeadDocs check, as for every top-k."""
    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    cfg = SynthConfig(n_docs=100, vocab_size=120, seed=11)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)

    reader = IndexReader(idx)
    before = reader.tiered_topk("w1x", k=6)
    assert before
    victim = before[0][0]
    delete_docs(spark, idx, doc_ids=[victim])
    reader.refresh()
    after = reader.tiered_topk("w1x", k=6)
    assert victim not in {d for d, _, _ in after}
    # the rest of the ranking is unchanged (victim was rank 1, so the
    # survivors shift up; a new doc may enter at the tail)
    assert after[: len(before) - 1] == before[1:]


def test_tier_index_invalidated_by_mutation(spark, tmp_path):
    """The ladder lives in the postings, so a mutation can never leave
    it stale: after an extend, tiered serving equals the batch mode
    over the extended corpus with no rebuild step."""
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages
    from mantic_sh_spark.streaming.incremental import extend_index

    cfg = SynthConfig(n_docs=80, vocab_size=100, seed=7)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=1)
    reader = IndexReader(idx)
    before = reader.tiered_topk("w1x w2x", k=8)

    more = gen_pages(spark, SynthConfig(n_docs=20, vocab_size=100, seed=8), partitions=1)
    extend_index(spark, idx, more, n_new_segments=1)
    reader.refresh()
    docs = _batch_docs(spark, idx)
    fields = [f"{name}_tokens" for name, _s, _w in DEFAULT_TIER_SPECS]
    want = [
        (r.doc_id, r.tier, r.score)
        for r in tiered_topk(spark, docs, [(0, "w1x w2x")], tier_fields=fields, k=8)
        .orderBy("rank").collect()
    ]
    assert reader.tiered_topk("w1x w2x", k=8) == want
    assert want != before  # the extension reached the ladder


def test_tier_index_gates_crashed_extend_fold(spark, tmp_path, monkeypatch):
    """While a crashed extend fold awaits GC, its orphan docs must NOT
    tier-match (ADVICE r4): tier matches outrank every final-tier hit,
    so an orphan that tier-matches would surface even though every
    gated reader path excludes it. The ladder rides in the postings, so
    the reader's manifest gating of the fold's segments covers it."""
    from mantic_sh_spark.operators import index_build as ib
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages
    from mantic_sh_spark.streaming.incremental import extend_index

    cfg = SynthConfig(n_docs=80, vocab_size=100, seed=7)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)
    before = IndexReader(idx).tiered_topk("w1x w2x", k=8)

    # crash the fold at the deferred stats commit: every table dir
    # (docs included) exists, but the closing manifest row never lands.
    # The fold's docs carry a term NO base doc has, at title position 1
    # — the sharpest probe for orphan tier membership.
    extra = gen_pages(spark, SynthConfig(n_docs=40, vocab_size=100, seed=9),
                      partitions=1
                      ).withColumn("text", F.concat(F.lit("zzzorphan "),
                                                    F.col("text")))

    def boom(*a, **kw):
        raise RuntimeError("injected extend crash")

    monkeypatch.setattr(ib, "write_collection_stats", boom)
    with pytest.raises(RuntimeError, match="injected extend crash"):
        extend_index(spark, idx, extra, n_new_segments=1)
    monkeypatch.undo()
    assert os.path.isdir(f"{idx}/docs/segment_id=2")  # orphan docs exist

    # the gated view: no orphan doc tier-matches, and the shared-vocab
    # ladder is stable
    reader = IndexReader(idx)
    assert reader.tiered_topk("zzzorphan", k=8) == []
    assert reader.tiered_topk("w1x w2x", k=8) == before


def test_scores_array_matches_brute_force(spark, small_corpus, monkeypatch):
    """_scores_array (the session boost's per-doc scorer) equals a
    brute-force BM25 scorer over the docs' own tokens, for every live
    doc — docs matching no term score 0.0, an absent term adds nothing
    — on each of its routes: a cold decode of the candidate blocks
    (one call per term, which installs the top-k kernel's ("k",) entry
    when every block holds a candidate) and a warm entry the kernel
    cached (which decodes nothing)."""
    import numpy as np

    from mantic_sh_spark.functions import codec
    from mantic_sh_spark.functions.bm25 import idf
    from mantic_sh_spark.functions.tokenize import tokenize

    idx = small_corpus["index_dir"]
    toks = {r.doc_id: tokenize(r.text)
            for r in spark.read.parquet(f"{idx}/docs").select("doc_id", "text").collect()}
    docs = np.sort(np.array(list(toks), dtype=np.int64))
    dl = np.array([len(toks[d]) for d in docs])
    terms = ["w1x", "w2x", "qqabsentterm"]
    brute = np.zeros(len(docs))
    for t in sorted(terms):  # the reader's summation order
        tf = np.array([toks[d].count(t) for d in docs])
        if tf.any():
            s = idf(len(docs), int((tf > 0).sum())) * codec.tf_norm(tf, dl, dl.mean(), 1.2, 0.75)
            brute += np.where(tf > 0, s, 0.0)
    want = np.round(brute, 4)
    assert (want > 0).any() and (want == 0).any()
    hot = [("k", t) for t in ("w1x", "w2x")]

    decodes = []
    orig = codec.decode_blocks

    def counting(*a, **kw):
        decodes.append(len(a[0]))
        return orig(*a, **kw)

    monkeypatch.setattr(codec, "decode_blocks", counting)
    cold = IndexReader(idx)
    assert np.array_equal(cold._scores_array(terms, docs), want)
    assert len(decodes) == 2  # one call per present term
    assert all(cold._decoded.get(key) is not None for key in hot)
    # the dict wrapper rides the same path and rounds identically, and
    # unsorted input with repeats stays aligned to the input order
    d = cold._scores_for_docs(terms, docs)
    assert d == {int(k): float(v) for k, v in zip(docs, want)}
    perm = np.random.default_rng(0).permutation(len(docs) + 5) % len(docs)
    assert np.array_equal(cold._scores_array(terms, docs[perm]), want[perm])

    warm = IndexReader(idx)
    warm.topk("w1x w2x", k=len(docs))  # the kernel caches both terms whole
    assert all(warm._decoded.get(key) is not None for key in hot)
    decodes.clear()
    assert np.array_equal(warm._scores_array(terms, docs), want)
    # a strict subset of candidates reuses the entry too
    assert np.array_equal(warm._scores_array(terms, docs[::7]), want[::7])
    assert decodes == []


def test_tier_skip_check_masks_tombstones(spark, tmp_path):
    """The kernel's interval skip must count only LIVE docs (r5
    advice): with enough tier-0 matches tombstoned that the live count
    < k, the next slot is the real lead-window (tier 1) doc — dead
    tier-0 docs must not raise θ and cut the tier-1 intervals. Tier
    windows are checked at their edges: position 0 is in the title
    window (8), position 10 only in the lead window (30)."""
    import pandas as pd

    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index

    texts = []
    for i in range(12):   # xterm inside the title window → tier 0
        texts.append(f"xterm lead{i} words here pad pad pad pad tail{i}")
    for i in range(20):   # xterm at position 11: lead window only → tier 1
        texts.append("a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 xterm "
                     f"mid{i} trailing words")
    for i in range(8):    # filler, no xterm
        texts.append(f"filler only document number f{i} nothing else")
    n = len(texts)
    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://ex.com/p{i}" for i in range(n)],
        "warc_ts": pd.to_datetime(["2026-01-01"] * n),
        "html": [b""] * n,
        "text": texts,
        "lang": ["en"] * n,
    }))
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2, block_size=4)

    got = IndexReader(idx).tiered_topk("xterm", k=40)
    assert [t for _, t, _ in got] == [0] * 12 + [1] * 20
    tier0 = [d for d, t, _ in got if t == 0]
    delete_docs(spark, idx, doc_ids=tier0[:8])  # live tier-0 = 4 < k

    want = IndexReader(idx).tiered_topk("xterm", k=5)
    # 4 live tier-0 docs, then a real LEAD-window (tier 1) doc
    assert [t for _, t, _ in want] == [0, 0, 0, 0, 1]
    assert not set(tier0[:8]) & {d for d, _, _ in want}
    fields = [f"{name}_tokens" for name, _s, _w in DEFAULT_TIER_SPECS]
    batch = [(r.doc_id, r.tier, r.score) for r in tiered_topk(
        spark, _batch_docs(spark, idx), [(0, "xterm")], tier_fields=fields, k=13)
        .orderBy("rank").collect() if r.doc_id not in set(tier0[:8])]
    assert want == batch[:5]


def test_tiered_resets_truncated(spark, small_corpus):
    """The thread-local ST4 flag must reset per query on the tiered
    path too: a prior budget-truncated query's True must not leak into
    a complete tiered answer."""
    idx = small_corpus["index_dir"]
    reader = IndexReader(idx)
    reader.truncated = True  # simulate a prior deadline-truncated query
    got = reader.tiered_topk("w1x", k=1)
    assert got and reader.truncated is False

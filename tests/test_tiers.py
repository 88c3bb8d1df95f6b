"""R1 tier ladder serving form (operators/tiers.py + IndexReader
.tiered_topk): the materialized tier containment index must serve
results value-identical to the batch full-corpus mode
(operators/query.tiered_topk), and invalidate on mutations like the
other optional sidecars."""

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

    saw_tier_match = False
    for q in ("w1x", "w2x w3x", "w0x w1x w5x", "qqabsentterm w1x"):
        want = [
            (r.doc_id, r.tier, r.score)
            for r in tiered_topk(spark, docs, [(0, q)], tier_fields=fields, k=10)
            .orderBy("rank").collect()
        ]
        got = reader.tiered_topk(q, k=10)
        assert got == want, q
        saw_tier_match |= any(t < len(fields) for _, t, _ in want)
    # the comparison must have exercised a real tier hit, not just the
    # final-tier BM25 path
    assert saw_tier_match

    # serve-loop routing: {"tiered": true} answers with tier column
    import io
    import json

    from mantic_sh_spark.serve import serve_loop

    out = io.StringIO()
    serve_loop(idx, stdin=io.StringIO(
        json.dumps({"q": "w1x", "tiered": True, "k": 4}) + "\n"
        + json.dumps({"op": "quit"}) + "\n"), stdout=out)
    resp = json.loads(out.getvalue().splitlines()[0])
    want4 = [{"rank": i + 1, "doc_id": d, "tier": t, "score": s}
             for i, (d, t, s) in enumerate(reader.tiered_topk("w1x", k=4))]
    assert resp["results"] == json.loads(json.dumps(want4))

    # no tier index → instructive error
    reader2 = IndexReader(idx)
    reader2.paths = type(reader.paths)(str(idx) + "_nope")
    with pytest.raises(FileNotFoundError, match="tier index"):
        reader2.tiered_topk("w1x")


def test_tiered_excludes_deleted_docs(spark, tmp_path):
    """Liveness on the tiered path: tombstoning a tier-matched doc (no
    purge, tier index left in place) must drop it from tiered serving
    after refresh — the per-segment sidecar check inside tiered_topk."""
    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    cfg = SynthConfig(n_docs=100, vocab_size=120, seed=11)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)
    build_tier_index(spark, idx)

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
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.catalog import IndexPaths
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages
    from mantic_sh_spark.streaming.incremental import extend_index

    cfg = SynthConfig(n_docs=80, vocab_size=100, seed=7)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=1)
    build_tier_index(spark, idx)
    paths = IndexPaths(idx)
    assert os.path.isdir(paths.tier_index) and os.path.isdir(paths.tier_meta)

    more = gen_pages(spark, SynthConfig(n_docs=20, vocab_size=100, seed=8), partitions=1)
    extend_index(spark, idx, more, n_new_segments=1)
    assert not os.path.isdir(paths.tier_index)  # stale tiers dropped
    assert not os.path.isdir(paths.tier_meta)

    # rebuild covers the extended corpus: serving == batch again
    build_tier_index(spark, idx)
    docs = _batch_docs(spark, idx)
    fields = [f"{name}_tokens" for name, _s, _w in DEFAULT_TIER_SPECS]
    want = [
        (r.doc_id, r.tier, r.score)
        for r in tiered_topk(spark, docs, [(0, "w1x w2x")], tier_fields=fields, k=8)
        .orderBy("rank").collect()
    ]
    assert IndexReader(idx).tiered_topk("w1x w2x", k=8) == want


def test_tier_index_gates_crashed_extend_fold(spark, tmp_path, monkeypatch):
    """A tier index built while a crashed extend fold awaits GC must NOT
    bake the fold's orphan docs into tier membership (ADVICE r4): tier
    matches outrank every final-tier hit, so an orphan that tier-matches
    would surface even though every gated reader path excludes it.
    build_tier_index must read gated_docs, like build_term_dictionary."""
    from mantic_sh_spark.operators import index_build as ib
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages
    from mantic_sh_spark.streaming.incremental import extend_index

    cfg = SynthConfig(n_docs=80, vocab_size=100, seed=7)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)
    build_tier_index(spark, idx)
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

    # rebuilding the tier index mid-crash must reproduce the gated view:
    # no orphan doc tier-matches, and the shared-vocab ladder is stable
    build_tier_index(spark, idx)
    reader = IndexReader(idx)
    assert reader.tiered_topk("zzzorphan", k=8) == []
    assert reader.tiered_topk("w1x w2x", k=8) == before


def test_scores_array_matches_brute_force(spark, small_corpus, monkeypatch):
    """_scores_array (the tier ladder's per-doc scorer) equals a
    brute-force BM25 scorer over the docs' own tokens, for every live
    doc — docs matching no term score 0.0, an absent term adds nothing
    — on each of its routes: a cold single-pass decode (which installs
    the top-k kernel's ("k", -1) entry), a multi-pass decode under a
    tiny _SWEEP_DF_CAP (which installs nothing), and a warm entry the
    kernel cached (which decodes nothing)."""
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
    hot = [("k", -1, t) for t in ("w1x", "w2x")]

    decodes = []
    orig = codec.decode_blocks

    def counting(*a, **kw):
        decodes.append(len(a[0]))
        return orig(*a, **kw)

    monkeypatch.setattr(codec, "decode_blocks", counting)
    cold = IndexReader(idx)
    assert np.array_equal(cold._scores_array(terms, docs), want)
    assert len(decodes) == 2  # one pass per present term
    assert all(cold._decoded.get(key) is not None for key in hot)
    # the dict wrapper rides the same path and rounds identically, and
    # unsorted input with repeats stays aligned to the input order
    d = cold._scores_for_docs(terms, docs)
    assert d == {int(k): float(v) for k, v in zip(docs, want)}
    perm = np.random.default_rng(0).permutation(len(docs) + 5) % len(docs)
    assert np.array_equal(cold._scores_array(terms, docs[perm]), want[perm])

    decodes.clear()
    multi = IndexReader(idx)
    multi._SWEEP_DF_CAP = 1  # every pass decodes a single block
    assert np.array_equal(multi._scores_array(terms, docs), want)
    assert len(decodes) > 2 and set(decodes) == {1}
    assert all(multi._decoded.get(key) is None for key in hot)

    warm = IndexReader(idx)
    warm.topk("w1x w2x", k=len(docs))  # the kernel caches both terms whole
    assert all(warm._decoded.get(key) is not None for key in hot)
    decodes.clear()
    assert np.array_equal(warm._scores_array(terms, docs), want)
    # a strict subset of candidates reuses the entry too
    assert np.array_equal(warm._scores_array(terms, docs[::7]), want[::7])
    assert decodes == []


def test_tier_budget_guard(spark, tmp_path, monkeypatch):
    """Head-term memory budgets on the tiered serving path: a term
    whose tier doc list exceeds _TIER_DF_CAP is intersected by a
    STREAMING scan (never materialized) with rank-identical results; a
    field where EVERY query term is over-cap refuses loudly
    (TierBudgetExceeded) instead of materializing a corpus-share
    array; a tiny _SWEEP_DF_CAP splits the scorer's decode into
    single-block passes with identical scores."""
    import pandas as pd

    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.serve import TierBudgetExceeded

    n = 64
    texts = []
    for i in range(n):
        # "common" leads every title window; "rare" only docs 5 and 9
        head = "common rare" if i in (5, 9) else "common filler"
        texts.append(f"{head} w{i % 7}x padder tokens follow here "
                     f"body{i} trailing words beyond the windows")
    pages = spark.createDataFrame(pd.DataFrame({
        "url": [f"https://ex.com/t{i}" for i in range(n)],
        "warc_ts": pd.to_datetime(["2026-01-01"] * n),
        "html": [b""] * n,
        "text": texts,
        "lang": ["en"] * n,
    }))
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)
    build_tier_index(spark, idx)

    base = IndexReader(idx)
    want = base.tiered_topk("common rare", k=10)
    assert want and any(t == 0 for _, t, _ in want)  # real tier hits

    calls = []
    orig = IndexReader._tier_stream_intersect

    def spy(d, tid, cand):
        calls.append(int(tid))
        return orig(d, tid, cand)

    monkeypatch.setattr(IndexReader, "_tier_stream_intersect", staticmethod(spy))

    guarded = IndexReader(idx)
    guarded._TIER_DF_CAP = 2  # df(rare)=2 materializes; "common" streams
    assert guarded.tiered_topk("common rare", k=10) == want
    assert calls  # the streaming path actually ran
    # counted into totals even though the <k fill path ran (2 matches)
    assert guarded.counters()["total"]["tier_stream_intersects"] == len(calls)
    assert guarded.tiered_topk("common rare", k=10) == want  # repeat: stable

    # every term over-cap in a tier field → loud refusal, not an OOM
    refuser = IndexReader(idx)
    refuser._TIER_DF_CAP = 1
    with pytest.raises(TierBudgetExceeded, match="tier field"):
        refuser.tiered_topk("common", k=5)

    # scorer budget: single-block decode passes, same scores
    swp = IndexReader(idx)
    swp._SWEEP_DF_CAP = 1
    assert swp.tiered_topk("common rare", k=10) == want


def test_tier_budget_skips_later_fields_once_topk_pinned(spark, tmp_path):
    """A query whose top k is already pinned by an earlier tier must
    NEVER refuse on a later all-over-cap field (later tiers sort below
    k earlier-tier docs, so neither the probe, the stream, nor the
    refusal can change the answer). The lead window (30) is a superset
    of the title window (8), so a term placed at positions 1 and ~11
    has a small title count but a large lead count."""
    import pandas as pd

    from mantic_sh_spark.operators.index_build import build_index

    texts = []
    for i in range(12):   # xterm inside the title window
        texts.append(f"xterm lead{i} words here pad pad pad pad tail{i}")
    for i in range(20):   # xterm at position 11: lead window only
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
    build_index(spark, pages, idx, n_segments=2)
    build_tier_index(spark, idx)

    base = IndexReader(idx)
    want = base.tiered_topk("xterm", k=5)
    assert len(want) == 5 and all(t == 0 for _, t, _ in want)

    guarded = IndexReader(idx)
    # title count (12) == cap → materializes; lead count (32) > cap →
    # the lead field is ALL-over-cap, but tier 0 already pinned the
    # top 5, so the query must answer (pre-fix: TierBudgetExceeded)
    guarded._TIER_DF_CAP = 12
    assert guarded.tiered_topk("xterm", k=5) == want


def test_tier_skip_check_masks_tombstones(spark, tmp_path):
    """The earlier-tiers-pin-top-k skip must count only LIVE docs
    (r5 advice): with enough tier-0 matches tombstoned that the live
    pinned count < k, a later all-over-cap field must surface its
    (correct, loud) refusal — not be skipped on the dead-inflated
    count, which silently served later-tier docs as WAND fill
    (tier n_tiers) instead of their real tier."""
    import pandas as pd

    from mantic_sh_spark.operators.delete import delete_docs
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.serve import TierBudgetExceeded

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
    build_index(spark, pages, idx, n_segments=2)
    build_tier_index(spark, idx)

    tier0 = [d for d, t, _ in IndexReader(idx).tiered_topk("xterm", k=12)
             if t == 0]
    assert len(tier0) == 12
    delete_docs(spark, idx, doc_ids=tier0[:8])  # live tier-0 = 4 < k

    control = IndexReader(idx)
    want = control.tiered_topk("xterm", k=5)
    # 4 live tier-0 docs, then a real LEAD-window (tier 1) doc — the
    # pre-fix skip served that slot as a tier-2 WAND fill instead
    assert [t for _, t, _ in want] == [0, 0, 0, 0, 1]
    assert not set(tier0[:8]) & {d for d, _, _ in want}

    guarded = IndexReader(idx)
    # title list (12) == cap → materializes; lead list (32) > cap → the
    # lead field is all-over-cap. Live pinned docs (4) < k, so the skip
    # must NOT fire and the budget refusal must surface loudly.
    guarded._TIER_DF_CAP = 12
    with pytest.raises(TierBudgetExceeded, match="tier field"):
        guarded.tiered_topk("xterm", k=5)


def test_tiered_resets_truncated(spark, small_corpus):
    """The thread-local ST4 flag must reset per query on the tiered
    path too: a prior budget-truncated query's True must not leak into
    a complete tiered answer (the ≥k branch never runs topk, which is
    where the other impls' reset lived)."""
    idx = small_corpus["index_dir"]
    build_tier_index(spark, idx)
    reader = IndexReader(idx)
    reader.truncated = True  # simulate a prior deadline-truncated query
    got = reader.tiered_topk("w1x", k=1)  # tier matches ≥ k: no fill
    assert got and reader.truncated is False


def test_tier_build_crash_state_refuses_then_rebuild_heals(spark, tmp_path):
    """tier_index_meta is written LAST by build_tier_index, so every
    mid-build crash leaves (possibly partial) field dirs with no meta.
    Readers must refuse that state with the rebuild instruction —
    never serve from partial tier fields — and a rebuild fully heals."""
    import shutil

    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.catalog import IndexPaths
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=80, vocab_size=100, seed=5),
                      partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)
    build_tier_index(spark, idx)
    want = IndexReader(idx).tiered_topk("w1x w2x", k=8)

    # the crash-equivalent state: fields on disk, meta gone
    shutil.rmtree(IndexPaths(idx).tier_meta)
    with pytest.raises(FileNotFoundError, match="tier index"):
        IndexReader(idx).tiered_topk("w1x w2x", k=8)

    build_tier_index(spark, idx)
    assert IndexReader(idx).tiered_topk("w1x w2x", k=8) == want

"""Randomized rank-identity campaign across adversarial index layouts
(tiny blocks, tiny salt chunks, 1-5 segments, optional compacting
merges): the distributed engine (wand_topk — the block-interval
kernel, once per segment) must equal exhaustive BM25, and the serving
reader (serve.IndexReader — the same kernel once over every segment,
no Spark on the query path) must equal the distributed engine. A
budget_ms=0 reader answer (a deadline that cuts the kernel after its
first round) must carry exact scores.

Every case also checks tiered serving (IndexReader.tiered_topk — the
same kernel over the tier codes in the postings) against the batch
operator (operators/query.tiered_topk), incl. a stop-term head query
and an absent-term query, and the per-doc scorer behind session boosts
(_scores_for_docs, which checks the budget_ms=0 answers' scores) — then
TOMBSTONES the head of several rankings and re-checks WAND, serving,
and tiered identity against the deleted-filtered oracles (collection
stats stay pre-delete on both sides by contract). Every third case
then UPSERTS modified versions of a few head docs (tombstones + a fresh
segment) and re-checks tiered identity, then PURGES with a merge of
every segment and checks it once more. Each of those states (and the
positional twin) also checks the reader's df — the n of its served
blocks summed — against the Spark plane's terms-directory df.

Every layout — fresh, merged, legacy, deleted, upserted, purged, the
positional twin and a fold-gated one — also checks the reader's
DocLens (blocks store no doc lengths; scorers gather them from the
norms sidecar) against the docs table's doc_len for every served
posting's doc (`doc_lens=OK`), and prewarms a second reader with the
case's queries: its topk and tiered_topk must equal the checked
reader's with no block decoded and no term fetched (`warm=OK`). The
fold-gated layout is the purging
merge of the upsert cases killed right after its 'committed' barrier:
the reader serves its dst and gates the sources out, and must equal
the Spark plane on that same snapshot before GC rolls the fold
forward.

Merging cases first tombstone a few head docs and THEN run the
non-purge merge, so their tombstones re-home under the merge's dst
partition: every check of the case (WAND, serving topk, tiered, and —
on the positional twin, deleted and merged the same way — phrase_topk
and references) then runs against re-homed tombstone partitions.
"legacy" cases fold only segments [0, 2] of 3-5 with the compactor's
split_ranges off (the layout of compactions from before it existed):
re-encoded blocks span the stride gap and envelop segment 1, so the
kernels rank over overlapping block intervals.

Odd-seeded cases additionally build POSITIONALLY and fuzz the phrase
engine (incl. stop-term phrases — the batched keyed-searchsorted
verifier's worst case — and random slop) against an INDEPENDENT
per-doc greedy oracle in pure Python, plus reader↔engine identity,
and the reader's references and definitions against token-scan
oracles (`defs=OK`; definition forms set to corpus terms on that
reader, since the synth corpus has no code keywords). The reader runs the phrase kernel once over every segment's blocks,
so `pos_overlapping_blocks` reports whether the positional twin's
phrase and reference terms had self-overlapping block lists (True on
the legacy cases: the global run met the enveloping blocks).
Usage: python tools/fuzz_wand.py"""

import bisect
import shutil
import sys

import numpy as np

sys.path.insert(0, ".")
from pyspark.sql import functions as F

import mantic_sh_spark.functions.codec as codec_mod
import mantic_sh_spark.operators.merge as merge_mod
from mantic_sh_spark.session import get_spark
from mantic_sh_spark.functions.tokenize import tokens_col
from mantic_sh_spark.operators.index_build import build_index
from mantic_sh_spark.operators.merge import gc_aborted_merges, merge_segments
from mantic_sh_spark.functions.tokenize import tokenize, tokenize_query
from mantic_sh_spark.operators.delete import delete_docs
from mantic_sh_spark.operators.phrase import phrase_topk
from mantic_sh_spark.operators.query import bm25_topk
from mantic_sh_spark.operators.query import tiered_topk as batch_tiered
from mantic_sh_spark.operators.tiers import DEFAULT_TIER_SPECS
from mantic_sh_spark.operators.wand import _index_meta, _term_meta, refresh_meta, wand_topk
from mantic_sh_spark.serve import IndexReader
from mantic_sh_spark.sources.catalog import IndexPaths
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries
from mantic_sh_spark.streaming.incremental import upsert_pages

spark = get_spark(cores=8)
fails = 0

TIER_FIELDS = [f"{name}_tokens" for name, _s, _w in DEFAULT_TIER_SPECS]


def _batch_docs(idx):
    d = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    for name, _src, window in DEFAULT_TIER_SPECS:
        d = d.withColumn(f"{name}_tokens", F.slice("tokens", 1, window))
    return d


def _tiered_want(idx, tqueries, k, exclude=frozenset()):
    """query_id → [(doc_id, tier, score)] from the batch operator,
    minus tombstoned docs: ask for k+|exclude| and drop them (the rank
    order is a deterministic total order, so the prefix is stable)."""
    rows = (
        batch_tiered(spark, _batch_docs(idx), tqueries,
                     tier_fields=TIER_FIELDS, k=k + len(exclude))
        .orderBy("query_id", "rank").collect()
    )
    out = {}
    for r in rows:
        if r.doc_id in exclude:
            continue
        lst = out.setdefault(r.query_id, [])
        if len(lst) < k:
            lst.append((r.doc_id, r.tier, r.score))
    return out


def _minus(rows, dead, k):
    """query_id → [(doc_id, score)]: the first k rows of each ranking
    whose doc is not in `dead` (rows ordered by query_id, rank)."""
    out = {}
    for r in rows:
        if r.doc_id in dead:
            continue
        lst = out.setdefault(r.query_id, [])
        if len(lst) < k:
            lst.append((r.doc_id, r.score))
    return out


def _tiered_identity(reader, tqueries, want, k):
    return all(reader.tiered_topk(q, k=k) == want.get(qid, []) for qid, q in tqueries)


def _merge(idx, srcs, dst, legacy):
    """Non-purge compacting merge of `srcs`; `legacy` turns the
    compactor's split_ranges off."""
    orig = codec_mod.compact_stream_fn

    def no_split(*a, **kw):
        kw["split_ranges"] = False
        return orig(*a, **kw)

    if legacy:
        codec_mod.compact_stream_fn = no_split
    try:
        merge_segments(spark, idx, srcs, dst_segment=dst, purge=False)
    finally:
        codec_mod.compact_stream_fn = orig


def _budget0_exact(reader, queries, k):
    """A budget_ms=0 answer: ≤ k docs, ranked, each with its exact
    score (checked against the reader's separate per-doc scorer)."""
    for _, q in queries:
        part = reader.topk(q, k=k, budget_ms=0)
        if len(part) > k or part != sorted(part, key=lambda x: (-x[1], x[0])):
            return False
        docs = np.array(sorted(d for d, _ in part), dtype=np.int64)
        exact = reader._scores_for_docs(tokenize_query(q), docs)
        if any(abs(exact[d] - s) > 1.0001e-4 for d, s in part):
            return False
    return True


def _df_identity(reader, idx, queries):
    """The reader's df (the n of its served blocks summed) equals the
    Spark plane's terms-directory df, both under the same fold gating."""
    terms = sorted({t for _, q in queries for t in tokenize_query(q)})
    refresh_meta(idx)
    paths = IndexPaths(idx)
    meta = _term_meta(spark, paths, terms, excluded=_index_meta(spark, paths)[4])
    return reader.df(terms) == {t: m[0] for t, m in meta.items()}


def _doc_lens_ok(reader, idx):
    """The reader's DocLens holds, for every doc a served posting
    names, the docs table's doc_len (gated segments skipped)."""
    import pyarrow.dataset as ds

    post = ds.dataset(f"{idx}/postings", format="parquet", partitioning="hive")
    flt = ~ds.field("segment_id").isin(reader.gated_segments) if reader.gated_segments else None
    t = post.to_table(filter=flt, columns=["n", "first_doc", "doc_gaps", "tfs"])
    served = np.unique(codec_mod.decode_blocks(
        t["n"].to_numpy(), t["first_doc"].to_numpy(),
        t["doc_gaps"].combine_chunks(), t["tfs"].combine_chunks())[0])
    d = ds.dataset(f"{idx}/docs", format="parquet", partitioning="hive").to_table(
        columns=["doc_id", "doc_len"]).to_pydict()
    truth = dict(zip(d["doc_id"], d["doc_len"]))
    return reader._doc_lens().get(served).tolist() == [truth[x] for x in served.tolist()]


def _warm_ok(reader, idx, queries):
    """A second reader, prewarmed with `queries`, answers their topk
    and tiered_topk like `reader` without fetching a term or decoding a
    block: the prewarm's one read and one decode pass left exactly the
    state those runs need."""
    warm = IndexReader(idx)
    warm.prewarm([q for _, q in queries])
    ok = True
    for _, q in queries:
        for run in ("topk", "tiered_topk"):
            ok &= getattr(warm, run)(q, k=8) == getattr(reader, run)(q, k=8)
            ok &= warm.last_stats["terms_cold"] == warm.last_stats["blocks_decoded"] == 0
    return ok


def _fold_gated_ok(reader, idx, queries, live):
    """Purge-merge every live segment, killed right after its
    'committed' barrier: the reader gates the sources out and serves
    the dst — its doc lengths and top-k must match the Spark plane on
    that snapshot — then GC rolls the fold forward. Returns that check
    and _warm_ok's on the gated snapshot."""
    orig = merge_mod._finish_merge

    def killed(*a, **kw):
        raise InterruptedError("killed after the committed barrier")

    merge_mod._finish_merge = killed
    try:
        merge_segments(spark, idx, live, purge=True)
    except InterruptedError:
        pass
    finally:
        merge_mod._finish_merge = orig
    refresh_meta(idx)
    reader.refresh()
    ok = sorted(reader.gated_segments) == sorted(live) and _doc_lens_ok(reader, idx)
    rw = wand_topk(spark, idx, queries, k=8).orderBy("query_id", "rank").collect()
    want = {}
    for r in rw:
        want.setdefault(r.query_id, []).append((r.doc_id, round(r.score, 4)))
    ok &= all([(d, round(s, 4)) for d, s in reader.topk(q, k=8)] == want.get(qid, [])
              for qid, q in queries)
    warm = _warm_ok(reader, idx, queries)
    gc_aborted_merges(spark, IndexPaths(idx))
    return ok, warm


def _defs_want(reader, doc_toks, symbol):
    """Token-scan definitions under `reader`'s DEF_* sets: the symbol
    preceded by a keyword, or followed by a trailer and not preceded by
    a determiner; the first occurrence per (doc, form), ranked (form,
    position, doc) — [(label, position, doc_id)]."""
    kws, trs, dets = reader.DEF_KEYWORDS, reader.DEF_TRAILERS, reader.DEF_PROSE_GUARD
    sym = tokenize(symbol)
    m = len(sym)
    hits = []
    for d, toks in doc_toks.items():
        at = [i for i in range(len(toks) - m + 1) if toks[i:i + m] == sym]
        forms = [[i for i in at if i and toks[i - 1] == kw] for kw in kws]
        forms += [[i for i in at if i + m < len(toks) and toks[i + m] == tw
                   and not (i and toks[i - 1] in dets)] for tw in trs]
        hits += [(rank, pos[0], d) for rank, pos in enumerate(forms) if pos]
    labels = list(kws) + [f"={tw}" for tw in trs]
    return [(labels[r], p, d) for r, p, d in sorted(hits)]


def _overlapping(reader, terms):
    """Does any term's block-interval list overlap itself?"""
    for tb in reader._blocks(sorted(set(terms))).values():
        o = np.argsort(tb.first, kind="stable")
        if np.any(tb.first[o][1:] <= tb.last[o][:-1]):
            return True
    return False


cases = [(101+i, [2,3,5,7,11,13][i%6], [16,24,48,96][i%4], (i%5)+1, [60,200,700,1500][i%4],
          "all" if i % 2 == 0 else None)
         for i in range(12)]
cases += [(113+i, [2,3,5][i], [16,24,48][i], 3+i, [60,200,700][i], "legacy") for i in range(3)]
for seed, bs, cs, nseg, vocab, do_merge in cases:
    srcs = [0, 2] if do_merge == "legacy" else list(range(nseg))
    cfg = SynthConfig(n_docs=350, vocab_size=vocab, seed=seed)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = f"/tmp/fuzz2_{seed}"
    shutil.rmtree(idx, ignore_errors=True)
    build_index(spark, pages, idx, n_segments=nseg, chunk_size=cs, block_size=bs)
    queries = gen_queries(cfg, n_queries=20)
    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    pre = set()  # tombstoned BEFORE the merge → re-homed partitions
    pre_urls = set()
    if do_merge and nseg > 1:
        pre = {r.doc_id for r in bm25_topk(spark, docs, queries[4:7], k=1).collect()}
        pre_urls = {r.url for r in docs.where(F.col("doc_id").isin(sorted(pre)))
                    .select("url").collect()}
        delete_docs(spark, idx, doc_ids=sorted(pre))
        _merge(idx, srcs, nseg + 3, do_merge == "legacy")
    rw = wand_topk(spark, idx, queries, k=8).orderBy("query_id", "rank").collect()
    rx = bm25_topk(spark, docs, queries, k=8 + len(pre)).orderBy("query_id", "rank").collect()
    got_w = {}
    for r in rw:
        got_w.setdefault(r.query_id, []).append((r.doc_id, r.score))
    ok = got_w == {q: v for q, v in _minus(rx, pre, 8).items() if v}
    # serving-path identity on the same layout
    reader = IndexReader(idx)
    wand_by_q = {}
    for r in rw:
        wand_by_q.setdefault(r.query_id, []).append((r.doc_id, round(r.score, 4)))
    serve_ok = all(
        [(d, round(s, 4)) for d, s in reader.topk(q, k=8)] == wand_by_q.get(qid, [])
        for qid, q in queries
    ) and _budget0_exact(reader, queries, 8)
    overlap = any(_overlapping(reader, tokenize_query(q)) for _, q in queries)
    # tiered serving vs batch identity on this layout, incl. a
    # stop-term head query and an absent-term query
    st = cfg.stop_term
    tq = queries + [(900, st), (901, f"{st} w1x"), (902, "qqabsentterm w1x")]
    tier_ok = _tiered_identity(reader, tq, _tiered_want(idx, tq, 8, exclude=pre), 8)
    df_ok = _df_identity(reader, idx, tq)
    lens_ok = _doc_lens_ok(reader, idx)
    warm_ok = _warm_ok(reader, idx, tq)

    # tombstone the head of several rankings; WAND + serving + tiered
    # must all equal the deleted-filtered oracles
    dels = sorted({r.doc_id for r in rw if r.query_id < 4 and r.rank <= 2})
    del_ok = True
    if dels:
        delete_docs(spark, idx, doc_ids=dels)
        dset = set(dels) | pre
        rw2 = wand_topk(spark, idx, queries, k=8).orderBy("query_id", "rank").collect()
        rx2 = bm25_topk(spark, docs, queries, k=8 + len(dset)).orderBy(
            "query_id", "rank").collect()
        want_w = _minus(rx2, dset, 8)
        got_w = {}
        for r in rw2:
            got_w.setdefault(r.query_id, []).append((r.doc_id, r.score))
        del_ok &= got_w == {q: v for q, v in want_w.items() if v}
        reader.refresh()
        del_ok &= all(
            [(d, round(s, 4)) for d, s in reader.topk(q, k=8)] == got_w.get(qid, [])
            for qid, q in queries
        ) and _budget0_exact(reader, queries, 8)
        del_ok &= _tiered_identity(reader, tq, _tiered_want(idx, tq, 8, exclude=dset), 8)
        df_ok &= _df_identity(reader, idx, tq)
        lens_ok &= _doc_lens_ok(reader, idx)
        warm_ok &= _warm_ok(reader, idx, tq)

    churn_ok = True
    if seed % 3 == 0:
        # upsert: new versions of a few live head docs, led by a tier-0
        # "w1x <stop>" (same url, new text) — their old ids tombstone and
        # a fresh segment folds in; then a purging merge of every segment
        heads = {r.doc_id for r in rw if 4 <= r.query_id < 8 and r.rank <= 2} - set(dels) - pre
        urls = [r.url for r in docs.where(F.col("doc_id").isin(sorted(heads)))
                .select("url").collect()]
        upsert_pages(spark, idx, pages.where(F.col("url").isin(urls)).withColumn(
            "text", F.concat(F.lit(f"w1x {st} "), F.col("text"))), n_new_segments=1)
        dead = {r.doc_id for r in spark.read.parquet(f"{idx}/tombstones")
                .select("doc_id").collect()}
        reader.refresh()
        churn_ok &= _tiered_identity(reader, tq, _tiered_want(idx, tq, 8, exclude=dead), 8)
        df_ok &= _df_identity(reader, idx, tq)
        lens_ok &= _doc_lens_ok(reader, idx)
        warm_ok &= _warm_ok(reader, idx, tq)
        live = sorted({int(r.segment_id) for r in spark.read.parquet(f"{idx}/postings")
                       .select("segment_id").distinct().collect()})
        gated_ok, gated_warm = _fold_gated_ok(reader, idx, queries, live)
        lens_ok &= gated_ok
        warm_ok &= gated_warm
        refresh_meta(idx)
        reader.refresh()
        churn_ok &= _tiered_identity(reader, tq, _tiered_want(idx, tq, 8), 8)
        df_ok &= _df_identity(reader, idx, tq)
        lens_ok &= _doc_lens_ok(reader, idx)
        warm_ok &= _warm_ok(reader, idx, tq)

    phrase_ok = True
    defs_ok = True
    defs_hits = None
    pos_overlap = None
    if seed % 2 == 1:
        # positional build on the same corpus/layout; fuzz phrase+slop
        posidx = f"{idx}_pos"
        shutil.rmtree(posidx, ignore_errors=True)
        build_index(spark, pages, posidx, n_segments=nseg, chunk_size=cs,
                    block_size=bs, store_positions=True)
        if pre_urls:  # same pre-merge deletes + non-purge merge
            delete_docs(spark, posidx, urls=sorted(pre_urls))
            _merge(posidx, srcs, nseg + 3, do_merge == "legacy")
        doc_toks = {
            r.doc_id: tokenize(r.text)
            for r in spark.read.parquet(f"{posidx}/docs").select("doc_id", "url", "text")
            .collect()
            if r.url not in pre_urls
        }

        def brute_starts(tokens, terms, slop=0):
            # independent greedy oracle: for each start of terms[0], take
            # the smallest next position per term; valid if stretch<=slop.
            # Returns the valid match-START positions (count = len).
            pos = {t: [i for i, x in enumerate(tokens) if x == t] for t in set(terms)}
            if any(not pos[t] for t in terms):
                return []
            out = []
            for p0 in pos[terms[0]]:
                prev, good = p0, True
                for t in terms[1:]:
                    lst = pos[t]
                    j = bisect.bisect_right(lst, prev)
                    if j >= len(lst):
                        good = False
                        break
                    prev = lst[j]
                if good and (prev - p0 - (len(terms) - 1)) <= slop:
                    out.append(p0)
            return out

        def brute(tokens, terms, slop):
            return len(brute_starts(tokens, terms, slop))

        st = cfg.stop_term
        phrases = [(0, f"{st} w1x", 0), (1, f"{st} {st}", 0), (2, "w2x w3x", 0),
                   (3, f"w1x {st} w4x", seed % 3), (4, f"{st} w5x", 2), (5, "w7x", 0)]
        preader = IndexReader(posidx)
        df_ok &= _df_identity(preader, posidx, tq)
        lens_ok &= _doc_lens_ok(preader, posidx)
        warm_ok &= _warm_ok(preader, posidx, tq)
        for qid, ph, slop in phrases:
            terms = tokenize(ph)
            want = {d: brute(toks, terms, slop) for d, toks in doc_toks.items()}
            want = {d: n for d, n in want.items() if n > 0}
            got_rows = phrase_topk(spark, posidx, [(qid, ph)], k=10**6, slop=slop).collect()
            got = {r.doc_id: r.n_matches for r in got_rows}
            if got != want:
                phrase_ok = False
            sgot = dict(preader.phrase_topk(ph, k=10**6, slop=slop))
            if sgot != want:
                phrase_ok = False
        # find_references serving kernel vs the start-position oracle
        # (single-term, multi-term, and stop-term symbols)
        refs = [f"{st} w1x", "w2x w3x", "w7x"]
        for sym in refs:
            terms = tokenize(sym)
            rwant = {d: brute_starts(toks, terms) for d, toks in doc_toks.items()}
            rwant = {d: v for d, v in rwant.items() if v}
            rgot = {r["doc_id"]: r["positions"]
                    for r in preader.references(sym, k=10**6, max_positions=10**6)}
            if rgot != rwant:
                phrase_ok = False
        # definitions: the synth corpus has no code keywords, so this
        # reader's definition forms are corpus terms — the stop term is
        # a keyword and a determiner, w1x a keyword and a trailer
        preader.DEF_KEYWORDS = (st, "w1x", "w2x")
        preader.DEF_TRAILERS = ("w3x", "w4x", "w1x")
        preader.DEF_PROSE_GUARD = (st, "w5x")
        defs_hits = 0
        for sym in refs:
            dwant = _defs_want(preader, doc_toks, sym)
            defs_hits += len(dwant)
            defs_ok &= [(d["keyword"], d["position"], d["doc_id"])
                        for d in preader.definitions(sym, k=10**6)] == dwant
        pos_overlap = any(_overlapping(preader, tokenize(t))
                          for t in [ph for _, ph, _ in phrases] + refs)
        shutil.rmtree(posidx, ignore_errors=True)
    fails += not (ok and serve_ok and phrase_ok and defs_ok and tier_ok and del_ok and churn_ok
                  and df_ok and lens_ok and warm_ok)
    print(f"seed={seed} bs={bs} cs={cs} nseg={nseg} vocab={vocab} merge={do_merge} "
          f"pre_deleted={len(pre)} overlapping_blocks={overlap}"
          f"{'' if pos_overlap is None else f' pos_overlapping_blocks={pos_overlap}'}"
          f"{'' if defs_hits is None else f' defs_hits={defs_hits}'}: "
          f"{'OK' if ok else 'MISMATCH'} serve={'OK' if serve_ok else 'MISMATCH'}"
          f" phrase={'OK' if phrase_ok else 'MISMATCH'}"
          f" defs={'OK' if defs_ok else 'MISMATCH'}"
          f" tier={'OK' if tier_ok else 'MISMATCH'}"
          f" del={'OK' if del_ok else 'MISMATCH'}"
          f" churn={'OK' if churn_ok else 'MISMATCH'}"
          f" df={'OK' if df_ok else 'MISMATCH'}"
          f" doc_lens={'OK' if lens_ok else 'MISMATCH'}"
          f" warm={'OK' if warm_ok else 'MISMATCH'}", flush=True)
    shutil.rmtree(idx, ignore_errors=True)
print("FAILS:", fails)
spark.stop()

"""Randomized rank-identity campaign across adversarial index layouts
(tiny blocks, tiny salt chunks, 1-5 segments, optional compacting
merges): the distributed engine (wand_topk — the block-interval
kernel, once per segment) must equal exhaustive BM25, and the serving
reader (serve.IndexReader — the same kernel once over every segment,
no Spark on the query path) must equal the distributed engine. A
budget_ms=0 reader answer (a deadline that cuts the kernel after its
first round) must carry exact scores.

Every case also builds the tier containment index and checks
tiered serving (IndexReader.tiered_topk) against the batch operator
(operators/query.tiered_topk) twice: with the default per-doc scorer
(one decode pass per term, reusing the top-k kernel's decode cache)
and with a forced multi-pass one (_SWEEP_DF_CAP shrunk so every
decode pass holds one block) — then TOMBSTONES the head of several
rankings and re-checks WAND, serving, and tiered identity against the
deleted-filtered oracles (stale tier membership must be masked by the
reader's tombstone set; collection stats stay pre-delete on both sides
by contract).

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
per-doc greedy oracle in pure Python, plus reader↔engine identity.
Usage: python tools/fuzz_wand.py"""

import bisect
import shutil
import sys

import numpy as np

sys.path.insert(0, ".")
from pyspark.sql import functions as F

import mantic_sh_spark.functions.codec as codec_mod
from mantic_sh_spark.session import get_spark
from mantic_sh_spark.functions.tokenize import tokens_col
from mantic_sh_spark.operators.index_build import build_index
from mantic_sh_spark.operators.merge import merge_segments
from mantic_sh_spark.functions.tokenize import tokenize, tokenize_query
from mantic_sh_spark.operators.delete import delete_docs
from mantic_sh_spark.operators.phrase import phrase_topk
from mantic_sh_spark.operators.query import bm25_topk
from mantic_sh_spark.operators.query import tiered_topk as batch_tiered
from mantic_sh_spark.operators.tiers import DEFAULT_TIER_SPECS, build_tier_index
from mantic_sh_spark.operators.wand import wand_topk
from mantic_sh_spark.serve import IndexReader
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries

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


def _tiered_identity(readers, tqueries, want, k):
    return all(r.tiered_topk(q, k=k) == want.get(qid, [])
               for qid, q in tqueries for r in readers)


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


def _overlapping(reader, terms):
    """Does any term's block-interval list overlap itself?"""
    for pdf in reader._blocks(sorted(set(terms))).values():
        first, last = pdf["first_doc"].to_numpy(), pdf["last_doc"].to_numpy()
        o = np.argsort(first, kind="stable")
        if np.any(first[o][1:] <= last[o][:-1]):
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
    # tiered serving vs batch identity on this layout, single-pass and
    # forced multi-pass scorer, incl. a stop-term head query and an
    # absent-term query
    st = cfg.stop_term
    tq = queries + [(900, st), (901, f"{st} w1x"), (902, "qqabsentterm w1x")]
    build_tier_index(spark, idx)
    r_swp = IndexReader(idx)
    r_swp._SWEEP_DF_CAP = 1  # force single-block decode passes
    tier_ok = _tiered_identity([reader, r_swp], tq, _tiered_want(idx, tq, 8, exclude=pre), 8)

    # tombstone the head of several rankings; WAND + serving + tiered
    # must all equal the deleted-filtered oracles (tier index left
    # stale on purpose — liveness sidecars must mask it)
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
        r_swp.refresh()
        del_ok &= all(
            [(d, round(s, 4)) for d, s in reader.topk(q, k=8)] == got_w.get(qid, [])
            for qid, q in queries
        ) and _budget0_exact(reader, queries, 8)
        del_ok &= _tiered_identity(
            [reader, r_swp], tq, _tiered_want(idx, tq, 8, exclude=dset), 8)

    phrase_ok = True
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
        for sym in (f"{st} w1x", "w2x w3x", "w7x"):
            terms = tokenize(sym)
            rwant = {d: brute_starts(toks, terms) for d, toks in doc_toks.items()}
            rwant = {d: v for d, v in rwant.items() if v}
            rgot = {r["doc_id"]: r["positions"]
                    for r in preader.references(sym, k=10**6, max_positions=10**6)}
            if rgot != rwant:
                phrase_ok = False
        shutil.rmtree(posidx, ignore_errors=True)
    fails += not (ok and serve_ok and phrase_ok and tier_ok and del_ok)
    print(f"seed={seed} bs={bs} cs={cs} nseg={nseg} vocab={vocab} merge={do_merge} "
          f"pre_deleted={len(pre)} overlapping_blocks={overlap}: "
          f"{'OK' if ok else 'MISMATCH'} serve={'OK' if serve_ok else 'MISMATCH'}"
          f" phrase={'OK' if phrase_ok else 'MISMATCH'}"
          f" tier={'OK' if tier_ok else 'MISMATCH'}"
          f" del={'OK' if del_ok else 'MISMATCH'}", flush=True)
    shutil.rmtree(idx, ignore_errors=True)
print("FAILS:", fails)
spark.stop()

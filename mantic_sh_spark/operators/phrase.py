"""Exact-phrase top-k over a POSITIONAL index (R3/R5/U6 in SURVEY.md:
the reference's in-order path-sequence matching and `references`
positional lookups, src/brain-scorer.ts:286-360, src/code-intel.ts:337-383
— here as real positional postings).

One kernel, two planes: the serving reader runs it ONCE over every
segment's blocks (doc ids are global), the distributed engine once per
segment (applyInPandas, like WAND). Before any decode, each phrase
term keeps only the blocks that overlap an elementary doc interval
every distinct phrase term's blocks cover (segment_topk's interval cut,
conjunctive) — no other block can hold a doc with every term, so a rare
term paired with a head term decodes a few of the head term's blocks.
The kept postings + positions then intersect doc sets (smallest list
first), and adjacency verifies vectorized — a doc matches where
P_0 ∩ (P_1 − 1) ∩ … ∩ (P_m − m) is non-empty; the intersection size is
the phrase term-frequency. Results rank by (n_matches desc, doc_id asc)
with the usual deterministic per-query window merge.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.codec import decode_blocks
from ..functions.liveness import DeadDocs
from ..functions.tokenize import tokenize
from ..sources.catalog import IndexPaths
from .wand import _ranges, _TermBlocks, split_blocks


def _term_postings(tb: _TermBlocks) -> tuple[np.ndarray, ...]:
    """Blocks of one term → (ascending doc_ids, flat positions, offsets,
    the blocks' first_doc ascending, their n in that order): doc j's
    within-doc positions are flat[off[j]:off[j+1]] — one batched decode
    of every block; the last two tag a decode-cache entry. Ragged
    (flat + offsets) rather than a list of per-doc arrays — the
    verification pass operates on the whole candidate set at once and
    never touches per-doc Python objects.
    Blocks decode in first_doc order, which gives ascending docs unless
    blocks overlap (a legacy non-contiguous compaction envelops another
    segment's range); then the docs and their position runs are
    re-sorted, since callers binary-search them."""
    bo = np.argsort(tb.first, kind="stable")
    docs, tf, _code, flat = decode_blocks(tb.n[bo], tb.first[bo], tb.gaps[bo], tb.tfs[bo],
                                          tb.positions[bo])
    off = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum(tf, out=off[1:])
    if np.any(docs[1:] < docs[:-1]):
        o = np.argsort(docs, kind="stable")
        flat = flat[_ranges(off[o], tf[o])]
        docs = docs[o]
        np.cumsum(tf[o], out=off[1:])
    return docs, flat, off, tb.first[bo], tb.n[bo]


def _holds(entry, tb: _TermBlocks, m: np.ndarray) -> bool:
    """Does a decode-cache entry (_term_postings' tuple) hold every
    block of `tb` that `m` selects? A block is its (first_doc, n): a
    doc has one posting per term, so first_doc names a term's block."""
    first, n = entry[3], entry[4]
    if not len(first):
        return False
    j = np.minimum(np.searchsorted(first, tb.first[m]), len(first) - 1)
    return bool(np.all((first[j] == tb.first[m]) & (n[j] == tb.n[m])))


def _kept_blocks(tbs: list[_TermBlocks]) -> list[np.ndarray]:
    """Per term, a bool mask of its blocks that overlap an elementary
    interval (cut at every first_doc / last_doc + 1, as segment_topk
    cuts) covered by a block of EVERY term: a doc holding every term
    sits in such an interval, so no other block can hold a match."""
    first, last = (np.concatenate([getattr(tb, c) for tb in tbs]) for c in ("first", "last"))
    nb = [len(tb) for tb in tbs]
    term = np.repeat(np.arange(len(tbs)), nb)
    cuts = np.unique(np.concatenate((first, last + 1)))
    a, e = np.searchsorted(cuts, first), np.searchsorted(cuts, last + 1)
    every = np.ones(len(cuts), dtype=bool)
    for i in range(len(tbs)):
        m = term == i
        every &= np.cumsum(np.bincount(a[m], minlength=len(cuts))
                           - np.bincount(e[m], minlength=len(cuts))) > 0
    c = np.concatenate(([0], np.cumsum(every)))
    return np.split(c[e] > c[a], np.cumsum(nb)[:-1])


# doc-rank stride for the keyed-position trick: doc_rank * _POS_STRIDE +
# position turns per-doc searchsorted into ONE searchsorted over the
# whole candidate batch. Positions are within-doc token indexes (< 2^31
# — doc_len is int32), so a 2^32 stride leaves 2^31 rank headroom
# before int64 overflow: up to ~2.1e9 candidate docs per query run,
# guarded explicitly below (overflow would silently corrupt the sort
# order, not raise).
_POS_STRIDE = np.int64(1) << np.int64(32)


def _decoded_blocks(cache, t: str, tb: _TermBlocks, m: np.ndarray,
                    stats: dict | None = None) -> tuple[np.ndarray, ...]:
    """Term t's decoded postings (_term_postings' tuple) holding at
    least the blocks `m` selects, through `cache` (optional .get/.put
    by term, like the reader's decoded LRU: one entry per term, tagged
    with its blocks' first_doc / n). An entry that holds them decodes
    nothing; else they decode with the entry's blocks (so runs needing
    different blocks converge on one entry), and the whole term once
    those hold ≥ half its postings — no more than the run spends on it
    anyway. `stats` gets blocks_decoded, decoded_hits and `segs` (the
    selected blocks' segment ids)."""
    if stats is not None:
        stats.setdefault("segs", set()).update(tb.seg[m].tolist())
    got = cache.get(t) if cache is not None else None
    if got is not None and _holds(got, tb, m):
        if stats is not None:
            stats["decoded_hits"] = stats.get("decoded_hits", 0) + 1
        return got
    if got is not None:
        m = m | np.isin(tb.first, got[3])
    part = tb if 2 * int(tb.n[m].sum()) >= int(tb.n.sum()) else tb.take(np.flatnonzero(m))
    if stats is not None:
        stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + len(part)
    got = _term_postings(part)
    if cache is not None:
        cache.put(t, got)
    return got


def _keyed_positions(entry, cand: np.ndarray) -> np.ndarray:
    """A decoded term's positions in the ascending docs `cand` as ONE
    ascending array keyed doc_rank·2^32 + position (doc_rank: the doc's
    index in cand); a doc the term lacks adds none."""
    docs, flat, off = entry[:3]
    i = np.minimum(np.searchsorted(docs, cand), len(docs) - 1)
    lens = np.where(docs[i] == cand, off[i + 1] - off[i], 0)
    ranks = np.repeat(np.arange(len(cand), dtype=np.int64), lens)
    return ranks * _POS_STRIDE + flat[_ranges(off[i], lens)]


def _phrase_match_starts(by_term: dict[str, _TermBlocks], terms: list[str],
                         dead: DeadDocs | None = None,
                         slop: int = 0,
                         decoded_cache=None,
                         stats: dict | None = None):
    """Core batched phrase verification → (cand_docs, doc_rank0, p0,
    valid): one element per START position of the first term across
    every candidate doc; `valid` marks the starts where the full
    in-order (≤ slop stretch) match verified. Callers derive counts
    (segment_phrase_matches) or the match positions themselves
    (segment_phrase_positions — the `find_references` surface) from the
    same pass. Returns None when no candidate survives.

    Only the blocks _kept_blocks keeps are decoded, through
    `decoded_cache` (_decoded_blocks). Any superset of the kept blocks
    verifies the same: a doc's posting sits in one block, and a doc
    holding every term sits in a kept block of each. `stats` accumulates
    blocks_considered (before the block filter) and the decode counts."""
    if not terms or any(not len(by_term.get(t, ())) for t in terms):
        return None
    uniq = sorted(set(terms))
    tbs = [by_term[t] for t in uniq]
    kept = _kept_blocks(tbs)
    if stats is not None:
        stats["blocks_considered"] = stats.get("blocks_considered", 0) + sum(map(len, tbs))
    if not kept[0].any():  # no interval holds every term
        return None
    decoded = {t: _decoded_blocks(decoded_cache, t, tb, m, stats)
               for t, tb, m in zip(uniq, tbs, kept)}
    # candidate docs: the smallest doc list, narrowed by binary search
    # in each other list (all ascending)
    by_len = sorted(uniq, key=lambda t: len(decoded[t][0]))
    cand = decoded[by_len[0]][0]
    for t in by_len[1:]:
        docs_t = decoded[t][0]
        cand = cand[docs_t[np.minimum(np.searchsorted(docs_t, cand), len(docs_t) - 1)] == cand]
        if not len(cand):
            break
    if dead is not None and len(cand):
        cand = cand[~dead.mask(cand)]
    if not len(cand):
        return None

    nc = len(cand)
    if nc >= (1 << 31):  # keyed-searchsorted rank headroom (see _POS_STRIDE)
        raise ValueError(f"phrase candidate set too large for one query run: {nc}")
    # keys make "smallest position > p in THIS doc" a global
    # searchsorted: a miss walks into the next doc's key range and is
    # rejected by the rank check
    keyed = {t: _keyed_positions(decoded[t], cand) for t in uniq}
    k0 = keyed[terms[0]]
    doc_rank0 = k0 // _POS_STRIDE
    p0 = k0 % _POS_STRIDE
    prev = p0
    valid = np.ones(len(k0), dtype=bool)
    for t in terms[1:]:
        kt = keyed[t]
        target = doc_rank0 * _POS_STRIDE + prev + 1
        j = np.searchsorted(kt, target)
        ok = j < len(kt)
        hitk = kt[np.minimum(j, len(kt) - 1)]
        ok &= (hitk // _POS_STRIDE) == doc_rank0
        valid &= ok
        prev = hitk % _POS_STRIDE
    m = len(terms) - 1
    valid &= (prev - p0 - m) <= slop
    return cand, doc_rank0, p0, valid


def segment_phrase_matches(by_term: dict[str, _TermBlocks], terms: list[str],
                           dead: DeadDocs | None = None,
                           slop: int = 0,
                           decoded_cache=None,
                           stats: dict | None = None) -> list[tuple[int, int]]:
    """One phrase evaluation over the given blocks (one segment's for
    the distributed UDF, every segment's for the serving reader) →
    [(doc_id, n_matches)] — the same sharing discipline as
    wand.segment_topk.

    The verification is ONE batched ragged-array pass over ALL
    candidate docs (review r2: the former per-candidate Python loop was
    the bottleneck for phrases of common terms, where the candidate set
    is huge): every start position of the first term across every
    candidate becomes one element of a keyed array
    (doc_rank·2^32 + position), and each subsequent term advances ALL
    elements with a single searchsorted over its keyed candidate runs —
    the greedy smallest-next-position match, which is exact because
    greedy minimizes the stretch. n_matches per doc then falls out of
    one bincount. No per-doc Python anywhere."""
    r = _phrase_match_starts(by_term, terms, dead, slop,
                             decoded_cache=decoded_cache, stats=stats)
    if r is None:
        return []
    cand, doc_rank0, _p0, valid = r
    counts = np.bincount(doc_rank0[valid], minlength=len(cand))
    nz = np.flatnonzero(counts)
    return list(zip(cand[nz].tolist(), counts[nz].tolist()))


def segment_phrase_positions(by_term: dict[str, _TermBlocks], terms: list[str],
                             dead: DeadDocs | None = None,
                             slop: int = 0,
                             decoded_cache=None,
                             stats: dict | None = None) -> tuple[np.ndarray, ...]:
    """One phrase/symbol evaluation → (ascending doc_ids, flat
    match-START token positions, offsets), ragged like _term_postings:
    doc j's ascending starts are flat[off[j]:off[j+1]] — the positional
    payload behind `find_references` (reference: src/code-intel.ts:337-383
    / src/mcp-server.ts:763-847 answer "where is symbol X" with per-file
    occurrence positions; here a symbol is its tokenized form, so
    camelCase identifiers match as exact phrases) and the anchors of
    `definitions`. Same batched kernel as segment_phrase_matches — the
    starts are already computed; this just groups them by doc instead
    of counting."""
    r = _phrase_match_starts(by_term, terms, dead, slop,
                             decoded_cache=decoded_cache, stats=stats)
    if r is None:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), np.zeros(1, dtype=np.int64)
    cand, doc_rank0, p0, valid = r
    # rank runs ascend, and starts within each (keyed array order)
    ranks, counts = np.unique(doc_rank0[valid], return_counts=True)
    return cand[ranks], p0[valid], np.concatenate(([0], np.cumsum(counts)))


def _phrase_udf(queries: dict[int, list[str]], dead_src=None,
                slop: int = 0, tid2term: dict[int, str] | None = None):
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from .wand import _load_dead

        dead = _load_dead(dead_src, int(pdf["segment_id"].iloc[0]))
        # split_blocks drops unknown tids (the scan filter may carry
        # the codegen-stability sentinel — wand._tid_filter)
        by_term = split_blocks(pdf, tid2term)
        out_q, out_d, out_n = [], [], []
        for qid, terms in queries.items():
            for doc, n in segment_phrase_matches(by_term, terms, dead, slop):
                out_q.append(qid)
                out_d.append(doc)
                out_n.append(n)
        return pd.DataFrame(
            {
                "query_id": pd.array(out_q, dtype="int32"),
                "doc_id": pd.array(out_d, dtype="int64"),
                "n_matches": pd.array(out_n, dtype="int64"),
            }
        )

    return run


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    phrases: list[tuple[int, str]],
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """(query_id, doc_id, n_matches, rank): docs containing each phrase,
    ranked by occurrence count (desc) then doc_id. slop=0 → exact
    adjacency; slop=N allows the in-order match to stretch by up to N
    extra tokens (proximity search). Requires store_positions=True."""
    paths = IndexPaths(index_dir)
    # ordered, NON-deduplicated tokens — phrase semantics need repeats
    q_map = {int(qid): tokenize(q) for qid, q in phrases}
    all_terms = sorted({t for ts in q_map.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], "query_id int, doc_id long, n_matches long, rank int")

    from .wand import _index_meta, _term_meta

    _n, _a, _bf, dead_src, excluded = _index_meta(spark, paths)
    # resolve term → tid via the terms directory (posting rows carry
    # only the dictionary-encoded key); absent terms simply contribute
    # no postings — the per-segment kernel already requires every
    # phrase term present in a segment before verifying
    meta = _term_meta(spark, paths, all_terms, excluded=excluded)
    tid2term = {m[1]: t for t, m in meta.items() if m[0] > 0}
    if not tid2term:
        return spark.createDataFrame([], "query_id int, doc_id long, n_matches long, rank int")
    from .wand import _postings_scan, _tid_filter

    try:
        scan = _postings_scan(spark, paths, with_positions=True)
    except ValueError:
        raise ValueError("phrase_topk requires an index built with store_positions=True")
    blocks = scan.filter(_tid_filter(list(tid2term)))
    if excluded:
        # in-flight/crashed fold's partial segments (manifest-derived)
        blocks = blocks.filter(~F.col("segment_id").isin(sorted(excluded)))
    per_seg = blocks.groupBy("segment_id").applyInPandas(
        _phrase_udf(q_map, dead_src=dead_src, slop=slop, tid2term=tid2term),
        schema="query_id int, doc_id long, n_matches long",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_matches"), F.asc("doc_id"))
    return (
        per_seg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_matches", "rank")
    )

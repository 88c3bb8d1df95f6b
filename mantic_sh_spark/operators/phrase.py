"""Exact-phrase top-k over a POSITIONAL index (R3/R5/U6 in SURVEY.md:
the reference's in-order path-sequence matching and `references`
positional lookups, src/brain-scorer.ts:286-360, src/code-intel.ts:337-383
— here as real positional postings).

Per segment (applyInPandas, like WAND): decode each phrase term's
postings + positions, intersect doc sets term-by-term (smallest list
first), then verify adjacency vectorized — a doc matches where
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


def _term_postings(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All blocks of one (term, segment) → (doc_ids, flat positions,
    offsets): doc j's within-doc positions are flat[off[j]:off[j+1]],
    concatenated in doc order — one batched decode of every block.
    Ragged (flat + offsets) rather than a list of per-doc arrays — the
    verification pass operates on the whole candidate set at once and
    never touches per-doc Python objects."""
    first = pdf["first_doc"].to_numpy(np.int64)
    o = np.argsort(first, kind="stable")
    docs, tf, _dl, flat = decode_blocks(
        pdf["n"].to_numpy(np.int64)[o], first[o],
        *(pdf[c].to_numpy(object)[o] for c in ("doc_gaps", "tfs", "dls", "positions")))
    off = np.zeros(len(docs) + 1, dtype=np.int64)
    np.cumsum(tf, out=off[1:])
    return docs, flat, off


# doc-rank stride for the keyed-position trick: doc_rank * _POS_STRIDE +
# position turns per-doc searchsorted into ONE searchsorted over the
# whole candidate batch. Positions are within-doc token indexes (< 2^31
# — doc_len is int32), so a 2^32 stride leaves 2^31 rank headroom
# before int64 overflow: up to ~2.1e9 candidate docs per (segment,
# query), guarded explicitly below (overflow would silently corrupt
# the sort order, not raise).
_POS_STRIDE = np.int64(1) << np.int64(32)


def _gather_runs(flat: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Ragged gather: concatenate flat[starts[i] : starts[i]+lens[i]]
    for all i, fully vectorized (repeat/cumsum index trick)."""
    total = int(lens.sum())
    if not total:
        return np.empty(0, dtype=flat.dtype)
    ends = np.cumsum(lens)
    within = np.arange(total, dtype=np.int64) - np.repeat(ends - lens, lens)
    return flat[np.repeat(starts, lens) + within]


def _phrase_match_starts(by_term: dict[str, pd.DataFrame], terms: list[str],
                         dead: DeadDocs | None = None,
                         slop: int = 0,
                         decoded_cache: dict | None = None,
                         stats: dict | None = None):
    """Core batched phrase verification → (cand_docs, doc_rank0, p0,
    valid): one element per START position of the first term across
    every candidate doc; `valid` marks the starts where the full
    in-order (≤ slop stretch) match verified. Callers derive counts
    (segment_phrase_matches) or the match positions themselves
    (segment_phrase_positions — the `find_references` surface) from the
    same pass. Returns None when no candidate survives.

    `decoded_cache` (term → _term_postings result; plain dict or a
    .get/.put object like the serving reader's byte-budgeted decoded
    LRU) lets a caller that probes MANY phrases over one segment
    (get_definition: one probe per definition form) — or many QUERIES
    over a long-lived reader — decode each term's blocks once. NB: the
    lookup is get-then-decode, never dict.setdefault(t, decode()) —
    setdefault evaluates its default eagerly, which would re-decode on
    every hit and make the cache pure overhead."""
    if not terms or any(t not in by_term for t in terms):
        return None
    decoded = {}
    for t in set(terms):
        got = decoded_cache.get(t) if decoded_cache is not None else None
        if got is None:
            # decode accounting lives HERE, not in callers: with a
            # persistent decoded cache a hot term is never re-decoded,
            # and caller-side counting would over-report blocks_decoded
            if stats is not None:
                stats["blocks_decoded"] = (
                    stats.get("blocks_decoded", 0) + len(by_term[t]))
            got = _term_postings(by_term[t])
            if decoded_cache is not None:
                put = getattr(decoded_cache, "put", None)
                if put is not None:
                    put(t, got)
                else:
                    decoded_cache[t] = got
        elif stats is not None:
            stats["decoded_hits"] = stats.get("decoded_hits", 0) + 1
        decoded[t] = got
    # candidate docs: intersect doc sets, smallest first
    doc_sets = [decoded[t][0] for t in terms]
    cand = doc_sets[0]
    for ds in sorted(doc_sets[1:], key=len):
        cand = np.intersect1d(cand, ds, assume_unique=True)
        if not len(cand):
            break
    if dead is not None and len(cand):
        cand = cand[~dead.mask(cand)]
    if not len(cand):
        return None

    nc = len(cand)
    if nc >= (1 << 31):  # keyed-searchsorted rank headroom (see _POS_STRIDE)
        raise ValueError(f"phrase candidate set too large for one segment pass: {nc}")
    # per term: the candidate docs' position runs as ONE keyed array
    # (doc_rank * 2^32 + position, ascending — runs are doc-ordered and
    # ascending within a doc), plus that keyed array itself for binary
    # search. Keys make "smallest position > p in THIS doc" a global
    # searchsorted: a miss walks into the next doc's key range and is
    # rejected by the rank check.
    keyed: dict[str, np.ndarray] = {}
    for t in set(terms):
        docs_t, flat_t, off_t = decoded[t]
        idx = np.searchsorted(docs_t, cand)
        starts, lens = off_t[idx], off_t[idx + 1] - off_t[idx]
        ranks = np.repeat(np.arange(nc, dtype=np.int64), lens)
        keyed[t] = ranks * _POS_STRIDE + _gather_runs(flat_t, starts, lens)

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


def segment_phrase_matches(by_term: dict[str, pd.DataFrame], terms: list[str],
                           dead: DeadDocs | None = None,
                           slop: int = 0,
                           decoded_cache: dict | None = None,
                           stats: dict | None = None) -> list[tuple[int, int]]:
    """One (segment, phrase) evaluation → [(doc_id, n_matches)].
    Shared by the distributed UDF and the serving reader (the same
    sharing discipline as wand.segment_topk).

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


def segment_phrase_positions(by_term: dict[str, pd.DataFrame], terms: list[str],
                             dead: DeadDocs | None = None,
                             slop: int = 0,
                             decoded_cache: dict | None = None,
                             stats: dict | None = None) -> list[tuple[int, np.ndarray]]:
    """One (segment, phrase/symbol) evaluation → [(doc_id, ascending
    match-START token positions)] — the positional payload behind
    `find_references` (reference: src/code-intel.ts:337-383 /
    src/mcp-server.ts:763-847 answer "where is symbol X" with per-file
    occurrence positions; here a symbol is its tokenized form, so
    camelCase identifiers match as exact phrases). Same batched kernel
    as segment_phrase_matches — the starts are already computed; this
    just groups them by doc instead of counting."""
    r = _phrase_match_starts(by_term, terms, dead, slop,
                             decoded_cache=decoded_cache, stats=stats)
    if r is None:
        return []
    cand, doc_rank0, p0, valid = r
    ranks, starts = doc_rank0[valid], p0[valid]
    if not len(ranks):
        return []
    # starts are ascending within each rank run (keyed array order)
    order = np.argsort(ranks, kind="stable")
    ranks, starts = ranks[order], starts[order]
    boundaries = np.flatnonzero(np.diff(ranks)) + 1
    groups = np.split(starts, boundaries)
    uniq = ranks[np.concatenate(([0], boundaries))]
    return [(int(cand[r_]), g) for r_, g in zip(uniq, groups)]


def _phrase_udf(queries: dict[int, list[str]], dead_src=None,
                slop: int = 0, tid2term: dict[int, str] | None = None):
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from .wand import _load_dead

        dead = _load_dead(dead_src, int(pdf["segment_id"].iloc[0]))
        # unknown tids dropped (the scan filter may carry the
        # codegen-stability sentinel — wand._tid_filter)
        by_term = {tid2term[int(t)]: g for t, g in pdf.groupby("tid")
                   if int(t) in tid2term}
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

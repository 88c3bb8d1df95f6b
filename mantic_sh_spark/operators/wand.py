"""Block-interval top-k over the compressed index (U3/K2/K3/O2).

Reference analogs: the partitioned per-chunk top-k + identical-
comparator merge of src/parallel-mantic.ts:26-75 (here: per-SEGMENT
top-k inside applyInPandas, merged by a rank window), and the
early-termination heuristic of src/smart-filter.ts:289-297 (here: the
principled version — never decode a block whose best possible score
cannot beat the current k-th best).

Algorithm: filter-then-verify top-k with per-candidate upper bounds
(the MaxScore / Block-Max WAND family — Ding & Suel, SIGIR 2011 —
in block-interval form), vectorized in numpy. Per query:
  * every query term's blocks are laid over one doc-id axis, cut into
    elementary intervals at each first_doc / last_doc + 1; an
    interval's bound is the sum of idf × block_max over the blocks
    covering it (a difference array);
  * intervals are visited in descending bound order, in rounds sized
    in expected postings still to decode (k, then doubling; blocks of
    a decode-cached term are free): a round batch-decodes the blocks
    covering its intervals in one varint pass, scores them
    term-at-a-time, finalizes the docs of those intervals and merges
    them into the top-k, raising θ;
  * the run stops once the next interval's bound is below θ − EPS.
The R1 tier ladder runs the same loop on a composite key (see
segment_topk's `tiers`): each block's min_tier bounds the tier of the
docs an interval can hold, so an interval of a worse tier is cut by θ
exactly like a low-scoring one.
Plain TAAT is the case where nothing is pruned (and where the first
round would take every interval, the kernel runs it without building
the interval order); overlapping blocks (e.g. a legacy non-contiguous
compaction) are just overlapping intervals, so no layout premise is
needed.

idf uses GLOBAL df (summed across segments at query start), so scores
are identical to the exhaustive engine; block maxima are
idf-independent by construction (see functions/codec.py) and therefore
stay valid upper bounds under any df.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import B, K1, idf as idf_fn
from ..functions.codec import decode_blocks, tf_norm
from ..functions.liveness import DeadDocs, DocLens, segment_norms, segment_tombstones
from ..functions.tokenize import tokenize_query
from ..sources.catalog import IndexPaths
from .query import rank_topk

# Ranking everywhere (exhaustive engine, pure oracle, this kernel) is on
# scores rounded to SCORE_DECIMALS (fp-sum order is not deterministic
# across partitions). EPS must cover the rounding half-step so the
# interval prune can never drop a doc that would TIE the top-k floor
# after rounding: skip ⇒ true < θ - EPS ⇒ round(true) < θ. Looser
# pruning by 1e-4, never an incorrect result.
EPS = 1e-4


class _TermBlocks:
    """One term's blocks as numpy columns, cut from one fetched table by
    split_blocks and treated as immutable everywhere: `bmax` has the
    fetch's bound factors folded in, `seg` is each block's segment id,
    `positions` the position bytes of a positional fetch (else None).
    Blocks are ordered by (segment, first_doc)."""

    __slots__ = ("first", "last", "bmax", "mint", "n", "gaps", "tfs", "seg", "positions")

    def __init__(self, first, last, bmax, mint, n, gaps, tfs, seg, positions=None):
        self.first, self.last, self.bmax, self.mint, self.n = first, last, bmax, mint, n
        self.gaps, self.tfs, self.seg = gaps, tfs, seg
        self.positions = positions

    def __len__(self) -> int:
        return len(self.n)

    @property
    def segs(self) -> np.ndarray:
        """The distinct segment ids holding this term's blocks."""
        return np.unique(self.seg)

    def take(self, idx) -> "_TermBlocks":
        """The blocks at `idx` (a slice or an index array)."""
        return _TermBlocks(*(None if v is None else v[idx]
                             for v in (getattr(self, f) for f in self.__slots__)))


def split_blocks(data, tid2term: dict[int, str],
                 bound_factors: dict | None = None) -> dict[str, _TermBlocks]:
    """term → _TermBlocks for every term of `tid2term`, cut from one
    table of posting block rows (a pyarrow Table/RecordBatch or a pandas
    frame with the postings columns the kernels read, plus `positions`
    when present): every column converts to numpy once, rows sort by (tid,
    segment_id, first_doc), and each term's run is a slice. A term with
    no rows maps to an empty _TermBlocks (absent, cacheable as such);
    rows of tids outside `tid2term` are dropped (the Spark scan filter
    may carry a sentinel tid — _tid_filter). `bound_factors` ({segment:
    factor ≥ 1}, the avgdl-drift bound inflation) pre-scales block_max
    per row's segment. A term's global df is its blocks' n summed."""
    dtypes = (np.int64, np.float64, np.int64, np.int64, object, object)
    out = dict.fromkeys(tid2term.values(), _TermBlocks(
        *(np.empty(0, dtype=t) for t in (np.int64,) + dtypes + (np.int64,))))
    if data is None or not len(data):
        return out
    names = data.column_names if hasattr(data, "column_names") else data.columns
    tid = np.asarray(data["tid"], dtype=np.int64)
    seg = np.asarray(data["segment_id"], dtype=np.int64)
    first = np.asarray(data["first_doc"], dtype=np.int64)
    o = np.lexsort((first, seg, tid))
    o = o[np.isin(tid[o], np.fromiter(tid2term, np.int64, len(tid2term)))]
    if not len(o):
        return out
    tid, seg = tid[o], seg[o]
    cols = [first[o]] + [
        np.asarray(data[c], dtype=dt)[o]
        for c, dt in zip(("last_doc", "block_max", "min_tier", "n", "doc_gaps", "tfs"),
                         dtypes)]
    if bound_factors:
        segs, inv = np.unique(seg, return_inverse=True)
        cols[2] = cols[2] * np.array([bound_factors.get(int(s), 1.0) for s in segs])[inv]
    cols.append(seg)
    pos = np.asarray(data["positions"], dtype=object)[o] if "positions" in names else None
    cuts = np.flatnonzero(np.diff(tid)) + 1
    for lo, hi in zip(np.concatenate(([0], cuts)), np.append(cuts, len(tid))):
        out[tid2term[int(tid[lo])]] = _TermBlocks(
            *(c[lo:hi] for c in cols), None if pos is None else pos[lo:hi])
    return out


def decoded_entry(tb: _TermBlocks, docs, tfn, codes) -> tuple:
    """The top-k decode cache's entry for one term: the (docs, tf_norm,
    tier codes) of ALL of tb's postings, in block order, tagged with
    tb's first_doc / n columns — the one layout cached_postings accepts
    and every writer (segment_topk, the reader's prewarm and per-doc
    scorer) builds here."""
    return docs, tfn, codes, tb.first, tb.n


def decoded_nbytes(tb: _TermBlocks) -> int:
    """The bytes decoded_entry holds for tb, known before decoding: an
    int64 doc id, a float64 tf_norm and an int8 tier code per posting,
    plus the two int64 tag columns."""
    return 17 * int(tb.n.sum()) + tb.first.nbytes + tb.n.nbytes


def cached_postings(decode_cache, term: str, tb: _TermBlocks):
    """The top-k decode cache's entry for `term` (decoded_entry) when it
    was decoded from blocks with exactly tb's first_doc / n columns,
    else None: blocks in another order, or from another epoch (a query
    straddling refresh), are a miss."""
    c = decode_cache.get(term) if decode_cache is not None else None
    if c is None or not (np.array_equal(c[3], tb.first) and np.array_equal(c[4], tb.n)):
        return None
    return c


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated index ranges [starts[i], starts[i] + counts[i])."""
    rel = np.arange(int(counts.sum())) - np.repeat(np.cumsum(counts) - counts, counts)
    return np.repeat(starts, counts) + rel


def segment_topk(by_term: dict[str, _TermBlocks], terms: list[str],
                 idf_map: dict[str, float], avgdl: float, k: int,
                 k1: float, b: float, lens: DocLens, bound_factor: float = 1.0,
                 dead: DeadDocs | None = None,
                 stats: dict | None = None,
                 decode_cache=None,
                 deadline: float | None = None,
                 tiers: int | None = None) -> list[tuple]:
    """Exact top-k [(doc_id, score)] over the given terms' blocks (one
    segment for the distributed UDF, every segment for the serving
    reader), sorted (score desc, doc_id asc) — the block-interval
    kernel of the module docstring, shared by both surfaces so they rank
    identically by construction.

    `tiers` (the ladder size T) ranks by the R1 tier ladder instead and
    returns [(doc_id, tier, score)] sorted (tier asc, score desc,
    doc_id asc): a doc's tier is the max of its postings' tier codes
    over ALL distinct `terms`, a term it lacks counting as T (so every
    doc is tier T when a query term has no postings) — exactly "tier i
    holds all query terms, first match wins". The run keys on
    (T − tier)·M + score, with M above any score, so the interval bound,
    EPS cut and rounding are the plain kernel's: an interval's tier
    bound is T unless every term has a block covering it, then the max
    over terms of the covering blocks' min_tier.

    `lens` holds the doc lengths of every doc the blocks hold (blocks
    store none): each decode gathers its postings' lengths from it.
    `dead` docs are dropped at finalization (θ only ever stays lower,
    so the prune stays sound). `decode_cache` (optional .get(term) /
    .put(term, value)) memoizes the idf-independent (docs, tf_norm,
    tier codes), in block order and tagged with the blocks' first_doc /
    n columns, of every term this query decoded at least half of (the
    rest is decoded to complete it); a cached term's blocks cost no
    decode. `deadline` (a time.time() instant) is checked between
    rounds: the first round always completes, returned docs always
    carry exact scores, and stats["truncated"] is set when intervals
    that could still reach θ were left unvisited. `stats` accumulates
    read-amplification counters — blocks_considered (block rows of the
    consulted lists), blocks_decoded (blocks varint-decoded; the gap is
    the prune's win) and decoded_hits (cached terms)."""
    present = [t for t in terms
               if t in by_term and idf_map.get(t, 0.0) > 0.0 and len(by_term[t])]
    if not present or k <= 0:
        return []
    nt = len(present)
    tbs = [by_term[t] for t in present]
    nb = [len(tb.first) for tb in tbs]
    term = np.repeat(np.arange(nt), nb)
    first, last, n, bmax, mint = (np.concatenate([getattr(tb, c) for tb in tbs])
                                  for c in ("first", "last", "n", "bmax", "mint"))
    idf = np.array([idf_map[t] for t in present])
    if tiers is not None:
        # M above any doc's score, so one tier step outweighs any score
        # difference in the key
        scale = float(np.ceil(idf.sum() * (k1 + 1.0) * bound_factor)) + 1.0
        absent = nt < len(set(terms))  # every doc is tier T

    # cached terms: their blocks are slices of the cached arrays, no
    # decode
    cached = [cached_postings(decode_cache, t, tb) for t, tb in zip(present, tbs)]
    is_cached = np.repeat([c is not None for c in cached], nb)
    n_cached = int(is_cached.sum())
    if n_cached:
        if stats is not None:
            stats["decoded_hits"] = stats.get("decoded_hits", 0) + sum(
                c is not None for c in cached)
        cparts = [np.concatenate([c[i] for c in cached if c is not None]) for i in range(3)]
        coff = np.zeros(len(n), dtype=np.int64)
        coff[is_cached] = np.cumsum(n[is_cached]) - n[is_cached]
        cterm = np.repeat(term[is_cached], n[is_cached])
    to_decode = ~is_cached  # blocks whose postings still cost a decode
    decoded = []  # (blk, docs, tf_norm, codes) per decode, for the decode cache
    raw = []
    top_d = np.empty(0, dtype=np.int64)
    top_s = np.empty(0, dtype=np.float64)
    top_t = np.empty(0, dtype=np.int64)
    top_key = np.empty(0, dtype=np.float64)
    theta = -np.inf

    def materialize(new):
        """(term, docs, tf_norm, codes) of the postings of blocks `new`:
        decoded in one varint pass, or sliced from the cached arrays."""
        parts = []
        dec = np.sort(new[to_decode[new]])
        if len(dec):
            if not decoded:  # first decode: the blocks' byte columns
                raw.extend(np.concatenate([getattr(tb, c) for tb in tbs])
                           for c in ("gaps", "tfs"))
            to_decode[dec] = False
            d, tf, code = decode_blocks(n[dec], first[dec], *(col[dec] for col in raw))
            blk = np.repeat(dec, n[dec])
            decoded.append((blk, d, tf_norm(tf, lens.get(d), avgdl, k1, b), code))
            parts.append((term[blk],) + decoded[-1][1:])
        cac = new[is_cached[new]]
        if len(cac) and len(cac) == n_cached:  # every cached block
            parts.append((cterm, *cparts))
        elif len(cac):
            idx = _ranges(coff[cac], n[cac])
            parts.append((np.repeat(term[cac], n[cac]), *(c[idx] for c in cparts)))
        return [x[0] if len(x) == 1 else np.concatenate(x) for x in zip(*parts)]

    def finalize(pt, pd_, pc, pcode):
        """Merge the docs of these (complete) postings into the top-k."""
        nonlocal top_d, top_s, top_t, top_key, theta
        pc = pc * idf[pt]
        if nt == 1:  # one posting per doc
            uniq, sc, tier = pd_, np.round(pc, 4), pcode
        else:
            o = np.lexsort((pt, pd_))  # per doc, summed in term order
            pd_, pc = pd_[o], pc[o]
            starts = np.flatnonzero(np.concatenate(([True], pd_[1:] != pd_[:-1])))
            uniq, sc = pd_[starts], np.round(np.add.reduceat(pc, starts), 4)
            if tiers is not None and not absent:
                tier = np.where(np.diff(np.append(starts, len(pd_))) == nt,
                                np.maximum.reduceat(pcode[o], starts), tiers)
        if tiers is None:
            key = sc
        else:
            tier = np.full(len(uniq), tiers) if absent else tier.astype(np.int64)
            key = (tiers - tier) * scale + sc
        keep = key >= theta
        if dead is not None:
            keep &= ~dead.mask(uniq)
        if np.count_nonzero(keep) > k:  # only the k best of these can enter
            keep &= key >= np.partition(key[keep], -k)[-k]
        cand_d = np.concatenate((top_d, uniq[keep]))
        cand_key = np.concatenate((top_key, key[keep]))
        sel = np.lexsort((cand_d, -cand_key))[:k]
        top_d, top_key = cand_d[sel], cand_key[sel]
        if tiers is None:
            top_s = top_key
        else:
            top_s = np.concatenate((top_s, sc[keep]))[sel]
            top_t = np.concatenate((top_t, tier[keep]))[sel]
        if len(top_d) == k:
            theta = top_key[-1]

    truncated = False
    if n[to_decode].sum() <= k:
        # the first round would take every interval (cached blocks cost
        # no decode): nothing to prune, so plain term-at-a-time
        finalize(*materialize(np.arange(len(n))))
    else:
        # elementary intervals [cuts[i], cuts[i+1]); block j covers a[j]..e[j]-1
        cuts = np.unique(np.concatenate((first, last + 1)))
        a, e = np.searchsorted(cuts, first), np.searchsorted(cuts, last + 1)

        def sweep(w=None):  # per-interval sum of w over covering blocks
            return np.cumsum(np.bincount(a, w, len(cuts)) - np.bincount(e, w, len(cuts)))[:-1]

        bound = sweep(bmax * idf[term] * bound_factor)
        if tiers is not None:
            # tier ≤ v is reachable where every term has a covering
            # block of min_tier ≤ v; the interval's tier bound is the
            # least such v (T when none)
            tier_lb = np.full(len(bound), tiers)
            for v in range(0 if absent else tiers):
                tier_lb -= np.logical_and.reduce(
                    [sweep((term == i) & (mint <= v)) > 0.5 for i in range(nt)])
            bound += (tiers - tier_lb) * scale
        order = np.flatnonzero(sweep())  # covered intervals, visited by bound desc
        order = order[np.argsort(-bound[order], kind="stable")]
        neg_bound = -bound[order]  # ascending, for the θ cut
        width = np.diff(cuts)[order]
        density = n / (last - first + 1)
        rank = np.zeros(len(cuts), dtype=np.int64)
        rank[order] = np.arange(len(order))
        # the round that first needs each block: its best-ranked interval
        need = np.minimum.reduceat(rank, np.stack((a, e), axis=1).ravel())[::2]
        by_need = np.argsort(need, kind="stable")
        need_sorted = need[by_need]
        # pending pool: one chunk per round, postings sorted by interval
        # rank, each finalized (sliced off) exactly once
        chunks: list[list] = []
        r0 = j0 = 0
        want = float(k)
        while r0 < len(order):
            if len(top_d) == k and -neg_bound[r0] < theta - EPS:
                break
            if r0 and deadline is not None and time.time() > deadline:
                truncated = True
                break
            # the round: intervals in bound order until their expected
            # postings still to decode reach `want` (cached or decoded
            # blocks are free), cut at θ; `want` doubles each round
            cost = np.cumsum(sweep(density * to_decode)[order[r0:]] * width[r0:])
            r1 = r0 + int(np.searchsorted(cost, want)) + 1
            if len(top_d) == k:
                r1 = min(r1, int(np.searchsorted(neg_bound, EPS - theta, side="right")))
            r1 = max(r0 + 1, min(r1, len(order)))
            want = 2.0 * max(want, cost[r1 - r0 - 1])

            j1 = int(np.searchsorted(need_sorted, r1))
            if j1 > j0:
                cols = materialize(by_need[j0:j1])
                j0 = j1
                if nt == 1 or r1 == len(order):  # complete at once
                    chunks.append([None, cols, 0])
                else:
                    r = rank[np.searchsorted(cuts, cols[1], side="right") - 1]
                    o = np.argsort(r, kind="stable")
                    chunks.append([r[o], [c[o] for c in cols], 0])
            # finalize every doc of the round's intervals
            parts = []
            for ch in chunks:
                hi = len(ch[1][0]) if ch[0] is None else int(np.searchsorted(ch[0], r1))
                if hi > ch[2]:
                    parts.append([c[ch[2]:hi] for c in ch[1]])
                    ch[2] = hi
            r0 = r1
            if parts:
                finalize(*(x[0] if len(parts) == 1 else np.concatenate(x)
                           for x in zip(*parts)))

    if stats is not None and truncated:
        stats["truncated"] = True
    elif decode_cache is not None and decoded:
        # a term this query decoded at least half of is finished and
        # cached: that costs no more than the query already spent on
        # it, and repeats of the term then decode nothing
        tstart = np.cumsum([0] + nb)
        left = np.add.reduceat(n * to_decode, tstart[:-1])
        full = [i for i, c in enumerate(cached)
                if c is None and left[i] <= n[tstart[i]:tstart[i + 1]].sum() - left[i]]
        rest = np.flatnonzero(to_decode & np.isin(term, full))
        if len(rest):
            materialize(rest)
        if full:
            blk, docs, tfn, codes = (np.concatenate(x) for x in zip(*decoded))
            tt = term[blk]
            for i in full:
                s = np.flatnonzero(tt == i)
                s = s[np.argsort(blk[s], kind="stable")]  # block order
                decode_cache.put(present[i], decoded_entry(tbs[i], docs[s], tfn[s], codes[s]))
    if stats is not None:
        stats["blocks_considered"] = stats.get("blocks_considered", 0) + len(n)
        stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + int(
            (~is_cached & ~to_decode).sum())
    if tiers is not None:
        return list(zip(top_d.tolist(), top_t.tolist(), top_s.tolist()))
    return list(zip(top_d.tolist(), top_s.tolist()))


def _load_dead(dead_src, seg: int) -> DeadDocs | None:
    """Per-task liveness: read THIS segment's tombstone partition iff
    the (metadata-sized) dead_src says the segment has one. dead_src's
    optional third element is the set of IN-FLUX partitions — a merge
    fold between its barriers has retired its sources without yet
    re-homing/purging their tombstones, so the fold's dst serves docs
    whose tombstones still sit under the src partitions. Every task
    then reads its own partition PLUS the in-flux ones (bounded by the
    fold, never all segments — review r4 finding); over-inclusion is
    correct, ids a segment never held simply never match."""
    if dead_src is None:
        return None
    influx = dead_src[2] if len(dead_src) > 2 else frozenset()
    want = sorted(({int(seg)} | set(influx)) & set(dead_src[1]))
    if not want:
        return None
    return DeadDocs.from_batches(segment_tombstones(dead_src[0], s) for s in want) or None


def _wand_udf(queries: dict[int, list[str]], idf_map: dict[str, float],
              avgdl: float, k: int, k1: float, b: float, norms_path: str,
              bound_factors: dict[int, float] | None = None,
              dead_src: "tuple[str, frozenset[int]] | None" = None,
              tid2term: dict[int, str] | None = None):
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["segment_id"].iloc[0])
        bf = (bound_factors or {}).get(seg, 1.0)
        dead = _load_dead(dead_src, seg)
        # doc lengths: this segment's norms partition lists exactly the
        # docs whose postings live here (norms rows move with merges).
        # Unlike the tombstone read, this load is O(segment docs) per
        # task per query, not O(query postings): ~3 ms for a 50k-doc
        # segment on a 4-vCPU VM, inside the spread of a ~0.65 s
        # wand_topk job on that 200k-doc index
        lens = DocLens.from_batches([segment_norms(norms_path, seg)])
        # posting rows carry the int64 tid; the (query-sized) tid2term
        # closure maps them back to the query terms (split_blocks drops
        # the _tid_filter sentinel)
        by_term = split_blocks(pdf, tid2term)
        out_q, out_d, out_s = [], [], []
        for qid, terms in queries.items():
            for doc, score in segment_topk(by_term, terms, idf_map, avgdl, k,
                                           k1, b, lens, bf, dead):
                out_q.append(qid)
                out_d.append(doc)
                out_s.append(score)
        return pd.DataFrame({"query_id": pd.array(out_q, dtype="int32"),
                             "doc_id": pd.array(out_d, dtype="int64"),
                             "score": pd.array(out_s, dtype="float64")})

    return run


# Per-process memo of index metadata (collection stats + WAND bound
# factors), keyed by the NORMALIZED index_dir. The reference keeps the
# same thing as an in-proc LRU over loaded indexes (src/cache.ts:10-47,
# ST3 in SURVEY.md) — a query server loads metadata ONCE, not per query.
# Invalidated explicitly via refresh_meta (build/extend/merge callers).
_META_CACHE: dict[str, tuple] = {}


def _cache_key(root: str) -> str:
    """Normalize so `idx/`, `./idx` and `/abs/idx` hit one entry —
    otherwise refresh_meta after a delete/extend could miss the cached
    spelling and leave stale tombstones serving queries."""
    import os

    if "://" in root:  # non-local FS URI — normalize only the path part
        scheme, rest = root.split("://", 1)
        return f"{scheme}://{os.path.normpath(rest)}"
    return os.path.abspath(os.path.normpath(root))


def _index_meta(spark: SparkSession, paths: IndexPaths):
    """(n_docs, avgdl, bound_factors, dead_src, excluded) — memoized.
    dead_src is (tombstones_path, frozenset(segments-with-tombstones),
    in_flux_partitions) or None: the liveness CLOSURE is metadata-
    sized; each task lazily reads its own segment's tombstone partition
    (liveness.segment_tombstones) plus the fold-bounded in-flux ones when
    a merge fold sits between its barriers.
    `excluded` is the frozenset of segments a reader must skip (an
    in-flight/crashed fold's partial dirs — functions/liveness.py): the
    manifest, not the partition listing, is the source of truth for
    which segments serve. Stats, bound factors and exclusions come
    from index_build.read_snapshot (no Spark job on a local index),
    which refuses another on-disk format."""
    cached = _META_CACHE.get(_cache_key(paths.root))
    if cached is not None:
        return cached
    from .delete import tombstone_segments
    from .index_build import read_snapshot

    snap = read_snapshot(paths.root, spark)
    dead_segs = tombstone_segments(spark, paths)
    # in-flux partitions: a committed-not-done fold's excluded sources
    # whose tombstones haven't re-homed/purged yet (bounded by the
    # fold; empty in steady state)
    influx = snap.excluded & dead_segs if snap.union else frozenset()
    dead_src = (paths.tombstones, dead_segs, influx) if dead_segs else None
    key = _cache_key(paths.root)
    _META_CACHE[key] = (snap.n_docs, snap.avgdl, snap.bound_factors, dead_src, snap.excluded)
    return _META_CACHE[key]


def refresh_meta(index_dir: str | None = None) -> None:
    """Drop cached index metadata (after a build/extend/merge)."""
    if index_dir is None:
        _META_CACHE.clear()
        _DF_CACHE.clear()
        _SCAN_CACHE.clear()
    else:
        key = _cache_key(IndexPaths(index_dir).root)
        _META_CACHE.pop(key, None)
        _DF_CACHE.pop(key, None)
        for k in [k for k in _SCAN_CACHE if k[1] == key]:
            _SCAN_CACHE.pop(k, None)


# Per-process memo of the postings scan DataFrame, keyed by
# (Spark application id, normalized index root, with_positions).
# `spark.read.parquet` re-lists the 10^2-file postings layout and
# re-reads footers for schema inference on EVERY call — ~0.2 s of
# driver time that dominated the single-query distributed path
# (BENCH_r03 wand_spark_p50 regression). The lazy relation itself is
# immutable, so reusing it per session is safe; refresh_meta (every
# build/extend/merge/delete caller) invalidates by root.
_SCAN_CACHE: dict[tuple[str, str, bool], DataFrame] = {}


def _tid_filter(tids: list[int]) -> F.Column:
    """tid membership predicate shaped for a STABLE codegen cache key:
    a single-value isin optimizes to EqualTo with the literal INLINED
    in the generated source (fresh Janino compile per query — measured
    ~0.25 s, the dominant single-term wand_spark cost), so pad to two
    values with a sentinel (tid XOR a salt). The padded value is
    correctness-neutral: tids it might collide with (P ≈ vocab/2^64)
    only widen the scan; the kernels drop unknown tids. Two-plus values
    become InSet (session conf inSetConversionThreshold=1), whose value
    set is a codegen reference object — identical source across
    queries, codegen cache hit."""
    vals = list(tids)
    if len(vals) == 1:
        vals.append(vals[0] ^ 0x5BD1E995)
    return F.col("tid").isin(vals)


def _postings_scan(spark: SparkSession, paths: IndexPaths,
                   with_positions: bool = False) -> DataFrame:
    """Memoized projected postings relation (see _SCAN_CACHE)."""
    key = (spark.sparkContext.applicationId, _cache_key(paths.root), with_positions)
    df = _SCAN_CACHE.get(key)
    if df is None:
        cols = ["tid", "segment_id", "first_doc", "last_doc", "block_max", "min_tier", "n",
                "doc_gaps", "tfs"]
        df = spark.read.parquet(paths.postings)
        if with_positions:
            if "positions" not in df.columns:
                raise ValueError(
                    "positional query requires an index built with store_positions=True")
            cols.append("positions")
        df = df.select(*cols)
        _SCAN_CACHE[key] = df
    return df


# Per-process lazy term-metadata cache: index → {term: (global df, tid)}.
# Bounded by the query workload's vocabulary, not the index's (the
# reader never materializes the full vocab) — the serving-path
# discipline of serve.IndexReader applied to the distributed engine's
# driver. tid (the posting-row key) is computed CLIENT-SIDE with the
# pure-Python xxhash64 that is bit-identical to the build's Catalyst
# expression (functions/termhash.py; lock-step test) — the index
# stores no term strings, so a df lookup is a row-group-pruned int64
# probe of the tid-sorted postings, summing the blocks' `n`.
_DF_CACHE: dict[str, dict[str, tuple[int, int]]] = {}


def _term_meta(spark: SparkSession, paths: IndexPaths, terms: list[str],
               excluded: frozenset = frozenset()) -> dict[str, tuple[int, int]]:
    """{term: (global df, tid)} per query term (df 0 when absent): df
    is the `n` of the term's posting blocks summed, as the serving
    reader computes it. Driver-side pyarrow read of the postings' (tid,
    n) columns — no Spark job on the query path; a Spark agg only for a
    non-local URI scheme (index_build.spark_reads). A local read error
    propagates.
    `excluded` segments (an in-flight/crashed fold's partial dirs)
    are dropped from the df sum — their blocks would double-count df
    against the live sources. Cache safety: the exclusion set is
    constant per refresh epoch and refresh_meta clears _DF_CACHE."""
    from ..functions.termhash import term_tid
    from .index_build import spark_reads

    cache = _DF_CACHE.setdefault(_cache_key(paths.root), {})
    missing = sorted({t for t in terms if t not in cache})
    if missing:
        tid_of = {t: term_tid(t) for t in missing}
        tids = sorted(tid_of.values())
        if spark_reads(paths.postings, spark):
            sdf = _postings_scan(spark, paths).filter(_tid_filter(tids))
            if excluded:
                sdf = sdf.filter(~F.col("segment_id").isin(sorted(excluded)))
            rows = sdf.groupBy("tid").agg(F.sum("n")).collect()
        else:
            import pyarrow.dataset as ds

            flt = ds.field("tid").isin(tids)
            if excluded:
                flt = flt & ~ds.field("segment_id").isin(sorted(excluded))
            tbl = ds.dataset(paths.postings, format="parquet", partitioning="hive").to_table(
                filter=flt, columns=["tid", "n"]
            )
            g = tbl.group_by("tid").aggregate([("n", "sum")])
            rows = zip(g["tid"].to_pylist(), g["n_sum"].to_pylist())
        dfs = {int(t): int(n) for t, n in rows}
        cache.update({t: (dfs.get(tid_of[t], 0), tid_of[t]) for t in missing})
    return {t: cache[t] for t in terms}


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    k: int = 10,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Top-k via the index: per-segment segment_topk (applyInPandas) → global
    rank-window merge. Parquet scan is pruned to the query terms
    (predicate pushdown on the int64 `tid` + row-group stats from the
    tid-sorted layout)."""
    paths = IndexPaths(index_dir)
    n_docs, avgdl, bound_factors, dead_src, excluded = _index_meta(spark, paths)

    q_map = {int(qid): tokenize_query(q) for qid, q in queries}
    all_terms = sorted({t for ts in q_map.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], "query_id int, doc_id long, score double, rank int")

    # global df + tid per query term (driver-side pruned read, memoized —
    # keeps a df Spark job off the per-query path)
    meta = _term_meta(spark, paths, all_terms, excluded=excluded)
    idf_map = {t: idf_fn(n_docs, m[0]) for t, m in meta.items() if m[0] > 0}
    tid2term = {meta[t][1]: t for t in idf_map}
    if not tid2term:
        return spark.createDataFrame([], "query_id int, doc_id long, score double, rank int")

    # project to exactly the columns the cursors read BEFORE the
    # groupBy exchange — on a positional index this keeps the (largest)
    # positions column out of the scan and shuffle entirely. Postings
    # filter on the int64 tid (row-group stats on the tid-sorted
    # layout); the base relation is memoized per session (file listing
    # + footer schema inference cost ~0.2 s/call — _SCAN_CACHE)
    blocks = _postings_scan(spark, paths).filter(_tid_filter(list(tid2term)))
    if excluded:
        # an in-flight/crashed fold's partial segments (manifest-derived,
        # functions/liveness.py) — applied only when non-empty so the
        # common case keeps the codegen-stable plan shape
        blocks = blocks.filter(~F.col("segment_id").isin(sorted(excluded)))
    per_seg = blocks.groupBy("segment_id").applyInPandas(
        _wand_udf(q_map, idf_map, avgdl, k, k1, b, paths.norms, bound_factors,
                  dead_src=dead_src, tid2term=tid2term),
        schema="query_id int, doc_id long, score double",
    )
    return rank_topk(per_seg, k)

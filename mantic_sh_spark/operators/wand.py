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
from ..functions.liveness import DeadDocs, segment_tombstones
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
    """numpy columns of one term's blocks frame, pulled once per frame
    and memoized on it (term_blocks). `bmax` has the bound factors the
    memo was built with folded in; `segs` = the segment ids present."""

    __slots__ = ("owner", "factors", "first", "last", "bmax", "n", "gaps", "tfs", "dls",
                 "segs")

    def __init__(self, pdf: pd.DataFrame, bound_factors: dict | None):
        self.owner, self.factors = id(pdf), bound_factors
        self.first = pdf["first_doc"].to_numpy(np.int64)
        self.last = pdf["last_doc"].to_numpy(np.int64)
        self.bmax = pdf["block_max"].to_numpy(np.float64)
        self.n = pdf["n"].to_numpy(np.int64)
        self.gaps, self.tfs, self.dls = (pdf[c].to_numpy(object) for c in ("doc_gaps", "tfs", "dls"))
        self.segs = np.empty(0, dtype=np.int64)
        if "segment_id" in pdf.columns:
            self.segs, inv = np.unique(pdf["segment_id"].to_numpy(np.int64),
                                       return_inverse=True)
            if bound_factors:
                f = np.array([bound_factors.get(int(s), 1.0) for s in self.segs])
                self.bmax = self.bmax * f[inv]

    def __deepcopy__(self, memo):
        # pandas deep-copies .attrs into every derived frame; the memo
        # is immutable, and term_blocks' owner check keeps a derived
        # frame from ever using it
        return self


def term_blocks(pdf: pd.DataFrame, bound_factors: dict | None = None) -> _TermBlocks:
    """The frame's memoized _TermBlocks. `bound_factors` ({segment:
    factor ≥ 1}, the avgdl-drift bound inflation) pre-scales block_max
    per row's segment; the serving reader passes its epoch's dict at
    fetch, and the kernel (None) then reuses whatever memo the frame
    carries. The memo is valid only for the exact frame object it was
    built from — frames are treated as immutable everywhere."""
    tb = pdf.attrs.get("_blocks")
    if tb is None or tb.owner != id(pdf) or (
            bound_factors is not None and tb.factors is not bound_factors):
        tb = _TermBlocks(pdf, bound_factors)
        pdf.attrs["_blocks"] = tb
    return tb


def cached_postings(decode_cache, term: str, tb: _TermBlocks):
    """The decode cache's (docs, tf_norm, first_doc, n) entry for
    `term` when it was decoded from blocks with exactly tb's first_doc
    / n columns, else None: a frame re-fetched in another row order, or
    from another epoch (a query straddling refresh), is a miss."""
    c = decode_cache.get(term) if decode_cache is not None else None
    if c is None or not (np.array_equal(c[2], tb.first) and np.array_equal(c[3], tb.n)):
        return None
    return c


def _ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenated index ranges [starts[i], starts[i] + counts[i])."""
    rel = np.arange(int(counts.sum())) - np.repeat(np.cumsum(counts) - counts, counts)
    return np.repeat(starts, counts) + rel


def segment_topk(by_term: dict[str, pd.DataFrame], terms: list[str],
                 idf_map: dict[str, float], avgdl: float, k: int,
                 k1: float, b: float, bound_factor: float = 1.0,
                 dead: DeadDocs | None = None,
                 stats: dict | None = None,
                 decode_cache=None,
                 deadline: float | None = None) -> list[tuple[int, float]]:
    """Exact top-k [(doc_id, score)] over the given blocks frames (one
    segment for the distributed UDF, every segment for the serving
    reader), sorted (score desc, doc_id asc) — the block-interval
    kernel of the module docstring, shared by both surfaces so they rank
    identically by construction.

    `dead` docs are dropped at finalization (θ only ever stays lower,
    so the prune stays sound). `decode_cache` (optional .get(term) /
    .put(term, value)) memoizes the idf-independent (docs, tf_norm), in
    block order and tagged with the frame's first_doc / n columns, of
    every term this query decoded at least half of (the rest is decoded
    to complete it); a cached term's blocks cost no decode. `deadline`
    (a time.time() instant) is checked between rounds: the first round
    always completes, returned docs always carry exact scores, and
    stats["truncated"] is set when intervals that could still reach θ
    were left unvisited. `stats`
    accumulates read-amplification counters — blocks_considered (block
    rows of the consulted lists), blocks_decoded (blocks varint-decoded;
    the gap is the prune's win) and decoded_hits (cached terms)."""
    present = [t for t in terms
               if t in by_term and idf_map.get(t, 0.0) > 0.0 and len(by_term[t])]
    if not present or k <= 0:
        return []
    nt = len(present)
    tbs = [term_blocks(by_term[t]) for t in present]
    nb = [len(tb.first) for tb in tbs]
    term = np.repeat(np.arange(nt), nb)
    first, last, n, bmax = (np.concatenate([getattr(tb, c) for tb in tbs])
                            for c in ("first", "last", "n", "bmax"))
    idf = np.array([idf_map[t] for t in present])

    # cached terms: their blocks are slices of the cached arrays, no
    # decode
    cached = [cached_postings(decode_cache, t, tb) for t, tb in zip(present, tbs)]
    is_cached = np.repeat([c is not None for c in cached], nb)
    n_cached = int(is_cached.sum())
    if n_cached:
        if stats is not None:
            stats["decoded_hits"] = stats.get("decoded_hits", 0) + sum(
                c is not None for c in cached)
        cdocs = np.concatenate([c[0] for c in cached if c is not None])
        ctfn = np.concatenate([c[1] for c in cached if c is not None])
        coff = np.zeros(len(n), dtype=np.int64)
        coff[is_cached] = np.cumsum(n[is_cached]) - n[is_cached]
        cterm = np.repeat(term[is_cached], n[is_cached])
    to_decode = ~is_cached  # blocks whose postings still cost a decode
    decoded = []  # (blk, docs, tf_norm) per decode, for the decode cache
    raw = []
    top_d = np.empty(0, dtype=np.int64)
    top_s = np.empty(0, dtype=np.float64)
    theta = -np.inf

    def materialize(new):
        """(term, docs, tf_norm) of the postings of blocks `new`: decoded
        in one varint pass, or sliced from the cached arrays."""
        parts = []
        dec = np.sort(new[to_decode[new]])
        if len(dec):
            if not decoded:  # first decode: the blocks' byte columns
                raw.extend(np.concatenate([getattr(tb, c) for tb in tbs])
                           for c in ("gaps", "tfs", "dls"))
            to_decode[dec] = False
            d, tf, dl = decode_blocks(n[dec], first[dec], *(col[dec] for col in raw))
            blk = np.repeat(dec, n[dec])
            decoded.append((blk, d, tf_norm(tf, dl, avgdl, k1, b)))
            parts.append((term[blk],) + decoded[-1][1:])
        cac = new[is_cached[new]]
        if len(cac) and len(cac) == n_cached:  # every cached block
            parts.append((cterm, cdocs, ctfn))
        elif len(cac):
            idx = _ranges(coff[cac], n[cac])
            parts.append((np.repeat(term[cac], n[cac]), cdocs[idx], ctfn[idx]))
        return [x[0] if len(x) == 1 else np.concatenate(x) for x in zip(*parts)]

    def finalize(pt, pd_, pc):
        """Merge the docs of these (complete) postings into the top-k."""
        nonlocal top_d, top_s, theta
        pc = pc * idf[pt]
        if nt == 1:  # one posting per doc
            uniq, sc = pd_, np.round(pc, 4)
        else:
            o = np.lexsort((pt, pd_))  # per doc, summed in term order
            pd_, pc = pd_[o], pc[o]
            starts = np.flatnonzero(np.concatenate(([True], pd_[1:] != pd_[:-1])))
            uniq, sc = pd_[starts], np.round(np.add.reduceat(pc, starts), 4)
        keep = sc >= theta
        if dead is not None:
            keep &= ~dead.mask(uniq)
        if np.count_nonzero(keep) > k:  # only the k best of these can enter
            keep &= sc >= np.partition(sc[keep], -k)[-k]
        cand_d = np.concatenate((top_d, uniq[keep]))
        cand_s = np.concatenate((top_s, sc[keep]))
        sel = np.lexsort((cand_d, -cand_s))[:k]
        top_d, top_s = cand_d[sel], cand_s[sel]
        if len(top_d) == k:
            theta = top_s[-1]

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
                pt, docs, tfn = materialize(by_need[j0:j1])
                j0 = j1
                if nt == 1 or r1 == len(order):  # complete at once
                    chunks.append([None, pt, docs, tfn, 0])
                else:
                    r = rank[np.searchsorted(cuts, docs, side="right") - 1]
                    o = np.argsort(r, kind="stable")
                    chunks.append([r[o], pt[o], docs[o], tfn[o], 0])
            # finalize every doc of the round's intervals
            parts = []
            for ch in chunks:
                hi = len(ch[1]) if ch[0] is None else int(np.searchsorted(ch[0], r1))
                if hi > ch[4]:
                    parts.append((ch[1][ch[4]:hi], ch[2][ch[4]:hi], ch[3][ch[4]:hi]))
                    ch[4] = hi
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
            blk, docs, tfn = (np.concatenate(x) for x in zip(*decoded))
            tt = term[blk]
            for i in full:
                s = np.flatnonzero(tt == i)
                s = s[np.argsort(blk[s], kind="stable")]  # block order
                decode_cache.put(present[i], (docs[s], tfn[s], tbs[i].first, tbs[i].n))
    if stats is not None:
        stats["blocks_considered"] = stats.get("blocks_considered", 0) + len(n)
        stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + int(
            (~is_cached & ~to_decode).sum())
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
              avgdl: float, k: int, k1: float, b: float,
              bound_factors: dict[int, float] | None = None,
              dead_src: "tuple[str, frozenset[int]] | None" = None,
              tid2term: dict[int, str] | None = None):
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        seg = int(pdf["segment_id"].iloc[0])
        bf = (bound_factors or {}).get(seg, 1.0)
        dead = _load_dead(dead_src, seg)
        # posting rows carry the int64 tid; translate back to the query
        # term strings via the (query-sized) tid2term closure. Unknown
        # tids are skipped: the scan filter may be padded with a
        # never-matching sentinel (codegen-stability trick in
        # _tid_filter) that could in principle collide with a real term
        by_term = {tid2term[int(t)]: g for t, g in pdf.groupby("tid")
                   if int(t) in tid2term}
        out_q, out_d, out_s = [], [], []
        for qid, terms in queries.items():
            for doc, score in segment_topk(by_term, terms, idf_map, avgdl, k,
                                           k1, b, bf, dead):
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
    which segments serve."""
    cached = _META_CACHE.get(_cache_key(paths.root))
    if cached is not None:
        return cached
    stats = spark.read.parquet(paths.collection_stats).collect()[0]
    n_docs, avgdl = int(stats.n_docs), float(stats.avgdl)
    # per-segment bound inflation for avgdl drift after incremental
    # extends; build_avgdl + the fold-protocol rows live in the
    # manifest lineage rows — ONE metadata-sized collect serves both
    from ..functions.liveness import reader_exclusions
    from ..sources.catalog import read_or_none

    bound_factors: dict[int, float] = {}
    excluded: frozenset = frozenset()
    union = False
    manifest = read_or_none(spark, paths.manifest)
    if manifest is not None:
        cols = set(manifest.columns)
        want = ["segment_id", "build_avgdl"] + [
            c for c in ("stage", "status", "started_at") if c in cols
        ]
        rows = manifest.select(*want).collect()
        mins: dict[int, float] = {}
        for r in rows:
            if r.build_avgdl is not None:
                s = int(r.segment_id)
                ba = float(r.build_avgdl)
                mins[s] = ba if s not in mins else min(mins[s], ba)
        bound_factors = {s: max(1.0, avgdl / ba) for s, ba in mins.items()}
        if {"stage", "status", "started_at"} <= cols:
            excluded, union = reader_exclusions(
                (int(r.segment_id), r.stage, r.status, r.started_at) for r in rows
            )
    from .delete import tombstone_segments

    dead_segs = tombstone_segments(spark, paths)
    # in-flux partitions: a committed-not-done fold's excluded sources
    # whose tombstones haven't re-homed/purged yet (bounded by the
    # fold; empty in steady state)
    influx = frozenset(excluded) & set(dead_segs) if union else frozenset()
    dead_src = (paths.tombstones, dead_segs, influx) if dead_segs else None
    key = _cache_key(paths.root)
    _META_CACHE[key] = (n_docs, avgdl, bound_factors, dead_src, excluded)
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
        cols = ["tid", "segment_id", "first_doc", "last_doc", "block_max", "n",
                "doc_gaps", "tfs", "dls"]
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
# probe of the tid-sorted terms directory.
_DF_CACHE: dict[str, dict[str, tuple[int, int]]] = {}


def _term_meta(spark: SparkSession, paths: IndexPaths, terms: list[str],
               excluded: frozenset = frozenset()) -> dict[str, tuple[int, int]]:
    """{term: (global df, tid)} per query term (df 0 when absent).
    Driver-side pyarrow row-group-pruned read of the (tiny, tid-sorted)
    terms directory — no Spark job on the query path; falls back to a
    Spark agg only when the driver genuinely has no direct reader for
    the storage scheme (narrow except: a real data/corruption error in
    the terms directory must propagate, not silently reroute).
    `excluded` segments (an in-flight/crashed fold's partial dirs)
    are dropped from the df sum — their terms rows would double-count
    df against the live sources. Cache safety: the exclusion set is
    constant per refresh epoch and refresh_meta clears _DF_CACHE."""
    from ..functions.termhash import term_tid

    cache = _DF_CACHE.setdefault(_cache_key(paths.root), {})
    missing = sorted({t for t in terms if t not in cache})
    if missing:
        tid_of = {t: term_tid(t) for t in missing}
        tids = sorted(tid_of.values())
        try:
            import pyarrow.dataset as ds
            from pyarrow.lib import ArrowInvalid, ArrowNotImplementedError

            fallback_errors = (FileNotFoundError, OSError, ArrowInvalid, ArrowNotImplementedError)
        except ImportError:
            ds = None
            fallback_errors = ()
        dfs: dict[int, int] | None = None
        if ds is not None:
            try:
                flt = ds.field("tid").isin(tids)
                if excluded:
                    flt = flt & ~ds.field("segment_id").isin(sorted(excluded))
                tbl = ds.dataset(paths.terms, format="parquet", partitioning="hive").to_table(
                    filter=flt, columns=["tid", "df"]
                )
                agg = tbl.to_pandas().groupby("tid")["df"].sum()
                dfs = {int(t): int(v) for t, v in agg.items()}
            except fallback_errors:
                dfs = None
        if dfs is None:
            sdf = spark.read.parquet(paths.terms).filter(F.col("tid").isin(tids))
            if excluded:
                sdf = sdf.filter(~F.col("segment_id").isin(sorted(excluded)))
            rows = sdf.groupBy("tid").agg(F.sum("df").alias("df")).collect()
            dfs = {int(r.tid): int(r.df) for r in rows}
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
    (predicate pushdown on `term` + row-group stats from the
    sort-by-term layout)."""
    paths = IndexPaths(index_dir)
    n_docs, avgdl, bound_factors, dead_src, excluded = _index_meta(spark, paths)

    q_map = {int(qid): tokenize_query(q) for qid, q in queries}
    all_terms = sorted({t for ts in q_map.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], "query_id int, doc_id long, score double, rank int")

    # global df + tid per query term (driver-side pruned read, memoized —
    # keeps the terms-directory Spark job off the per-query path)
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
        _wand_udf(q_map, idf_map, avgdl, k, k1, b, bound_factors,
                  dead_src=dead_src, tid2term=tid2term),
        schema="query_id int, doc_id long, score double",
    )
    return rank_topk(per_seg, k)

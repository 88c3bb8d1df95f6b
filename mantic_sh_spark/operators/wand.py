"""Block-Max WAND top-k over the compressed index (U3/K2/K3/O2).

Reference analogs: the partitioned per-chunk top-k + identical-
comparator merge of src/parallel-mantic.ts:26-75 (here: per-SEGMENT
WAND inside applyInPandas, merged by a rank window), and the
early-termination heuristic of src/smart-filter.ts:289-297 (here: the
principled version — skip every block whose max possible score cannot
beat the current k-th best).

Algorithm: Block-Max WAND (Ding & Suel, SIGIR 2011 — public
literature). Per segment and query:
  * one cursor per query term over its block list; blocks are decoded
    LAZILY — a block skipped by the block-max check is never decoded
    (that is where the speed comes from);
  * bounded min-heap of size k with deterministic tie-break
    (score desc, doc_id asc);
  * pivot selection on term upper bounds (idf × segment max tf_norm),
    refined by per-block maxima before any full evaluation.

idf uses GLOBAL df (summed across segments at query start), so scores
are identical to the exhaustive engine; block maxima are
idf-independent by construction (see functions/codec.py) and therefore
stay valid upper bounds under any df.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.bm25 import B, K1, idf as idf_fn
from ..functions.codec import decode_block
from ..functions.liveness import DeadDocs
from ..functions.tokenize import tokenize_query
from ..sources.catalog import IndexPaths
from .query import rank_topk

INF = 1 << 62
# Ranking everywhere (exhaustive engine, pure oracle, WAND heap) is on
# scores rounded to SCORE_DECIMALS (fp-sum order is not deterministic
# across partitions). EPS must cover the rounding half-step so the
# block-max skip can never drop a doc that would TIE the heap floor
# after rounding: skip ⇒ true < θ - EPS ⇒ round(true) < θ. Looser
# pruning by 1e-4, never an incorrect result.
EPS = 1e-4


class _Cursor:
    """Lazy-decoding posting-list cursor for one (term, segment)."""

    __slots__ = ("first", "last", "bmax", "gaps", "tfs", "dls", "idf", "ub", "bf",
                 "k1", "b", "avgdl", "nb", "bi", "docs", "tf_arr", "dl_arr", "pi", "cur",
                 "stats")

    def __init__(self, pdf: pd.DataFrame, idf: float, avgdl: float, k1: float, b: float,
                 bound_factor: float = 1.0, stats: dict | None = None):
        pdf = pdf.sort_values("first_doc")
        self.first = pdf["first_doc"].to_numpy()
        self.last = pdf["last_doc"].to_numpy()
        self.bmax = pdf["block_max"].to_numpy()
        self.gaps = pdf["doc_gaps"].tolist()
        self.tfs = pdf["tfs"].tolist()
        self.dls = pdf["dls"].tolist()
        self.nb = len(self.first)
        self.idf = idf
        # bound_factor ≥ 1 inflates build-time maxima when the global
        # avgdl has drifted upward since this segment was built
        # (tf_norm is monotone in avgdl with limit ratio new/old) —
        # keeps the bound sound after incremental extends.
        self.bf = bound_factor
        self.ub = idf * float(self.bmax.max()) * bound_factor
        self.k1, self.b, self.avgdl = k1, b, avgdl
        self.bi = -1
        self.docs = None
        self.pi = 0
        self.cur = -1
        # optional read-amplification counter (serving observability):
        # stats["blocks_decoded"] += 1 per lazy block decode
        self.stats = stats
        self.seek(0)

    def _enter(self, bi: int) -> None:
        self.bi = bi
        if bi >= self.nb:
            self.docs = None
            self.cur = INF
            return
        if self.stats is not None:
            self.stats["blocks_decoded"] = self.stats.get("blocks_decoded", 0) + 1
        self.docs, self.tf_arr, self.dl_arr = decode_block(self.gaps[bi], self.tfs[bi], self.dls[bi])

    def seek(self, target: int) -> None:
        """Advance to the first posting with doc_id >= target (monotone)."""
        if self.cur >= target:
            return
        lo = max(self.bi, 0)
        bi = lo + int(np.searchsorted(self.last[lo:], target, side="left"))
        if bi >= self.nb:
            self.bi = self.nb
            self.cur = INF
            return
        if bi != self.bi or self.docs is None:
            self._enter(bi)
        self.pi = int(np.searchsorted(self.docs, target, side="left"))
        self.cur = int(self.docs[self.pi])

    def advance(self) -> None:
        """Move to the next posting."""
        self.pi += 1
        if self.docs is not None and self.pi < len(self.docs):
            self.cur = int(self.docs[self.pi])
        else:
            bi = self.bi + 1
            if bi >= self.nb:
                self.cur = INF
                return
            self._enter(bi)
            self.pi = 0
            self.cur = int(self.docs[0])

    def score(self) -> float:
        tf = float(self.tf_arr[self.pi])
        dl = float(self.dl_arr[self.pi])
        return self.idf * tf * (self.k1 + 1.0) / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl))

    def _block_for(self, d: int) -> int:
        lo = max(self.bi, 0)
        return lo + int(np.searchsorted(self.last[lo:], d, side="left"))

    def block_max_upto(self, d: int) -> float:
        """Max score this cursor could contribute to doc d (shallow —
        no decode)."""
        bi = self._block_for(d)
        if bi >= self.nb or self.first[bi] > d:
            return 0.0
        return self.idf * float(self.bmax[bi]) * self.bf

    def next_boundary(self, d: int) -> int:
        """Smallest doc id > d at which this cursor's block-max bound
        can change (shallow)."""
        bi = self._block_for(d)
        if bi >= self.nb:
            return INF
        if self.first[bi] > d:
            return int(self.first[bi])
        return int(self.last[bi]) + 1


def block_max_wand(cursors: list[_Cursor], k: int,
                   dead: DeadDocs | None = None) -> list[tuple[int, float]]:
    """BMW top-k over one segment. Returns [(doc_id, score)] sorted by
    (score desc, doc_id asc), len ≤ k. `dead` = tombstoned doc ids;
    dead docs are skipped at heap-push (live-docs check) so the
    heap holds the k best LIVE docs — pruning bounds remain sound
    because skipping only keeps θ lower (never higher) than the
    all-docs run."""
    # min-heap of (score, -doc_id): root = currently-worst kept result
    heap: list[tuple[float, int]] = []

    def theta() -> float:
        return heap[0][0] if len(heap) == k else -1.0

    active = cursors
    while True:
        active = [c for c in active if c.cur < INF]
        if not active:
            break
        active.sort(key=lambda c: c.cur)
        th = theta()
        acc = 0.0
        p = -1
        for i, c in enumerate(active):
            acc += c.ub
            if acc >= th - EPS:
                p = i
                break
        if p == -1:
            break  # sum of all term bounds can't reach the heap floor
        pivot = active[p].cur
        if pivot >= INF:
            break
        # extend the pivot set across ties: every list already AT the
        # pivot doc contributes to its score, so it must be inside the
        # bound (and the d' cap below must start strictly beyond pivot)
        while p + 1 < len(active) and active[p + 1].cur == pivot:
            p += 1
        # block-max refinement (shallow: no block decode)
        bacc = 0.0
        for c in active[: p + 1]:
            bacc += c.block_max_upto(pivot)
        if bacc < th - EPS:
            # skip: jump past the earliest block boundary among the
            # cursors that defined this bound — but never past the
            # NEXT list's current doc (bacc only bounded cursors 0..p;
            # docs ≥ active[p+1].cur get that list's contribution too,
            # so the proof does not extend beyond it — Ding & Suel's d')
            nxt = min(c.next_boundary(pivot) for c in active[: p + 1])
            if p + 1 < len(active):
                nxt = min(nxt, active[p + 1].cur)
            target = max(pivot + 1, nxt)
            # advance the highest-impact cursor (fewest future evals)
            mover = max(active[: p + 1], key=lambda c: c.ub)
            mover.seek(target)
        elif active[0].cur == pivot:
            alive = dead is None or pivot not in dead
            s = 0.0
            if alive:
                for c in active:
                    if c.cur == pivot:
                        s += c.score()
            for c in active:
                if c.cur == pivot:
                    c.advance()
            if alive:
                item = (round(s, 4), -pivot)
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
        else:
            # align: advance a lagging cursor up to the pivot
            mover = max((c for c in active[:p] if c.cur < pivot), key=lambda c: c.ub)
            mover.seek(pivot)
    return sorted([(-nd, s) for s, nd in heap], key=lambda x: (-x[1], x[0]))


# Per-segment engine choice: Block-Max WAND's per-doc evaluation loop
# wins when a selective term drives skipping; when every query term is
# common (or the query has one term), pruning cannot skip and the
# vectorized term-at-a-time scorer is ~10× faster per posting. Both
# are exact, so the choice is pure cost-based. TAAT decodes at most
# TAAT_CAP postings per (segment, query) — above that, posting lists
# are long enough that WAND's skipping dominates even without a rare
# term (θ rises fast when k ≪ df).
TAAT_CAP = 4_000_000
TAAT_SELECTIVITY = 8  # TAAT unless some term is ≥8× rarer than the total


def _decode_term_all(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Batch-decode ALL blocks of one (term, segment): one varint pass
    per column for the whole list (the per-block decode_block call has
    ~170µs fixed overhead; this is what makes full-list scoring cheap).
    Blocks' first values are absolute doc ids → cumsum with per-block
    rebase."""
    from ..functions.codec import varint_decode

    counts = pdf["n"].to_numpy().astype(np.int64)
    gaps = varint_decode(b"".join(pdf["doc_gaps"])).astype(np.int64)
    starts = np.zeros(len(counts), dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    c = np.cumsum(gaps)
    base = c[starts] - gaps[starts]
    docs = c - np.repeat(base, counts)
    tfs = varint_decode(b"".join(pdf["tfs"])).astype(np.int64)
    dls = varint_decode(b"".join(pdf["dls"])).astype(np.int64)
    return docs, tfs, dls


def _taat_topk(term_pdfs: list[tuple[str, pd.DataFrame, float]], avgdl: float, k: int,
               k1: float, b: float, dead: DeadDocs | None,
               stats: dict | None = None,
               decode_cache=None) -> list[tuple[int, float]]:
    """Exact vectorized term-at-a-time top-k over one segment:
    decode → per-posting scores → sort-merge accumulate by doc →
    lexsort top-k. No per-doc Python.

    `decode_cache` (optional, .get(term)/.put(term, value) — the
    serving reader passes a byte-budgeted LRU namespaced per segment)
    memoizes the decoded (docs, tfs, dls) arrays: TAAT-class terms are
    the corpus-dense head of the vocabulary, and their decode is the
    dominant per-query cost once the compressed frames are hot."""
    from ..functions.codec import tf_norm

    doc_parts, score_parts = [], []
    for t, pdf, idf in term_pdfs:
        dec = decode_cache.get(t) if decode_cache is not None else None
        if dec is None:
            if stats is not None:  # TAAT decodes every block of its lists
                stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + len(pdf)
            dec = _decode_term_all(pdf)
            if decode_cache is not None:
                decode_cache.put(t, dec)
        elif stats is not None:
            stats["decoded_hits"] = stats.get("decoded_hits", 0) + 1
        d, tf, dl = dec
        doc_parts.append(d)
        score_parts.append(idf * tf_norm(tf, dl, avgdl, k1, b))
    docs = np.concatenate(doc_parts)
    scores = np.concatenate(score_parts)
    order = np.argsort(docs, kind="stable")
    docs, scores = docs[order], scores[order]
    starts = np.flatnonzero(np.concatenate(([True], docs[1:] != docs[:-1])))
    uniq = docs[starts]
    tot = np.add.reduceat(scores, starts)
    if dead is not None:
        live = ~dead.mask(uniq)
        uniq, tot = uniq[live], tot[live]
    r = np.round(tot, 4)
    idx = np.lexsort((uniq, -r))[:k]
    return list(zip(uniq[idx].tolist(), r[idx].tolist()))


def segment_topk(by_term: dict[str, pd.DataFrame], terms: list[str],
                 idf_map: dict[str, float], avgdl: float, k: int,
                 k1: float, b: float, bound_factor: float = 1.0,
                 dead: DeadDocs | None = None,
                 stats: dict | None = None,
                 decode_cache=None) -> list[tuple[int, float]]:
    """One (segment, query) top-k with the cost-based TAAT/WAND choice.
    Shared by the distributed UDF and the serving reader so both
    surfaces rank identically by construction. `stats` (optional dict)
    accumulates read-amplification counters — blocks_considered (block
    rows of the consulted lists) and blocks_decoded (blocks actually
    materialized; the gap between the two is WAND's skip win)."""
    present = [t for t in terms if t in by_term and idf_map.get(t, 0.0) > 0.0]
    if not present:
        return []
    counts = [int(by_term[t]["n"].sum()) for t in present]
    total = sum(counts)
    if stats is not None:
        stats["blocks_considered"] = stats.get("blocks_considered", 0) + sum(
            len(by_term[t]) for t in present
        )
    if len(present) == 1 or (total <= TAAT_CAP and min(counts) * TAAT_SELECTIVITY >= total):
        return _taat_topk([(t, by_term[t], idf_map[t]) for t in present],
                          avgdl, k, k1, b, dead, stats=stats,
                          decode_cache=decode_cache)
    cursors = [
        _Cursor(by_term[t], idf_map[t], avgdl, k1, b, bound_factor=bound_factor,
                stats=stats)
        for t in present
    ]
    return block_max_wand(cursors, k, dead)


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
    from .delete import segment_tombstones

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
    (delete.segment_tombstones) plus the fold-bounded in-flux ones when
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
    """Top-k via the index: per-segment BMW (applyInPandas) → global
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

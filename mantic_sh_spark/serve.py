"""Low-latency query serving over the parquet index (the reference's
primary consumer surface: an agent loop hitting `search_files` with
sub-second answers — src/mcp-server.ts:338-441, latency table
README.md:82-85).

Architecture: Spark is the BUILD/ANALYTICS plane; serving replicas run
this module — a long-lived `IndexReader` that reads the exact parquet
artifacts the Spark jobs commit, via pyarrow row-group-pruned reads,
and executes the SAME kernels the distributed path uses
(`operators/wand.py::segment_topk` for BM25 — one call over every
segment's blocks here, one per segment there —
`operators/phrase.py::segment_phrase_matches` for positional phrase /
proximity queries). No Spark job
— and no JVM — is on the per-query path, so latency is decode-bound
(milliseconds), not job-scheduling-bound.

Scale notes (what changes at 10^12 docs, nothing structural):
  * index metadata (collection stats, bound factors, tombstones) loads
    once per refresh — the in-proc memo the reference keeps as an LRU
    over loaded indexes (src/cache.ts:10-47).
  * per-term df comes from the terms directory with a lazy per-term
    cache — the reader never materializes the vocabulary.
  * posting blocks load per (term) via parquet row-group pruning (the
    build sorts each segment by term) and stay in a hot-term LRU —
    repeated/zipfian query terms hit memory, cold terms cost one
    columnar read. Replicas shard by index or by segment range when
    one box can't hold the hot set.
  * results are (doc_id, score) — identical, by test, to wand_topk;
    phrase results identical to phrase_topk (positional indexes).

`serve_loop` is the service harness: JSON-lines in, JSON-lines out —
the same contract an MCP/HTTP adapter would wrap.
"""

from __future__ import annotations

import json
import threading
import time
from collections import OrderedDict

import numpy as np

from .functions.bm25 import B, K1, idf as idf_fn
from .functions.liveness import DeadDocs
from .functions.tokenize import tokenize_query
from .sources.catalog import IndexPaths

# posting rows are keyed by `tid` (dictionary-encoded term — xxhash64);
# the reader resolves term → tid from the terms directory, so no hash
# implementation exists outside the Spark build
_POSTING_COLS = ["tid", "first_doc", "last_doc", "block_max", "n",
                 "doc_gaps", "tfs", "dls"]


class TierBudgetExceeded(ValueError):
    """A tiered query where EVERY term's tier-field doc list exceeds
    the reader's materialization budget (IndexReader._TIER_DF_CAP):
    the tier ladder's semantics require ranking every tier-matched doc,
    and with no small list to intersect against the match set is a
    corpus-share array this one process refuses to hold. Run such
    queries through the batch operator (operators/query.tiered_topk —
    a distributed full-corpus pass, the semantics' native cost), or
    raise the cap on a reader with the memory to back it."""

# Byte budget for the decoded-postings LRU: decoded arrays run ~12x
# their varint form, so this cache holds far fewer ENTRIES than the
# compressed block LRU — but each hit skips the decode pass that
# dominates dense-term (top-k/phrase) queries once frames are hot
# (measured: the stop-word-phrase p50 is ~100% decode+kernel, 0% fetch).
_DECODE_BUDGET = 256 * 1024 * 1024


def _decoded_nbytes(value) -> int:
    """Recursive nbytes of a decoded payload (tuples/lists of ndarrays)."""
    if isinstance(value, (tuple, list)):
        return sum(_decoded_nbytes(v) for v in value)
    return int(getattr(value, "nbytes", 0))


class _DecodedLRU:
    """Byte-budgeted LRU of decoded posting payloads, keyed by
    (namespace, term). Thread-safe; the reader clears it on refresh()
    (same lifetime discipline as the compressed block LRUs). An entry
    larger than the whole budget is served but never cached.

    clear() bumps a GENERATION; puts carry the generation their decode
    started under and are dropped if a clear raced in between (checked
    under the same lock clear() takes, so the check is atomic). Without
    this, a query straddling refresh() would install PRE-refresh
    decoded arrays into the just-cleared cache and every later query
    would hit stale postings — the exact race _fetch_blocks guards
    with its epoch re-check (review r5 finding)."""

    def __init__(self, budget_bytes: int):
        self.budget = int(budget_bytes)
        self._lock = threading.Lock()
        self._d: OrderedDict = OrderedDict()
        self._bytes = 0
        self.generation = 0

    def get(self, key):
        with self._lock:
            hit = self._d.get(key)
            if hit is None:
                return None
            self._d.move_to_end(key)
            return hit[0]

    def put(self, key, value, generation: int | None = None) -> None:
        nb = _decoded_nbytes(value)
        if nb > self.budget:
            return
        with self._lock:
            if generation is not None and generation != self.generation:
                return  # decoded from pre-clear frames — stale
            old = self._d.pop(key, None)
            if old is not None:
                self._bytes -= old[1]
            self._d[key] = (value, nb)
            self._bytes += nb
            while self._bytes > self.budget and self._d:
                _, (_v, onb) = self._d.popitem(last=False)
                self._bytes -= onb

    def clear(self) -> None:
        with self._lock:
            self._d.clear()
            self._bytes = 0
            self.generation += 1


class _NsDecodeCache:
    """Namespace adapter handing kernels a flat .get(term)/.put(term,
    value) view of one _DecodedLRU (e.g. per (kind, segment)). Pins the
    LRU generation at construction (query start) so puts from a query
    that straddles refresh() are dropped, not installed stale."""

    __slots__ = ("_lru", "_ns", "_gen")

    def __init__(self, lru: _DecodedLRU, ns: tuple, generation: int | None = None):
        self._lru, self._ns = lru, ns
        # callers pass the generation captured BEFORE their frame fetch
        # (the compressed frames being decoded must be no older than the
        # pinned generation); default pins at construction
        self._gen = lru.generation if generation is None else generation

    def get(self, term):
        return self._lru.get(self._ns + (term,))

    def put(self, term, value) -> None:
        self._lru.put(self._ns + (term,), value, generation=self._gen)


class IndexReader:
    """Long-lived single-index reader: metadata memo + hot-term block
    LRU + per-term df cache. THREAD-SAFE for concurrent queries under a
    single-writer refresh discipline: shared caches (term metadata,
    hot-term LRUs) mutate only under an internal lock, kernel execution
    runs lock-free on the immutable fetched frames, and refresh() takes
    the same lock so a reload can never interleave with a cache fill
    (no torn refresh). Observability: per-query and cumulative
    read-amplification counters — segments_touched, blocks_considered,
    blocks_decoded, terms_cold — via `counters()`; the considered/
    decoded gap is the top-k kernel's skip win, the number an operator
    watches at 100× scale."""

    def __init__(self, index_dir: str, k1: float = K1, b: float = B,
                 max_hot_terms: int = 4096):
        self.paths = IndexPaths(index_dir)
        self.k1, self.b = k1, b
        self.max_hot_terms = max_hot_terms
        self._lock = threading.RLock()
        self._blocks_lru: OrderedDict[str, "object"] = OrderedDict()
        self._pos_lru: OrderedDict[str, "object"] = OrderedDict()
        self._decoded = _DecodedLRU(_DECODE_BUDGET)
        self._tier_ds_cache: dict[int, "object"] = {}
        self._tier_over_cap: dict[tuple[int, int], bool] = {}
        self._df_cache: dict[str, tuple[int, int]] = {}  # term → (df, tid)
        # truncated is THREAD-LOCAL: under serve_loop concurrency each
        # worker thread must see its own query's ST4 flag, not a racing
        # neighbor's (review r3 finding)
        self._tls = threading.local()
        self._last_shared: dict = {}  # most-recent counters, any thread
        self._epoch = 0  # bumped by refresh(): invalidates ALL threads'
        #                  thread-local last_stats, not just the caller's
        self.refresh()

    @property
    def truncated(self) -> bool:
        """Did THIS thread's last topk() hit its budget_ms deadline."""
        return getattr(self._tls, "truncated", False)

    @truncated.setter
    def truncated(self, value: bool) -> None:
        self._tls.truncated = bool(value)

    @property
    def gated_segments(self) -> list:
        """Fold-partial segments this reader is excluding (manifest-
        derived, functions/liveness.py) — the public fold-health
        surface (MCP index_stats reports it). Sorted; empty when no
        fold is in flight or pending GC."""
        with self._lock:
            return sorted(self._excluded_segs)

    @property
    def last_stats(self) -> dict:
        """Read-amp counters of THIS thread's last query — thread-local
        (like `truncated`) so a concurrent serve_loop's inline
        {"stats": true} response never carries a racing neighbor's
        counters; `counters()["last"]` stays the cross-thread
        most-recent view. Stats recorded before the last refresh() are
        invalid for every thread (epoch check) — counters restart with
        the new index state."""
        if getattr(self._tls, "stats_epoch", -1) != self._epoch:
            return {}
        return getattr(self._tls, "last_stats", {})

    # ---------------------------------------------------------- metadata
    def refresh(self) -> None:
        """Reload index metadata and drop caches — call after a
        build/extend/merge/delete touched this index. Takes the reader
        lock: concurrent queries either see the old state or the new,
        never a half-swapped one."""
        with self._lock:
            self._refresh_locked()

    def _refresh_locked(self) -> None:
        import pyarrow.parquet as pq

        from .operators.index_build import INDEX_FORMAT, format_mismatch

        cs = pq.read_table(self.paths.collection_stats).to_pydict()
        # the block layout is versioned: bytes of another format
        # generation would decode into wrong doc ids, so refuse to serve
        # them (an index predating the marker reads as version 0)
        try:
            version = int(pq.read_table(self.paths.format_marker)["version"][0].as_py())
        except FileNotFoundError:
            version = 0
        if version != INDEX_FORMAT:
            raise format_mismatch(self.paths.root, version,
                                  "its posting blocks would decode wrong")
        self.n_docs, self.avgdl = int(cs["n_docs"][0]), float(cs["avgdl"][0])

        # per-segment top-k bound inflation under avgdl drift (same rule
        # as operators/wand.py _index_meta), plus reader live-segment
        # gating: the manifest's fold-protocol rows, not the partition
        # listing, decide which segments serve (functions/liveness.py —
        # an in-flight or crashed merge/extend fold's partial dirs are
        # excluded until the fold closes or the next mutation GCs it)
        self.bound_factors: dict[int, float] = {}
        self._excluded_segs: frozenset = frozenset()
        man = self._read_optional(
            self.paths.manifest,
            ["segment_id", "build_avgdl", "stage", "status", "started_at"],
        )
        if man is not None:
            pdf = man.to_pandas()
            ba = pdf.dropna(subset=["build_avgdl"])
            if len(ba):
                mins = ba.groupby("segment_id")["build_avgdl"].min()
                self.bound_factors = {
                    int(s): max(1.0, self.avgdl / float(v)) for s, v in mins.items()
                }
            if {"stage", "status", "started_at"} <= set(pdf.columns):
                from .functions.liveness import reader_exclusions

                self._excluded_segs, _ = reader_exclusions(
                    zip(pdf["segment_id"], pdf["stage"], pdf["status"],
                        pdf["started_at"].fillna(0.0))
                )

        # liveness: only the tombstones HANDLE opens here; the epoch's
        # DeadDocs builds from it on the first query that needs it
        self._tombstones = self._dataset_or_none(self.paths.tombstones)
        self._dead = None

        # an empty-corpus index commits only collection_stats + manifest
        # (no postings/terms/docs dirs) — serve it as empty, not a crash
        self._postings = self._dataset_or_none(self.paths.postings)
        self._terms = self._dataset_or_none(self.paths.terms)
        self._docs = self._dataset_or_none(self.paths.docs)
        self._tier_specs_cache = None
        self._tier_ds_cache.clear()
        self._tier_over_cap.clear()
        self._blocks_lru.clear()
        self._pos_lru.clear()
        self._decoded.clear()
        self._df_cache.clear()
        # counters restart with the new index state (counters() promises
        # totals "since construction/refresh"); the epoch bump
        # invalidates every thread's thread-local last_stats
        self._last_shared = {}
        self._epoch += 1
        self.totals = {"queries": 0, "segments_touched": 0,
                       "blocks_considered": 0, "blocks_decoded": 0,
                       "terms_cold": 0, "decoded_hits": 0,
                       "tier_stream_intersects": 0}

    @staticmethod
    def _dataset_or_none(path: str):
        import pyarrow.dataset as ds

        try:
            return ds.dataset(path, format="parquet", partitioning="hive")
        except FileNotFoundError:
            return None

    @staticmethod
    def _read_optional(path: str, columns: list[str]):
        """Requested columns are intersected with the file schema (a
        pre-protocol manifest may lack newer columns)."""
        import pyarrow.dataset as ds

        try:
            d = ds.dataset(path, format="parquet")
        except FileNotFoundError:
            return None
        have = set(d.schema.names)
        return d.to_table(columns=[c for c in columns if c in have])

    # ---------------------------------------------------------- lookups
    def _meta(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """{term: (global df, tid)} — lazy, cached; df 0 when absent.
        tid comes from the client-side xxhash64 (functions/termhash.py,
        bit-identical to the build's Catalyst expression), so a df
        lookup is a row-group-pruned int64 probe of the tid-sorted
        terms directory — no term strings exist anywhere in the core
        index."""
        import pyarrow.dataset as ds

        from .functions.termhash import term_tid

        with self._lock:
            hits = {t: self._df_cache[t] for t in terms if t in self._df_cache}
            terms_ds = self._terms
            excl = self._excluded_segs
            epoch = self._epoch
        missing = sorted(set(terms) - hits.keys())
        got: dict[str, tuple[int, int]] = {}
        if missing:
            # terms-directory I/O outside the lock (same discipline as
            # _fetch_blocks): concurrent cache-hit queries never wait on
            # a cold df probe; racing threads install identical entries
            tid_of = {t: term_tid(t) for t in missing}
            if terms_ds is None:
                got = {t: (0, tid_of[t]) for t in missing}
            else:
                flt = ds.field("tid").isin(sorted(tid_of.values()))
                if excl:
                    # an in-flight/crashed fold's partial segments would
                    # double-count df against the live sources
                    flt = flt & ~ds.field("segment_id").isin(sorted(excl))
                tbl = terms_ds.to_table(
                    filter=flt,
                    columns=["tid", "df"],
                )
                agg = tbl.to_pandas().groupby("tid")["df"].sum()
                dfs = {int(t): int(v) for t, v in agg.items()}
                got = {t: (dfs.get(tid_of[t], 0), tid_of[t]) for t in missing}
            with self._lock:
                if self._epoch == epoch:  # don't resurrect pre-refresh dfs
                    self._df_cache.update(got)
        # return the LOCAL snapshot (first-lock hits + this call's own
        # fetch), never a cache re-read: a refresh() racing between the
        # install above and a final cache read can clear the cache and
        # KeyError on terms installed a moment earlier (seen as a rare
        # concurrent-test failure). A pre-refresh snapshot is valid for
        # the in-flight query by the same reasoning as every other
        # epoch-checked path.
        return {**hits, **got}

    def df(self, terms: list[str]) -> dict[str, int]:
        """Global document frequency per term (lazy, cached)."""
        return {t: m[0] for t, m in self._meta(terms).items()}

    def _self_heal(self, attempt_fn):
        """Run attempt_fn(); on an I/O error from dataset handles an
        EXTERNAL mutation invalidated (a merge retired segment files
        the handle still lists), refresh() and retry once — same
        contract as topk's inline form (which also folds in the
        straddling-refresh epoch retry). If the refresh itself fails,
        the ORIGINAL error propagates (e.g. a deliberate
        missing-sidecar FileNotFoundError on a bogus path must not be
        masked by the refresh's own failure)."""
        try:
            return attempt_fn()
        except OSError as first:
            try:
                self.refresh()
            except OSError:
                raise first
            return attempt_fn()

    def _dead_docs(self) -> "DeadDocs | None":
        """This epoch's tombstoned-doc set (None when nothing is dead):
        ONE reader-wide set serves every segment and every fold window,
        since doc ids are never reused (functions/liveness.py). Built
        lazily on the first query that needs liveness by streaming
        `doc_id` batches through the tombstones handle opened at
        refresh — not a fresh listing — so a partition a purge deleted
        since raises OSError into the refresh-and-retry path instead of
        reading as "no tombstones". The segment_id=-1 partition is
        skipped: its ids were never held by any postings (see
        delete.delete_docs_df) and are unvalidated input that must not
        size a bitmap."""
        import pyarrow.dataset as ds

        with self._lock:
            dead, tomb, epoch = self._dead, self._tombstones, self._epoch
        if dead is None:
            # a purge deletes every tombstone PARTITION but leaves the
            # root dir: the handle then has a column-less schema (clean)
            if tomb is None or "segment_id" not in tomb.schema.names:
                dead = DeadDocs({})
            else:
                batches = tomb.scanner(columns=["doc_id"],
                                       filter=ds.field("segment_id") != -1,
                                       batch_size=1 << 17).to_batches()
                dead = DeadDocs.from_batches(b.column(0).to_numpy() for b in batches)
            with self._lock:
                # never install a pre-refresh set into a newer epoch
                if self._epoch == epoch:
                    self._dead = dead
        return dead or None

    def live_mask(self, ids) -> "np.ndarray":
        """bool[len(ids)]: True where the doc id is NOT tombstoned —
        the liveness rule for callers outside the query kernels (tier
        membership, the tiered skip check, session boosts)."""
        dead = self._dead_docs()
        return np.ones(len(ids), dtype=bool) if dead is None else ~dead.mask(ids)

    def _fetch_blocks(self, lru: OrderedDict, columns: list[str],
                      terms: list[str], stats: dict | None = None) -> dict[str, "object"]:
        """Shared LRU-cached block fetch (BM25 and positional paths
        differ only in cache + column list): term → tid resolution via
        the terms directory, row-group-pruned read of the missing tids,
        per-term grouping, negative caching for absent terms, LRU
        eviction. Runs under the reader lock (cache mutation); the
        returned frames are treated as immutable by every kernel, so
        concurrent queries share them safely."""
        import pyarrow.dataset as ds

        with self._lock:
            out = {}
            missing = []
            for t in terms:
                hit = lru.get(t)
                if hit is not None:
                    lru.move_to_end(t)
                    out[t] = hit
                else:
                    missing.append(t)
            postings = self._postings
            excl = self._excluded_segs
            epoch = self._epoch
        if missing:
            # the parquet fetch runs OUTSIDE the lock — a cold-term read
            # must not serialize concurrent LRU-hit queries (review r3
            # finding); two threads racing on the same term both fetch
            # and install identical frames (idempotent)
            if stats is not None:
                stats["terms_cold"] = stats.get("terms_cold", 0) + len(missing)
            _tf = time.time()
            meta = self._meta(missing)
            tid2term = {m[1]: t for t, m in meta.items() if m[0] > 0}
            if tid2term:
                flt = ds.field("tid").isin(list(tid2term))
                if excl:
                    # gate out an in-flight/crashed fold's partial
                    # segments (manifest-derived — see _refresh_locked)
                    flt = flt & ~ds.field("segment_id").isin(sorted(excl))
                tbl = postings.to_table(filter=flt, columns=columns)
                pdf = tbl.to_pandas()
            else:
                import pandas as pd

                pdf = pd.DataFrame({c: [] for c in columns})
            if stats is not None:
                # cold-I/O share of the query (terms-dir probe + pruned
                # postings read + pandas conversion) — separates "the
                # fetch got slower" from "the kernel got slower" when a
                # p90 drifts (r4 what's-wrong #4 diagnosability)
                stats["fetch_ms"] = round(
                    stats.get("fetch_ms", 0.0) + (time.time() - _tf) * 1e3, 3)
            with self._lock:
                # frames fetched from a pre-refresh dataset handle must
                # not be INSTALLED after a racing refresh cleared the
                # caches (they'd serve stale postings to later queries);
                # the in-flight query still gets them via `out`
                fresh = self._epoch == epoch
                found = set()
                for tid, g in pdf.groupby("tid"):
                    t = tid2term[int(tid)]
                    g = g.reset_index(drop=True)
                    out[t] = g
                    found.add(t)
                    if fresh:
                        lru[t] = g
                for t in missing:
                    if t not in found:
                        empty = pdf.iloc[0:0]
                        out[t] = empty
                        if fresh:
                            lru[t] = empty
                while len(lru) > self.max_hot_terms:
                    lru.popitem(last=False)
        return out

    def _blocks(self, terms: list[str], stats: dict | None = None) -> dict[str, "object"]:
        """term → pandas blocks frame (with segment_id), LRU-cached.
        Each frame carries its numpy columns (wand.term_blocks), built
        once per frame with this epoch's bound factors pre-scaled into
        block_max — the memo lives ON the frame, so it always pairs
        with the exact frame a query holds and is evicted with it."""
        from .operators.wand import term_blocks

        out = self._fetch_blocks(self._blocks_lru, _POSTING_COLS + ["segment_id"], terms,
                                 stats=stats)
        factors = self.bound_factors
        for pdf in out.values():
            term_blocks(pdf, factors)
        return out

    def _docs_rows(self, doc_ids: list[int], column: str) -> dict:
        """{doc_id: column value} via a row-group-pruned docs read (docs
        are sorted by doc_id within each segment partition). Self-heals
        like every query surface: a purging merge rewrites the docs
        files an open handle lists."""
        import pyarrow.dataset as ds

        def attempt():
            if not doc_ids or self._docs is None:
                return {}
            d = self._docs.to_table(filter=ds.field("doc_id").isin(sorted(doc_ids)),
                                    columns=["doc_id", column]).to_pydict()
            return dict(zip(d["doc_id"], d[column]))

        return self._self_heal(attempt)

    def urls(self, doc_ids: list[int]) -> dict[int, str]:
        """doc_id → url."""
        return self._docs_rows(doc_ids, "url")

    def snippets(self, doc_ids: list[int], terms: list[str],
                 width: int = 160) -> dict[int, str]:
        """doc_id → context snippet: a ~`width`-char window of the doc
        text centered on the first query-term occurrence (the
        reference's context-formatter surface, src/context-formatter.ts
        — matched-line context around each hit). One row-group-pruned
        read for the ≤k result docs; O(k) driver-side string work."""
        needles = [t.lower() for t in terms if t]
        out: dict[int, str] = {}
        for doc_id, text in self._docs_rows(doc_ids, "text").items():
            low = (text or "").lower()
            pos = -1
            for t in needles:
                p = low.find(t)
                if p >= 0 and (pos < 0 or p < pos):
                    pos = p
            if pos < 0:
                pos = 0  # phrase-normalized forms may not substring-match
            start = max(0, pos - width // 2)
            end = min(len(text), start + width)
            snip = text[start:end].strip()
            out[int(doc_id)] = (
                ("…" if start > 0 else "") + snip + ("…" if end < len(text) else "")
            )
        return out

    # ---------------------------------------------------------- queries
    def topk(self, query: str, k: int = 10,
             budget_ms: float | None = None) -> list[tuple[int, float]]:
        """[(doc_id, score)] — value-identical to wand_topk (same
        kernel, wand.segment_topk, run once over every segment's
        blocks; same rounding, same tie-break).

        budget_ms is the ST4 timeout guard (reference: the search
        timeout that returns partial results rather than hanging an
        agent): the kernel checks the deadline between its rounds — the
        first round always completes and every returned doc carries its
        exact score; self.truncated records whether intervals that could
        still reach the top k were left unvisited.

        A query that straddles a concurrent refresh() re-runs once
        against the new epoch: without the retry an attempt could mix
        pre-refresh postings with post-refresh liveness (e.g. a
        purge-merge clears tombstones whose postings the attempt
        already fetched → a purged doc resurfaces). The retry
        linearizes the answer to the post-refresh state for direct
        library/MCP embedders; serve_loop additionally drains before
        refreshing.

        A reader whose index was mutated by ANOTHER process self-heals:
        its dataset handles may list segment files a merge has since
        retired, so the read raises — refresh() rebuilds the handles
        (and the manifest gating) and the query retries once before
        propagating (a genuine I/O error must not loop)."""
        t0 = time.time()
        for attempt in range(3):
            epoch0 = self._epoch
            stats = {"segments_touched": 0, "blocks_considered": 0,
                     "blocks_decoded": 0, "terms_cold": 0}
            try:
                hits = self._topk_attempt(query, k, budget_ms, stats, t0)
            except OSError:
                if attempt:
                    raise
                self.refresh()
                continue
            if self._epoch == epoch0:
                break
        self._record_stats(stats, t0)
        return hits

    def _topk_attempt(self, query: str, k: int, budget_ms: float | None,
                      stats: dict, t0: float) -> list[tuple[int, float]]:
        from .operators.wand import segment_topk, term_blocks

        self.truncated = False
        if self._postings is None:
            return []
        terms = tokenize_query(query)
        dfs = self.df(terms)
        idf_map = {t: idf_fn(self.n_docs, dfs[t]) for t in terms if dfs[t] > 0}
        if not idf_map:
            return []
        # decoded-LRU generation pinned BEFORE the frame fetch: a
        # refresh racing anywhere after this line makes every decode
        # put from this query a dropped no-op instead of a stale install
        dgen = self._decoded.generation
        blocks = self._blocks(sorted(idf_map), stats=stats)
        stats["segments_touched"] = len(
            set().union(*(term_blocks(pdf).segs.tolist() for pdf in blocks.values())))
        # ONE kernel call over every segment's blocks: bound factors are
        # pre-scaled into the frames' block maxima (_blocks), liveness is
        # the epoch's one DeadDocs
        hits = segment_topk(blocks, sorted(idf_map), idf_map, self.avgdl, k,
                            self.k1, self.b, dead=self._dead_docs(), stats=stats,
                            decode_cache=_NsDecodeCache(self._decoded, ("k", -1), dgen),
                            deadline=None if budget_ms is None else t0 + budget_ms / 1e3)
        self.truncated = stats.pop("truncated", False)
        return hits

    def _record_stats(self, stats: dict, t0: float) -> None:
        stats["ms"] = round((time.time() - t0) * 1e3, 3)
        self._tls.last_stats = stats
        self._tls.stats_epoch = self._epoch
        with self._lock:
            self._last_shared = stats
            self.totals["queries"] += 1
            # tier_stream_intersects is NOT aggregated here: it counts
            # straight into totals at the stream site (the tiered fill
            # path hands stats recording to topk(), which would drop it)
            for key in ("segments_touched", "blocks_considered",
                        "blocks_decoded", "terms_cold", "decoded_hits"):
                self.totals[key] += stats.get(key, 0)

    def counters(self) -> dict:
        """Read-amplification observability: counters for the LAST query
        (segments touched, block rows considered, blocks actually
        decoded — the gap is the skip win — and LRU-miss terms) plus
        cumulative totals since construction/refresh."""
        with self._lock:
            return {"last": dict(self._last_shared), "total": dict(self.totals)}

    @property
    def has_positions(self) -> bool:
        return self._postings is not None and "positions" in self._postings.schema.names

    def _pos_blocks(self, terms: list[str], stats: dict | None = None) -> dict[str, "object"]:
        """term → blocks frame INCLUDING positions bytes (phrase path;
        cached separately from the BM25 hot set so non-phrase queries
        never hold position payloads in memory)."""
        return self._fetch_blocks(self._pos_lru,
                                  _POSTING_COLS + ["positions", "segment_id"], terms,
                                  stats=stats)

    def _pos_blocks_by_segment(self, terms: list[str],
                               stats: dict) -> dict[int, dict[str, "object"]]:
        """Positional blocks for `terms`, regrouped per segment —
        the shared front half of every positional serving query
        (phrase_topk / references / definitions). Counts
        blocks_considered; decode accounting is the caller's (it knows
        which segments its kernel actually decodes)."""
        blocks = self._pos_blocks(terms, stats=stats)
        per_seg: dict[int, dict[str, object]] = {}
        for t, pdf in blocks.items():
            if not len(pdf):
                continue
            for seg, g in pdf.groupby("segment_id"):
                per_seg.setdefault(int(seg), {})[t] = g
        for by_term in per_seg.values():
            stats["blocks_considered"] += sum(len(g) for g in by_term.values())
        return per_seg

    def phrase_topk(self, phrase: str, k: int = 10, slop: int = 0) -> list[tuple[int, int]]:
        """[(doc_id, n_matches)] ranked (n_matches desc, doc_id asc) —
        exact/sloppy phrase served from positional postings with no
        Spark job; value-identical to operators.phrase.phrase_topk
        (same per-segment kernel; phrase stays per-segment by design:
        verification decodes every candidate block, so there is nothing
        a global run could prune and the sliced decode is the
        cache-friendly form). Same straddling-refresh retry and
        external-mutation self-heal as topk."""
        t0 = time.time()
        for attempt in range(3):
            epoch0 = self._epoch
            stats = {"segments_touched": 0, "blocks_considered": 0,
                     "blocks_decoded": 0, "terms_cold": 0}
            try:
                hits = self._phrase_attempt(phrase, k, slop, stats)
            except OSError:
                if attempt:
                    raise
                self.refresh()
                continue
            if self._epoch == epoch0:
                break
        self._record_stats(stats, t0)
        return hits

    def _phrase_attempt(self, phrase: str, k: int, slop: int,
                        stats: dict) -> list[tuple[int, int]]:
        from .functions.tokenize import tokenize
        from .operators.phrase import segment_phrase_matches

        self.truncated = False
        if not self.has_positions:
            raise ValueError("phrase serving requires an index built with store_positions=True")
        terms = tokenize(phrase)  # ordered, repeats kept
        if not terms:
            return []
        dgen = self._decoded.generation  # pin BEFORE the frame fetch
        per_seg = self._pos_blocks_by_segment(sorted(set(terms)), stats)
        dead = self._dead_docs()
        hits: list[tuple[int, int]] = []
        for seg, by_term in per_seg.items():
            stats["segments_touched"] += 1
            # decode accounting lives in the kernel now: with the
            # decoded LRU a hot term is NOT re-decoded, and counting
            # here would over-report (review r5 finding)
            hits.extend(segment_phrase_matches(
                by_term, terms, dead, slop,
                decoded_cache=_NsDecodeCache(self._decoded, ("p", seg), dgen),
                stats=stats))
        hits.sort(key=lambda x: (-x[1], x[0]))
        return hits[:k]

    # Memory budgets for head terms at corpus scale (both are per-term
    # ROW counts; neither can trigger below ~5M docs, so the common
    # path pays nothing for them):
    # - _TIER_DF_CAP bounds any per-(field, tid) doc list this reader
    #   will MATERIALIZE for tier membership (5M rows = 40 MB int64).
    #   A term whose body df exceeds it gets one pushed-down count
    #   probe (the windowed tier list is usually far smaller than the
    #   body df); a genuinely-huge list is intersected by STREAMING
    #   scan against the already-bounded candidate set instead of
    #   materializing, and a field where EVERY list is huge raises
    #   TierBudgetExceeded — ranking a corpus-share tier is the batch
    #   operator's job, not one process's.
    # - _SWEEP_DF_CAP bounds the postings one _scores_array decode pass
    #   holds (decoded form is ~24 B/posting vs ~1-2 B compressed in
    #   the resident frame): a term whose candidate blocks hold more
    #   decodes in several passes, so memory stays within the frame
    #   envelope every other serving path already has.
    _TIER_DF_CAP = 5_000_000
    _SWEEP_DF_CAP = 20_000_000

    def _scores_for_docs(self, terms: list[str],
                         doc_ids: "np.ndarray") -> dict[int, float]:
        """Dict form of _scores_array (session boost and other
        bounded-set callers)."""
        if not len(doc_ids):
            return {}
        arr = self._scores_array(terms, np.asarray(doc_ids, dtype=np.int64))
        return {int(d): float(s) for d, s in zip(doc_ids, arr)}

    def _scores_array(self, terms: list[str],
                      doc_ids: "np.ndarray") -> "np.ndarray":
        """BM25 score of SPECIFIC docs for a term set, aligned to the
        input array (the bounded lookup behind tiered serving). Per
        term: a valid ("k", -1) entry of the top-k kernel's decode cache
        scores without decoding; otherwise only the blocks whose
        [first_doc, last_doc] holds a candidate decode, in passes of at
        most _SWEEP_DF_CAP postings, and a term decoded whole in one
        pass is installed for later queries. Docs matching no term
        score 0.0. Rounding matches rank_topk (4 decimals) so tier
        ladders rank identically to the batch mode."""
        from .functions.codec import decode_blocks, tf_norm
        from .operators.wand import _ranges, cached_postings, term_blocks

        cand, inv = np.unique(np.asarray(doc_ids, dtype=np.int64), return_inverse=True)
        acc = np.zeros(len(cand), dtype=np.float64)

        def add(idf, d, tfn):
            # a doc holds at most one posting per term, so no candidate
            # is hit twice by one call
            j = np.minimum(np.searchsorted(cand, d), len(cand) - 1)
            ok = cand[j] == d
            acc[j[ok]] += idf * tfn[ok]

        dfs = self.df(terms)
        idf_map = {t: idf_fn(self.n_docs, dfs[t]) for t in terms if dfs[t] > 0}
        if len(cand) and idf_map:
            dgen = self._decoded.generation  # pin BEFORE the frame fetch
            cache = _NsDecodeCache(self._decoded, ("k", -1), dgen)
            for t, pdf in self._blocks(sorted(idf_map)).items():
                if not len(pdf):
                    continue
                tb = term_blocks(pdf)
                hold = np.flatnonzero(np.searchsorted(cand, tb.first)
                                      < np.searchsorted(cand, tb.last, side="right"))
                hit = cached_postings(cache, t, tb)
                if hit is not None:
                    idx = _ranges((np.cumsum(tb.n) - tb.n)[hold], tb.n[hold])
                    add(idf_map[t], hit[0][idx], hit[1][idx])
                    continue
                csum = np.cumsum(tb.n[hold])
                i = 0
                while i < len(hold):
                    base = int(csum[i - 1]) if i else 0
                    j = max(i + 1, int(np.searchsorted(csum, base + self._SWEEP_DF_CAP,
                                                       side="right")))
                    blk = hold[i:j]
                    d, tf, dl = decode_blocks(tb.n[blk], tb.first[blk], tb.gaps[blk],
                                              tb.tfs[blk], tb.dls[blk])
                    tfn = tf_norm(tf, dl, self.avgdl, self.k1, self.b)
                    add(idf_map[t], d, tfn)
                    if not i and j == len(tb.n):  # the whole term in one pass: install
                        cache.put(t, (d, tfn, tb.first, tb.n))
                    i = j
        return np.round(acc, 4)[inv]

    def _tier_specs(self) -> list[tuple[int, str]]:
        """Ordered (ord, field-dir name) pairs from tier_index_meta, or
        [] when no tier index is materialized. Cached until refresh()
        (mutations delete + rebuild the sidecar, and the refresh
        contract already governs when the reader sees mutations)."""
        import pyarrow.dataset as ds

        cached = getattr(self, "_tier_specs_cache", None)
        if cached is not None:
            return cached
        try:
            d = ds.dataset(self.paths.tier_meta, format="parquet")
            t = d.to_table(columns=["ord", "name"]).to_pydict()
            specs = sorted(zip((int(o) for o in t["ord"]), t["name"]))
        except FileNotFoundError:
            specs = []
        self._tier_specs_cache = specs
        return specs

    @staticmethod
    def _tier_stream_intersect(d, tid: int, cand: "np.ndarray") -> "np.ndarray":
        """cand ∩ (tid's tier doc list) WITHOUT materializing the list:
        scan its rows in record batches and flag candidate membership
        via searchsorted. Memory = the candidate array (≤ _TIER_DF_CAP
        by construction) + one batch; the huge list is never resident
        and never cached. cand must be sorted (np.unique/intersect1d
        outputs are)."""
        import pyarrow.dataset as ds

        keep = np.zeros(len(cand), dtype=bool)
        scanner = d.scanner(filter=ds.field("tid") == tid,
                            columns=["doc_id"], batch_size=1 << 17)
        for batch in scanner.to_batches():
            arr = batch.column(0).to_numpy()
            j = np.searchsorted(cand, arr)
            ok = (j < len(cand)) & (cand[np.minimum(j, len(cand) - 1)] == arr)
            keep[j[ok]] = True
        return cand[keep]

    def tiered_topk(self, query: str, k: int = 10) -> list[tuple[int, int, float]]:
        return self._self_heal(lambda: self._tiered_topk_impl(query, k))

    def _tiered_topk_impl(self, query: str, k: int = 10) -> list[tuple[int, int, float]]:
        """[(doc_id, tier, score)] — the R1 tier ladder SERVED from the
        materialized tier containment index (operators/tiers.py;
        reference "exact title match wins", src/brain-scorer.ts:226-253)
        instead of the batch mode's full-corpus pass. Value-identical to
        operators/query.tiered_topk over the same fields: tier i = the
        doc's i-th tier field contains ALL query terms (first match
        wins), final tier = BM25 order; rank (tier asc, score desc,
        doc_id asc).

        Per-query cost: one tid-pruned probe of each (tiny) tier field
        index, one score lookup bounded by the TIER-MATCHED doc count,
        and — only when fewer than k docs tier-match — one ordinary
        top-k run for the final tier. For a head/stop term that
        tier-matches much of the corpus the ladder semantics themselves
        require ranking every match (the batch mode scans everything
        too); the top-k fill is skipped in exactly that case, so its k
        never exceeds 2k."""
        import pyarrow.dataset as ds

        from .functions.termhash import term_tid

        t0 = time.time()
        # reset the thread-local ST4 flag like every other query impl:
        # without it, a prior budget-truncated query's True leaks into
        # this answer whenever tier matches satisfy k (the fill-path
        # topk resets it, the ≥k branch otherwise would not)
        self.truncated = False
        stats = {"segments_touched": 0, "blocks_considered": 0,
                 "blocks_decoded": 0, "terms_cold": 0}
        specs = self._tier_specs()
        if not specs:
            raise FileNotFoundError(
                f"no tier index at {self.paths.tier_index} — run "
                "operators.tiers.build_tier_index(spark, index_dir) once"
            )
        terms = sorted(set(tokenize_query(query)))
        if not terms:
            self._record_stats(stats, t0)
            return []
        tids = {term_tid(t) for t in terms}
        # body df bounds every tier-field list for the same term (tier
        # fields are token windows of the same text) — the free signal
        # the materialization budget gates on; cached, so the later
        # _scores_array call pays nothing extra
        df_by_tid = {term_tid(t): n for t, n in self.df(terms).items()}
        n_tiers = len(specs)
        dgen = self._decoded.generation  # pin BEFORE any tier probe

        # tier membership: intersect each field's per-tid doc lists;
        # first (best) tier wins per doc. Doc lists ride the decoded
        # LRU (namespace ("t", field) — zipfian query terms repeat) and
        # the dataset HANDLES are cached per refresh: per-query
        # ds.dataset() re-discovery was a fixed several-ms cost, and a
        # stale handle after an external mutation raises OSError into
        # the _self_heal refresh+retry like every other surface.
        # Membership/ranking is ARRAY-shaped end to end: a head term
        # tier-matches a large corpus share, and the former per-doc
        # dict/list/sort Python loops were ~0.8 s at 300k matches where
        # the vectorized form is milliseconds.
        cand_parts: list = []
        tier_parts: list = []
        epoch0 = self._epoch  # cache installs below re-check this
        for ordi, name in specs:
            with self._lock:
                d = self._tier_ds_cache.get(ordi)
            if d is None:
                d = ds.dataset(f"{self.paths.tier_index}/field={ordi}_{name}",
                               format="parquet")
                with self._lock:
                    # don't resurrect a pre-refresh handle into the
                    # just-cleared cache (same discipline as _df_cache
                    # and the decoded LRU's generation guard)
                    if self._epoch == epoch0:
                        self._tier_ds_cache[ordi] = d
            cache = _NsDecodeCache(self._decoded, ("t", ordi), dgen)
            by_tid: dict[int, np.ndarray] = {}
            missing = []
            suspects = []
            for tid in tids:
                hit = cache.get(tid)
                if hit is not None:
                    by_tid[tid] = hit
                elif df_by_tid[tid] > self._TIER_DF_CAP:
                    suspects.append(tid)  # body df bounds the tier list
                else:
                    missing.append(tid)
            if suspects and cand_parts and k <= sum(map(len, cand_parts)):
                # earlier tiers sort above this one, so once they hold
                # ≥ k UNIQUE LIVE docs this field cannot reach the top
                # k — skip the probes, the streams, and (critically)
                # the refusal: a query whose answer is already pinned
                # by an earlier tier must never error on a later
                # head-term field. parts can overlap across tiers, so
                # confirm with the deduped count only when the cheap
                # sum passes — and the dedup must mask TOMBSTONED docs
                # (same liveness rule applied to the final membership
                # below): dead earlier-tier matches don't pin anything,
                # and skipping on their count would silently drop live
                # later-tier docs from the answer.
                pinned = np.unique(np.concatenate(cand_parts))
                pinned = pinned[self.live_mask(pinned)]
                if k <= len(pinned):
                    continue
            huge = []
            for tid in sorted(suspects):
                # one pushed-down count decides (verdict cached per
                # epoch — zipfian head terms repeat, and the probe is
                # a filtered column scan worth paying once, not per
                # query): the windowed tier list is often far smaller
                # than the body df
                key = (ordi, tid)
                with self._lock:
                    over = self._tier_over_cap.get(key)
                if over is None:
                    over = (d.count_rows(filter=ds.field("tid") == tid)
                            > self._TIER_DF_CAP)
                    with self._lock:
                        if self._epoch == epoch0:
                            self._tier_over_cap[key] = over
                if over:
                    huge.append(tid)
                else:
                    missing.append(tid)
            if missing:
                tbl = d.to_table(filter=ds.field("tid").isin(sorted(missing)),
                                 columns=["tid", "doc_id"])
                tid_arr = tbl.column("tid").to_numpy()
                doc_arr = tbl.column("doc_id").to_numpy()
                for tid in missing:
                    arr = doc_arr[tid_arr == tid]
                    cache.put(tid, arr)
                    by_tid[tid] = arr
            if any(not len(v) for v in by_tid.values()):
                continue
            if huge and not by_tid:
                raise TierBudgetExceeded(
                    f"every query term's doc list in tier field {name!r} "
                    f"exceeds _TIER_DF_CAP={self._TIER_DF_CAP} rows; this "
                    "reader will not materialize a corpus-share tier — "
                    "use operators/query.tiered_topk (batch) or raise the cap"
                )
            lists = sorted(by_tid.values(), key=len)
            cand = np.unique(lists[0])
            for arr in lists[1:]:
                cand = np.intersect1d(cand, arr)
                if not len(cand):
                    break
            for tid in huge:
                if not len(cand):
                    break
                # counted straight into totals: the <k fill path hands
                # stats recording to topk(), which would drop a
                # stats-dict-only increment — and a huge term cut down
                # to few matches by a selective term is the COMMON
                # streaming shape
                with self._lock:
                    self.totals["tier_stream_intersects"] += 1
                stats["tier_stream_intersects"] = (
                    stats.get("tier_stream_intersects", 0) + 1)
                cand = self._tier_stream_intersect(d, tid, cand)
            if len(cand):
                cand_parts.append(cand)
                tier_parts.append(np.full(len(cand), ordi, dtype=np.int64))

        if cand_parts:
            # first occurrence in tier order = best tier per doc
            docs_all = np.concatenate(cand_parts)
            tiers_all = np.concatenate(tier_parts)
            uniq, first = np.unique(docs_all, return_index=True)
            tier_arr = tiers_all[first]
        else:
            uniq = np.empty(0, dtype=np.int64)
            tier_arr = np.empty(0, dtype=np.int64)

        # liveness: drop tombstoned docs from tier membership
        live = self.live_mask(uniq)
        uniq, tier_arr = uniq[live], tier_arr[live]

        scores = self._scores_array(terms, uniq)
        n_matched = len(uniq)
        if n_matched < k:
            # final tier: ordinary BM25 top-k, minus the tier-matched
            # docs (fetch enough extra to survive the exclusion — < 2k).
            # When k or more docs tier-matched, final-tier rows can
            # never reach the top k (tier sorts first): skip the run.
            matched = set(uniq.tolist())
            fill = [(d, s) for d, s in self.topk(query, k=k + n_matched)
                    if d not in matched]
            if fill:
                uniq = np.concatenate([uniq, np.array([d for d, _ in fill], dtype=np.int64)])
                tier_arr = np.concatenate([tier_arr, np.full(len(fill), n_tiers, dtype=np.int64)])
                scores = np.concatenate([scores, np.array([s for _, s in fill], dtype=np.float64)])
        else:
            self._record_stats(stats, t0)
        order = np.lexsort((uniq, -scores, tier_arr))[:k]
        return [(int(uniq[i]), int(tier_arr[i]), float(scores[i])) for i in order]

    def references(self, symbol: str, k: int = 10,
                   max_positions: int = 100) -> list[dict]:
        return self._self_heal(lambda: self._references_impl(symbol, k, max_positions))

    def _references_impl(self, symbol: str, k: int = 10,
                         max_positions: int = 100) -> list[dict]:
        """Where does `symbol` occur — [(doc_id, url, n_matches, token
        positions)] ranked by occurrence count, served from positional
        postings with no Spark job (the reference's `find_references`
        MCP surface, src/code-intel.ts:337-383 / src/mcp-server.ts:763-847,
        which returns per-file occurrence locations). A symbol is its
        tokenized form, so camelCase identifiers ("parseHtml") match as
        exact phrases and a plain word is a single-term lookup;
        positions are within-doc token indexes (the same coordinate
        space as `token_positions`), truncated to `max_positions` per
        doc."""
        from .functions.tokenize import tokenize
        from .operators.phrase import segment_phrase_positions

        t0 = time.time()
        stats = {"segments_touched": 0, "blocks_considered": 0,
                 "blocks_decoded": 0, "terms_cold": 0}
        self.truncated = False
        if not self.has_positions:
            raise ValueError(
                "find_references requires an index built with store_positions=True")
        terms = tokenize(symbol)
        if not terms:
            self._record_stats(stats, t0)
            return []
        dgen = self._decoded.generation  # pin BEFORE the frame fetch
        per_seg = self._pos_blocks_by_segment(sorted(set(terms)), stats)
        dead = self._dead_docs()
        hits: list[tuple[int, "np.ndarray"]] = []
        for seg, by_term in per_seg.items():
            stats["segments_touched"] += 1
            hits.extend(segment_phrase_positions(
                by_term, terms, dead,
                decoded_cache=_NsDecodeCache(self._decoded, ("p", seg), dgen),
                stats=stats))
        hits.sort(key=lambda x: (-len(x[1]), x[0]))
        hits = hits[:k]
        url_map = self.urls([d for d, _ in hits])
        self._record_stats(stats, t0)
        return [
            {"doc_id": d, "url": url_map.get(d), "n_matches": len(p),
             "positions": p[:max_positions].tolist()}
            for d, p in hits
        ]

    # definition-introducing keywords, most-specific first: a
    # "definition" of symbol X is an occurrence of X immediately
    # preceded by one of these (the positional-index analog of the
    # reference's language-pattern walk, src/code-intel.ts:154-332 —
    # it matches `def X` / `class X` / `function X` / … text patterns;
    # here each is literally the phrase [kw, *tokenize(X)])
    DEF_KEYWORDS = ("def", "class", "function", "interface", "struct",
                    "type", "const", "fn", "var", "let")

    # assignment-style definitions have no LEADING keyword (`X =
    # function(...)`, `X = async () => {}`, `X = lambda:`, `X = new
    # Foo()`, `X = require(...)`) — the reference's tree-sitter walk
    # catches these (src/code-intel.ts:154-332). The tokenizer erases
    # the `=`, so their tokenized signature is the SYMBOL immediately
    # followed by a definition-introducing token: one phrase probe
    # [*symbol-tokens, trailer] per trailer. (A bare arrow `X = (a) =>
    # b` leaves no token at all to anchor on — out of reach without
    # punctuation in the index; `async` arrows and every listed form
    # are covered.) Reported as keyword "=<trailer>", ranked below all
    # leading-keyword forms.
    DEF_TRAILERS = ("function", "async", "lambda", "new", "require")

    # prose-reference guard for the trailer probes: "call the parseHtml
    # function" tokenizes to [..., the, parse, html, function, ...] and
    # would match [*sym, function] at the symbol — but a real
    # assignment (`parseHtml = function ...`) is never preceded by a
    # determiner (the '=' the tokenizer erased sat there). A trailer
    # hit whose symbol is immediately preceded by one of these is
    # dropped (checked with one [det, *sym, trailer] probe per
    # determiner, decoded once via the LRU) — review r5 finding.
    DEF_PROSE_GUARD = ("the", "a", "an", "this", "that")

    def definitions(self, symbol: str, k: int = 10) -> list[dict]:
        return self._self_heal(lambda: self._definitions_impl(symbol, k))

    def _definitions_impl(self, symbol: str, k: int = 10) -> list[dict]:
        """Where is `symbol` DEFINED — [(url, keyword, position)] ranked
        (keyword priority, position asc, doc_id asc): the serving form
        of the reference's `get_definition` MCP tool
        (src/mcp-server.ts:763-847). Each definition form is one phrase
        probe over positional postings: leading-keyword forms
        [kw, *symbol-tokens] (`def X` / `class X` / …) and
        assignment-style trailer forms [*symbol-tokens, trailer]
        (`X = function` / `X = async () =>` / `X = lambda` — see
        DEF_TRAILERS). The reported position is always the SYMBOL's
        token position. Returns at most one hit per (doc, form) — the
        first occurrence, like a goto-definition target."""
        from .functions.tokenize import tokenize
        from .operators.phrase import segment_phrase_positions

        t0 = time.time()
        stats = {"segments_touched": 0, "blocks_considered": 0,
                 "blocks_decoded": 0, "terms_cold": 0}
        self.truncated = False
        if not self.has_positions:
            raise ValueError(
                "get_definition requires an index built with store_positions=True")
        sym = tokenize(symbol)
        if not sym:
            self._record_stats(stats, t0)
            return []
        # df-probe FIRST (cheap terms-dir reads, no position payloads):
        # an absent symbol token means no definition phrase can match,
        # and an absent keyword need not be fetched — without this the
        # head-term keywords' (large) positional postings would be read
        # and LRU-cached even for typo symbols (review r4 finding)
        dfs = self.df(sorted(set(self.DEF_KEYWORDS) | set(self.DEF_TRAILERS)
                             | set(self.DEF_PROSE_GUARD) | set(sym)))
        if any(dfs[t] == 0 for t in sym):
            self._record_stats(stats, t0)
            return []
        kws = [kw for kw in self.DEF_KEYWORDS if dfs[kw] > 0]
        tws = [tw for tw in self.DEF_TRAILERS if dfs[tw] > 0]
        guards = [g for g in self.DEF_PROSE_GUARD if dfs[g] > 0] if tws else []
        if not kws and not tws:
            self._record_stats(stats, t0)
            return []
        # (form_rank, label, phrase, symbol-position offset within the
        # phrase): leading-keyword probes rank above every trailer probe
        forms = [(ki, kw, [kw] + sym, 1) for ki, kw in enumerate(self.DEF_KEYWORDS)
                 if kw in set(kws)]
        forms += [(len(self.DEF_KEYWORDS) + ti, f"={tw}", sym + [tw], 0)
                  for ti, tw in enumerate(self.DEF_TRAILERS) if tw in set(tws)]
        labels = {rank: label for rank, label, _, _ in forms}
        dgen = self._decoded.generation  # pin BEFORE the frame fetch
        per_seg = self._pos_blocks_by_segment(sorted(set(kws + tws + guards + sym)), stats)
        dead = self._dead_docs()
        hits: list[tuple[int, int, int]] = []  # (form_rank, pos, doc)
        for seg, by_term in per_seg.items():
            if not all(t in by_term for t in sym):
                continue  # symbol absent from this segment — no decode
            seg_forms = [f for f in forms if all(t in by_term for t in f[2])]
            if not seg_forms:
                continue
            stats["segments_touched"] += 1
            # decode accounting lives in the kernel (decoded-LRU hits
            # must not be counted as decodes — review r5 finding)
            # persistent decoded LRU, not a per-call dict: the probe
            # terms (definition keywords + hot symbols) repeat across
            # queries, and the namespace is shared with phrase/
            # references (same frames, same _term_postings decode)
            cache = _NsDecodeCache(self._decoded, ("p", seg), dgen)
            for rank, _, phrase, sym_off in seg_forms:
                matches = segment_phrase_positions(
                    by_term, phrase, dead, decoded_cache=cache, stats=stats)
                if sym_off == 0 and matches:
                    # trailer form: drop prose references ("the X
                    # function") — exclude symbol positions immediately
                    # preceded by a determiner
                    excl: dict[int, set] = {}
                    for det in guards:
                        if det not in by_term:
                            continue
                        for doc, dpos in segment_phrase_positions(
                                by_term, [det] + phrase, dead,
                                decoded_cache=cache, stats=stats):
                            excl.setdefault(doc, set()).update(
                                (p + 1) for p in dpos.tolist())
                    if excl:
                        kept = []
                        for doc, pos in matches:
                            good = [p for p in pos.tolist()
                                    if p not in excl.get(doc, ())]
                            if good:
                                kept.append((doc, np.asarray(good)))
                        matches = kept
                for doc, pos in matches:
                    hits.append((rank, int(pos[0]) + sym_off, doc))
        hits.sort()
        url_map = self.urls([d for _, _, d in hits[:k]])
        self._record_stats(stats, t0)
        return [
            {"doc_id": d, "url": url_map.get(d),
             "keyword": labels[rank], "position": p}
            for rank, p, d in hits[:k]
        ]

    def search(self, query: str, k: int = 10, with_urls: bool = False,
               phrase: bool = False, slop: int = 0,
               budget_ms: float | None = None,
               with_snippets: bool = False, snippet_width: int = 160) -> list[dict]:
        if phrase:
            hits = self.phrase_topk(query, k, slop=slop)
            key = "n_matches"
        else:
            hits = self.topk(query, k, budget_ms=budget_ms)
            key = "score"
        ids = [d for d, _ in hits]
        url_map = self.urls(ids) if with_urls else {}
        snip_map = (
            self.snippets(ids, tokenize_query(query), width=snippet_width)
            if with_snippets else {}
        )
        return [
            {"rank": i + 1, "doc_id": d, key: s,
             **({"url": url_map.get(d)} if with_urls else {}),
             **({"snippet": snip_map.get(d)} if with_snippets else {})}
            for i, (d, s) in enumerate(hits)
        ]

    def prewarm(self, queries: "list[str]", k: int = 10,
                tiered: bool = False) -> int:
        """Fault the serving caches (hot-term block frames, decoded
        postings, tier doc lists) by replaying a query list — e.g. the
        query-log tail via `recent_queries` — so a fresh replica does
        not pay cold-fetch latency on its first real traffic (cold p90
        queries are ~50% fetch; the same query served hot is ~ms).
        Queries that error (absent tier index, TierBudgetExceeded, …)
        are skipped: warming is best-effort by definition. Returns the
        number replayed successfully."""
        n = 0
        for q in queries:
            try:
                self.tiered_topk(q, k=k) if tiered else self.topk(q, k=k)
                n += 1
            except Exception:
                continue
        return n


def recent_queries(log_dir: str, limit: int = 100) -> list[str]:
    """The most recent `limit` DISTINCT query strings from a QueryLog
    directory (newest first) — the natural prewarm feed: replaying
    yesterday's tail warms exactly the terms tomorrow's traffic
    repeats. Pure pyarrow (no Spark), like every serving-path read."""
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(log_dir):
        return []
    # fragments are named log-<first_ts_us>-<n>.parquet; sort by the
    # NUMERIC (ts, n) key, newest first — a plain string sort would put
    # '-10' before '-2' for same-microsecond fragments (and break on
    # any future ts digit-width change). Read only as many files as the
    # limit needs (a long-lived service's log grows without bound; the
    # prewarm feed must not scan all of it).
    def _frag_key(fname: str):
        try:
            return (1,) + tuple(int(x) for x in fname[4:-8].split("-"))
        except ValueError:
            return (0, 0)  # malformed name: sort oldest, never crash

    files = sorted((f for f in os.listdir(log_dir) if f.endswith(".parquet")),
                   key=_frag_key, reverse=True)
    seen: set = set()
    out: list[str] = []
    for fname in files:
        try:
            tbl = pq.read_table(os.path.join(log_dir, fname), columns=["ts", "q"])
        except Exception:
            # a crash mid-flush leaves a truncated fragment; the warm
            # feed is best-effort, and a replica restarting after that
            # very crash must not fail to boot on it
            continue
        ts = tbl.column("ts").to_numpy()
        qs = tbl.column("q").to_pylist()
        # ascending-stable then reversed: equal timestamps come out
        # newest-first, so a truncating limit drops the OLDEST of a tie
        for i in np.argsort(ts, kind="stable")[::-1]:
            q = qs[i]
            if q in seen:
                continue
            seen.add(q)
            out.append(q)
            if len(out) >= limit:
                return out
    return out


class ReaderPool:
    """index_dir → IndexReader LRU (ST3: the reference keeps exactly
    this — an in-proc LRU over loaded repo indexes, src/cache.ts:10-47
    — so one serving process can answer for many indexes without
    re-reading metadata per query). Thread-safe; eviction drops the
    least-recently-used reader and its caches. Reader CONSTRUCTION
    (metadata I/O) runs outside the lock; racing threads may build the
    same reader twice, the loser's copy is discarded (idempotent)."""

    def __init__(self, max_readers: int = 8, k1: float = K1, b: float = B):
        self.max_readers = max(1, int(max_readers))
        self.k1, self.b = k1, b
        self._lock = threading.Lock()
        self._lru: OrderedDict[str, IndexReader] = OrderedDict()

    @staticmethod
    def _key(index_dir: str) -> str:
        import os

        return os.path.abspath(os.path.normpath(index_dir))

    def get(self, index_dir: str) -> IndexReader:
        key = self._key(index_dir)
        with self._lock:
            r = self._lru.get(key)
            if r is not None:
                self._lru.move_to_end(key)
                return r
        built = IndexReader(index_dir, k1=self.k1, b=self.b)
        with self._lock:
            r = self._lru.get(key)
            if r is None:
                self._lru[key] = built
                r = built
            self._lru.move_to_end(key)
            while len(self._lru) > self.max_readers:
                self._lru.popitem(last=False)
        return r

    def refresh(self, index_dir: str | None = None) -> None:
        """Refresh one reader (if loaded) or every loaded reader."""
        with self._lock:
            readers = (
                list(self._lru.values()) if index_dir is None
                else [r for k, r in self._lru.items() if k == self._key(index_dir)]
            )
        for r in readers:
            r.refresh()


class QueryLog:
    """Buffered parquet sink for the serving session's query history —
    the reference's session/pattern sink (S9; its MCP server persists
    per-session query history the same way). Rows flush every
    `flush_every` requests and on close; each flush is one columnar
    file, so the log is itself a Spark-scannable table
    (`read_query_log`) feeding the session-boost join (R13 —
    `context_boost` entry shape)."""

    SCHEMA_COLS = ("ts", "q", "k", "n_results", "ms", "top_doc_ids")

    def __init__(self, log_dir: str, flush_every: int = 32):
        import os

        self.log_dir = log_dir
        self.flush_every = flush_every
        self._rows: list[dict] = []
        self._n_flushed = 0
        os.makedirs(log_dir, exist_ok=True)

    def record(self, q: str, k: int, results: list[dict], ms: float) -> None:
        self._rows.append({
            "ts": time.time(), "q": q, "k": int(k), "n_results": len(results),
            "ms": float(ms), "top_doc_ids": [int(r["doc_id"]) for r in results],
        })
        if len(self._rows) >= self.flush_every:
            self.flush()

    def flush(self) -> None:
        if not self._rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table({
            "ts": pa.array([r["ts"] for r in self._rows], pa.float64()),
            "q": pa.array([r["q"] for r in self._rows], pa.string()),
            "k": pa.array([r["k"] for r in self._rows], pa.int32()),
            "n_results": pa.array([r["n_results"] for r in self._rows], pa.int32()),
            "ms": pa.array([r["ms"] for r in self._rows], pa.float64()),
            "top_doc_ids": pa.array([r["top_doc_ids"] for r in self._rows],
                                    pa.list_(pa.int64())),
        })
        pq.write_table(tbl, f"{self.log_dir}/log-{int(self._rows[0]['ts'] * 1e6)}-{self._n_flushed}.parquet")
        self._n_flushed += 1
        self._rows = []


def read_query_log(spark, log_dir: str):
    """Session query history as a DataFrame (S9 source side)."""
    return spark.read.parquet(log_dir)


def session_doc_boost(spark, log_dir: str):
    """(doc_id, hits): how often each doc appeared in this session's
    recent results — the R13 session-boost prior, joinable exactly like
    the `context_boost` entry (broadcast semi-join + when)."""
    from pyspark.sql import functions as F

    log = read_query_log(spark, log_dir)
    return (
        log.select(F.explode("top_doc_ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


def serve_loop(index_dir: str, stdin=None, stdout=None, k1: float = K1, b: float = B,
               log_dir: str | None = None, concurrency: int = 1,
               prewarm: int = 0) -> int:
    """JSON-lines serving loop (the `serve` CLI subcommand).

    Request per line:
      {"q": "spark join", "k": 10, "urls": true}   → BM25 search
      {"q": "spark join", "snippets": true}          → + context windows
      {"q": "spark join", "stats": true}             → + read-amp counters
      {"q": "spark join", "phrase": true, "slop": 2} → positional phrase
      {"q": "spark join", "tiered": true}            → R1 tier ladder
      {"symbol": "parseHtml", "k": 10}             → find_references
      {"q": ..., "id": 7}                          → id echoed in response
      {"op": "stats"}                              → read-amp counters
      {"op": "prewarm", "queries": [...]?}         → fault hot caches
        (omitting "queries" replays the log_dir's recent distinct tail)
      {"op": "refresh"}                            → reload metadata
      {"op": "ping"}                               → liveness
      {"op": "quit"}                               → exit
    Response per line: {"results": [...], "ms": 1.8} (or {"ok": true},
    or {"error": "..."} — the loop never dies on a bad request).
    log_dir persists the session's query history (see QueryLog).

    concurrency > 1 serves queries from a thread pool (the IndexReader
    is thread-safe; see its docstring): responses may interleave out of
    request order, so clients pass "id" to correlate. Control ops
    (refresh/quit) drain in-flight queries first — the single-writer
    refresh discipline. Returns the number of queries served.

    prewarm > 0 replays that many recent distinct log_dir queries
    through THIS loop's reader before serving (same effect as an
    initial {"op": "prewarm"} request) — a restarted replica picks up
    where the last one's hot set left off.
    """
    import sys
    from concurrent.futures import ThreadPoolExecutor, wait

    stdin = stdin if stdin is not None else sys.stdin
    stdout = stdout if stdout is not None else sys.stdout
    reader = IndexReader(index_dir, k1=k1, b=b)
    if prewarm and log_dir:
        reader.prewarm(recent_queries(log_dir, int(prewarm)))
    qlog = QueryLog(log_dir) if log_dir else None
    served = 0
    out_lock = threading.Lock()
    served_lock = threading.Lock()

    def _emit(obj: dict) -> None:
        with out_lock:
            print(json.dumps(obj), file=stdout, flush=True)

    def _answer(req: dict) -> None:
        nonlocal served
        try:
            t0 = time.time()
            budget = req.get("budget_ms")
            if "symbol" in req:
                results = reader.references(
                    req["symbol"], k=int(req.get("k", 10)),
                    max_positions=int(req.get("max_positions", 100)))
                logged_q = req["symbol"]
            elif req.get("tiered"):
                results = [
                    {"rank": i + 1, "doc_id": d, "tier": t, "score": s}
                    for i, (d, t, s) in enumerate(
                        reader.tiered_topk(req["q"], k=int(req.get("k", 10))))
                ]
                logged_q = req["q"]
            else:
                results = reader.search(req["q"], k=int(req.get("k", 10)),
                                        with_urls=bool(req.get("urls", False)),
                                        phrase=bool(req.get("phrase", False)),
                                        slop=int(req.get("slop", 0)),
                                        budget_ms=float(budget) if budget is not None else None,
                                        with_snippets=bool(req.get("snippets", False)))
                logged_q = req["q"]
            ms = round((time.time() - t0) * 1e3, 2)
            with served_lock:
                served += 1
                if qlog is not None:
                    qlog.record(logged_q, req.get("k", 10), results, ms)
            resp = {"results": results, "ms": ms}
            if req.get("stats"):
                # per-request read-amplification counters inline
                # (op:stats returns the cumulative view)
                resp["stats"] = dict(reader.last_stats)
            if reader.truncated:
                resp["truncated"] = True  # ST4: partial answer, deadline hit
            if "id" in req:
                resp["id"] = req["id"]
            _emit(resp)
        except Exception as exc:  # serve loops answer errors, not crash
            err = {"error": f"{type(exc).__name__}: {exc}"}
            if "id" in req:
                err["id"] = req["id"]
            _emit(err)

    n_workers = max(1, int(concurrency))
    pool = ThreadPoolExecutor(max_workers=n_workers)
    pending: list = []

    def _drain() -> None:
        nonlocal pending
        if pending:
            wait(pending)
            pending = []

    try:
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            try:
                req = json.loads(line)
            except ValueError as exc:
                _emit({"error": f"{type(exc).__name__}: {exc}"})
                continue
            op = req.get("op")
            if op == "quit":
                break
            if op == "refresh":
                _drain()  # single-writer: no query may straddle the swap
                reader.refresh()
                _emit({"ok": True})
                continue
            if op == "ping":
                _emit({"ok": True, "n_docs": reader.n_docs})
                continue
            if op == "stats":
                _emit({"ok": True, **reader.counters()})
                continue
            if op == "prewarm":
                # control op like refresh: drain in-flight queries
                # first (qlog.flush below races worker record() calls
                # otherwise) and replay inline — prewarm is a startup/
                # idle operation, not something to run under live load
                _drain()
                qs = req.get("queries")
                if qs is None:
                    if qlog is not None:
                        qlog.flush()  # include this session's tail
                    qs = (recent_queries(log_dir, int(req.get("limit", 100)))
                          if log_dir else [])
                _emit({"ok": True,
                       "warmed": reader.prewarm(list(qs),
                                                k=int(req.get("k", 10)),
                                                tiered=bool(req.get("tiered", False)))})
                continue
            if "q" not in req and "symbol" not in req:
                _emit({"error": "KeyError: 'q'"})
                continue
            if n_workers == 1:
                _answer(req)
            else:
                pending = [f for f in pending if not f.done()]
                pending.append(pool.submit(_answer, req))
        _drain()
    finally:
        pool.shutdown(wait=True)
    if qlog is not None:
        qlog.flush()
    return served

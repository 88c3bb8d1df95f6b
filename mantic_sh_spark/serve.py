"""Low-latency query serving over the parquet index (the reference's
primary consumer surface: an agent loop hitting `search_files` with
sub-second answers — src/mcp-server.ts:338-441, latency table
README.md:82-85).

Architecture: Spark is the BUILD/ANALYTICS plane; serving replicas run
this module — a long-lived `IndexReader` that reads the exact parquet
artifacts the Spark jobs commit, via pyarrow row-group-pruned reads,
and executes the SAME kernels the distributed path uses — each called
once over every segment's blocks here, once per segment there:
`operators/wand.py::segment_topk` for BM25 and for the R1 tier
ladder, whose tier codes ride in the same postings;
`operators/phrase.py::segment_phrase_matches` / `segment_phrase_positions`
for positional phrase / proximity queries, references and definitions,
which decode only the blocks every phrase term overlaps. No Spark job
— and no JVM — is on the per-query path, so latency is decode-bound
(milliseconds), not job-scheduling-bound.

Scale notes (what changes at 10^12 docs, nothing structural):
  * index metadata (collection stats, bound factors, fold gating —
    index_build.read_snapshot, shared with the Spark plane — and
    tombstones) loads once per refresh — the in-proc memo the reference
    keeps as an LRU over loaded indexes (src/cache.ts:10-47).
  * posting blocks load per (term) via parquet row-group pruning (the
    build sorts each segment by term): one columnar read per query's
    cold terms, split straight into per-term numpy block columns, kept
    in a hot-term LRU — repeated/zipfian query terms hit memory. A
    term's global df is the n of its fetched blocks summed, so serving
    never reads the terms directory and never materializes the
    vocabulary. Replicas shard by index or by segment range when one
    box can't hold the hot set.
  * results are (doc_id, score) — identical, by test, to wand_topk;
    phrase results identical to phrase_topk (positional indexes); tiered
    results identical to the batch operators/query.tiered_topk.

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
from .functions.codec import DEFAULT_TIER_SPECS
from .functions.liveness import DeadDocs, DocLens, MissingDocLen
from .functions.tokenize import tokenize_query
from .operators.wand import split_blocks
from .sources.catalog import IndexPaths

# posting rows are keyed by `tid`, the client-side xxhash64 of the term
# (functions/termhash.py, bit-identical to the build's Catalyst hash)
_POSTING_COLS = ["tid", "segment_id", "first_doc", "last_doc", "block_max", "min_tier", "n",
                 "doc_gaps", "tfs"]


# Byte budget for the decoded-postings LRU: decoded arrays run ~12x
# their varint form, so this cache holds far fewer ENTRIES than the
# compressed block LRU — but each hit skips the decode pass that
# dominates dense-term (top-k/phrase) queries once blocks are hot
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
                return  # decoded from pre-clear blocks — stale
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
    value) view of one _DecodedLRU (one namespace per kernel: ("k",)
    for top-k, ("p",) for phrase). Pins the
    LRU generation at construction (query start) so puts from a query
    that straddles refresh() are dropped, not installed stale."""

    __slots__ = ("_lru", "_ns", "_gen")

    def __init__(self, lru: _DecodedLRU, ns: tuple, generation: int | None = None):
        self._lru, self._ns = lru, ns
        # callers pass the generation captured BEFORE their block fetch
        # (the compressed blocks being decoded must be no older than the
        # pinned generation); default pins at construction
        self._gen = lru.generation if generation is None else generation

    def get(self, term):
        return self._lru.get(self._ns + (term,))

    def put(self, term, value) -> None:
        self._lru.put(self._ns + (term,), value, generation=self._gen)


class IndexReader:
    """Long-lived single-index reader: metadata memo + hot-term block
    LRUs (BM25 and positional; a term's df is the n of its cached
    blocks summed). THREAD-SAFE for concurrent queries under a
    single-writer refresh discipline: shared caches (the hot-term LRUs)
    mutate only under an internal lock, kernel execution runs lock-free
    on the immutable fetched blocks, and refresh() takes
    the same lock so a reload can never interleave with a cache fill
    (no torn refresh). Observability: per-query and cumulative
    read-amplification counters — segments_touched, blocks_considered,
    blocks_decoded, terms_cold — via `counters()`; the considered/
    decoded gap is the kernels' skip win, the number an operator
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
        from .operators.index_build import read_snapshot

        # stats, per-segment bound factors and fold gating: the one
        # metadata load every reader shares (index_build.read_snapshot),
        # refusing an index of another format — bytes of another layout
        # would decode into wrong doc ids
        snap = read_snapshot(self.paths.root)
        self.n_docs, self.avgdl = snap.n_docs, snap.avgdl
        self.bound_factors, self._excluded_segs = snap.bound_factors, snap.excluded

        # liveness: only the tombstones HANDLE opens here; the epoch's
        # DeadDocs builds from it on the first query that needs it
        self._tombstones = self._dataset_or_none(self.paths.tombstones)
        self._dead = None
        # doc lengths (blocks store none): likewise the norms handle
        # now, the epoch's DocLens on the first query that decodes
        self._norms = self._dataset_or_none(self.paths.norms)
        self._lens = None

        # an empty-corpus index commits only collection_stats + manifest
        # (no postings/docs dirs) — serve it as empty, not a crash
        self._postings = self._dataset_or_none(self.paths.postings)
        self._docs = self._dataset_or_none(self.paths.docs)
        self._blocks_lru.clear()
        self._pos_lru.clear()
        self._decoded.clear()
        # counters restart with the new index state (counters() promises
        # totals "since construction/refresh"); the epoch bump
        # invalidates every thread's thread-local last_stats
        self._last_shared = {}
        self._epoch += 1
        self.totals = {"queries": 0, "segments_touched": 0,
                       "blocks_considered": 0, "blocks_decoded": 0,
                       "terms_cold": 0, "decoded_hits": 0}

    @staticmethod
    def _dataset_or_none(path: str):
        import pyarrow.dataset as ds

        try:
            return ds.dataset(path, format="parquet", partitioning="hive")
        except FileNotFoundError:
            return None

    # ---------------------------------------------------------- lookups
    def df(self, terms: list[str]) -> dict[str, int]:
        """Global document frequency per term: the n of the term's
        served blocks summed (each posting is one doc), read through the
        BM25 block LRU — the same fold gating as every query, and no
        terms-directory read."""
        return {t: int(tb.n.sum()) for t, tb in self._blocks(terms).items()}

    def _run(self, attempt, record: bool = True):
        """attempt(stats) under the one retry discipline every query
        surface (and the docs reads behind urls/snippets, which record
        no stats) shares:
          * a run that straddles a concurrent refresh() re-runs against
            the new epoch (up to twice): otherwise it could mix
            pre-refresh postings with post-refresh liveness (a
            purge-merge clears tombstones whose postings the attempt
            already fetched → a purged doc resurfaces) or lengths (the
            purged doc has no row in the new epoch's DocLens, so the
            gather raises MissingDocLen — a straddle, not a damaged
            index, once the epoch moved). The re-run linearizes the
            answer to the post-refresh state for direct library/MCP
            embedders; serve_loop also drains before refreshing.
          * an I/O error on the first attempt — dataset handles that an
            EXTERNAL mutation invalidated (a merge retired segment files
            a handle still lists) — refreshes and retries once; a second
            error propagates (a genuine I/O error must not loop), and if
            the refresh itself fails the ORIGINAL error propagates (a
            missing-sidecar FileNotFoundError on a bogus path must not be
            masked by the refresh's own failure).
        With `record`, the last attempt's counters become last_stats and
        its truncation flag `truncated`."""
        t0 = time.time()
        for n in range(3):
            epoch0 = self._epoch
            stats = {"segments_touched": 0, "blocks_considered": 0,
                     "blocks_decoded": 0, "terms_cold": 0}
            try:
                out = attempt(stats)
            except MissingDocLen:
                if n == 2 or self._epoch == epoch0:
                    raise
                continue
            except OSError as first:
                if n:
                    raise
                try:
                    self.refresh()
                except OSError:
                    raise first
                continue
            if self._epoch == epoch0:
                break
        if record:
            self.truncated = stats.pop("truncated", False)
            if "segs" in stats:  # a positional run: its kept blocks' segments
                stats["segments_touched"] = len(stats.pop("segs"))
            self._record_stats(stats, t0)
        return out

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

    def _doc_lens(self) -> DocLens:
        """This epoch's doc lengths, every BM25 decode's `dl` source:
        the serving segments' norms partitions (a segment's partition
        lists exactly the docs whose postings it holds; fold-gated
        segments are skipped) streamed into one DocLens through the
        norms handle opened at refresh, lazily, like _dead_docs — a
        partition a merge retired since raises OSError into the
        refresh-and-retry path."""
        import pyarrow.dataset as ds

        with self._lock:
            lens, norms, excl, epoch = self._lens, self._norms, self._excluded_segs, self._epoch
        if lens is None:
            if norms is None or "segment_id" not in norms.schema.names:
                lens = DocLens({})
            else:
                flt = ~ds.field("segment_id").isin(sorted(excl)) if excl else None
                batches = norms.scanner(columns=["doc_id", "doc_len"], filter=flt,
                                        batch_size=1 << 17).to_batches()
                lens = DocLens.from_batches((b.column(0).to_numpy(), b.column(1).to_numpy())
                                            for b in batches)
            with self._lock:
                if self._epoch == epoch:
                    self._lens = lens
        return lens

    def live_mask(self, ids) -> "np.ndarray":
        """bool[len(ids)]: True where the doc id is NOT tombstoned —
        the liveness rule for callers outside the query kernels (session
        boosts)."""
        dead = self._dead_docs()
        return np.ones(len(ids), dtype=bool) if dead is None else ~dead.mask(ids)

    def _fetch_blocks(self, lru: OrderedDict, columns: list[str],
                      terms: list[str], stats: dict | None = None) -> dict:
        """term → wand._TermBlocks, LRU-cached (the BM25 and positional
        paths differ only in cache + column list): the missing terms'
        tids (client-side hash) filter ONE row-group-pruned postings
        read, which wand.split_blocks cuts into per-term numpy block
        columns with this epoch's bound factors pre-scaled into
        block_max; absent terms are cached empty. Cache mutation runs
        under the reader lock; the blocks are immutable, so concurrent
        queries share them safely."""
        import pyarrow.dataset as ds

        from .functions.termhash import term_tid

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
            factors = self.bound_factors
            epoch = self._epoch
        if missing:
            # the parquet fetch runs OUTSIDE the lock — a cold-term read
            # must not serialize concurrent LRU-hit queries (review r3
            # finding); two threads racing on the same term both fetch
            # and install identical blocks (idempotent)
            if stats is not None:
                stats["terms_cold"] = stats.get("terms_cold", 0) + len(missing)
            _tf = time.time()
            tid2term = {term_tid(t): t for t in missing}
            tbl = None
            if postings is not None:
                flt = ds.field("tid").isin(sorted(tid2term))
                if excl:
                    # gate out an in-flight/crashed fold's partial
                    # segments (manifest-derived — see _refresh_locked)
                    flt = flt & ~ds.field("segment_id").isin(sorted(excl))
                tbl = postings.to_table(filter=flt, columns=columns)
            got = split_blocks(tbl, tid2term, factors)
            if stats is not None:
                # cold-I/O share of the query (pruned postings read +
                # split) — separates "the fetch got slower" from "the
                # kernel got slower" when a p90 drifts
                stats["fetch_ms"] = round(
                    stats.get("fetch_ms", 0.0) + (time.time() - _tf) * 1e3, 3)
            out.update(got)
            with self._lock:
                # blocks fetched from a pre-refresh dataset handle must
                # not be INSTALLED after a racing refresh cleared the
                # caches (they'd serve stale postings to later queries);
                # the in-flight query still gets them via `out`
                if self._epoch == epoch:
                    lru.update(got)
                    while len(lru) > self.max_hot_terms:
                        lru.popitem(last=False)
        return out

    def _blocks(self, terms: list[str], stats: dict | None = None) -> dict:
        """term → wand._TermBlocks of every serving segment, LRU-cached."""
        return self._fetch_blocks(self._blocks_lru, _POSTING_COLS, terms, stats=stats)

    def _docs_rows(self, doc_ids: list[int], column: str) -> dict:
        """{doc_id: column value} via a row-group-pruned docs read (docs
        are sorted by doc_id within each segment partition). Retries
        like every query surface (_run): a purging merge rewrites the
        docs files an open handle lists."""
        import pyarrow.dataset as ds

        def attempt(_stats):
            if not doc_ids or self._docs is None:
                return {}
            d = self._docs.to_table(filter=ds.field("doc_id").isin(sorted(doc_ids)),
                                    columns=["doc_id", column]).to_pydict()
            return dict(zip(d["doc_id"], d[column]))

        return self._run(attempt, record=False)

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

        Runs under _run: a query straddling a concurrent refresh()
        re-runs against the new epoch, and a reader whose index ANOTHER
        process mutated refreshes and retries once."""
        deadline = None if budget_ms is None else time.time() + budget_ms / 1e3
        return self._run(lambda stats: self._topk_attempt(query, k, deadline, stats, None))

    def tiered_topk(self, query: str, k: int = 10,
                    budget_ms: float | None = None) -> list[tuple[int, int, float]]:
        """[(doc_id, tier, score)] — the R1 tier ladder (reference "exact
        title match wins", src/brain-scorer.ts:226-253), value-identical
        to operators/query.tiered_topk over the DEFAULT_TIER_SPECS
        windows: tier i = the doc's first window_i tokens hold ALL query
        terms (first match wins), the final tier = the rest of the BM25
        matches; rank (tier asc, score desc, doc_id asc). Served like
        topk — one segment_topk call over the main postings, whose tier
        codes the build folded in (format v7) — with the same budget_ms
        deadline, liveness, fold gating and retries."""
        deadline = None if budget_ms is None else time.time() + budget_ms / 1e3
        return self._run(lambda stats: self._topk_attempt(
            query, k, deadline, stats, len(DEFAULT_TIER_SPECS)))

    def _topk_attempt(self, query: str, k: int, deadline: float | None,
                      stats: dict, tiers: int | None) -> list[tuple]:
        """topk (tiers None) or tiered_topk: one kernel attempt."""
        from .operators.wand import segment_topk

        if self._postings is None:
            return []
        terms = sorted(set(tokenize_query(query)))
        # decoded-LRU generation pinned BEFORE the block fetch: a
        # refresh racing anywhere after this line makes every decode
        # put from this query a dropped no-op instead of a stale install
        dgen = self._decoded.generation
        blocks = self._blocks(terms, stats=stats)
        idf_map = {t: idf_fn(self.n_docs, int(tb.n.sum()))
                   for t, tb in blocks.items() if len(tb)}
        if not idf_map:
            return []
        stats["segments_touched"] = len(np.unique(np.concatenate(
            [tb.seg for tb in blocks.values()])))
        # ONE kernel call over every segment's blocks: bound factors are
        # pre-scaled into the block maxima (_fetch_blocks), doc lengths
        # and liveness are the epoch's one DocLens and DeadDocs; the
        # ladder needs every query term, absent ones included (a doc
        # lacking one is in the final tier)
        hits = segment_topk(blocks, terms, idf_map, self.avgdl, k, self.k1, self.b,
                            self._doc_lens(), dead=self._dead_docs(), stats=stats,
                            decode_cache=_NsDecodeCache(self._decoded, ("k",), dgen),
                            deadline=deadline, tiers=tiers)
        return hits

    def _record_stats(self, stats: dict, t0: float) -> None:
        stats["ms"] = round((time.time() - t0) * 1e3, 3)
        self._tls.last_stats = stats
        self._tls.stats_epoch = self._epoch
        with self._lock:
            self._last_shared = stats
            self.totals["queries"] += 1
            for key in ("segments_touched", "blocks_considered",
                        "blocks_decoded", "terms_cold", "decoded_hits"):
                self.totals[key] += stats.get(key, 0)

    def counters(self) -> dict:
        """Read-amplification observability: counters for the LAST query
        plus cumulative totals since construction/refresh —
        segments_touched (the distinct segments of the blocks a query
        used: every fetched block's segment for topk/tiered, the blocks
        the overlap filter kept for phrase/references/definitions),
        blocks_considered (block rows the kernels were handed; for the
        positional surfaces, before the overlap filter), blocks_decoded
        (blocks actually varint-decoded — the gap is the skip win),
        terms_cold (LRU-miss terms, including definitions' symbol
        probe) and decoded_hits (terms served by the decoded LRU). A
        positional query sums its counters over its kernel calls
        (definitions runs one per definition form). doc_lens_bytes is
        the memory of this epoch's DocLens (0 until a query decodes)."""
        with self._lock:
            return {"last": dict(self._last_shared), "total": dict(self.totals),
                    "doc_lens_bytes": self._lens.nbytes if self._lens is not None else 0}

    @property
    def has_positions(self) -> bool:
        return self._postings is not None and "positions" in self._postings.schema.names

    def _pos_run(self, terms: list[str], stats: dict, surface: str):
        """(term → _TermBlocks with positions, DeadDocs, decode cache)
        for one positional kernel run over every segment. Positional
        blocks are cached apart from the BM25 hot set, so non-phrase
        queries never hold position payloads in memory; the decoded LRU's
        ("p",) namespace is shared by phrase, references and definitions
        (same blocks, same decode)."""
        if not self.has_positions:
            raise ValueError(f"{surface} requires an index built with store_positions=True")
        dgen = self._decoded.generation  # pin BEFORE the block fetch
        blocks = self._fetch_blocks(self._pos_lru, _POSTING_COLS + ["positions"],
                                    sorted(set(terms)), stats=stats)
        return blocks, self._dead_docs(), _NsDecodeCache(self._decoded, ("p",), dgen)

    def phrase_topk(self, phrase: str, k: int = 10, slop: int = 0) -> list[tuple[int, int]]:
        """[(doc_id, n_matches)] ranked (n_matches desc, doc_id asc) —
        exact/sloppy phrase served from positional postings with no
        Spark job; value-identical to operators.phrase.phrase_topk (the
        same kernel, run once over every segment's blocks: only blocks
        every phrase term overlaps decode). Retries like topk (_run)."""
        from .functions.tokenize import tokenize
        from .operators.phrase import segment_phrase_matches

        terms = tokenize(phrase)  # ordered, repeats kept

        def attempt(stats):
            blocks, dead, cache = self._pos_run(terms, stats, "phrase serving")
            hits = segment_phrase_matches(blocks, terms, dead, slop,
                                          decoded_cache=cache, stats=stats)
            hits.sort(key=lambda x: (-x[1], x[0]))
            return hits[:k]

        return self._run(attempt)

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
        input array (the bounded lookup behind session boosts). Per
        term: a valid ("k",) entry of the top-k kernel's decode cache
        scores without decoding; otherwise the blocks whose
        [first_doc, last_doc] holds a candidate decode in one call, and
        a term whose every block holds one is installed for later
        queries. Docs matching no term score 0.0. Rounding matches
        rank_topk (4 decimals), like every ranked answer. Retries like
        every query surface (_run), recording no stats."""
        from .functions.codec import decode_blocks, tf_norm
        from .operators.wand import _ranges, cached_postings, decoded_entry

        cand, inv = np.unique(np.asarray(doc_ids, dtype=np.int64), return_inverse=True)

        def attempt(_stats):
            acc = np.zeros(len(cand), dtype=np.float64)

            def add(idf, d, tfn):
                # a doc holds at most one posting per term, so no
                # candidate is hit twice by one call
                j = np.minimum(np.searchsorted(cand, d), len(cand) - 1)
                ok = cand[j] == d
                acc[j[ok]] += idf * tfn[ok]

            if not (len(cand) and terms):
                return acc
            dgen = self._decoded.generation  # pin BEFORE the block fetch
            cache = _NsDecodeCache(self._decoded, ("k",), dgen)
            for t, tb in self._blocks(sorted(set(terms))).items():
                if not len(tb):
                    continue
                idf = idf_fn(self.n_docs, int(tb.n.sum()))
                hold = np.flatnonzero(np.searchsorted(cand, tb.first)
                                      < np.searchsorted(cand, tb.last, side="right"))
                hit = cached_postings(cache, t, tb)
                if hit is not None:
                    idx = _ranges((np.cumsum(tb.n) - tb.n)[hold], tb.n[hold])
                    add(idf, hit[0][idx], hit[1][idx])
                elif len(hold):
                    d, tf, code = decode_blocks(tb.n[hold], tb.first[hold], tb.gaps[hold],
                                                tb.tfs[hold])
                    tfn = tf_norm(tf, self._doc_lens().get(d), self.avgdl, self.k1, self.b)
                    add(idf, d, tfn)
                    if len(hold) == len(tb.n):  # the whole term decoded: install
                        cache.put(t, decoded_entry(tb, d, tfn, code))
            return acc

        return np.round(self._run(attempt, record=False), 4)[inv]


    def references(self, symbol: str, k: int = 10,
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
        doc. One phrase-kernel run over every segment; retries like
        topk (_run)."""
        from .functions.tokenize import tokenize
        from .operators.phrase import segment_phrase_positions

        terms = tokenize(symbol)

        def attempt(stats):
            blocks, dead, cache = self._pos_run(terms, stats, "find_references")
            docs, starts, off = segment_phrase_positions(blocks, terms, dead,
                                                         decoded_cache=cache, stats=stats)
            n = np.diff(off)
            top = np.lexsort((docs, -n))[:k].tolist()
            url_map = self.urls(docs[top].tolist())
            return [
                {"doc_id": int(docs[i]), "url": url_map.get(int(docs[i])), "n_matches": int(n[i]),
                 "positions": starts[off[i]:off[i + 1]][:max_positions].tolist()}
                for i in top
            ]

        return self._run(attempt)

    # definition-introducing keywords, most-specific first: a
    # "definition" of symbol X is an occurrence of X immediately
    # preceded by one of these (the positional-index analog of the
    # reference's language-pattern walk, src/code-intel.ts:154-332 —
    # it matches `def X` / `class X` / `function X` / … text patterns)
    DEF_KEYWORDS = ("def", "class", "function", "interface", "struct",
                    "type", "const", "fn", "var", "let")

    # assignment-style definitions have no LEADING keyword (`X =
    # function(...)`, `X = async () => {}`, `X = lambda:`, `X = new
    # Foo()`, `X = require(...)`) — the reference's tree-sitter walk
    # catches these (src/code-intel.ts:154-332). The tokenizer erases
    # the `=`, so their tokenized signature is the SYMBOL immediately
    # followed by a definition-introducing token. (A bare arrow `X =
    # (a) => b` leaves no token at all to anchor on — out of reach
    # without punctuation in the index; `async` arrows and every listed
    # form are covered.) Reported as keyword "=<trailer>", ranked below
    # all leading-keyword forms.
    DEF_TRAILERS = ("function", "async", "lambda", "new", "require")

    # prose-reference guard for the trailer forms: "call the parseHtml
    # function" tokenizes to [..., the, parse, html, function, ...] and
    # has `function` right after the symbol — but a real assignment
    # (`parseHtml = function ...`) is never preceded by a determiner
    # (the '=' the tokenizer erased sat there), so a trailer hit whose
    # symbol one of these immediately precedes is dropped.
    DEF_PROSE_GUARD = ("the", "a", "an", "this", "that")

    def definitions(self, symbol: str, k: int = 10) -> list[dict]:
        """Where is `symbol` DEFINED — [(url, keyword, position)] ranked
        (form, position asc, doc_id asc): the serving form of the
        reference's `get_definition` MCP tool
        (src/mcp-server.ts:763-847). One anchored pass: one
        phrase-kernel run finds the symbol's live occurrences, keyed
        doc_rank·2^32 + position; each form is then one membership test
        against a neighbour term's positions, keyed alike — a keyword
        (DEF_KEYWORDS: `def X`, `class X`, …) just before the symbol, or
        a trailer (DEF_TRAILERS: `X = function`, `X = lambda`, …) just
        after it with no determiner (DEF_PROSE_GUARD) before it. A
        neighbour decodes only its blocks that hold a symbol doc. The
        position is the SYMBOL's; at most one hit per (doc, form), the
        first, like a goto-definition target; retries like topk (_run)."""
        from .functions.tokenize import tokenize
        from .operators.phrase import (_POS_STRIDE, _decoded_blocks, _keyed_positions,
                                       segment_phrase_positions)

        sym = tokenize(symbol)
        kws, trs, dets = self.DEF_KEYWORDS, self.DEF_TRAILERS, self.DEF_PROSE_GUARD
        labels = [*kws, *(f"={tw}" for tw in trs)]

        def attempt(stats):
            if not self.has_positions:
                raise ValueError(
                    "get_definition requires an index built with store_positions=True")
            # the symbol's BM25 blocks FIRST (no position payloads): an
            # absent symbol token means no definition can match, so a
            # typo symbol returns before any head-term keyword's (large)
            # positional postings are read and LRU-cached
            if not sym or not all(map(len, self._blocks(sorted(set(sym)), stats).values())):
                return []
            blocks, dead, cache = self._pos_run(sym + [*kws, *trs, *dets], stats,
                                                "get_definition")
            occ = segment_phrase_positions(blocks, sym, dead, decoded_cache=cache, stats=stats)
            docs = occ[0]
            if not len(docs):
                return []
            key = _keyed_positions(occ, docs)
            near = {}  # neighbour term → its positions in the symbol docs, keyed alike
            for t in {*kws, *trs, *dets}:
                tb = blocks[t]
                stats["blocks_considered"] += len(tb)
                hold = np.searchsorted(docs, tb.first) < np.searchsorted(docs, tb.last, "right")
                near[t] = (_keyed_positions(_decoded_blocks(cache, t, tb, hold, stats), docs)
                           if hold.any() else key[:0])
            prose = np.isin(key - 1, np.concatenate([key[:0]] + [near[t] for t in dets]))
            hit = np.array([np.isin(key - 1, near[t]) for t in kws]
                           + [np.isin(key + len(sym), near[t]) & ~prose for t in trs])
            form, j = np.nonzero(hit.reshape(len(labels), len(key)))
            rank, pos = np.divmod(key[j], _POS_STRIDE)
            # the first hit per (form, doc) is its lowest position: keys ascend
            first = np.unique(form * len(docs) + rank, return_index=True)[1]
            hits = sorted(zip(form[first].tolist(), pos[first].tolist(),
                              docs[rank[first]].tolist()))[:k]
            url_map = self.urls([d for _, _, d in hits])
            return [{"doc_id": d, "url": url_map.get(d), "keyword": labels[f], "position": p}
                    for f, p, d in hits]

        return self._run(attempt)

    def search(self, query: str, k: int = 10, with_urls: bool = False,
               phrase: bool = False, slop: int = 0,
               budget_ms: float | None = None,
               with_snippets: bool = False, snippet_width: int = 160,
               tiered: bool = False) -> list[dict]:
        """Ranked rows {rank, doc_id, ...} plus url and snippet when
        asked: `score` for BM25 top-k, `n_matches` for a phrase, `tier`
        and `score` for the tier ladder (which refuses phrase — the
        two rank differently)."""
        if tiered and phrase:
            raise ValueError("tiered=true is exclusive with phrase")
        if phrase:
            hits = [(d, {"n_matches": n}) for d, n in self.phrase_topk(query, k, slop=slop)]
        elif tiered:
            hits = [(d, {"tier": t, "score": s})
                    for d, t, s in self.tiered_topk(query, k, budget_ms=budget_ms)]
        else:
            hits = [(d, {"score": s}) for d, s in self.topk(query, k, budget_ms=budget_ms)]
        ids = [d for d, _ in hits]
        url_map = self.urls(ids) if with_urls else {}
        snip_map = (
            self.snippets(ids, tokenize_query(query), width=snippet_width)
            if with_snippets else {}
        )
        return [
            {"rank": i + 1, "doc_id": d, **cols,
             **({"url": url_map.get(d)} if with_urls else {}),
             **({"snippet": snip_map.get(d)} if with_snippets else {})}
            for i, (d, cols) in enumerate(hits)
        ]

    def prewarm(self, queries: "list[str]", k: int = 10) -> int:
        """Fault the serving caches for a query list — e.g. the query-log
        tail via `recent_queries` — so a fresh replica does not pay
        cold-fetch latency on its first real traffic. One attempt (_run)
        over the union of the list's terms, each placed at its last
        query so LRU recency follows the list: ONE pruned postings read
        fetches the cold terms into the hot-term block LRU (df
        included); this epoch's DocLens and DeadDocs are built; ONE
        varint pass decodes every term with postings into the ("k",)
        decoded entry topk and tiered_topk both read. Only the list's
        last max_hot_terms terms are fetched, and only the last the
        decoded LRU's budget holds are decoded: the LRUs would evict the
        rest. `k` changes nothing (every posting of a warmed term is
        decoded); it stays for callers of the per-query replay this
        replaced. Best-effort and recording no query stats: a query that
        does not tokenize is skipped, a failed attempt warms nothing and
        returns 0. Returns the number of queries warmed."""
        from .functions.codec import decode_blocks, tf_norm
        from .operators.wand import cached_postings, decoded_entry, decoded_nbytes

        last = {}  # term → (its last query, term): the list's recency order
        n = 0
        for i, q in enumerate(queries):
            try:
                terms = tokenize_query(q)
            except Exception:
                continue
            n += 1
            last.update((t, (i, t)) for t in terms)
        warm = sorted(last, key=last.get)
        warm = warm[max(0, len(warm) - self.max_hot_terms):]

        if not warm:
            return n

        def attempt(_stats):
            dgen = self._decoded.generation  # pin BEFORE the block fetch
            blocks = self._blocks(warm)
            with self._lock:  # list order, terms that were already hot included
                for t in warm:
                    if t in self._blocks_lru:
                        self._blocks_lru.move_to_end(t)
            self._dead_docs()  # built here, not by the first query
            lens = self._doc_lens()
            cache = _NsDecodeCache(self._decoded, ("k",), dgen)
            have = [t for t in warm if len(blocks[t])]
            nb = np.array([decoded_nbytes(blocks[t]) for t in have], dtype=np.int64)
            fits = nb <= self._decoded.budget  # a larger entry is never cached
            keep = fits & (np.cumsum((nb * fits)[::-1])[::-1] <= self._decoded.budget)
            entries = {t: cached_postings(cache, t, blocks[t])
                       for t, ok in zip(have, keep) if ok}
            cold = [t for t, e in entries.items() if e is None]
            if cold:
                tbs = [blocks[t] for t in cold]
                d, tf, code = decode_blocks(*(np.concatenate([getattr(tb, c) for tb in tbs])
                                              for c in ("n", "first", "gaps", "tfs")))
                tfn = tf_norm(tf, lens.get(d), self.avgdl, self.k1, self.b)
                off = np.cumsum([0] + [int(tb.n.sum()) for tb in tbs]).tolist()
                # copies: an entry must not pin the whole pass's arrays
                # once the LRU has evicted its siblings
                for t, tb, lo, hi in zip(cold, tbs, off, off[1:]):
                    entries[t] = decoded_entry(tb, *(x[lo:hi].copy() for x in (d, tfn, code)))
            for t, e in entries.items():
                cache.put(t, e)

        try:
            self._run(attempt, record=False)
        except Exception:
            return 0
        return n


def recent_queries(log_dir: str, limit: int = 100) -> list[str]:
    """The most recent `limit` DISTINCT query strings from a QueryLog
    directory (newest first) — the natural prewarm feed: yesterday's
    tail holds exactly the terms tomorrow's traffic repeats. Pure
    pyarrow (no Spark), like every serving-path read."""
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
        (urls/snippets as above; not with phrase)
      {"symbol": "parseHtml", "k": 10}             → find_references
      {"q": ..., "id": 7}                          → id echoed in response
      {"op": "stats"}                              → read-amp counters
      {"op": "prewarm", "queries": [...]?}         → fault hot caches
        (IndexReader.prewarm; "queries" is a list of query strings —
        omitted, the log_dir's "limit" (100) recent distinct ones)
      {"op": "refresh"}                            → reload metadata
      {"op": "ping"}                               → liveness
      {"op": "quit"}                               → exit
    Response per line: {"results": [...], "ms": 1.8} (or {"ok": true},
    or {"error": "..."} — the loop never dies on a bad request, control
    ops included).
    log_dir persists the session's query history (see QueryLog).

    concurrency > 1 serves queries from a thread pool (the IndexReader
    is thread-safe; see its docstring): responses may interleave out of
    request order, so clients pass "id" to correlate. Control ops
    (refresh/prewarm/quit) drain in-flight queries first — the
    single-writer refresh discipline. Returns the number of queries
    served.

    prewarm > 0 warms THIS loop's reader with that many recent distinct
    log_dir queries before serving (same effect as an initial
    {"op": "prewarm"} request) — a restarted replica picks up where the
    last one's hot set left off.
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
            else:
                results = reader.search(req["q"], k=int(req.get("k", 10)),
                                        with_urls=bool(req.get("urls", False)),
                                        phrase=bool(req.get("phrase", False)),
                                        slop=int(req.get("slop", 0)),
                                        budget_ms=float(budget) if budget is not None else None,
                                        with_snippets=bool(req.get("snippets", False)),
                                        tiered=bool(req.get("tiered", False)))
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
            _emit_error(exc, req)

    def _emit_error(exc: Exception, req: dict) -> None:
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

    def _control(op: str, req: dict) -> dict:
        if op == "refresh":
            _drain()  # single-writer: no query may straddle the swap
            reader.refresh()
            return {"ok": True}
        if op == "ping":
            return {"ok": True, "n_docs": reader.n_docs}
        if op == "stats":
            return {"ok": True, **reader.counters()}
        # prewarm, a control op like refresh: drain in-flight queries
        # first (qlog.flush below races worker record() calls otherwise)
        # and warm inline — a startup/idle operation, not something to
        # run under live load
        _drain()
        qs = req.get("queries")
        if qs is None:
            if qlog is not None:
                qlog.flush()  # include this session's tail
            qs = recent_queries(log_dir, int(req.get("limit", 100))) if log_dir else []
        elif not isinstance(qs, list):
            raise TypeError(f"queries is a list of query strings, not {type(qs).__name__}")
        return {"ok": True, "warmed": reader.prewarm(qs)}

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
            if not isinstance(req, dict):
                _emit({"error": f"TypeError: a request is a JSON object, not {type(req).__name__}"})
                continue
            op = req.get("op")
            if op == "quit":
                break
            if op in ("refresh", "ping", "stats", "prewarm"):
                try:
                    _emit(_control(op, req))
                except Exception as exc:  # like _answer: the loop never dies
                    _emit_error(exc, req)
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

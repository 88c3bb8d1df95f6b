"""Reader-side live-segment gating from mutation-protocol manifest rows.

The mutation protocols (extend intent rows, merge's two-barrier fold —
see operators/merge.py, streaming/incremental.py) make crashes heal on
the NEXT MUTATION (gc_aborted_extends / gc_aborted_merges). Readers,
however, discover segments by listing partition dirs, so between a
crash (or mid-flight fold) and that next mutation a fresh reader would
see a partial fold: a merge's dst ALONGSIDE its sources (every match
double-counted), or a crashed extend's postings with no committed
manifest row. The same manifest rows that drive GC tell a reader
exactly which segments to skip — this module derives that, purely, so
the Spark engine (operators/wand.py) and the no-JVM serving reader
(serve.py) apply one rule.

State machine per merge fold (keyed by started_at):
  'started' only   → the fold may still be writing (or crashed
                     pre-barrier): its dst is NOT live; sources +
                     tombstones are untouched, so excluding dst yields
                     the exact pre-fold view.
  'committed'      → the fold is logically applied: dst is live, the
    (no 'done')      sources are being retired (dirs may be half
                     deleted) — exclude the sources. Their tombstones
                     may not have re-homed/purged yet, so liveness
                     must use the UNION of all tombstone partitions
                     (over-inclusive is correct: ids absent from a
                     segment simply never match) until the fold closes.
  'done'/'aborted' → terminal; nothing to exclude.

Extend folds: a segment whose latest extend row is 'started' (no
closing 'done') is an uncommitted fold — its postings dir may exist
but must not serve. gc_aborted_extends closes healed folds with
'aborted' rows, which clear the exclusion. The reference has no analog
(no durable index to gate: src/brain-scorer.ts rescans per query).

MEMBERSHIP is exact in every window (extend stats commits are deferred
to the fold close, so scores are value-identical there too). The one
remaining transient: a PURGE fold's post-barrier window pairs the live
dst with pre-purge collection stats until _purge_docs_and_stats
re-baselines at fold close — scores (not membership) can drift for
those seconds, healing with the 'done' row or the next GC.

Tombstone liveness is one type, DeadDocs: the set of deleted doc ids
every query kernel masks. Doc ids are never reused (extend and merge
allocate past every docs and postings segment), so one set holding
every tombstone partition is correct in every fold window — ids a
segment never held simply never match.
"""

from __future__ import annotations

from typing import Iterable, Tuple

import numpy as np

from .codec import SEG_STRIDE


class DeadDocs:
    """Tombstoned doc-id set: one packed bitmap per ORIGIN segment
    (doc_id // SEG_STRIDE — doc ids keep their origin across merges,
    only the postings holding them move), each sized by the largest
    dead row seen in that segment. Memory is at most one bit per corpus
    row however many tombstones accumulate (a sorted id array costs 64
    bits per tombstone). Immutable once built."""

    __slots__ = ("_bits",)

    def __init__(self, bits: dict[int, np.ndarray]):
        self._bits = bits

    @classmethod
    def from_ids(cls, ids) -> "DeadDocs":
        """From one doc-id array (any order, duplicates allowed)."""
        return cls.from_batches([ids])

    @classmethod
    def from_batches(cls, batches: Iterable) -> "DeadDocs":
        """From an iterable of doc-id arrays (e.g. parquet record
        batches), never holding their concatenation: bitmaps grow
        geometrically while streaming and are trimmed once at the end."""
        bits: dict[int, np.ndarray] = {}
        used: dict[int, int] = {}
        for ids in batches:
            ids = np.asarray(ids, dtype=np.int64)
            if not len(ids):
                continue
            segs, rows = np.divmod(ids, SEG_STRIDE)
            lo, hi = int(segs.min()), int(segs.max())
            for seg in [lo] if lo == hi else np.unique(segs).tolist():
                r = rows if lo == hi else rows[segs == seg]
                need = int(r.max() >> 3) + 1
                bm = bits.get(seg, np.zeros(0, dtype=np.uint8))
                if len(bm) < need:
                    pad = np.zeros(max(need, 2 * len(bm)) - len(bm), dtype=np.uint8)
                    bits[seg] = bm = np.concatenate([bm, pad])
                used[seg] = max(used.get(seg, 0), need)
                np.bitwise_or.at(bm, r >> 3, (1 << (r & 7)).astype(np.uint8))
        return cls({s: bm[:used[s]].copy() for s, bm in bits.items()})

    def __bool__(self) -> bool:
        return bool(self._bits)

    @property
    def nbytes(self) -> int:
        return sum(bm.nbytes for bm in self._bits.values())

    def __contains__(self, doc) -> bool:
        seg, row = divmod(int(doc), SEG_STRIDE)
        bm = self._bits.get(seg)
        return (bm is not None and (row >> 3) < len(bm)
                and bool((int(bm[row >> 3]) >> (row & 7)) & 1))

    def mask(self, ids) -> np.ndarray:
        """bool[len(ids)]: True where the doc id is dead."""
        ids = np.asarray(ids, dtype=np.int64)
        out = np.zeros(len(ids), dtype=bool)
        if not self._bits or not len(ids):
            return out
        segs, rows = np.divmod(ids, SEG_STRIDE)
        lo, hi = int(segs.min()), int(segs.max())
        for seg, bm in self._bits.items():
            if not lo <= seg <= hi:
                continue
            sel = slice(None) if lo == hi else np.flatnonzero(segs == seg)
            r = rows[sel]
            byte = r >> 3
            bit = (bm[np.minimum(byte, len(bm) - 1)] >> (r & 7)) & 1
            out[sel] = (byte < len(bm)) & bit.astype(bool)
        return out


def segment_tombstones(tombstones_path: str, segment_id: int) -> np.ndarray:
    """TASK-side liveness load: the dead doc ids of ONE segment (any
    order, may repeat — DeadDocs takes them as-is), read from that
    segment's partition of the tombstones table (operators/delete.py
    writes it). Lives here, with numpy/pyarrow imports only, so the
    query kernels and the merge compactor share one worker-side read:
    a task's liveness cost is one bounded columnar read of the
    segments it touches (zero when delete.tombstone_segments says a
    segment is clean)."""
    import pyarrow.dataset as ds

    try:
        d = ds.dataset(f"{tombstones_path}/segment_id={int(segment_id)}", format="parquet")
        return d.to_table(columns=["doc_id"]).column("doc_id").to_numpy()
    except FileNotFoundError:
        return np.empty(0, dtype=np.int64)


def reader_exclusions(
    rows: Iterable[Tuple[int, str, str, float]],
) -> tuple[frozenset, bool]:
    """(excluded_segments, union_liveness) from manifest protocol rows.

    `rows`: (segment_id, stage, status, started_at) tuples — the
    manifest's protocol columns; rows of other stages are ignored, so
    callers may pass the whole manifest. `union_liveness` is True when
    any merge fold sits between its barriers (committed, not done):
    per-segment tombstone ownership is then in flux and a per-segment
    liveness read (the Spark task path, operators/wand._load_dead) must
    add the fold's partitions. The serving reader's one DeadDocs
    already holds every partition, so it needs no such flag.
    """
    merge_folds: dict[int, dict] = {}
    extend_state: dict[int, tuple[float, str]] = {}
    for seg, stage, status, started in rows:
        so = float(started or 0.0)
        if stage == "merge":
            f = merge_folds.setdefault(
                int(round(so * 1000)), {"dst": None, "srcs": [], "states": set()}
            )
            if status == "src":
                f["srcs"].append(int(seg))
            elif status in ("started", "committed", "done", "aborted"):
                if f["dst"] is None:
                    f["dst"] = int(seg)
                f["states"].add(status)
        elif stage == "extend" and status in ("started", "done", "aborted"):
            # 'aborted' is the closing row gc_aborted_extends writes
            # after healing a crashed fold — it MUST clear the
            # exclusion, or the healed id stays gated forever and a
            # later merge reusing the freed id would silently never
            # serve (review r4 finding). Latest row wins; closing rows
            # win the (normal) same-fold started_at tie.
            cur = extend_state.get(int(seg))
            if cur is None or so > cur[0] or (so == cur[0] and status != "started"):
                extend_state[int(seg)] = (so, status)
    excluded: set[int] = set()
    union = False
    for f in merge_folds.values():
        st = f["states"]
        # legacy pre-protocol folds carry only 'done' rows → terminal
        if "done" in st or "aborted" in st or "started" not in st:
            continue
        if "committed" in st:
            excluded.update(int(s) for s in f["srcs"])
            union = True
        elif f["dst"] is not None:
            excluded.add(int(f["dst"]))
    for seg, (_, status) in extend_state.items():
        if status == "started":
            excluded.add(int(seg))
    return frozenset(excluded), union


def docs_exclusions(rows: Iterable[Tuple[int, str, str, float]]) -> frozenset:
    """Exclusions that apply to the DOCS table: extend folds ONLY.
    Docs dirs never move across merges (postings/norms do), so a merge
    fold's excluded POSTINGS sources still own live docs dirs — merge
    exclusions must NOT filter the docs table, or the exhaustive/bm25f
    engines and the dictionary rebuild would drop real docs during a
    committed-not-done window."""
    excluded, _ = reader_exclusions(
        (seg, stage, status, started)
        for seg, stage, status, started in rows
        if stage == "extend"
    )
    return excluded

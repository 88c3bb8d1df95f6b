"""k-way segment merge (U4 in SURVEY.md §2.10).

Reference analog: the per-chunk top-k flatten + re-sort merge of
src/parallel-mantic.ts:62-75 — applied here to the index itself:
several small segments are folded into one, the standard LSM-style
maintenance step after incremental builds.

Because segments own DISJOINT doc-id ranges (operators/docs.py gives
segment s the range [s·SEG_STRIDE, …)), a merged posting list is the
union of the sources' block rows ordered by (term, first_doc): Catalyst
range-partitions and sorts them, then one mapInArrow pass
(codec.compact_stream_fn) decodes each Arrow batch of blocks, drops
purged postings and re-encodes the survivors into full BLOCK_SIZE
blocks (chunk-boundary tails leave ragged blocks behind) — vectorized
per batch, with only one term's short tail carried between batches.

Every block is re-encoded at the merge-time avgdl, which the dst
segment records as its build_avgdl: block maxima are idf-independent
(functions/codec.py), and the query-time bound inflation
max(1, avgdl_now / build_avgdl) covers any later drift. Blocks store
no doc lengths, so the compactor's tasks read them from the sources'
norms partitions, which stay on disk until after the 'committed'
barrier.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.bm25 import B, K1
from ..sources.catalog import IndexPaths, append_manifest, read_or_none
from .index_build import (BLOCK_ROW_SCHEMA, BLOCK_ROW_SCHEMA_POS, _delete_path,
                          read_segment_summary, write_segment_summary)


def _write_complete(spark, path: str) -> bool:
    """True when `path` holds a COMPLETE Spark/parquet write (its
    _SUCCESS marker survived). Crash recovery must distinguish a
    finished staging dir from a torn one, and data-file presence can't
    — a torn overwrite leaves committed task files too."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_SUCCESS")
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _delete_staged(spark, path: str) -> None:
    """Delete a staging dir with its _SUCCESS marker unlinked FIRST: a
    recursive delete has no intra-dir ordering guarantee, so a crash
    mid-delete could otherwise leave _SUCCESS beside a partial file set
    and a later replay would trust truncated staging as the source of
    truth (review r4 finding). With the marker gone first, every
    partial-delete state reads as incomplete and the replay re-derives
    — all staging producers here are idempotent."""
    _delete_path(spark, path.rstrip("/") + "/_SUCCESS")
    _delete_path(spark, path)


def _staged_or_none(spark, path: str):
    """The staged DataFrame when `path` holds a COMPLETE, NON-EMPTY
    write, else None. Completeness needs the _SUCCESS probe (data-file
    presence can't tell a finished dir from a torn overwrite — both
    hold committed task files); the non-empty check matters because a
    0-row write leaves ONLY _SUCCESS, which the parquet reader can't
    infer a schema from (review r4 finding: an empty staged purge set
    made every later gc_aborted_merges replay raise post-barrier,
    permanently wedging the index)."""
    if not _write_complete(spark, path):
        return None
    return read_or_none(spark, path)


def _purge_docs_and_stats(spark, paths, purge_df, srcs) -> None:
    """Make deletes real: drop purged rows from the docs dirs that hold
    them, re-baseline collection_stats over the remaining norms, and
    clear the satisfied tombstones. Docs dirs never move across merges,
    so the dirs to rewrite come from the purged ids' ORIGINAL segments
    (doc_id DIV stride), not from the merge's src postings segments.
    All id-set filters are ANTI-JOINS against the purge DataFrame — no
    id list ever reaches the driver or an expression tree, so a
    10^8-tombstone purge plans the same as a 10-tombstone one (the
    dir list itself is one tiny distinct per original segment).

    Runs strictly AFTER the fold's 'committed' manifest barrier and is
    replayed verbatim by gc_aborted_merges after a crash, so every step
    is recovery-aware: each docs dir rewrite stages its survivors with
    a per-segment _SUCCESS-checked dir — a replay that finds a COMPLETE
    staging dir treats it as the source of truth (the src dir may be a
    torn overwrite) instead of re-deriving from src (crash-sweep
    finding, tools/fuzz_crash.py: the old shared staging dir lost the
    segment when a crash landed between the src delete and the rewrite,
    because the replay skipped missing src dirs)."""

    from .docs import SEG_STRIDE

    # the purge removes vocabulary/docs — the optional dictionary
    # sidecar goes stale the moment docs physically leave, so drop it
    # INSIDE the replayed region, BEFORE the tombstone partitions clear
    # below (until then a stale sidecar stays liveness-masked by the
    # tombstones). A crash anywhere after re-deletes it on replay; a
    # fold that purges nothing never touches it (review r4 finding: the
    # pre-mutation placement rebuilt it on every no-tombstone
    # maybe_compact).
    _delete_path(spark, paths.term_dict)

    doc_segs = [
        int(r.s)
        for r in purge_df.select(
            F.expr(f"CAST(doc_id DIV {SEG_STRIDE} AS INT)").alias("s")
        ).distinct().collect()
    ]

    def _promote(staging: str, src_dir: str) -> None:
        # complete-but-EMPTY staging = every doc in the segment was
        # purged: the rewrite is a dir delete (review r4 finding: the
        # 0-row round-trip raised schema-inference post-barrier and
        # wedged every later replay)
        survivors = read_or_none(spark, staging)
        if survivors is None:
            _delete_path(spark, src_dir)
        else:
            survivors.write.mode("overwrite").parquet(src_dir)
        _delete_staged(spark, staging)

    for seg in doc_segs:
        src_dir = f"{paths.docs}/segment_id={int(seg)}"
        staging = f"{paths.root}/docs_purge_tmp/segment_id={int(seg)}"
        if _write_complete(spark, staging):
            # a previous attempt crashed between the staging write and
            # the end of the src rewrite — replay from staging
            _promote(staging, src_dir)
            continue
        remaining = read_or_none(spark, src_dir)
        if remaining is None:
            continue
        _delete_staged(spark, staging)
        remaining.join(purge_df, "doc_id", "left_anti").write.mode("overwrite").parquet(staging)
        _promote(staging, src_dir)
    # stats over the remaining corpus (a purge rewrites norms anyway,
    # so this one full agg is already proportional to work done; the
    # exact integer sum_dl re-baselines the incremental-stats chain —
    # format v5)
    from .index_build import write_collection_stats

    norms_all = spark.read.parquet(paths.norms)
    row = norms_all.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("doc_len").alias("sum_dl")
    ).collect()[0]
    write_collection_stats(spark, paths, int(row.n_docs or 0), int(row.sum_dl or 0))
    # satisfied tombstones = exactly the src segments' partitions plus
    # the orphan partition (-1): the tombstones table is hive-
    # partitioned by the postings-owning segment (delete.delete_docs_df,
    # re-homed on non-purge merges), so clearing them is a metadata
    # partition delete — no table rewrite, regardless of tombstone count
    for s in list(srcs) + [-1]:
        _delete_path(spark, f"{paths.tombstones}/segment_id={int(s)}")


def _live_tombstone_segments(spark, paths) -> list[int]:
    from .index_build import _list_segments

    return _list_segments(spark, paths.tombstones)


def _rehome_tombstones(spark, paths, srcs: list[int], dst: int, fold_key: int) -> None:
    """Non-purge merge: postings (and norms) moved to dst, so the src
    segments' tombstones must re-home under the dst partition or later
    purges and per-segment liveness reads would miss them.

    Recovery-safe order — stage (with _SUCCESS check) → append under
    dst → delete src partitions → delete stage. A replay after a crash
    can only APPEND the staged ids again (tombstones are a membership
    set; duplicate rows are harmless to isin/searchsorted liveness and
    to purge anti-joins), never lose them; the old order deleted the
    src partitions before anything durable held their ids. The stage
    dir is FOLD-KEYED like purge_ids_tmp (review r4 finding: a shared
    name let another fold's complete leftover stand in for THIS fold's
    never-staged ids — the src partitions were then deleted with
    nothing durable holding them)."""
    stage_t = f"{paths.root}/tombstones_rehome_tmp_{int(fold_key)}"
    if not _write_complete(spark, stage_t):
        purge_segs = sorted(
            set(int(s) for s in srcs) & {int(x) for x in _live_tombstone_segments(spark, paths)}
        )
        if not purge_segs:
            _delete_staged(spark, stage_t)
            return
        _delete_staged(spark, stage_t)
        (
            spark.read.parquet(paths.tombstones)
            .filter(F.col("segment_id").isin(purge_segs))
            .select("doc_id")
            .write.mode("overwrite")
            .parquet(stage_t)
        )
    staged = read_or_none(spark, stage_t)
    if staged is not None:
        staged.withColumn("segment_id", F.lit(int(dst))).write.mode(
            "append"
        ).partitionBy("segment_id").parquet(paths.tombstones)
    for s in srcs:
        _delete_path(spark, f"{paths.tombstones}/segment_id={int(s)}")
    _delete_staged(spark, stage_t)


def _finish_merge(spark, paths, srcs: list[int], dst: int, started: float,
                  n_terms, n_postings, nbytes, build_avgdl) -> None:
    """Everything after the fold's 'committed' manifest barrier: retire
    the source dirs, make the staged purge physical (or re-home live
    tombstones), close the manifest with the 'done' row. Idempotent end
    to end — gc_aborted_merges replays it from the committed row's
    fields after a crash anywhere inside."""
    for s in srcs:
        if int(s) == int(dst):
            continue  # defensive: merge_segments rejects dst ∈ srcs
        _delete_path(spark, f"{paths.postings}/segment_id={int(s)}")
        _delete_path(spark, f"{paths.terms}/segment_id={int(s)}")
        _delete_path(spark, f"{paths.norms}/segment_id={int(s)}")
    # the purge id set was staged durably BEFORE 'committed' under the
    # fold's own key, so a replay always sees the same decision here.
    # A complete-but-EMPTY stage (only _SUCCESS — zero owned tombstones)
    # means nothing purges: route to the re-home branch, whose no-op
    # case it is (review r4 finding: reading the schema-less dir raised
    # post-barrier and wedged every later replay).
    fold_key = int(round(started * 1000))
    purge_stage = f"{paths.root}/purge_ids_tmp_{fold_key}"
    staged_purge = _staged_or_none(spark, purge_stage)
    if staged_purge is not None:
        _purge_docs_and_stats(spark, paths, staged_purge, srcs)
    else:
        _rehome_tombstones(spark, paths, srcs, dst, fold_key)
    _delete_staged(spark, purge_stage)
    append_manifest(
        spark,
        paths,
        [
            {
                "segment_id": int(dst),
                "stage": "merge",
                "status": "done",
                "n_terms": n_terms,
                "n_postings": n_postings,
                "bytes": nbytes,
                "started_at": started,
                "build_avgdl": float(build_avgdl) if build_avgdl is not None else None,
            }
        ]
        + [{"segment_id": int(s), "stage": "merge", "status": "merged", "started_at": started}
           for s in srcs if int(s) != int(dst)],
    )
    from .wand import refresh_meta

    refresh_meta(paths.root)


def gc_aborted_merges(spark: SparkSession, paths: IndexPaths,
                      min_age_s: float = 0.0) -> list[int]:
    """Heal crashed merge folds (called before every mutation, like
    gc_aborted_extends). merge_segments' protocol: intent rows
    {dst 'started' + per-src 'src'} land before any durable mutation;
    the dst postings/terms/norms dirs are then fully written; a
    'committed' row (carrying the dst metrics) is the barrier; source
    retirement + purge/re-home follow; a 'done' row closes the fold.

    A fold whose latest state is 'started' rolls BACK: the dst dirs are
    deleted — by construction nothing else was touched, so the sources
    are intact and the merge can simply be re-run. A fold at
    'committed' rolls FORWARD: _finish_merge is replayed from the
    committed row (every step in it is idempotent, and the purge id set
    was staged durably before the barrier). Returns the healed dst ids.
    """
    m = read_or_none(spark, paths.manifest)
    if m is None:
        return []
    rows = m.filter(F.col("stage") == "merge").collect()
    folds: dict[int, dict] = {}
    for r in rows:
        key = int(round(float(r.started_at) * 1000))
        f = folds.setdefault(key, {"dst": None, "srcs": [], "states": {},
                                   "started": float(r.started_at)})
        if r.status == "src":
            f["srcs"].append(int(r.segment_id))
        elif r.status in ("started", "committed", "done", "aborted"):
            if f["dst"] is None:
                f["dst"] = int(r.segment_id)
            f["states"][r.status] = r
    healed = []
    for key, f in sorted(folds.items()):
        st = f["states"]
        # legacy pre-protocol folds have only 'done'/'merged' rows —
        # no 'started' → terminal by construction
        if "started" not in st or "done" in st or "aborted" in st:
            continue
        if min_age_s and (time.time() - f["started"]) < min_age_s:
            # possibly still RUNNING, not crashed — the heal CLI's
            # guard: rolling back a live fold's dst mid-write would
            # have the writer commit over half-deleted dirs. Mutation
            # entry points pass 0 (single-writer contract: any open
            # fold they see is dead by definition).
            continue
        dst = f["dst"]
        if "committed" in st:
            c = st["committed"]
            _finish_merge(spark, paths, sorted(f["srcs"]), dst, f["started"],
                          n_terms=c.n_terms, n_postings=c.n_postings,
                          nbytes=c.bytes, build_avgdl=c.build_avgdl)
        else:
            for tbl in (paths.postings, paths.terms, paths.norms):
                _delete_path(spark, f"{tbl}/segment_id={int(dst)}")
            _delete_staged(spark, f"{paths.root}/purge_ids_tmp_{key}")
            append_manifest(spark, paths, [
                {"segment_id": int(dst), "stage": "merge", "status": "aborted",
                 "started_at": f["started"]}
            ])
            from .wand import refresh_meta

            refresh_meta(paths.root)
        healed.append(int(dst))
    return healed


def maybe_compact(
    spark: SparkSession,
    index_dir: str,
    max_segments: int = 16,
    k1: float = K1,
    b: float = B,
) -> int | None:
    """LSM maintenance policy: when the live segment count exceeds
    max_segments, fold the SMALLEST half (by postings bytes) into one
    compacted segment — tombstones owned by those segments purge as a
    side effect. Keeps per-query fan-out (one WAND run per segment)
    and block raggedness bounded under continuous ingestion; the cost
    is proportional to the small segments being folded, never the
    whole index (the standard tiered-compaction trade). Returns the
    destination segment id, or None if below threshold."""
    from .index_build import _list_segments

    paths = IndexPaths(index_dir)
    segs = _list_segments(spark, paths.postings)
    if len(segs) <= max_segments:
        return None
    sizes = {s: v[2] for s, v in read_segment_summary(paths, spark).items()}
    by_size = sorted(segs, key=lambda s: (sizes.get(s, 0), s))
    n_fold = max(2, len(segs) - max_segments + 1)
    victims = by_size[:n_fold]
    # fresh dst id must clear BOTH tables' dirs: docs dirs keep their
    # original ids across compactions, so extends allocate from the
    # same combined max — never reuse either side's id space
    dst = max(segs + _list_segments(spark, paths.docs)) + 1
    return merge_segments(spark, index_dir, victims, dst_segment=dst,
                          purge=True, k1=k1, b=b)


def merge_segments(
    spark: SparkSession,
    index_dir: str,
    src_segments: list[int],
    dst_segment: int | None = None,
    purge: bool = True,
    k1: float = K1,
    b: float = B,
) -> int:
    """Fold src segments into one. Returns the destination segment id.

    purge=True rewrites away tombstoned postings of the source segments,
    drops their docs/norms rows, re-baselines collection_stats, and
    clears the satisfied tombstones — the LSM "deletes become real at
    merge time" step.

    Crash safety is a two-barrier manifest protocol, swept end to end
    by tools/fuzz_crash.py: intent rows land before any durable
    mutation; the dst postings/terms/norms dirs are fully written; a
    'committed' row is the point of no return; retirement + purge
    follow; a 'done' row closes the fold. A crash before 'committed'
    rolls back on the next mutation (gc_aborted_merges deletes the dst
    dirs — the sources are untouched by construction, so re-running the
    same merge completes it); a crash after 'committed' rolls forward
    (_finish_merge is idempotent). dst therefore must NOT be one of the
    sources — the default allocates a fresh id above every existing
    docs/postings segment, the same rule extends use.
    """
    paths = IndexPaths(index_dir)
    from .index_build import _list_segments, check_format, gc_aborted_extends

    check_format(spark, paths)  # never rewrite across format generations
    # heal any crashed fold first — a purge re-baselines stats over the
    # FULL norms table, which must not include orphan (uncommitted)
    # extend rows or a crashed merge's partial dst
    gc_aborted_extends(spark, paths)
    gc_aborted_merges(spark, paths)
    srcs = sorted(int(s) for s in src_segments)
    live = set(_list_segments(spark, paths.postings))
    if dst_segment is None:
        dst_segment = max(list(live) + _list_segments(spark, paths.docs), default=-1) + 1
    dst_segment = int(dst_segment)
    if dst_segment in srcs:
        raise ValueError(
            f"dst_segment {dst_segment} is one of the sources — in-place "
            "merges cannot roll back after a crash; pass a fresh id (or "
            "omit dst_segment to allocate one)"
        )
    if not (set(srcs) & live):
        # nothing to merge: either the caller re-ran a fold that already
        # completed (the documented heal — the manifest has its 'done'
        # row) or the srcs never existed
        m = read_or_none(spark, paths.manifest)
        if m is not None and not (
            m.filter(
                (F.col("stage") == "merge")
                & (F.col("status") == "done")
                & (F.col("segment_id") == dst_segment)
            ).isEmpty()
        ):
            return dst_segment
        raise ValueError(f"no live postings for source segments {srcs}")
    if dst_segment in live:
        # an explicit dst colliding with an unrelated LIVE segment would
        # silently destroy it — worse, a pre-'committed' crash would have
        # the rollback delete that segment's dirs, violating the
        # protocol's premise that nothing but dst was touched (review r4
        # finding). Checked after the re-run heal above, where dst being
        # live is the expected completed state.
        raise ValueError(
            f"dst_segment {dst_segment} is a live segment not in the "
            "sources — merging onto it would destroy it; pass a fresh id "
            "(or omit dst_segment to allocate one)"
        )
    started = time.time()
    stats = spark.read.parquet(paths.collection_stats).collect()[0]
    avgdl = float(stats.avgdl)
    # intent rows BEFORE any durable mutation: the per-src 'src' rows
    # tell a roll-forward which dirs to retire; the 'started' row names
    # the dst a rollback deletes
    append_manifest(
        spark,
        paths,
        [{"segment_id": dst_segment, "stage": "merge", "status": "started",
          "started_at": started}]
        + [{"segment_id": s, "stage": "merge", "status": "src", "started_at": started}
           for s in srcs],
    )

    # tombstones owned by the source segments. Ownership comes from the
    # NORMS table: norms rows MOVE with merges (docs rows never do), so
    # norms/segment_id=s lists exactly the doc ids whose postings live
    # in segment s — correct across any number of compaction
    # generations, where doc_id DIV STRIDE only names the ORIGINAL
    # segment (review r2 finding). purge_df is the plan-side form
    # (anti-joins, docs purge, stats re-baseline); the streaming
    # compactor gets NO id array — each task loads the union of the src
    # segments' liveness sidecars itself (codec.compact_stream_fn
    # dead_src: the tombstones table is hive-partitioned by the
    # postings-owning segment, so those partitions ARE the owned set),
    # matching the per-segment discipline of the query kernels. A full
    # purge-compaction of a billion-tombstone index therefore never
    # materializes dead ids on the driver or in a closure (review r3
    # finding).
    purge_df = None
    # fold-keyed staging: _finish_merge (and its gc replay) decides
    # purge-vs-rehome from this dir's existence, so it must never be
    # confused with another fold's leftovers
    purge_stage = f"{paths.root}/purge_ids_tmp_{int(round(started * 1000))}"
    if purge:
        # the vocabulary sidecar is dropped inside
        # _purge_docs_and_stats (the replayed post-barrier region,
        # before the tombstone partitions clear) — crash-safe there,
        # and a fold that purges nothing never touches it
        from .delete import tombstone_df

        t = tombstone_df(spark, paths)
        if t is not None:
            norms_all = spark.read.parquet(paths.norms)
            src_norms = norms_all.filter(F.col("segment_id").isin(srcs)).select("doc_id")
            owned = t.join(src_norms, "doc_id", "left_semi")
            # orphan tombstones (ids with no norms row anywhere — the
            # doc never existed or was already purged) are vacuously
            # satisfied: clear them at any purge so they can't
            # accumulate unboundedly
            orphans = t.join(norms_all.select("doc_id"), "doc_id", "left_anti")
            # STAGE the owned set before any mutation: the lazy plan
            # reads the src segments' norms partitions, which this merge
            # moves below — consumers after that point must read the
            # staged copy, not re-execute the plan
            _delete_staged(spark, purge_stage)
            owned.unionByName(orphans).write.mode("overwrite").parquet(purge_stage)
            purge_df = read_or_none(spark, purge_stage)

    raw = spark.read.parquet(paths.postings)
    has_positions = "positions" in raw.columns
    # split_ranges: when a SURVIVING segment's doc span overlaps the
    # sources' combined span, the compactor keeps every block within one
    # doc-id stride range — a block spanning the gap between
    # non-contiguous source ranges would envelop that segment's range,
    # and its block max would then bound every interval there (still
    # correct, but a looser bound means more decoded blocks for every
    # query on the term). A contiguous fold with everything else above
    # or below — and any fold of ALL live segments — compacts across
    # ranges: nothing remains to interleave, and future extends
    # allocate ranges strictly above all existing ones. One tiny
    # stats-pruned agg (two int columns) decides it.
    spans = {
        r.segment_id: (r.lo, r.hi)
        for r in raw.groupBy("segment_id").agg(
            F.min("first_doc").alias("lo"), F.max("last_doc").alias("hi")
        ).collect()
    }
    src_spans = [spans[s] for s in srcs if s in spans]
    src_lo = min(lo for lo, _ in src_spans) if src_spans else 0
    src_hi = max(hi for _, hi in src_spans) if src_spans else 0
    split_ranges = any(
        lo <= src_hi and hi >= src_lo
        for s, (lo, hi) in spans.items()
        if s not in srcs
    )
    # range-partition by (tid, first_doc): sorted multi-file layout
    # (row-group AND file-level tid pruning); AQE coalesces small
    # merges. A single-file write would serialize the merged segment.
    merged = (
        raw.filter(F.col("segment_id").isin(srcs))
        .withColumn("segment_id", F.lit(int(dst_segment)))
        .repartitionByRange(F.col("tid"), F.col("first_doc"))
        .sortWithinPartitions("tid", "first_doc")
        .mapInArrow(
            codec.compact_stream_fn(
                avgdl, k1, b, (paths.norms, srcs),
                dead_src=(paths.tombstones, srcs) if purge_df is not None else None,
                with_positions=has_positions,
                split_ranges=split_ranges,
            ),
            schema=BLOCK_ROW_SCHEMA_POS if has_positions else BLOCK_ROW_SCHEMA,
        )
    )

    # dst is always a FRESH segment id (enforced above), so the merged
    # postings write straight into the dst partition dir — no staging
    # copy of the whole merged segment. Everything from here to the
    # 'committed' barrier only CREATES dst dirs; a crash rolls back by
    # deleting them (gc_aborted_merges), with the sources untouched.
    dst_dir = f"{paths.postings}/segment_id={int(dst_segment)}"
    _delete_path(spark, dst_dir)  # clear a rolled-back attempt's debris
    merged.drop("segment_id").write.mode("overwrite").parquet(dst_dir)

    # the dst's terms/ summary row, and its manifest metrics
    m = write_segment_summary(spark, paths, [dst_segment])[0]
    n_terms, n_postings, nbytes = m["n_terms"], m["n_postings"], m["bytes"]
    # norms: the source norm rows land under the dst segment dir (minus
    # purged docs) BEFORE the barrier — retirement after 'committed'
    # only ever deletes
    norms = spark.read.parquet(paths.norms).filter(F.col("segment_id").isin(srcs))
    if purge_df is not None:
        norms = norms.join(purge_df, "doc_id", "left_anti")
    norms.drop("segment_id").repartitionByRange(F.col("doc_id")).sortWithinPartitions(
        "doc_id"
    ).write.mode("overwrite").parquet(f"{paths.norms}/segment_id={int(dst_segment)}")

    # BARRIER: dst postings/terms/norms are durable. The committed row
    # carries the dst metrics so a roll-forward can close the manifest
    # without recomputing them.
    append_manifest(
        spark,
        paths,
        [
            {
                "segment_id": int(dst_segment),
                "stage": "merge",
                "status": "committed",
                "n_terms": n_terms,
                "n_postings": n_postings,
                "bytes": nbytes,
                "started_at": started,
                "build_avgdl": avgdl,
            }
        ],
    )
    _finish_merge(spark, paths, srcs, int(dst_segment), started,
                  n_terms=n_terms, n_postings=n_postings, nbytes=nbytes,
                  build_avgdl=avgdl)
    return int(dst_segment)

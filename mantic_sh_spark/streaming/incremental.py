"""Incremental index maintenance (ST1/ST2 in SURVEY.md §2.9).

Reference analog: `updateIncrementally` re-parses only added/modified
docs and deletes removed ones (src/cache.ts:191-219), with staleness
decided by a manifest diff (src/cache.ts:147-186). Here new pages are
folded in as FRESH segments:

  * new docs get fresh segment ids (max existing + 1 …) and therefore
    fresh, disjoint doc-id ranges — old segments are immutable (the
    LSM discipline; operators/merge.py folds segments later);
  * collection_stats updates INCREMENTALLY and exactly: the stored
    integer sum_dl (format v5) plus the fold's observed delta — never
    an index-sized norms rescan;
  * existing segments' block maxima were computed at their build-time
    avgdl; query-side bounds are inflated by max(1, avgdl_now /
    build_avgdl) per segment — a proven upper bound since tf_norm is
    monotone in avgdl with limit ratio avgdl_now/avgdl_build — so WAND
    stays exact under drift (see operators/wand.py).

`stream_index` wraps the same fold in Structured Streaming
(availableNow + foreachBatch) for directory-fed ingestion.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.docs import build_docs, doc_stats
from ..operators.index_build import build_postings_for_segments
from ..sources.catalog import IndexPaths, append_manifest


def extend_index(
    spark: SparkSession,
    index_dir: str,
    new_pages: DataFrame,
    n_new_segments: int = 4,
    run_gc: bool = True,
    verify_tids: bool = True,
) -> list[int]:
    """Fold new pages into an existing index as fresh segments.
    Returns the new segment ids.

    Positional indexes extend positionally: whether the existing
    postings carry a `positions` column is detected from the committed
    schema, so an extend can never silently append position-less
    segments into a positional index (which would corrupt phrase
    queries on the new segments)."""
    paths = IndexPaths(index_dir)
    from ..operators.index_build import check_format, gc_aborted_extends
    from ..sources.catalog import read_or_none

    check_format(spark, paths)  # never append across format generations
    if run_gc:  # upsert_pages GCs itself (before its fingerprint diff)
        from ..operators.merge import gc_aborted_merges

        gc_aborted_extends(spark, paths)  # heal any earlier crashed fold first
        gc_aborted_merges(spark, paths)
    existing_postings = read_or_none(spark, paths.postings)
    store_positions = existing_postings is not None and "positions" in existing_postings.columns
    # fresh ids must clear BOTH tables' segment dirs: docs dirs keep
    # their ORIGINAL ids across compactions while a compacted POSTINGS
    # segment takes a new, higher id — allocating from the docs max
    # alone would collide with it (review r2 finding)
    from ..operators.index_build import _list_segments

    seg_base = (
        max(_list_segments(spark, paths.docs) + _list_segments(spark, paths.postings)) + 1
    )

    t0 = time.time()
    cand = list(range(seg_base, seg_base + n_new_segments))
    # drop the optional vocabulary sidecar BEFORE any durable mutation:
    # it describes the pre-fold index, and once the fold commits a
    # stale copy silently misses the new docs/terms. Deleting it after
    # the committing manifest append (as this fold used to) leaves a
    # crash window where the fold is committed, the sidecar is stale,
    # and the documented recovery (re-send the batch → 'unchanged' →
    # early return) never deletes it (crash-sweep finding,
    # tools/fuzz_crash.py). Deleted-but-uncommitted is always safe —
    # the sidecar rebuilds on demand.
    from ..operators.index_build import _delete_path

    _delete_path(spark, paths.term_dict)
    # intent markers BEFORE any table mutation: a crash anywhere in
    # this fold leaves these as the latest 'started' rows, and the
    # next extend/upsert/merge/build GCs the partial fold and
    # re-baselines stats (gc_aborted_extends) — without them the
    # incremental stats chain would desync from the norms table
    # forever (review r4 finding). The final manifest append below
    # closes them with 'done' rows.
    append_manifest(
        spark,
        paths,
        [{"segment_id": s, "stage": "extend", "status": "started", "started_at": t0}
         for s in cand],
    )
    new_docs = build_docs(new_pages, n_segments=n_new_segments, segment_offset=seg_base)
    # build_docs output is already segment-partitioned and doc_id-sorted
    # within segments (window order) — no second text shuffle needed
    (
        new_docs.drop("tokens")
        .write.mode("append")
        .partitionBy("segment_id")
        .parquet(paths.docs)
    )
    all_docs = spark.read.parquet(paths.docs)
    # no repartition: docs are hive-partitioned by segment already, so
    # scan tasks are segment-aligned and the dynamic-partition append
    # lands rows in place (same reasoning as the fresh-build norms
    # write). Per-new-segment doc counts ride the write as OBSERVED
    # aggregates — they replace both the postings stage's norms agg and
    # the distinct() that discovered non-empty segments (same
    # serial-tail trim as the fresh build; conditional-sum cap 64).
    from pyspark.sql import Observation

    from ..operators.index_build import _OBS_SEG_CAP, segment_count_exprs

    obs = Observation() if n_new_segments <= _OBS_SEG_CAP else None
    norms_new = doc_stats(all_docs).filter(F.col("segment_id") >= seg_base)
    delta_exprs = [F.count(F.lit(1)).alias("n_new"),
                   F.sum("doc_len").alias("sum_dl_new")]
    if obs is not None:
        norms_new = norms_new.observe(obs, *delta_exprs, *segment_count_exprs(cand))
    norms_new.write.mode("append").partitionBy("segment_id").parquet(paths.norms)
    # global stats update is INCREMENTAL and exact: old integer totals
    # (collection_stats.sum_dl, format v5) plus the observed delta —
    # bit-identical to a fresh build's avgdl (one double division of
    # exact ints), with NO whole-norms rescan (that scan grows with the
    # INDEX, not the fold — the dominant fixed cost of a small extend
    # at 10^12 docs).
    from ..operators.index_build import write_collection_stats

    old = spark.read.parquet(paths.collection_stats).collect()[0]
    if obs is not None:
        vals = obs.get  # one JVM round trip, not one per segment
        n_docs_by_seg = {s: int(vals[f"c{s}"] or 0) for s in cand}
        n_new, sum_dl_new = int(vals["n_new"] or 0), int(vals["sum_dl_new"] or 0)
    else:
        n_docs_by_seg = None
        # fallback (> _OBS_SEG_CAP new segments): one agg over the NEW
        # segments' norms only — still fold-sized, never index-sized
        d = (
            spark.read.parquet(paths.norms)
            .filter(F.col("segment_id") >= seg_base)
            .agg(*delta_exprs)
            .collect()[0]
        )
        n_new, sum_dl_new = int(d.n_new or 0), int(d.sum_dl_new or 0)
    n_docs_total = int(old.n_docs) + n_new
    sum_dl_total = int(old.sum_dl) + sum_dl_new
    # the VALUE feeds the postings encode now; the DURABLE stats commit
    # is deferred to the fold close below. Until then the on-disk stats
    # describe the pre-fold corpus — exactly the view manifest-gated
    # readers serve during the fold (and after a crash, until GC), so
    # scores never mix post-fold n_docs/avgdl with the pre-fold segment
    # set (review r4 finding). Same double-division as
    # write_collection_stats → bit-identical avgdl.
    avgdl_new = (float(sum_dl_total) / float(n_docs_total)) if n_docs_total else 0.0

    from ..functions.tokenize import tokens_col

    batch = all_docs.filter(F.col("segment_id") >= seg_base).withColumn("tokens", tokens_col("text"))
    if verify_tids:
        # fold-local xxhash64 collision gate (same opt-out as
        # build_index; see index_build.verify_tid_uniqueness for the
        # collision-budget math) — runs BEFORE any posting is encoded
        from ..operators.index_build import verify_tid_uniqueness

        verify_tid_uniqueness(spark, batch)
    if n_docs_by_seg is not None:
        segs = [s for s in cand if n_docs_by_seg[s] > 0]
    else:
        segs = [r.segment_id for r in batch.select("segment_id").distinct().collect()]
    rows = build_postings_for_segments(
        spark, batch, paths, segs, avgdl=avgdl_new, store_positions=store_positions,
        n_docs_by_seg=n_docs_by_seg,
    )
    for r in rows:
        r["started_at"] = t0
    seg_doc_rows = (
        [
            {"segment_id": s, "stage": "docs", "status": "done",
             "n_docs": n_docs_by_seg[s], "started_at": t0}
            for s in segs
        ]
        if n_docs_by_seg is not None
        else []
    )
    # deferred stats commit (see above): lands right before the closing
    # append, shrinking the stats-vs-gating inconsistency window from
    # the whole postings build to microseconds; a crash in that sliver
    # still heals (gc re-baselines from norms)
    write_collection_stats(spark, paths, n_docs_total, sum_dl_total)
    # ONE manifest append for postings rows + per-segment docs rows +
    # the docs completion marker + the extend intents' closing rows
    # (each append is a commit — batching them is both cheaper and
    # atomic for this extend: the fold is committed iff this lands)
    append_manifest(
        spark,
        paths,
        rows
        + seg_doc_rows
        + [{"segment_id": -1, "stage": "docs", "status": "done", "n_docs": n_docs_total, "started_at": t0}]
        + [{"segment_id": s, "stage": "extend", "status": "done", "started_at": t0} for s in cand],
    )
    from ..operators.wand import refresh_meta

    refresh_meta(index_dir)
    return segs


def upsert_pages(
    spark: SparkSession,
    index_dir: str,
    pages: DataFrame,
    n_new_segments: int = 4,
) -> dict:
    """One-shot incremental update for a page batch that may contain
    NEW urls, MODIFIED urls (same url, new content), and unchanged
    urls — the reference's {added, modified} incremental pass
    (src/cache.ts:191-219; staleness decided by fingerprint diff,
    src/cache.ts:147-186).

      * unchanged (url present, same md5(text)): skipped entirely
      * modified: old doc ids tombstoned (distributed, never collected
        to the driver), new content folded in as fresh segments
      * added: folded in as fresh segments

    Deletes-by-absence are NOT inferred (a batch is a delta, not a
    snapshot) — use delete_docs for removals. A later
    merge_segments(purge=True) makes the tombstones physical; queries
    are correct immediately (live-docs check at heap push).

    Returns {"added": n, "modified": n, "unchanged": n, "segments": [..]}.
    """
    paths = IndexPaths(index_dir)
    from pyspark.sql import Window

    from ..operators.delete import live_docs
    from ..operators.index_build import check_format, gc_aborted_extends

    # format gate FIRST (review r4 finding: GC deletes dirs and rewrites
    # stats — it must never run against a foreign format generation),
    # then heal any earlier crashed fold BEFORE the fingerprint diff: an
    # orphan (uncommitted) docs row would otherwise make its url look
    # 'existing' and an identical re-sent page would be skipped as
    # 'unchanged' — losing the page entirely. extend_index below is
    # called with run_gc=False — this is the fold's single GC pass.
    check_format(spark, paths)
    gc_aborted_extends(spark, paths)
    from ..operators.merge import gc_aborted_merges

    gc_aborted_merges(spark, paths)

    def _latest_per_url(df: DataFrame, *order_cols) -> DataFrame:
        w = Window.partitionBy("url").orderBy(*order_cols)
        return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")

    # dedupe the incoming batch by url — keep the latest row by warc_ts
    # with a CONTENT tiebreak (md5(text)) so ties pick the same row on
    # every run regardless of task scheduling (the determinism contract
    # build_docs documents): a url appearing twice in one batch would
    # otherwise fan out the fingerprint join, inflate added/modified
    # counts, and fold nondeterministic content
    if "warc_ts" in pages.columns:
        pages = _latest_per_url(pages, F.desc_nulls_last("warc_ts"), F.md5("text"))
    else:
        pages = _latest_per_url(pages, F.md5("text"))

    # live view only: a url modified in an EARLIER upsert still has its
    # tombstoned old row in the docs table until purge — joining against
    # it would fan the diff out and re-add the page. The docs side is
    # additionally deduped by url (one-live-doc-per-url is the intended
    # invariant, but a plain extend of an already-indexed url can
    # violate it — keep the highest doc_id, i.e. the newest fold).
    existing = _latest_per_url(
        live_docs(spark.read.parquet(paths.docs), spark, paths).select(
            "url", "doc_id", F.md5("text").alias("old_fp")
        ),
        F.desc("doc_id"),  # doc ids are unique — already deterministic
    )
    # the pages ⋈ docs fingerprint join is the dominant cost and feeds
    # FOUR consumers (counts, tombstone write, tombstone count, delta
    # fold) — persist it so the join runs once per batch
    diff = (
        pages.withColumn("new_fp", F.md5("text"))
        .join(existing, "url", "left")
        .withColumn(
            "status",
            F.when(F.col("old_fp").isNull(), F.lit("added"))
            .when(F.col("old_fp") != F.col("new_fp"), F.lit("modified"))
            .otherwise(F.lit("unchanged")),
        )
        .persist()
    )
    try:
        counts = {r.status: r.n for r in diff.groupBy("status").agg(F.count(F.lit(1)).alias("n")).collect()}
        out = {
            "added": int(counts.get("added", 0)),
            "modified": int(counts.get("modified", 0)),
            "unchanged": int(counts.get("unchanged", 0)),
            "segments": [],
        }
        if not (out["added"] or out["modified"]):
            return out

        from ..operators.delete import delete_docs_df

        if out["modified"]:
            delete_docs_df(
                spark, index_dir, diff.filter(F.col("status") == "modified").select("doc_id")
            )
        delta = diff.filter(F.col("status") != "unchanged").select(*pages.columns)
        out["segments"] = extend_index(spark, index_dir, delta,
                                       n_new_segments=n_new_segments, run_gc=False)
        return out
    finally:
        diff.unpersist()


def stream_index(
    spark: SparkSession,
    pages_glob: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: str = "url string, warc_ts timestamp, html binary, text string, lang string",
    n_new_segments: int = 2,
    mode: str = "extend",
    max_segments: int | None = None,
):
    """Structured-Streaming ingestion: each availableNow micro-batch of
    newly arrived page files is folded into the index. Spark's
    checkpoint gives exactly-once batch tracking; the index manifest
    gives per-segment lineage inside each fold.

    mode="extend"  — batches are append-only (new urls).
    mode="upsert"  — batches may revisit urls (a recrawl feed):
                     modified content tombstones the old doc ids and
                     folds the delta; unchanged pages are skipped —
                     the streaming form of the reference's incremental
                     update (src/cache.ts:191-219).
    max_segments   — LSM maintenance: after a fold, if live segments
                     exceed this, the smallest ones compact-merge
                     (maybe_compact), keeping read amplification
                     bounded under continuous ingestion."""
    stream = spark.readStream.schema(schema).parquet(pages_glob)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if mode == "upsert":
            upsert_pages(spark, index_dir, batch_df, n_new_segments=n_new_segments)
        else:
            extend_index(spark, index_dir, batch_df, n_new_segments=n_new_segments)
        if max_segments is not None:
            from ..operators.merge import maybe_compact

            maybe_compact(spark, index_dir, max_segments=max_segments)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )

"""Inverted-index build: triples → salted posting blocks → segments,
with a resumable per-segment manifest (A1/A10/O6/O10 in SURVEY.md).

Pipeline (all DataFrame + mapInArrow; no per-row Python):

  pages ── extract ── build_docs ──► docs table        (stage 'docs')
                     │                └─► norms, collection_stats
                     └─► explode(tokens) → (tid=xxhash64(term), doc_id,
                         doc_len, tf) posting rows — four fixed 8-byte
                         slots, no strings
                             │  repartition(tid, segment, salt)
                             │  + sortWithinPartitions(tid, doc_id)
                             │  ← THE salted repartition — the build's
                             │    single wide shuffle. Head terms split
                             │    across doc-range chunks, so no task
                             │    ever holds more than CHUNK_SIZE
                             │    postings for one term; segment/salt
                             │    are derived from doc_id, never shipped
                             ▼
                         mapInArrow vectorized encode → block rows
                             │  (blocks carry absolute first_doc ⇒
                             │   chunk outputs concatenate in doc-id
                             │   order with no second merge pass)
                             ▼
            postings/segment_id=K (sorted by tid, first_doc; no term
                                   strings — clients hash query terms
                                   with functions/termhash.py)
            terms/segment_id=K    (one summary row: n_terms, n_postings,
                                   bytes — the manifest row's metrics)
            build_manifest        (per-segment lineage + metrics + build_avgdl)

Resume (reference analog: stale-file diff src/cache.ts:147-186): a
segment whose manifest row says done is skipped; a killed build
re-runs only pending segments and produces a byte-identical index
(tests/test_resume.py).
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterable
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.codec import DEFAULT_TIER_SPECS, encode_stream_fn
from ..functions.bm25 import B, K1
from ..functions.liveness import docs_exclusions, reader_exclusions
from ..sources.catalog import IndexPaths, append_manifest, done_segments, read_or_none, write_small_parquet
from .docs import build_docs, doc_stats

# On-disk index format version — bump on any layout/schema change so
# cached test/oracle indexes rebuild instead of failing on old columns
# (v3: tid-keyed postings + stringless terms dir + partitioned tombstones;
#  v4: per-block `nbytes` column — size maintenance aggregates int
#  columns instead of scanning the binary payloads;
#  v5: collection_stats carries exact integer `sum_dl` so incremental
#  folds update global stats from observed deltas instead of re-scanning
#  the whole norms table — at 10^12 docs that scan is the extend's
#  dominant fixed cost;
#  v6: doc_gaps drops each block's first doc id, which first_doc holds;
#  v7: each tfs value folds in the posting's tier code of
#  codec.DEFAULT_TIER_SPECS, plus a per-block `min_tier` column;
#  v8: blocks drop the per-posting doc lengths — scorers gather them
#  from the norms sidecar, liveness.DocLens;
#  v9: terms/ holds one summary row per segment instead of per-term rows)
INDEX_FORMAT = 9

BLOCK_ROW_SCHEMA = (
    "tid long, segment_id int, first_doc long, last_doc long, "
    "block_max double, n int, doc_gaps binary, tfs binary, "
    "nbytes int, min_tier tinyint"
)
BLOCK_ROW_SCHEMA_POS = BLOCK_ROW_SCHEMA + ", positions binary"


def tid_col(term) -> F.Column:
    """Dictionary-encoded term key: xxhash64 of the term string (Spark's
    XxHash64 expression, seed 42). Postings are keyed by this int64 —
    term strings never travel through the build's
    wide shuffle and are not stored in the core index at all. Query
    clients recover the key with the bit-identical pure-Python xxhash64
    (functions/termhash.py; lock-step test). Collision risk is
    birthday-bounded (~V²/2^65: ~3e-4 at a 10^8-term vocabulary);
    every build/extend runs verify_tid_uniqueness (opt-out) over the
    batch vocabulary BEFORE encoding, and build_term_dictionary doubles
    as the whole-corpus check — both fail loudly rather than letting
    two terms' posting lists merge silently."""
    col = term if isinstance(term, F.Column) else F.col(term)
    return F.xxhash64(col)


def _tier_folded_tf(tf: F.Column, first_pos: F.Column) -> F.Column:
    """tf·(T+1) + c, the value a posting ships in its tf slot: c is the
    first DEFAULT_TIER_SPECS window holding the term's first (0-based)
    position in the doc, T = len(DEFAULT_TIER_SPECS) when none does or
    `first_pos` is null. Folding before the exchange keeps the shuffled
    row at four int slots; the encoder splits it back (codec)."""
    n_tiers = len(DEFAULT_TIER_SPECS)
    code = F.lit(n_tiers)
    for i in reversed(range(n_tiers)):
        code = F.when(first_pos < DEFAULT_TIER_SPECS[i][2], F.lit(i)).otherwise(code)
    return (tf * (n_tiers + 1) + code).cast("int")


def _term_tf_pairs(tokens: str | F.Column) -> F.Column:
    """Doc-local (term, tf) aggregation as a pure Catalyst expression —
    map-side combine WITHOUT a combine shuffle: sort the doc's token
    array, find run starts, emit one struct per distinct term with the
    run length as tf. Cuts the build's wide shuffle from one row per
    occurrence to one row per posting (~1.5× fewer rows on web text)
    while keeping the build at a SINGLE shuffle. F.get (0-based,
    null-safe out of range) avoids ANSI element_at(0) errors."""
    col = tokens if isinstance(tokens, F.Column) else F.col(tokens)

    # Catalyst does NOT common-subexpression-eliminate across lambda
    # bodies: naming array_sort(tokens) in a Python variable and
    # referencing it inside filter/transform lambdas re-evaluates the
    # sort PER LAMBDA INVOCATION (O(n² log n) per doc — measured as a
    # build hang). Binding each intermediate as a LAMBDA VARIABLE via a
    # one-element-array transform forces single evaluation.
    def _with_sorted(s):
        n = F.size(s)
        idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.lit(None).cast("array<int>")
        )
        starts = F.filter(
            idx, lambda i: (i == F.lit(1)) | ~F.get(s, i - 1).eqNullSafe(F.get(s, i - 2))
        )

        def _with_starts(st):
            return F.transform(
                st,
                lambda x, j: F.struct(
                    F.get(s, x - 1).alias("term"),
                    (F.coalesce(F.get(st, j + 1), n + F.lit(1)) - x).cast("int").alias("tf"),
                ),
            )

        return F.get(F.transform(F.array(starts), _with_starts), 0)

    pairs = F.get(F.transform(F.array(F.array_sort(col)), _with_sorted), 0)
    return F.coalesce(pairs, F.array().cast("array<struct<term:string,tf:int>>"))


def _term_tf_pos_pairs(tokens: str | F.Column) -> F.Column:
    """Positional twin of _term_tf_pairs: per doc, one struct per
    distinct term carrying tf AND the ascending within-doc positions —
    the positional build's wide shuffle then ships one row per POSTING
    with a packed int-array payload instead of one row per occurrence
    (~40% fewer shuffled bytes at web-text tf distributions). Same
    lambda-binding discipline (no CSE across lambda bodies)."""
    col = tokens if isinstance(tokens, F.Column) else F.col(tokens)
    # (term, pos) structs sorted by (term, pos): struct ordering is
    # field-lexicographic, and positions are generated ascending
    zipped = F.transform(
        F.sequence(F.lit(0), F.size(col) - 1),
        lambda i: F.struct(F.get(col, i).alias("term"), i.cast("int").alias("pos")),
    )
    guarded = F.when(F.size(col) >= 1, F.array_sort(zipped)).otherwise(
        F.lit(None).cast("array<struct<term:string,pos:int>>")
    )

    def _with_sorted(s):
        n = F.size(s)
        idx = F.sequence(F.lit(1), n)
        starts = F.filter(
            idx,
            lambda i: (i == F.lit(1))
            | ~F.get(s, i - 1)["term"].eqNullSafe(F.get(s, i - 2)["term"]),
        )

        def _with_starts(st):
            def one(x, j):
                nxt = F.coalesce(F.get(st, j + 1), n + F.lit(1))
                return F.struct(
                    F.get(s, x - 1)["term"].alias("term"),
                    (nxt - x).cast("int").alias("tf"),
                    F.transform(
                        F.sequence(x, nxt - 1), lambda p: F.get(s, p - 1)["pos"]
                    ).alias("positions"),
                )

            return F.transform(st, one)

        return F.get(F.transform(F.array(starts), _with_starts), 0)

    pairs = F.get(F.transform(F.array(guarded), _with_sorted), 0)
    return F.coalesce(
        pairs, F.array().cast("array<struct<term:string,tf:int,positions:array<int>>>")
    )

_TRACE = os.environ.get("MANTIC_TRACE_TIMING", "") not in ("", "0")

# stage label → seconds for the MOST RECENT build in this process —
# bench.py reads this to report per-stage scaling (the local-mode
# stand-in for Spark UI stage metrics); reset at each build_index entry
LAST_TIMINGS: dict[str, float] = {}


def _trace(label: str, t0: float) -> float:
    """Stage timing: records into LAST_TIMINGS always, prints when
    MANTIC_TRACE_TIMING=1."""
    t1 = time.time()
    LAST_TIMINGS[label] = LAST_TIMINGS.get(label, 0.0) + (t1 - t0)
    if _TRACE:
        print(f"[build-timing] {label}: {t1 - t0:.1f}s", flush=True)
    return t1


# Conditional-sum fanout cap for observed per-segment doc counts: above
# this many segments in one docs/norms write the observation is skipped
# and the postings commit counts norms with one agg job instead (one
# observed column per segment). Tests lower it to force the fallback.
_OBS_SEG_CAP = 64


def segment_count_exprs(segs: Iterable[int]) -> list:
    """Observed per-segment row-count aggregates (one conditional sum
    per segment) — shared by the norms writes in build_index and
    extend_index so the count shape can never drift between them."""
    return [
        F.sum(F.when(F.col("segment_id") == s, 1).otherwise(0)).alias(f"c{s}")
        for s in segs
    ]


def write_collection_stats(spark: SparkSession, paths: IndexPaths,
                           n_docs: int, sum_dl: int) -> float:
    """Commit the one-row global-stats table (driver-side, no job) and
    return the avgdl it recorded. `sum_dl` is the EXACT integer total
    doc length: avgdl derives from it by one double division, so
    incremental folds (extend/upsert) can update stats from observed
    integer deltas and land on bit-identical values to a fresh build —
    no whole-norms rescan (format v5)."""
    avgdl = (float(sum_dl) / float(n_docs)) if n_docs else 0.0
    write_small_parquet(
        spark,
        paths.collection_stats,
        pd.DataFrame({"n_docs": pd.array([n_docs], dtype="int64"),
                      "avgdl": [avgdl],
                      "sum_dl": pd.array([sum_dl], dtype="int64")}),
        "n_docs long, avgdl double, sum_dl long",
    )
    return avgdl


def gc_aborted_extends(spark: SparkSession, paths: IndexPaths,
                       min_age_s: float = 0.0) -> list[int]:
    """Garbage-collect segments left behind by a CRASHED extend/upsert
    fold, restoring the stats↔tables consistency the incremental
    (format v5) stats chain depends on.

    Protocol: extend_index appends {stage='extend', status='started'}
    intent rows for its new segment ids BEFORE touching any table and
    closes them with status='done' rows in its final (atomic) manifest
    append. A segment whose LATEST extend row is still 'started' is an
    aborted fold: whatever subset of its docs/norms/postings/terms
    partition dirs the crash left are deleted, collection_stats is
    re-baselined with one full norms aggregation, and the intent is
    closed with an 'aborted' row. The index-sized norms rescan is paid
    ONLY on this crash-recovery path — the happy path stays
    incremental. Called at the top of extend/upsert/merge and on
    build_index's resume branch (where an orphan docs dir would
    otherwise be mistaken for a pending fresh-build segment and folded
    into the index behind the stats chain's back)."""
    m = read_or_none(spark, paths.manifest)
    if m is None:
        return []
    rows = (
        m.filter(F.col("stage") == "extend")
        .select("segment_id", "status", "finished_at")
        .collect()
    )
    latest: dict[int, tuple] = {}
    for r in rows:
        # ('started' sorts before any closing row on a timestamp tie)
        key = (r.finished_at, 0 if r.status == "started" else 1)
        if r.segment_id not in latest or key > latest[r.segment_id][0]:
            latest[r.segment_id] = (key, r.status)
    now = time.time()
    orphans = sorted(
        s for s, ((fin, _flag), st) in latest.items()
        if st == "started"
        # min_age guards the heal CLI against rolling back a fold that
        # is still RUNNING (mutation entry points pass 0 — the single-
        # writer contract makes any open fold they see dead)
        and (not min_age_s or (now - float(fin or 0)) >= min_age_s)
    )
    if not orphans:
        return []
    for s in orphans:
        _delete_path(spark, f"{paths.docs}/segment_id={s}")
        _delete_path(spark, f"{paths.norms}/segment_id={s}")
        _delete_path(spark, f"{paths.postings}/segment_id={s}")
        _delete_path(spark, f"{paths.terms}/segment_id={s}")
    # a dictionary sidecar rebuilt during the crash window could have
    # been derived from the orphan docs (the rebuild gates fold-partial
    # segments, but a pre-gating or mid-window copy may not be
    # trustworthy once the dirs above are gone) — drop it; it rebuilds
    # on demand (review r4 finding)
    _delete_path(spark, paths.term_dict)
    norms = read_or_none(spark, paths.norms)
    if norms is None:
        write_collection_stats(spark, paths, 0, 0)
    else:
        row = norms.agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("s")
        ).collect()[0]
        write_collection_stats(spark, paths, int(row.n or 0), int(row.s or 0))
    append_manifest(
        spark,
        paths,
        [{"segment_id": s, "stage": "extend", "status": "aborted"} for s in orphans],
    )
    return orphans


def write_format_marker(spark: SparkSession, paths: IndexPaths) -> None:
    """Record the on-disk format version (one-row parquet, driver-side
    commit — no Spark job)."""
    write_small_parquet(
        spark,
        paths.format_marker,
        pd.DataFrame({"version": pd.array([INDEX_FORMAT], dtype="int32")}),
        "version int",
    )


def format_mismatch(root: str, version: int, consequence: str) -> RuntimeError:
    """The error for an index whose on-disk format `version` is not
    this code's INDEX_FORMAT (shared by the mutation and read gates)."""
    return RuntimeError(
        f"index at {root} is on-disk format v{version}, this code "
        f"writes v{INDEX_FORMAT} — {consequence}; rebuild the index (or "
        "run the matching code version)"
    )


def spark_reads(path: str, spark: SparkSession | None) -> bool:
    """The storage-reach rule of every driver-side metadata read: Spark
    reads `path` only for a non-local URI scheme, given a session (the
    one route that reaches remote filesystems); pyarrow reads the rest
    (~1 ms, no job)."""
    return spark is not None and "://" in path and not path.startswith("file:")


def read_format_version(root: str, spark: SparkSession | None = None) -> int:
    """The on-disk format version recorded under `root` (0 for an index
    predating the marker, ≤ v3) — the one marker reader, shared by
    check_format and read_snapshot (spark_reads picks the route)."""
    import pyarrow.parquet as pq

    path = IndexPaths(root).format_marker
    if spark_reads(path, spark):
        marker = read_or_none(spark, path)
        return 0 if marker is None else int(marker.collect()[0].version)
    try:
        tbl = pq.read_table(path, columns=["version"])
    except FileNotFoundError:
        return 0
    return int(tbl["version"][0].as_py()) if tbl.num_rows else 0


class IndexSnapshot(NamedTuple):
    """What every reader of one index state needs before it touches a
    posting: global stats, per-segment bound factors and fold gating."""

    n_docs: int
    avgdl: float
    # {segment: avgdl / build_avgdl, floored at 1} — block maxima were
    # scored at build_avgdl, so an extend's avgdl drift inflates them
    bound_factors: dict
    # segments postings readers skip (functions/liveness.reader_exclusions)
    excluded: frozenset
    # a merge fold sits between its barriers: tombstone ownership in flux
    union: bool
    # segments docs-table readers skip (extend folds only — docs_exclusions)
    docs_excluded: frozenset


def read_snapshot(root: str, spark: SparkSession | None = None) -> IndexSnapshot:
    """The one metadata load of an index: one read each of
    format_version, collection_stats and build_manifest (driver-side
    pyarrow; Spark only where spark_reads says so), refusing any format
    but INDEX_FORMAT. The serving reader, the Spark query plane
    (wand._index_meta), index_stats and gated_docs all gate through it,
    so they cannot disagree on stats, bounds or fold exclusions."""
    version = read_format_version(root, spark)
    if version != INDEX_FORMAT:
        raise format_mismatch(root, version, "its posting blocks would decode wrong")
    paths = IndexPaths(root)
    cols = ["segment_id", "build_avgdl", "stage", "status", "started_at"]
    if spark_reads(paths.collection_stats, spark):
        cs = spark.read.parquet(paths.collection_stats).collect()[0]
        n_docs, avgdl = int(cs.n_docs), float(cs.avgdl)
        m = read_or_none(spark, paths.manifest)
        rows = [] if m is None else m.select(*cols).collect()
    else:
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        cs = pq.read_table(paths.collection_stats, columns=["n_docs", "avgdl"]).to_pydict()
        n_docs, avgdl = int(cs["n_docs"][0]), float(cs["avgdl"][0])
        try:
            m = ds.dataset(paths.manifest, format="parquet").to_table(columns=cols).to_pydict()
            rows = list(zip(*(m[c] for c in cols)))
        except FileNotFoundError:
            rows = []
    mins: dict[int, float] = {}
    for seg, ba, *_ in rows:
        if ba is not None:
            mins[seg] = min(ba, mins.get(seg, ba))
    protocol = [(seg, stage, status, started) for seg, _, stage, status, started in rows]
    excluded, union = reader_exclusions(protocol)
    return IndexSnapshot(n_docs, avgdl, {s: max(1.0, avgdl / v) for s, v in mins.items()},
                         excluded, union, docs_exclusions(protocol))


def check_format(spark: SparkSession, paths: IndexPaths,
                 consequence: str = "mutating would mix posting schemas in one "
                                    "directory; extend/merge/resume refuse it") -> None:
    """Refuse an index whose on-disk format differs from this code's
    INDEX_FORMAT. Mutations: appending new-format posting files next to
    old-format ones would leave a mixed-schema dir where aggregations
    either fail (column missing in the sampled footer) or silently
    undercount (nulls under F.sum) depending on which footer Spark
    samples (review r4 finding). Reads are gated too, by read_snapshot,
    since bytes of another layout would decode into wrong doc ids or
    tier codes; the block decoder (codec.decode_blocks) raises only
    when the value count differs. Indexes predating the marker (≤ v3)
    read as version 0."""
    version = read_format_version(paths.root, spark)
    if version != INDEX_FORMAT:
        raise format_mismatch(paths.root, version, consequence)


def _list_segments(spark: SparkSession, path: str) -> list[int]:
    """Enumerate segment_id=* partition dirs via the FileSystem API —
    pure metadata, no Spark job (Iceberg analog: partitions metadata
    table)."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("segment_id="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def _delete_path(spark: SparkSession, path: str) -> None:
    """FS-agnostic recursive delete via the Hadoop FileSystem API."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def _cleanup_uncommitted(spark: SparkSession, paths: IndexPaths, segments: Iterable[int]) -> None:
    """Idempotency guard: drop data for segments whose manifest row was
    never committed (crash window between data commit and manifest
    append) so a resume never double-appends blocks."""
    for s in segments:
        _delete_path(spark, f"{paths.postings}/segment_id={int(s)}")
        _delete_path(spark, f"{paths.terms}/segment_id={int(s)}")


def build_postings_for_segments(
    spark: SparkSession,
    docs: DataFrame,
    paths: IndexPaths,
    segments: Iterable[int],
    avgdl: float,
    k1: float = K1,
    b: float = B,
    block_size: int | None = None,
    store_positions: bool = False,
    chunk_size: int | None = None,
    n_docs_by_seg: dict[int, int] | None = None,
) -> list[dict]:
    """Build + commit postings and their terms/ summaries for the given
    segments; return manifest metric rows (not yet appended).
    store_positions adds a varint-encoded within-doc position list per posting (phrase /
    proximity queries — operators/phrase.py). chunk_size must match the
    docs table's salt chunking (operators/docs.py) — segment and salt
    are pure functions of doc_id, so the wide shuffle never ships them
    as columns.

    n_docs_by_seg: per-segment live doc counts, if the caller already
    knows them (build_index observes them during the norms write) —
    skips the norms-agg job here. Missing/None → one tiny agg job.

    Split into two halves so multi-batch builds can PIPELINE: the wide
    shuffle + postings write (_encode_and_write_postings) runs on the
    caller's thread, while the summary commit + metrics
    (_commit_terms_and_metrics) for the PREVIOUS batch overlaps it from
    a single commit worker (build_index). The two halves touch
    different table roots, so the concurrent writes never share an
    output-committer staging dir."""
    started = time.time()  # manifest started_at spans the WHOLE batch
    segs = _encode_and_write_postings(
        spark, docs, paths, segments, avgdl, k1, b, block_size, store_positions, chunk_size
    )
    if not segs:
        return []
    return _commit_terms_and_metrics(spark, paths, segs, avgdl, started, n_docs_by_seg)


def _encode_and_write_postings(
    spark: SparkSession,
    docs: DataFrame,
    paths: IndexPaths,
    segments: Iterable[int],
    avgdl: float,
    k1: float = K1,
    b: float = B,
    block_size: int | None = None,
    store_positions: bool = False,
    chunk_size: int | None = None,
) -> list[int]:
    """First half: the salted wide shuffle → vectorized encode →
    postings commit. Returns the requested segment ids (sorted,
    deduped) — a segment whose docs produce zero postings still counts
    as processed (the commit half marks it done with zero metrics so it
    is never endlessly re-cleaned on resume)."""
    from .docs import CHUNK_SIZE, SEG_STRIDE

    chunk = int(chunk_size or CHUNK_SIZE)
    segs = sorted(set(int(s) for s in segments))
    if not segs:
        return []
    started = time.time()
    batch = docs.filter(F.col("segment_id").isin(segs))
    # both paths pre-aggregate tf doc-locally (pure Catalyst, no extra
    # shuffle) and ship ONE ROW PER POSTING, its tf slot folded with the
    # tier code; the positional path packs the within-doc positions as
    # an int-array payload per posting and takes the code from the first
    if store_positions:
        toks = batch.select(
            "doc_id", "doc_len", F.explode(_term_tf_pos_pairs("tokens")).alias("p")
        ).select(
            "doc_id", "doc_len",
            tid_col(F.col("p.term")).alias("tid"),
            _tier_folded_tf(F.col("p.tf"), F.get(F.col("p.positions"), 0)).alias("tf"),
            F.col("p.positions").alias("positions"),
        )
    else:
        # the tier code from a bounded prefix probe: the term's index in
        # the doc's first max-window tokens (sliced once per doc),
        # O(window) per posting and no positions
        lead = F.slice("tokens", 1, max(w for _n, _s, w in DEFAULT_TIER_SPECS))
        at = F.array_position(F.col("lead"), F.col("p.term"))  # 1-based, 0: absent
        toks = batch.withColumn("lead", lead).select(
            "doc_id", "doc_len", "lead", F.explode(_term_tf_pairs("tokens")).alias("p"),
        ).select(
            "doc_id", "doc_len",
            tid_col(F.col("p.term")).alias("tid"),
            _tier_folded_tf(F.col("p.tf"), F.when(at > 0, at - 1)).alias("tf"),
        )
    # THE salted repartition — the build's single wide shuffle: all rows
    # of a (tid, segment, salt) group land in one partition, sorted so
    # groups are contiguous runs. Terms are dictionary-encoded to int64
    # BEFORE the exchange (tid_col): a shuffled row is four fixed 8-byte
    # slots — no variable-length string bytes, and the dominant sort
    # compares int64 prefixes instead of UTF8 strings. segment/salt are
    # DERIVED from doc_id (segment = id div 2^40, salt = rank-in-segment
    # div chunk) both in the partitioning expression here and vectorized
    # in the encoder — two fewer slots per shuffled row — and sorting by
    # (tid, doc_id) yields exactly the (tid, segment, salt, doc_id)
    # order because segment and salt are monotone in doc_id. The
    # vectorized stream encoder amortizes cost over ~10^5 groups per
    # task instead of paying per-group pandas overhead.
    seg_col = F.expr(f"CAST(doc_id DIV {SEG_STRIDE} AS INT)")
    salt_col = F.expr(f"CAST((doc_id % {SEG_STRIDE}) DIV {chunk} AS INT)")
    blocks = (
        toks.repartition(F.col("tid"), seg_col, salt_col)
        .sortWithinPartitions("tid", "doc_id")
        .mapInArrow(
            encode_stream_fn(avgdl, k1, b, block_size or codec.BLOCK_SIZE,
                             store_positions, chunk_size=chunk),
            schema=BLOCK_ROW_SCHEMA_POS if store_positions else BLOCK_ROW_SCHEMA,
        )
    )
    # Second, SMALL shuffle: one writer partition per segment → one
    # sorted run per segment dir; row-group min/max stats on `tid` give
    # query-time block pruning. This exchange moves only the COMPRESSED
    # index (~0.4% of the input bytes — 133 MB for 33 M postings at
    # sf0.1), and buys the layout serving and merges depend on; a
    # measured attempt to fold it into the first shuffle (partitioning
    # by (segment, salt) alone) saved nothing locally and would write
    # O(chunks) files per segment at scale.
    (
        blocks.repartition("segment_id")
        .sortWithinPartitions("tid", "first_doc")
        .write.mode("append")
        .partitionBy("segment_id")
        .parquet(paths.postings)
    )
    _trace("postings encode+write", started)
    return segs


def write_segment_summary(spark: SparkSession, paths: IndexPaths,
                          segs: list[int]) -> list[dict]:
    """Commit each segment's one-row terms/ summary (n_terms, n_postings,
    bytes) and return the summaries as manifest metrics, zero-filled for
    a segment with no postings (it gets no row, but is still marked done,
    so a resume never re-cleans and rebuilds it). One aggregate job over
    the committed postings' int columns (per-block `nbytes`, format v4,
    keeps the scan off the binary payloads); the rows are written
    driver-side. The build batches, extend/upsert and merge_segments all
    commit through here, before their manifest barrier."""
    got = {
        r.segment_id: {"segment_id": r.segment_id, "n_terms": int(r.n_terms),
                       "n_postings": int(r.n_postings), "bytes": int(r.bytes)}
        for r in spark.read.parquet(paths.postings)
        .filter(F.col("segment_id").isin(segs))
        .groupBy("segment_id")
        .agg(F.countDistinct("tid").alias("n_terms"), F.sum("n").alias("n_postings"),
             F.sum("nbytes").alias("bytes"))
        .collect()
    }
    cols = ("n_terms", "n_postings", "bytes")
    for s, m in got.items():
        write_small_parquet(
            spark, f"{paths.terms}/segment_id={s}",
            pd.DataFrame({c: pd.array([m[c]], dtype="int64") for c in cols}),
            "n_terms long, n_postings long, bytes long",
        )
    return [got.get(s, {"segment_id": s, "n_terms": 0, "n_postings": 0, "bytes": 0})
            for s in segs]


def read_segment_summary(paths: IndexPaths,
                         spark: SparkSession | None = None) -> dict[int, tuple]:
    """{segment: (n_terms, n_postings, bytes)} from the terms/ summary
    rows — a pyarrow read, no Spark job, except for a non-local URI
    scheme given a session (spark_reads)."""
    cols = ("segment_id", "n_terms", "n_postings", "bytes")
    if spark_reads(paths.terms, spark):
        t = read_or_none(spark, paths.terms)
        rows = [] if t is None else t.select(*cols).collect()
    else:
        import pyarrow.dataset as ds

        try:
            d = ds.dataset(paths.terms, format="parquet", partitioning="hive").to_table().to_pydict()
        except FileNotFoundError:
            d = {}
        rows = zip(*(d.get(c, []) for c in cols))
    return {int(s): (int(t), int(p), int(b)) for s, t, p, b in rows}


def _commit_terms_and_metrics(
    spark: SparkSession,
    paths: IndexPaths,
    segs: list[int],
    avgdl: float,
    started: float,
    n_docs_by_seg: dict[int, int] | None = None,
) -> list[dict]:
    """Second half: the segments' terms/ summaries + manifest metric
    rows. Reads paths.postings and paths.norms and writes only
    paths.terms — safe to overlap with the NEXT batch's postings write
    from a single commit worker."""
    _t = time.time()
    metrics = write_segment_summary(spark, paths, segs)
    _t = _trace("terms dir", _t)
    if n_docs_by_seg is None or any(s not in n_docs_by_seg for s in segs):
        n_docs_by_seg = {
            r.segment_id: r.n
            for r in (
                spark.read.parquet(paths.norms)
                .filter(F.col("segment_id").isin(segs))
                .groupBy("segment_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
        }
    _t = _trace("metrics", _t)
    finished = time.time()
    return [
        {
            **m,
            "stage": "postings",
            "status": "done",
            "n_docs": n_docs_by_seg.get(m["segment_id"], 0),
            "started_at": started,
            "finished_at": finished,
            "build_avgdl": float(avgdl),
        }
        for m in metrics
    ]


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    index_dir: str,
    n_segments: int = 8,
    k1: float = K1,
    b: float = B,
    batch_segments: int | list[int] | None = None,
    max_batches: int | None = None,
    extract: bool = False,
    chunk_size: int | None = None,
    block_size: int | None = None,
    store_positions: bool = False,
    verify_tids: bool = True,
) -> IndexPaths:
    """Full resumable build. Re-running after a crash (or after
    max_batches stopped it early) completes only pending segments.

    batch_segments controls manifest-commit granularity: segments are
    built in parallel within a batch (one Spark job) and the manifest
    row set is committed per batch. Smaller batches = finer resume
    granularity; None = all pending segments in one job; a LIST is an
    explicit tapered plan (e.g. [20, 8, 4] — the last batch's commit is
    the only one that can't overlap a following shuffle, so making it
    the smallest shrinks the build's serial tail).

    extract=True derives `text` from the `html` column via the pinned
    extraction spec (sources/extract.py, byte-identical per url) instead
    of trusting a pre-extracted text column — the full `input_hint`
    pipeline. The resulting index is identical when the table's text
    column already equals the extraction (tests/test_extract.py).
    """
    paths = IndexPaths(index_dir)
    LAST_TIMINGS.clear()
    _t0 = time.time()
    if extract:
        from ..sources.extract import extract_pages

        pages = extract_pages(pages)

    # ---- stage 'docs': ids + stats, committed once ----
    docs_commit = None  # deferred norms+manifest commit (runs on the
    #                     single commit worker, overlapped with the
    #                     postings stage — see below)
    if -1 not in done_segments(spark, paths, stage="docs"):
        t0 = time.time()
        _t = _trace("done_segments(docs)", _t0)
        from .docs import CHUNK_SIZE

        docs = build_docs(pages, n_segments=n_segments, chunk_size=chunk_size or CHUNK_SIZE)
        # build_docs already leaves rows hash-partitioned by segment_id
        # and window-sorted by (segment_id, url) == doc_id order within
        # each segment — re-partitioning + re-sorting here would shuffle
        # the fat text column a SECOND time for an identical layout
        # (measured: the docs stage was ~17 s at 4 AND 16 cores, i.e.
        # pure bandwidth burn). Write the window output directly, and
        # ride collection stats (count, EXACT integer sum of doc_len)
        # plus per-segment doc counts on it as OBSERVED aggregates — the
        # docs write is the window job's RESULT stage, where accumulator
        # updates dedupe across task retries.
        from pyspark.sql import Observation

        obs = Observation()
        exprs = [F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_len").alias("sum_dl")]
        count_segs = n_segments <= _OBS_SEG_CAP
        if count_segs:
            exprs += segment_count_exprs(range(n_segments))
        (
            docs.drop("tokens").observe(obs, *exprs)
            .write.mode("overwrite")
            .partitionBy("segment_id")
            .parquet(paths.docs)
        )
        vals = obs.get
        n_docs = int(vals["n_docs"] or 0)
        _t = _trace("docs write", _t)
        avgdl = write_collection_stats(spark, paths, n_docs, int(vals["sum_dl"] or 0))
        write_format_marker(spark, paths)
        if n_docs == 0:  # empty corpus: commit an empty-but-valid index
            append_manifest(
                spark,
                paths,
                [{"segment_id": -1, "stage": "docs", "status": "done", "n_docs": 0, "started_at": t0}],
            )
            return paths
        # per-segment docs rows carry the counts forward so the
        # postings stage (this run OR a resume) never re-aggregates
        # norms; the -1 row stays the stage-completion marker
        seg_rows = (
            [
                {"segment_id": s, "stage": "docs", "status": "done",
                 "n_docs": int(vals[f"c{s}"] or 0), "started_at": t0}
                for s in range(n_segments)
            ]
            if count_segs
            else []
        )
        n_docs_by_seg = {r["segment_id"]: r["n_docs"] for r in seg_rows} or None

        def docs_commit() -> None:
            # norms = 3-column pruned scan of the committed docs, landed
            # in place (docs are hive-partitioned by segment_id, so scan
            # tasks are segment-aligned — no exchange). Runs on the
            # commit worker OVERLAPPED with the first postings batch's
            # wide shuffle: nothing on the postings critical path reads
            # norms (doc counts were observed above), different table
            # roots, and the worker serializes this manifest append
            # before every postings-batch append. The docs-done manifest
            # row commits only after norms are durable, so a crash
            # mid-overlap re-runs the docs stage on resume — the same
            # contract as a crash between the old serial steps.
            _tw = time.time()
            doc_stats(spark.read.parquet(paths.docs)).write.mode(
                "overwrite"
            ).partitionBy("segment_id").parquet(paths.norms)
            append_manifest(
                spark,
                paths,
                seg_rows
                + [{"segment_id": -1, "stage": "docs", "status": "done", "n_docs": n_docs, "started_at": t0}],
            )
            _trace("norms+docs manifest (overlapped)", _tw)
    else:
        # resuming postings over an existing docs commit: the files we
        # append must match the committed generation's schema
        check_format(spark, paths)
        # a crashed extend's orphan docs dirs must NOT be mistaken for
        # pending fresh-build segments (they'd be folded in behind the
        # incremental stats chain's back) — GC them first; a crashed
        # merge likewise rolls back/forward before the resume looks at
        # segment dirs
        gc_aborted_extends(spark, paths)
        from .merge import gc_aborted_merges

        gc_aborted_merges(spark, paths)
        # recover per-segment doc counts from the manifest's docs rows
        # (absent on pre-r4 manifests → postings stage re-aggregates)
        m = read_or_none(spark, paths.manifest)
        seg_count_rows = (
            []
            if m is None
            else m.filter(
                (F.col("stage") == "docs") & (F.col("status") == "done") & (F.col("segment_id") >= 0)
            )
            .select("segment_id", "n_docs")
            .collect()
        )
        n_docs_by_seg = {r.segment_id: r.n_docs for r in seg_count_rows} or None
        stats = spark.read.parquet(paths.collection_stats).collect()[0]
        if not stats.n_docs:  # empty corpus: a valid (empty) index, no postings stage
            return paths
        avgdl = float(stats.avgdl)

    _t = time.time()
    docs = spark.read.parquet(paths.docs)
    from ..functions.tokenize import tokens_col  # re-derive tokens (cheap JVM regex)

    docs = docs.withColumn("tokens", tokens_col("text"))
    _t = _trace("docs re-read", _t)

    # segment enumeration from the partition directory listing — a
    # metadata operation, no table scan (Iceberg: partitions metadata table)
    all_segs = _list_segments(spark, paths.docs)
    _t = _trace("list_segments", _t)
    done = done_segments(spark, paths, stage="postings")
    pending = [s for s in all_segs if s not in done]
    if not pending:
        return paths

    _t = _trace("seg discovery", _t)
    _cleanup_uncommitted(spark, paths, pending)
    _t = _trace("cleanup", _t)
    if isinstance(batch_segments, (list, tuple)):
        # explicit batch PLAN (sizes in order; the last size repeats if
        # segments remain). A TAPERED plan — big batches first, a small
        # final batch — shrinks the only commit that cannot overlap
        # anything: the last batch's terms/metrics commit is the
        # build's serial tail, and its cost is batch-proportional.
        sizes = [int(s) for s in batch_segments if int(s) > 0]
        batches, i, j = [], 0, 0
        while i < len(pending):
            sz = sizes[min(j, len(sizes) - 1)] if sizes else len(pending)
            batches.append(pending[i : i + sz])
            i += sz
            j += 1
    else:
        bs = batch_segments or len(pending)
        batches = [pending[i : i + bs] for i in range(0, len(pending), bs)]
    if max_batches is not None:
        batches = batches[:max_batches]
    # PIPELINED commits: the docs-stage norms+manifest commit and batch
    # i's terms/ summary commit + manifest append run on ONE commit
    # worker while the postings wide shuffles run on this thread — the
    # serial metadata tail overlaps the data stages instead of adding
    # to the critical path (a single-batch build overlaps the norms
    # commit with its one shuffle; multi-batch builds overlap every
    # commit but the last). Safety: postings writes never overlap each
    # other (the handoff happens after each write completes); the
    # single worker serializes norms/terms writes AND manifest appends
    # (docs rows always land before any postings rows); the only
    # concurrent writes (postings vs norms/terms) target different
    # table roots, so they never share a committer staging dir. Crash
    # between a batch's postings commit and its manifest row leaves an
    # uncommitted segment that _cleanup_uncommitted deletes on resume —
    # and the docs-done row commits only after norms are durable, so a
    # crash mid-overlap re-runs the docs stage (same contract as the
    # old serial order).
    import threading
    from concurrent.futures import ThreadPoolExecutor

    def _commit_one(segs_built: list[int], t_start: float) -> None:
        rows = _commit_terms_and_metrics(
            spark, paths, segs_built, avgdl, t_start, n_docs_by_seg
        )
        append_manifest(spark, paths, rows)

    commit_failed = threading.Event()

    def _poisoned(fn, *args) -> None:
        # queued tasks still run during pool shutdown after an earlier
        # task raised (shutdown(wait=True) never cancels) — without
        # this guard a failed norms/docs commit would let a queued
        # postings-batch commit append its manifest rows anyway,
        # breaking the docs-rows-before-postings-rows ordering AND
        # wedging the index: a re-run would see every postings segment
        # done, find nothing pending, and return before ever
        # re-submitting the docs commit (review r4 finding). Any
        # commit failure poisons every later commit; the re-run then
        # re-runs the docs stage and rebuilds cleanly.
        if commit_failed.is_set():
            raise RuntimeError("skipping commit: an earlier pipelined commit failed")
        try:
            fn(*args)
        except BaseException:
            commit_failed.set()
            raise

    with ThreadPoolExecutor(1) as commit_pool:
        futures = []
        if docs_commit is not None:
            futures.append(commit_pool.submit(_poisoned, docs_commit))
        if verify_tids:
            # opt-out collision gate over exactly the segments THIS RUN
            # will encode (a resume — or a max_batches-limited run —
            # verifies only what it will write; later runs verify their
            # own batches). Runs ON THE COMMIT WORKER, overlapped with
            # the first postings shuffle, so the vocabulary pass adds no
            # critical-path time; because the single worker serializes
            # it BEFORE every postings-batch commit (and a failure
            # poisons them), the contract is: no posting COMMITS unless
            # the batch vocabulary is collision-free. A failed gate
            # leaves only uncommitted segment files, which
            # _cleanup_uncommitted removes on the next run.
            run_segs = [s for batch in batches for s in batch]

            def _verify() -> None:
                _tv = time.time()
                verify_tid_uniqueness(
                    spark, docs.filter(F.col("segment_id").isin(run_segs)))
                _trace("tid verify (overlapped)", _tv)

            futures.append(commit_pool.submit(_poisoned, _verify))
        for seg_batch in batches:
            for f in futures:
                if f.done():
                    f.result()  # fail fast if an earlier commit died
            t_start = time.time()
            segs_built = _encode_and_write_postings(
                spark, docs, paths, seg_batch, avgdl, k1, b, block_size,
                store_positions, chunk_size,
            )
            if segs_built:
                futures.append(commit_pool.submit(_poisoned, _commit_one, segs_built, t_start))
        _tj = time.time()
        for f in futures:
            f.result()
        _trace("commit join", _tj)
    from .wand import refresh_meta

    refresh_meta(index_dir)
    return paths


def verify_tid_uniqueness(spark: SparkSession, docs_with_tokens: DataFrame) -> None:
    """The in-build xxhash64 term-id collision gate (VERDICT r4 #3 —
    previously only the OPTIONAL term_dictionary sidecar checked this,
    so the core index trusted xxhash64(term) silently).

    One vocabulary-bounded job over the batch about to be indexed:
    distinct terms (explode(array_distinct) partial-aggregates
    per-partition before the exchange) mapped through tid_col must land
    on distinct tids; any tid owned by ≥2 terms raises with the
    colliding terms. In build_index the job rides the single commit
    worker, overlapped with the first postings shuffle and serialized
    BEFORE every postings-batch commit (a failure poisons them), so the
    tokenize+distinct pass adds no critical-path time and no posting
    ever COMMITS against a colliding vocabulary; extend/upsert folds
    run it inline before encoding. Opt out with verify_tids=False.

    Collision budget (why the check defaults ON): for v distinct terms,
    expected 64-bit collisions ≈ v²/2⁶⁵ — negligible at 10⁶ (~5×10⁻⁸)
    but ~0.03 at 10⁹ and ~2.7 EXPECTED collisions at 10¹⁰, the realistic
    vocabulary of 100 TB webtext under this tokenizer. A collision
    silently MERGES two terms' posting lists. The escape hatch at
    10¹⁰+ vocab is widening the key to 128 bits (two independent
    xxhash64 seeds in both functions/termhash.py and tid_col) — a
    format-version bump, not a redesign; this gate is what tells you
    the day you need it.

    Scope: batch-local (the terms of THIS build/fold). Cross-fold
    collisions against terms indexed by earlier folds require term
    strings the core index deliberately never stores — rebuild the
    term_dictionary sidecar (build_term_dictionary) for the
    whole-corpus check; it fails loudly on the same condition."""
    terms = (
        docs_with_tokens.select(
            F.explode(F.array_distinct("tokens")).alias("term"))
        .distinct()
        .withColumn("tid", tid_col("term"))
    )
    bad = (
        terms.groupBy("tid")
        .agg(F.count(F.lit(1)).alias("n"))  # terms are distinct already
        .filter(F.col("n") > 1)
        .limit(5)
        .collect()
    )
    if bad:
        tids = [int(r.tid) for r in bad]
        examples = sorted(
            (int(r.tid), r.term)
            for r in terms.filter(F.col("tid").isin(tids)).collect()
        )
        raise RuntimeError(
            f"xxhash64 term-id collision in this batch: {len(bad)}+ tids map "
            f"to multiple distinct terms (first pairs: {examples[:10]}) — "
            "their posting lists would merge silently. Widen the term key to "
            "128 bits (termhash.py + tid_col, format bump) or change the "
            "tokenization; verify_tids=False skips this gate."
        )


def gated_docs(spark: SparkSession, paths: IndexPaths):
    """The docs table with a crashed/in-flight EXTEND fold's orphan
    segments excluded (functions/liveness.py::docs_exclusions) — the
    corpus every docs-table consumer (exhaustive/bm25f engines,
    dictionary rebuild) should score, matching the index engines'
    manifest gating. Merge exclusions deliberately do NOT apply here:
    docs dirs never move across merges, so a fold's retired POSTINGS
    sources still own live docs dirs (review r4 finding)."""
    docs = spark.read.parquet(paths.docs)
    excluded = read_snapshot(paths.root, spark).docs_excluded
    if excluded:
        docs = docs.filter(~F.col("segment_id").isin(sorted(excluded)))
    return docs


def build_term_dictionary(spark: SparkSession, index_dir: str) -> int:
    """Materialize the OPTIONAL (term, tid, df) dictionary sidecar —
    the human-readable vocabulary map that fuzzy expansion
    (functions/intent.py) and debugging read. Deliberately OFF the
    build hot path: it re-scans + re-tokenizes the docs table (the
    exact cost that keying postings by tid removed from every
    build), so it runs once on demand, not per batch. The shuffle is
    vocabulary-bounded (explode(array_distinct) partial-aggregates
    per-partition-distinct terms before the exchange); output is one
    term-sorted table for prefix-pruned reads. df is document frequency
    at dictionary-build time (advisory — fuzzy uses it only to rank
    candidates). Doubles as the xxhash64 collision check: a tid mapping
    to two distinct terms fails loudly here. Returns the vocabulary
    size."""
    from ..functions.tokenize import tokens_col

    paths = IndexPaths(index_dir)
    docs = gated_docs(spark, paths)
    vocab = (
        docs.select(F.explode(F.array_distinct(tokens_col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("tid", tid_col("term"))
    )
    _delete_path(spark, paths.term_dict)
    vocab.repartitionByRange(16, "term").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).parquet(paths.term_dict)
    written = spark.read.parquet(paths.term_dict)
    counts = written.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("tid").alias("nt")
    ).collect()[0]
    if counts.n != counts.nt:
        # fail LOUDLY and leave no half-trusted sidecar behind
        _delete_path(spark, paths.term_dict)
        raise RuntimeError(
            f"xxhash64 term-id collision: {counts.n} distinct terms map to "
            f"{counts.nt} distinct tids — the colliding terms' posting lists "
            "would merge silently; rebuild with a different tokenization or "
            "report the colliding pair"
        )
    return int(counts.n)


def index_stats(spark: SparkSession, index_dir: str) -> dict:
    """Build metrics summary: the snapshot's stats plus the terms/
    summary rows of the served segments (driver-side reads, no Spark
    job on a local index)."""
    paths = IndexPaths(index_dir)
    snap = read_snapshot(paths.root, spark)
    out: dict = {"n_docs": snap.n_docs, "avgdl": snap.avgdl}
    # fold health: segments readers are gating out (an in-flight or
    # crashed extend/merge fold — heals on the next mutation's GC pass);
    # the served-corpus numbers below exclude them, matching what
    # queries actually see
    excluded = snap.excluded
    if excluded:
        out["gated_segments"] = sorted(excluded)
    live = [s for s in _list_segments(spark, paths.postings) if s not in excluded]
    out["segments"] = len(live)
    summary = read_segment_summary(paths, spark)
    if summary:
        kept = [v for s, v in summary.items() if s not in excluded]
        out.update(postings=sum(v[1] for v in kept), index_bytes=sum(v[2] for v in kept))
    return out

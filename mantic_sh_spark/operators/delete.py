"""Document deletion — LSM tombstones (the `deleted` leg of the
reference's stale-file diff, src/cache.ts:179-186 / A10 in SURVEY.md).

`delete_docs` appends doc ids to a tombstones table: queries exclude
them IMMEDIATELY (the top-k kernel checks liveness as it finalizes
docs — the Lucene live-docs pattern — so pruning bounds stay sound and
the top-k fills with the k best LIVE docs). The postings themselves are
immutable until `merge_segments(..., purge=True)` rewrites them away
and re-baselines collection stats.

Deleted docs keep contributing to df/avgdl until a purge — the
standard Lucene/LSM trade (scores drift only after enough deletes,
and a purge restores exactness; tests prove purge == fresh build on
the remaining corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import IndexPaths, read_or_none


def delete_docs_df(spark: SparkSession, index_dir: str, ids_df: DataFrame) -> int:
    """Tombstone a DataFrame of doc ids (column `doc_id`) — the
    scale path: the id set is never materialized on the driver; the
    tombstone table is written distributed. Returns the count (one
    agg job over the incoming set).

    The tombstones table is hive-partitioned by the segment whose
    POSTINGS currently hold each doc (ownership = the norms join —
    norms rows move with merges, so this stays correct across
    compaction generations). Query kernels then load only THEIR
    segment's liveness sidecar inside the task — no global tombstone
    array ever ships in a closure, so per-task cost is bounded by one
    segment's churn, not the index's. Ids with no norms row anywhere
    (never existed, or already purged) land under segment_id=-1: they
    have no postings, so no kernel needs them, and any purge clears
    them."""
    paths = IndexPaths(index_dir)
    ids_df = ids_df.select(F.col("doc_id").cast("long")).distinct()
    n = ids_df.count()
    if not n:
        return 0
    norms = read_or_none(spark, paths.norms)
    if norms is None:
        owned = ids_df.withColumn("segment_id", F.lit(-1))
    else:
        owned = ids_df.join(norms.select("doc_id", "segment_id"), "doc_id", "left").withColumn(
            "segment_id", F.coalesce(F.col("segment_id"), F.lit(-1))
        )
    owned.write.mode("append").partitionBy("segment_id").parquet(paths.tombstones)
    from .wand import refresh_meta

    refresh_meta(index_dir)
    return n


def delete_docs(
    spark: SparkSession,
    index_dir: str,
    doc_ids: list[int] | None = None,
    urls: list[str] | None = None,
) -> int:
    """Tombstone docs by id or url. Returns the number tombstoned.
    The url → doc_id resolution stays distributed (semi-join against
    the docs table); only the caller-supplied lists touch the driver."""
    import pandas as pd

    paths = IndexPaths(index_dir)
    parts = []
    if doc_ids:
        pdf = pd.DataFrame({"doc_id": pd.array(sorted(set(int(d) for d in doc_ids)), dtype="int64")})
        parts.append(spark.createDataFrame(pdf, "doc_id long"))
    if urls:
        upd = pd.DataFrame({"url": sorted(set(urls))})
        url_df = spark.createDataFrame(upd, "url string")
        parts.append(
            spark.read.parquet(paths.docs)
            .join(F.broadcast(url_df), "url", "left_semi")
            .select("doc_id")
        )
    if not parts:
        return 0
    ids_df = parts[0]
    for p in parts[1:]:
        ids_df = ids_df.unionByName(p)
    return delete_docs_df(spark, index_dir, ids_df)


def tombstone_df(spark: SparkSession, paths: IndexPaths) -> DataFrame | None:
    """Distinct tombstoned doc ids as a DataFrame (None if none) — the
    form every plan-side consumer (anti-joins, purge filters) uses, so
    no id list ever enters an expression tree or the driver."""
    t = read_or_none(spark, paths.tombstones)
    if t is None:
        return None
    return t.select("doc_id").distinct()


def tombstone_segments(spark: SparkSession, paths: IndexPaths) -> frozenset[int]:
    """Segments that currently have a tombstone partition — pure
    directory-listing metadata (no Spark job, no data read). Kernels
    consult this set to skip the sidecar read entirely for untouched
    segments (the common case)."""
    from .index_build import _list_segments

    return frozenset(_list_segments(spark, paths.tombstones))


def tombstone_count(spark: SparkSession, paths: IndexPaths) -> int:
    """Number of live (unsatisfied) tombstones — one distributed count,
    never an id list on the driver."""
    t = tombstone_df(spark, paths)
    return 0 if t is None else t.count()


def live_docs(docs: DataFrame, spark: SparkSession, paths: IndexPaths) -> DataFrame:
    """docs minus tombstones (anti-join) — the exhaustive-path filter."""
    t = read_or_none(spark, paths.tombstones)
    if t is None:
        return docs
    return docs.join(t.select("doc_id").distinct(), "doc_id", "left_anti")

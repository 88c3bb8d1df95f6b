"""Index-table catalog: Iceberg when configured, partitioned Parquet otherwise.

The reference persists its index as an atomically-renamed JSON file
(src/cache.ts:87-107) with version/staleness bookkeeping
(src/cache.ts:112-186). Here each index component is a table; atomic
visibility comes from Iceberg snapshot commits when an Iceberg catalog
is configured on the session, else from Spark's Parquet output-commit
protocol (job-level atomicity: a crashed job leaves only _temporary
dirs, never partial committed segment data). The `build_manifest`
table is the resume primitive — a segment is only considered built
once its manifest row is committed AFTER its data.

Sandbox note: no Iceberg runtime jar is installed locally, so the
Parquet path is what tests exercise; on a real cluster add
  --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
  --conf spark.sql.catalog.ice=org.apache.iceberg.spark.SparkCatalog
and pass table identifiers instead of paths.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.IntegerType(), False),
        T.StructField("stage", T.StringType(), False),  # 'docs' | 'postings'
        T.StructField("status", T.StringType(), False),  # 'done'
        T.StructField("n_docs", T.LongType(), True),
        T.StructField("n_terms", T.LongType(), True),
        T.StructField("n_postings", T.LongType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("started_at", T.DoubleType(), True),
        T.StructField("finished_at", T.DoubleType(), True),
        T.StructField("attempt", T.IntegerType(), True),
        # build-time avgdl for WAND bound inflation under avgdl drift
        # (was a separate segment_stats table; folded in to save a
        # commit per build batch)
        T.StructField("build_avgdl", T.DoubleType(), True),
    ]
)


@dataclass(frozen=True)
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def terms(self) -> str:
        """One summary row per segment (n_terms, n_postings, bytes —
        the segment's manifest metrics; index_build.write_segment_summary).
        Per-term df is Σn over postings, so no per-term table exists; the
        directory keeps its name because tools outside the package
        (perfbench's per-segment bytes) read `<index>/terms`."""
        return os.path.join(self.root, "terms")

    @property
    def norms(self) -> str:
        return os.path.join(self.root, "norms")

    @property
    def collection_stats(self) -> str:
        return os.path.join(self.root, "collection_stats")

    @property
    def tombstones(self) -> str:
        # deleted doc ids (LSM tombstones): queries exclude them
        # immediately; merge(purge=True) rewrites them away
        return os.path.join(self.root, "tombstones")

    @property
    def term_dict(self) -> str:
        # OPTIONAL (term, tid, df) vocabulary sidecar for fuzzy
        # expansion / debugging — built on demand
        # (operators/index_build.build_term_dictionary), never on the
        # build hot path; the core index carries no term strings
        return os.path.join(self.root, "term_dictionary")

    @property
    def format_marker(self) -> str:
        # one-row parquet recording the on-disk INDEX_FORMAT the index
        # was built with — mutations (extend/merge/resume) check it and
        # refuse to mix schema generations (index_build.check_format)
        return os.path.join(self.root, "format_version")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "build_manifest")


def _path_has_data(spark: SparkSession, path: str) -> bool:
    """FileSystem-API existence probe (no Spark job, no logged
    exception): true when the path exists and holds at least one
    non-hidden file — a 0-row parquet write leaves only _SUCCESS,
    which the parquet reader cannot infer a schema from."""
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    stack = [jpath]
    while stack:
        cur = stack.pop()
        for st in fs.listStatus(cur):
            name = st.getPath().getName()
            if name.startswith("_") or name.startswith("."):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                return True
    return False


def read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    if not _path_has_data(spark, path):
        return None
    return spark.read.parquet(path)


def write_small_parquet(spark: SparkSession, path: str, pdf, spark_schema: str) -> None:
    """Commit a TINY metadata table (collection stats, format marker)
    as ONE driver-written parquet file — no Spark job. Real table
    formats work this way (an Iceberg commit writes its manifests
    driver-side); scheduling a cluster job to write one row costs more
    in scheduler latency than the write itself, and those fixed seconds
    are exactly the build's serial tail. The pandas frame must already
    carry the exact dtypes the readers expect (int64/int32/float64 map
    1:1 to the parquet types Spark would have written). Falls back to a
    Spark write for filesystems pyarrow cannot reach. The fallback is
    DELIBERATELY narrow — filesystem/scheme reach only, not a blanket
    except: a bug in this path (bad dtype, API drift) must raise, not
    silently re-pay the scheduled-job tail forever (review r4
    finding)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    try:
        if "://" in path:
            fsys, fspath = pafs.FileSystem.from_uri(path)
        else:
            fsys, fspath = pafs.LocalFileSystem(), path
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, OSError, ValueError):
        # scheme pyarrow can't resolve (e.g. a cluster-only hdfs://
        # without libhdfs) — the one case the Spark write exists for
        spark.createDataFrame(pdf, spark_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        return
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    # Atomic swap, not delete-then-write: this path runs on every
    # extend/upsert fold close, and a crash between a delete and the
    # re-write would leave collection_stats / the format marker absent
    # (every reader raises until the next mutation's GC). Write the new
    # file dot-prefixed (invisible to Spark AND pyarrow dataset
    # discovery, both ignore '.'/'_' prefixes), then rename over the
    # final name — POSIX rename replaces atomically, so a reader always
    # sees exactly the old or the new one-row file.
    base = fspath.rstrip("/")
    info = fsys.get_file_info(base)
    if info.type == pafs.FileType.File:
        fsys.delete_file(base)  # pre-dir legacy layout; one-time
        info = fsys.get_file_info(base)
    if info.type == pafs.FileType.NotFound:
        fsys.create_dir(base, recursive=True)
    final = base + "/part-00000.parquet"
    # Legacy-layout convergence runs BEFORE the write, not after it
    # (review r5 finding): clearing legacy Spark part files after the
    # new rename leaves a crash window with TWO data files, and since
    # 'part-00000-<uuid>…' sorts before 'part-00000.parquet', readers
    # taking row [0] would serve the STALE row persistently. Instead:
    # if no canonical file exists, RENAME the single legacy data part
    # to the canonical name (atomic; content is the current row); then
    # delete any remaining legacy parts while the canonical file
    # serves. Every crash point leaves exactly one readable data file.
    # (A dir can only hold >1 legacy data part if a coalesce(1) write
    # somehow split — never observed; the rename picks the first and
    # the deletes converge the rest on the next call.)
    from pyarrow.fs import FileSelector

    legacy = sorted(
        fi.path
        for fi in fsys.get_file_info(FileSelector(base))
        if fi.type == pafs.FileType.File
        and fi.path.rsplit("/", 1)[-1] != "part-00000.parquet"
        and not fi.path.rsplit("/", 1)[-1].startswith((".", "_"))
    )
    if legacy:
        if fsys.get_file_info(final).type == pafs.FileType.NotFound:
            fsys.move(legacy[0], final)
            legacy = legacy[1:]
        for p in legacy:
            fsys.delete_file(p)
    tmp = base + "/.part-00000.parquet.tmp"
    with fsys.open_output_stream(tmp) as out:
        pq.write_table(tbl, out)
    fsys.move(tmp, final)


def read_manifest(spark: SparkSession, paths: IndexPaths) -> DataFrame:
    df = tables_for(spark, paths.root).read("build_manifest")
    if df is None:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return df


class ParquetTables:
    """Path-addressed table catalog (the sandbox-exercised form):
    components are partitioned-parquet dirs under the index root;
    atomicity comes from Spark's parquet output-commit protocol."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def read(self, name: str) -> DataFrame | None:
        return read_or_none(self.spark, os.path.join(self.root, name))

    def append(self, name: str, df: DataFrame) -> None:
        df.write.mode("append").parquet(os.path.join(self.root, name))

    def overwrite(self, name: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(os.path.join(self.root, name))


class IcebergTables:
    """Iceberg-catalog-addressed tables — the cluster deployment form.
    Components map to `<catalog>.<namespace>.<prefix>_<component>`
    Iceberg tables; every mutation is a snapshot commit (atomic
    visibility, time travel), and `merge_into` is the catalog-native
    form of the upsert fold (A12/A13).

    Real-run recipe (no Iceberg jar ships in this sandbox — the
    contract test drives this class against a recording fake):

        spark-submit \\
          --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.8.0 \\
          --conf spark.sql.catalog.ice=org.apache.iceberg.spark.SparkCatalog \\
          --conf spark.sql.catalog.ice.type=hadoop \\
          --conf spark.sql.catalog.ice.warehouse=s3://bucket/warehouse \\
          main.py build --pages ... --index iceberg://ice.search.myidx
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str, prefix: str):
        self.spark = spark
        self.catalog, self.namespace, self.prefix = catalog, namespace, prefix

    def ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{self.prefix}_{name}"

    def read(self, name: str) -> DataFrame | None:
        if not self.spark.catalog.tableExists(self.ident(name)):
            return None
        return self.spark.table(self.ident(name))

    def append(self, name: str, df: DataFrame) -> None:
        ident = self.ident(name)
        if self.spark.catalog.tableExists(ident):
            df.writeTo(ident).append()
        else:
            df.writeTo(ident).using("iceberg").create()

    def overwrite(self, name: str, df: DataFrame) -> None:
        df.writeTo(self.ident(name)).using("iceberg").createOrReplace()

    def merge_into(self, name: str, df: DataFrame, key: str = "doc_id",
                   source_alias: str = "src") -> None:
        """MERGE INTO <table> USING src ON key — update-else-insert; the
        snapshot-atomic form of the upsert fold."""
        ident = self.ident(name)
        df.createOrReplaceTempView(source_alias)
        self.spark.sql(
            f"MERGE INTO {ident} t USING {source_alias} s ON t.{key} = s.{key} "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )


def tables_for(spark: SparkSession, index_dir: str):
    """Catalog dispatch: `iceberg://<catalog>.<namespace>.<prefix>` →
    IcebergTables; any filesystem path → ParquetTables. The manifest
    read/append below routes through this, so the dispatch seam is on
    every build's hot path (parquet form) and under the contract test
    (iceberg form)."""
    if index_dir.startswith("iceberg://"):
        parts = index_dir[len("iceberg://"):].split(".")
        if len(parts) != 3:
            raise ValueError(
                f"iceberg index ref must be iceberg://<catalog>.<namespace>.<prefix>: {index_dir!r}"
            )
        return IcebergTables(spark, *parts)
    return ParquetTables(spark, index_dir)


def append_manifest(spark: SparkSession, paths: IndexPaths, rows: list[dict]) -> None:
    now = time.time()
    full = [
        {
            "segment_id": int(r["segment_id"]),
            "stage": r["stage"],
            "status": r.get("status", "done"),
            "n_docs": r.get("n_docs"),
            "n_terms": r.get("n_terms"),
            "n_postings": r.get("n_postings"),
            "bytes": r.get("bytes"),
            "started_at": r.get("started_at", now),
            "finished_at": r.get("finished_at", now),
            "attempt": r.get("attempt", 1),
            "build_avgdl": r.get("build_avgdl"),
        }
        for r in rows
    ]
    # pandas → Arrow path: createDataFrame from Python lists takes the
    # slow RDD route (seconds per call); from pandas it is one Arrow batch
    import pandas as pd

    pdf = pd.DataFrame(full, columns=[f.name for f in MANIFEST_SCHEMA.fields])
    tables_for(spark, paths.root).append(
        "build_manifest", spark.createDataFrame(pdf, MANIFEST_SCHEMA).coalesce(1)
    )


def done_segments(spark: SparkSession, paths: IndexPaths, stage: str = "postings") -> set[int]:
    m = read_or_none(spark, paths.manifest)
    if m is None:  # no manifest yet — avoid an empty-DataFrame Spark job
        return set()
    # dedup driver-side: the manifest is tiny and .distinct() would be
    # the session's first shuffle (expensive machinery spin-up)
    rows = m.filter((F.col("stage") == stage) & (F.col("status") == "done")).select("segment_id").collect()
    return {r.segment_id for r in rows}

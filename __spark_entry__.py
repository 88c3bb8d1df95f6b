"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship BM25 top-k over the sf0.001 documents table.
queries()      — one Spark callable per implemented operator
                 (SURVEY.md §2 inventory; see
                 mantic_sh_spark/plans/entry_queries.py).
oracle_sql()   — DuckDB-equivalent ANSI SQL for each query (the
                 correctness gate). All 49 queries() entries carry an
                 oracle — including the full index round-trips
                 wand_multi (compressed postings + Block-Max WAND),
                 phrase_index_topk (positional postings + exact-phrase
                 top-k), phrase_slop (proximity match), bm25f_topk
                 (field-weighted scoring), and semantic_rerank
                 (BM25 candidates → hashed-embedding cosine). Internals with no SQL form
                 (codec round-trips, WAND pruning, streaming state,
                 LSH recall) are pytest-verified;
                 see COVERAGE.md.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: exhaustive BM25 top-10 for a fixed multi-term
    query over /root/testdata/sf0.001 — the same engine path the
    synthetic-corpus index serves via Block-Max WAND."""
    from mantic_sh_spark.plans.entry_queries import q_bm25_multi

    return q_bm25_multi(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mantic_sh_spark.plans.entry_queries import REGISTRY

    return {name: fn for name, (fn, _sql) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    from mantic_sh_spark.plans.entry_queries import REGISTRY

    return {name: sql for name, (_fn, sql) in REGISTRY.items() if sql is not None}

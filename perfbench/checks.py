"""Output checks, run outside every timed region. The Spark engines give
the expected results (exhaustive_topk, spark_phrase); the compare_*
functions hold an IndexReader's answers against them and return a list of
mismatch messages, empty when the outputs are correct. The two halves may
run in different processes: expected results are plain lists."""

from __future__ import annotations


def exhaustive_topk(spark, index_dir: str, queries: list[str], k: int = 10) -> list[list]:
    """Per query, [doc_id, score rounded to 4 decimals] of the exhaustive
    engine over the live, gated docs, ties broken by doc_id. Scores use
    the index's collection stats over every doc still in the table and
    drop tombstoned docs from the results, as the CLI's exhaustive path
    does."""
    from pyspark.sql import functions as F

    from mantic_sh_spark.functions.tokenize import tokens_col
    from mantic_sh_spark.operators.delete import tombstone_df
    from mantic_sh_spark.operators.index_build import gated_docs
    from mantic_sh_spark.operators.query import _all_query_terms, bm25_scores, query_terms_df, rank_topk
    from mantic_sh_spark.sources.catalog import IndexPaths

    paths = IndexPaths(index_dir)
    qs = list(enumerate(queries))
    docs = gated_docs(spark, paths).withColumn("tokens", tokens_col("text"))
    scores = bm25_scores(docs, query_terms_df(spark, qs), qterm_list=_all_query_terms(qs))
    dead = tombstone_df(spark, paths)
    if dead is not None:
        scores = scores.join(dead, "doc_id", "left_anti")
    want: list[list] = [[] for _ in qs]
    for r in rank_topk(scores, k).orderBy("query_id", F.col("rank")).collect():
        want[r.query_id].append([int(r.doc_id), round(float(r.score), 4)])
    return want


def compare_topk(reader, queries: list[str], want: list[list], k: int = 10) -> list[str]:
    """IndexReader.topk against exhaustive_topk: rank identity, scores
    rounded to 4 decimals."""
    out = []
    for q, w in zip(queries, want):
        got = [[int(d), round(float(s), 4)] for d, s in reader.topk(q, k)]
        if got != w:
            out.append(f"topk {q!r}: reader {got[:3]}... != exhaustive {w[:3]}...")
    return out


def spark_phrase(spark, index_dir: str, phrases: list[str], k: int = 10) -> list[list]:
    """Per phrase, [doc_id, n_matches] of the Spark phrase operator."""
    from mantic_sh_spark.operators.phrase import phrase_topk

    want: list[list] = [[] for _ in phrases]
    for r in phrase_topk(spark, index_dir, list(enumerate(phrases)), k=k).orderBy("query_id", "rank").collect():
        want[r.query_id].append([int(r.doc_id), int(r.n_matches)])
    return want


def compare_phrase(reader, phrases: list[str], want: list[list], k: int = 10) -> list[str]:
    """IndexReader.phrase_topk against spark_phrase; every phrase is lifted
    from the corpus, so an empty answer is wrong too."""
    out = []
    for p, w in zip(phrases, want):
        got = [[int(d), int(n)] for d, n in reader.phrase_topk(p, k)]
        if got != w:
            out.append(f"phrase {p!r}: reader {got[:3]} != spark {w[:3]}")
        elif not got:
            out.append(f"phrase {p!r}: no match for a phrase lifted from the corpus")
    return out


def build_parity(stats_a: dict, stats_b: dict) -> list[str]:
    return [f"build {key}: {stats_a.get(key)} != {stats_b.get(key)}"
            for key in ("n_docs", "postings") if stats_a.get(key) != stats_b.get(key)]


def registry_oracle(con, name: str, spark_pdf, oracle_sql: str) -> list[str]:
    """A registry query's Spark rows against its DuckDB oracle, compared the
    way tools/check_oracles.py compares them (order-insensitive)."""
    from tools.check_oracles import compare

    err = compare(spark_pdf, con.execute(oracle_sql).df())
    return [f"registry {name}: {err}"] if err else []

"""mantic_sh_spark — a PySpark-native inverted-index + BM25 query engine.

A from-scratch rebuild of the *capabilities* of azaj01/Mantic.sh (a
single-node structural code-search engine, see /root/reference and
SURVEY.md) as an idiomatic Spark pipeline:

    pages (url, warc_ts, html, text, lang)
      → extract (mapInPandas, byte-identical per url)
      → docs + doc_stats + collection_stats
      → (term, doc_id, tf, dl) triples
      → salted range-chunk repartition (ONE wide shuffle) → delta+varint
        posting blocks with block-max metadata (vectorized mapInArrow)
      → per-segment postings + norms + build_manifest (resumable)
      → query: exhaustive DataFrame BM25 or block-interval top-k

Everything is DataFrame / Arrow-UDF based; no per-row Python in hot
paths, no RDDs. Queries are served by a block-max pruned top-k over compressed
posting blocks with per-segment execution and a deterministic global
merge; builds are resumable via a per-segment manifest; incremental
pages fold in as fresh segments and compact via a streaming k-way merge.
"""

__version__ = "0.1.0"

"""Incremental maintenance (ST2): extend an index with new pages; WAND
must stay rank-identical to the exhaustive engine over the COMBINED
corpus even though old segments' block maxima were built at the old
avgdl (bound-inflation path)."""

from dataclasses import replace

from pyspark.sql import functions as F

from mantic_sh_spark.functions.tokenize import tokens_col
from mantic_sh_spark.operators.index_build import build_index
from mantic_sh_spark.operators.query import bm25_topk
from mantic_sh_spark.operators.wand import wand_topk
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries
from mantic_sh_spark.streaming.incremental import extend_index


def _collect(df):
    return sorted((r.query_id, r.rank, r.doc_id, round(r.score, 4)) for r in df.collect())


def test_extend_then_query(spark, tmp_path):
    cfg = SynthConfig(n_docs=250, vocab_size=400, seed=21, len_mu=4.2)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3)

    # new batch with LONGER docs → global avgdl drifts UP (the regime
    # where stale block maxima would under-bound without inflation)
    cfg2 = replace(cfg, seed=22, len_mu=5.2, needle_every=0)
    new_pages = gen_pages(spark, cfg2, partitions=2).withColumn(
        "url", F.regexp_replace("url", "example/", "example/new/")
    )
    segs = extend_index(spark, idx, new_pages, n_new_segments=2)
    assert min(segs) >= 3

    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    assert docs.count() == 500

    queries = gen_queries(cfg, n_queries=16)
    ex = _collect(bm25_topk(spark, docs, queries, k=10))
    wd = _collect(wand_topk(spark, idx, queries, k=10))
    assert ex == wd

    # results include docs from both generations
    new_docs = {r.doc_id for r in spark.read.parquet(f"{idx}/docs").filter(F.col("segment_id") >= 3).select("doc_id").collect()}
    hit_docs = {d for (_, _, d, _) in wd}
    assert hit_docs & new_docs, "extended docs must be retrievable"


def test_stream_index(spark, tmp_path):
    """availableNow streaming fold over a directory of page files."""
    cfg = SynthConfig(n_docs=120, vocab_size=300, seed=31)
    pages_dir = str(tmp_path / "pages_stream")
    gen_pages(spark, cfg, partitions=2).write.parquet(pages_dir)
    idx = str(tmp_path / "idx_s")
    # bootstrap with a tiny base index so extend has something to fold into
    base = gen_pages(spark, replace(cfg, seed=32, n_docs=40), partitions=1).withColumn(
        "url", F.regexp_replace("url", "example/", "example/base/")
    )
    build_index(spark, base, idx, n_segments=2)

    q = __import__("mantic_sh_spark.streaming.incremental", fromlist=["stream_index"]).stream_index(
        spark, pages_dir, idx, str(tmp_path / "ckpt"), n_new_segments=2
    )
    q.awaitTermination(120)
    docs = spark.read.parquet(f"{idx}/docs")
    assert docs.count() == 160
    res = wand_topk(spark, idx, [(0, "w0x")], k=5)
    assert res.count() == 5


def test_extend_positional_index_keeps_positions(spark, tmp_path):
    """Extending a positional index must append POSITIONAL postings
    (store_positions auto-detected from the committed schema) — phrase
    queries over docs in the NEW segments would otherwise crash or
    silently miss (ADVICE r1, high)."""
    from mantic_sh_spark.functions.tokenize import tokenize
    from mantic_sh_spark.operators.phrase import phrase_topk

    cfg = SynthConfig(n_docs=200, vocab_size=120, seed=47)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "posidx")
    build_index(spark, pages, idx, n_segments=2, chunk_size=64, block_size=32,
                store_positions=True)

    cfg2 = replace(cfg, seed=48, needle_every=0)
    new_pages = gen_pages(spark, cfg2, partitions=2).withColumn(
        "url", F.regexp_replace("url", "example/", "example/new/")
    )
    segs = extend_index(spark, idx, new_pages, n_new_segments=2)

    # new segments carry non-null positions bytes
    new_posts = spark.read.parquet(f"{idx}/postings").filter(F.col("segment_id").isin(segs))
    assert "positions" in new_posts.columns
    assert new_posts.filter(F.col("positions").isNull()).count() == 0

    # phrase results over the combined corpus equal a token-scan oracle
    phrase = "w0x w1x"
    res = {(r.doc_id, r.n_matches) for r in phrase_topk(spark, idx, [(0, phrase)], k=100000).collect()}
    terms = tokenize(phrase)
    oracle = set()
    for r in spark.read.parquet(f"{idx}/docs").select("doc_id", "text").collect():
        toks = tokenize(r.text)
        n = sum(1 for i in range(len(toks) - 1) if toks[i : i + 2] == terms)
        if n:
            oracle.add((r.doc_id, n))
    assert res == oracle and oracle, "phrase must match oracle over old AND new segments"
    new_doc_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{idx}/docs").filter(F.col("segment_id").isin(segs)).select("doc_id").collect()
    }
    assert {d for d, _ in oracle} & new_doc_ids, "oracle must cover new-segment docs"


def test_upsert_matches_fresh_build(spark, tmp_path):
    """upsert_pages on a batch of {modified, added, unchanged} pages,
    followed by a purge-merge, must be query-identical to a fresh
    build over the updated corpus (the cache.ts:191-219 analog; same
    bar as the purge test)."""
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.streaming.incremental import upsert_pages

    cfg = SynthConfig(n_docs=240, vocab_size=220, seed=61)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2, chunk_size=48, block_size=16)

    # modified: 40 urls get new content; added: 30 new urls; plus 50 unchanged
    mod_urls = [r.url for r in pages.select("url").orderBy("url").limit(40).collect()]
    modified = pages.filter(F.col("url").isin(mod_urls)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzmodified zzmodified"))
    )
    added = gen_pages(spark, replace(cfg, seed=62, n_docs=30, needle_every=0), partitions=2
                      ).withColumn("url", F.regexp_replace("url", "example/", "example/v2/"))
    unchanged = pages.filter(~F.col("url").isin(mod_urls)).limit(50)
    batch = modified.unionByName(added).unionByName(unchanged)

    res = upsert_pages(spark, idx, batch, n_new_segments=2)
    assert res["modified"] == 40 and res["added"] == 30 and res["unchanged"] == 50
    assert len(res["segments"]) == 2

    # re-upserting the same batch is a no-op (idempotent delta)
    res2 = upsert_pages(spark, idx, batch, n_new_segments=2)
    assert res2 == {"added": 0, "modified": 0, "unchanged": 120, "segments": []}

    # make the tombstones physical, then compare against a fresh build
    all_segs = sorted(
        r.segment_id
        for r in spark.read.parquet(f"{idx}/docs").select("segment_id").distinct().collect()
    )
    merge_segments(spark, idx, all_segs, dst_segment=max(all_segs) + 1, purge=True)

    updated_corpus = pages.filter(~F.col("url").isin(mod_urls)).unionByName(modified).unionByName(added)
    fresh = str(tmp_path / "fresh")
    build_index(spark, updated_corpus, fresh, n_segments=2)

    queries = gen_queries(cfg, n_queries=12) + [(100, "zzmodified")]

    def by_url(index_dir):
        res = wand_topk(spark, index_dir, queries, k=6)
        d = spark.read.parquet(f"{index_dir}/docs").select("doc_id", "url")
        rows = res.join(d, "doc_id").orderBy("query_id", "rank").collect()
        out = {}
        for r in rows:
            out.setdefault(r.query_id, []).append((r.url, r.score))
        return out

    def normalize(res):
        """Tie-group-aware form: internal doc ids (the tie-break) differ
        between an upserted index and a fresh build, so equal-score docs
        may legally reorder; the k-boundary tie group may legally swap
        members. Compare score sequences + url sets per interior score."""
        out = {}
        for qid, items in res.items():
            scores = [s for _, s in items]
            groups = {}
            for u, s in items:
                groups.setdefault(s, set()).add(u)
            boundary = scores[-1]
            out[qid] = (
                scores,
                {s: (us if s != boundary else len(us)) for s, us in groups.items()},
            )
        return out

    assert normalize(by_url(idx)) == normalize(by_url(fresh))


def test_stream_upsert_mode_with_auto_compact(spark, tmp_path):
    """Streaming recrawl feed: mode='upsert' folds {modified, added}
    batches with tombstoning, and max_segments triggers the LSM
    auto-compaction policy — results stay rank-identical to the
    exhaustive engine over the final live corpus."""
    from mantic_sh_spark.operators.index_build import _list_segments
    from mantic_sh_spark.sources.catalog import IndexPaths
    from mantic_sh_spark.streaming.incremental import stream_index

    cfg = SynthConfig(n_docs=150, vocab_size=250, seed=71)
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2, chunk_size=64, block_size=16)

    # feed: 40 modified urls + 30 new urls, as TWO files (micro-batches)
    feed_dir = str(tmp_path / "feed")
    mod_urls = [r.url for r in pages.select("url").orderBy("url").limit(40).collect()]
    modified = pages.filter(F.col("url").isin(mod_urls)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzrecrawl"))
    )
    added = gen_pages(spark, replace(cfg, seed=72, n_docs=30, needle_every=0), partitions=1
                      ).withColumn("url", F.regexp_replace("url", "example/", "example/r2/"))
    modified.coalesce(1).write.parquet(feed_dir)
    added.coalesce(1).write.mode("append").parquet(feed_dir)

    q = stream_index(spark, feed_dir, idx, str(tmp_path / "ckpt"),
                     n_new_segments=2, mode="upsert", max_segments=3)
    q.awaitTermination(180)

    # auto-compaction kept the segment count bounded
    assert len(_list_segments(spark, IndexPaths(idx).postings)) <= 3

    docs = spark.read.parquet(f"{idx}/docs")
    from mantic_sh_spark.operators.delete import live_docs, tombstone_df

    # the LIVE view is exactly the updated corpus; old modified versions
    # are tombstoned (and physically purged only when a compaction folds
    # their owner segment — the LSM contract)
    live = live_docs(docs, spark, IndexPaths(idx))
    assert live.count() == 150 + 30

    # pre-purge parity contract (as in test_delete): WAND scores with
    # stats over ALL docs still in the table (incl. tombstoned-unpurged)
    # and excludes dead docs at the heap — so the exhaustive twin scores
    # the full table, then filters to live and truncates to k
    t_df = tombstone_df(spark, IndexPaths(idx))
    dead = set() if t_df is None else {r.doc_id for r in t_df.collect()}
    queries = gen_queries(cfg, n_queries=10) + [(50, "zzrecrawl")]
    all_docs = docs.withColumn("tokens", tokens_col("text"))
    ex_rows = bm25_topk(spark, all_docs, queries, k=6 + len(dead)).orderBy("query_id", "rank").collect()
    want = {}
    for r in ex_rows:
        if r.doc_id in dead:
            continue
        want.setdefault(r.query_id, [])
        if len(want[r.query_id]) < 6:
            want[r.query_id].append((r.doc_id, round(r.score, 4)))
    got = {}
    for r in wand_topk(spark, idx, queries, k=6).orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append((r.doc_id, round(r.score, 4)))
    assert got == {q: v for q, v in want.items() if v}
    assert 50 in got, "recrawled content must be retrievable"


def test_incremental_stats_bit_identical_to_fresh(spark, tmp_path, monkeypatch):
    """Format v5: extend updates collection_stats from the stored
    integer sum_dl + the fold's observed delta — the result must be
    BIT-identical (n_docs, sum_dl, avgdl) to a fresh build over the
    combined corpus, on both the observed and the fallback
    (>_OBS_SEG_CAP) delta paths. Rank identity alone only pins avgdl
    to 4 decimals; this pins the chain exactly."""
    import mantic_sh_spark.operators.index_build as ib

    cfg = SynthConfig(n_docs=180, vocab_size=300, seed=71, len_mu=4.0)
    base = gen_pages(spark, cfg, partitions=2)
    cfg2 = replace(cfg, seed=72, n_docs=90, len_mu=5.0, needle_every=0)
    extra = gen_pages(spark, cfg2, partitions=2).withColumn(
        "url", F.regexp_replace("url", "example/", "example/x/")
    )

    fresh = str(tmp_path / "fresh")
    build_index(spark, base.unionByName(extra), fresh, n_segments=3)
    want = spark.read.parquet(f"{fresh}/collection_stats").collect()[0]

    for name, cap in [("obs", 64), ("fb", 0)]:
        idx = str(tmp_path / name)
        monkeypatch.setattr(ib, "_OBS_SEG_CAP", 64)  # base build observed
        build_index(spark, base, idx, n_segments=2)
        monkeypatch.setattr(ib, "_OBS_SEG_CAP", cap)
        extend_index(spark, idx, extra, n_new_segments=1)
        got = spark.read.parquet(f"{idx}/collection_stats").collect()[0]
        assert (got.n_docs, got.sum_dl) == (want.n_docs, want.sum_dl), name
        assert got.avgdl == want.avgdl, name  # bit-equal, not approx


def test_crashed_extend_gc_heals_stats_and_corpus(spark, tmp_path, monkeypatch):
    """A fold that crashes mid-way (here: after intent rows, docs and
    norms appends, and the stats update — before postings commit)
    leaves orphan segment dirs and drifted collection_stats. The next
    extend must garbage-collect the partial fold via its 'started'
    intent rows and re-baseline stats, so the retried fold lands
    bit-identical to a fresh build over the combined corpus."""
    import pytest

    import mantic_sh_spark.streaming.incremental as inc

    cfg = SynthConfig(n_docs=200, vocab_size=300, seed=81)
    base = gen_pages(spark, cfg, partitions=2)
    extra = gen_pages(spark, replace(cfg, seed=82, n_docs=100, needle_every=0), partitions=2
                      ).withColumn("url", F.regexp_replace("url", "example/", "example/x/"))
    idx = str(tmp_path / "idx")
    build_index(spark, base, idx, n_segments=2)
    base_stats = spark.read.parquet(f"{idx}/collection_stats").collect()[0]

    real = inc.build_postings_for_segments

    def boom(*a, **k):
        raise RuntimeError("injected postings crash")

    monkeypatch.setattr(inc, "build_postings_for_segments", boom)
    with pytest.raises(RuntimeError, match="injected postings crash"):
        extend_index(spark, idx, extra, n_new_segments=2)
    monkeypatch.setattr(inc, "build_postings_for_segments", real)
    # the stats commit is DEFERRED to the fold close (review r4), so a
    # crash mid-fold leaves the on-disk stats describing the pre-fold
    # corpus — consistent with the segment set manifest-gated readers
    # serve in the crash window
    drifted = spark.read.parquet(f"{idx}/collection_stats").collect()[0]
    assert (drifted.n_docs, drifted.sum_dl) == (base_stats.n_docs, base_stats.sum_dl)

    segs = extend_index(spark, idx, extra, n_new_segments=2)  # retry heals first
    assert segs

    fresh = str(tmp_path / "fresh")
    build_index(spark, base.unionByName(extra), fresh, n_segments=2)
    fs = spark.read.parquet(f"{fresh}/collection_stats").collect()[0]
    gs = spark.read.parquet(f"{idx}/collection_stats").collect()[0]
    assert (gs.n_docs, gs.sum_dl, gs.avgdl) == (fs.n_docs, fs.sum_dl, fs.avgdl)
    assert spark.read.parquet(f"{idx}/norms").count() == gs.n_docs, "no orphan norms rows"

    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    assert docs.count() == 300, "no duplicate or orphan docs rows"
    queries = gen_queries(cfg, n_queries=8)
    assert _collect(bm25_topk(spark, docs, queries, k=10)) == _collect(
        wand_topk(spark, idx, queries, k=10)
    )

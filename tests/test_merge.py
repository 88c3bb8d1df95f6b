"""Merge test (SURVEY.md §5.2 #6): build per-partition segments, merge,
query results identical to the unmerged index."""

from pyspark.sql import functions as F

from mantic_sh_spark.operators.index_build import build_index
from mantic_sh_spark.operators.merge import merge_segments
from mantic_sh_spark.operators.wand import wand_topk
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries


def _collect(df):
    return sorted((r.query_id, r.rank, r.doc_id, round(r.score, 4)) for r in df.collect())


def test_merge_preserves_results(spark, tmp_path):
    cfg = SynthConfig(n_docs=300, vocab_size=400, seed=7)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=4)
    queries = gen_queries(cfg, n_queries=12)

    before = _collect(wand_topk(spark, idx, queries, k=10))
    avgdl = spark.read.parquet(f"{idx}/collection_stats").collect()[0].avgdl

    dst = merge_segments(spark, idx, [0, 1])
    # every block is re-encoded at the merge-time avgdl, which the dst
    # records as its build_avgdl (the query-time bound inflation base)
    assert {r.build_avgdl for r in spark.read.parquet(f"{idx}/build_manifest").filter(
        (F.col("segment_id") == dst) & F.col("status").isin("committed", "done")
    ).collect()} == {avgdl}
    segs = [r.segment_id for r in spark.read.parquet(f"{idx}/postings").select("segment_id").distinct().collect()]
    assert sorted(segs) == sorted({dst, 2, 3})

    after = _collect(wand_topk(spark, idx, queries, k=10))
    assert before == after

    # compaction: no undersized blocks except the final block per term
    p = spark.read.parquet(f"{idx}/postings").filter(F.col("segment_id") == dst)
    from pyspark.sql import Window

    w = Window.partitionBy("tid").orderBy(F.desc("first_doc"))
    ragged = (
        p.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 1) & (F.col("n") < 128))
        .count()
    )
    assert ragged == 0


def test_compaction_defragments_and_preserves_results(spark, tmp_path):
    """Build with tiny chunks (many ragged tail blocks), merge-with-
    compact into one segment: block count must drop (defragmentation),
    and WAND results must stay rank-identical to the exhaustive engine."""
    from pyspark.sql import functions as F

    from mantic_sh_spark.functions.tokenize import tokens_col
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.operators.query import bm25_topk
    from mantic_sh_spark.operators.wand import wand_topk
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries

    cfg = SynthConfig(n_docs=400, vocab_size=300, seed=19)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3, chunk_size=32, block_size=16)

    before = spark.read.parquet(f"{idx}/postings").count()
    dst = merge_segments(spark, idx, [0, 1, 2], dst_segment=7)
    assert dst == 7
    after_df = spark.read.parquet(f"{idx}/postings")
    after = after_df.count()
    assert after < before, f"compaction should shrink block count ({before} -> {after})"
    # every non-final block of a term should be full (16): at most one
    # ragged block per (term, partition boundary)
    ragged = after_df.filter(F.col("n") < 16).groupBy("tid").count().filter("count > 2").count()
    assert ragged == 0

    queries = gen_queries(cfg, n_queries=12)
    rw = wand_topk(spark, idx, queries, k=8).orderBy("query_id", "rank").collect()
    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    rx = bm25_topk(spark, docs, queries, k=8).orderBy("query_id", "rank").collect()
    assert [(r.query_id, r.doc_id, r.score) for r in rw] == [
        (r.query_id, r.doc_id, r.score) for r in rx
    ]


def test_purge_across_compaction_generations(spark, tmp_path):
    """Review r2 findings 1+2: after a compaction (a) extend must NOT
    reuse the compacted postings segment id, and (b) tombstones on docs
    whose postings moved into the compacted segment must still purge —
    ownership comes from norms (which move), not doc_id DIV stride
    (which names the original segment); the docs-table rows must also
    physically disappear even though docs dirs never move."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from mantic_sh_spark.operators.delete import delete_docs, tombstone_count
    from mantic_sh_spark.operators.index_build import _list_segments
    from mantic_sh_spark.operators.wand import wand_topk
    from mantic_sh_spark.sources.catalog import IndexPaths
    from mantic_sh_spark.streaming.incremental import extend_index

    cfg = SynthConfig(n_docs=240, vocab_size=220, seed=91)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3, chunk_size=64, block_size=16)
    paths = IndexPaths(idx)

    # generation 1: compact segments [0, 1] → fresh postings segment
    dst1 = merge_segments(spark, idx, [0, 1], dst_segment=5, purge=True)
    assert dst1 == 5

    # (a) extend must allocate PAST the compacted postings id even
    # though docs dirs still end at segment 2
    more = gen_pages(spark, replace(cfg, seed=92, n_docs=60, needle_every=0), partitions=2
                     ).withColumn("url", F.regexp_replace("url", "example/", "example/g2/"))
    new_segs = extend_index(spark, idx, more, n_new_segments=1)
    assert min(new_segs) > dst1, f"segment id collision: {new_segs} vs dst {dst1}"

    # (b) delete docs that ORIGINALLY lived in segment 0 (postings now
    # in segment 5); purge-merge of [5] must clear them
    victims = [
        r.doc_id
        for r in spark.read.parquet(paths.docs)
        .filter(F.col("segment_id") == 0).select("doc_id").orderBy("doc_id").limit(20).collect()
    ]
    victim_urls = {r.url for r in spark.read.parquet(paths.docs)
                   .filter(F.col("doc_id").isin(victims)).collect()}
    delete_docs(spark, idx, doc_ids=victims)

    merge_segments(spark, idx, [dst1], dst_segment=9, purge=True)
    assert tombstone_count(spark, paths) == 0, "tombstones must purge across generations"
    remaining_ids = {r.doc_id for r in spark.read.parquet(paths.docs).select("doc_id").collect()}
    assert not (remaining_ids & set(victims)), "purged docs rows must leave the docs table"
    stats = spark.read.parquet(paths.collection_stats).collect()[0]
    assert stats.n_docs == 240 + 60 - 20

    # end state equals a fresh build over the surviving corpus (by url)
    fresh = str(tmp_path / "fresh")
    corpus = pages.filter(~F.col("url").isin(list(victim_urls))).unionByName(more)
    build_index(spark, corpus, fresh, n_segments=2)
    queries = gen_queries(cfg, n_queries=10)

    def by_url(index_dir):
        res = wand_topk(spark, index_dir, queries, k=5)
        d = spark.read.parquet(f"{index_dir}/docs").select("doc_id", "url")
        rows = res.join(d, "doc_id").orderBy("query_id", "rank").collect()
        out = {}
        for r in rows:
            out.setdefault(r.query_id, []).append((r.url, r.score))
        return out

    def normalize(res):
        out = {}
        for qid, items in res.items():
            scores = [s for _, s in items]
            groups = {}
            for u, s in items:
                groups.setdefault(s, set()).add(u)
            boundary = scores[-1]
            out[qid] = (scores, {s: (us if s != boundary else len(us)) for s, us in groups.items()})
        return out

    assert normalize(by_url(idx)) == normalize(by_url(fresh))


def _crash_fold_setup(spark, tmp_path):
    """Shared base for the crash-protocol tests: a 3-segment index with
    tombstones, plus a CONTROL copy on which the same purge-merge runs
    cleanly — the healed crashed index must be indistinguishable from
    it (by url/score and collection stats; doc ids can differ)."""
    import shutil

    from mantic_sh_spark.operators.delete import delete_docs

    cfg = SynthConfig(n_docs=240, vocab_size=200, seed=53)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3)
    queries = gen_queries(cfg, n_queries=8)
    victims = sorted({r.doc_id for r in wand_topk(spark, idx, queries, k=5).collect()})[:5]
    delete_docs(spark, idx, doc_ids=victims)

    ctrl = str(tmp_path / "ctrl")
    shutil.copytree(idx, ctrl)
    merge_segments(spark, ctrl, [0, 1], dst_segment=9, purge=True)
    return idx, ctrl, queries


def _by_url(spark, idx, queries):
    res = wand_topk(spark, idx, queries, k=8)
    d = spark.read.parquet(f"{idx}/docs").select("doc_id", "url")
    rows = res.join(d, "doc_id").orderBy("query_id", "rank").collect()
    stats = spark.read.parquet(f"{idx}/collection_stats").collect()[0]
    return (
        sorted((r.query_id, r.url, round(r.score, 4)) for r in rows),
        (stats.n_docs, stats.sum_dl),
    )


def _crashing_append(merge_mod, monkeypatch, crash_at):
    """Patch merge's append_manifest to raise at the crash_at-th call
    (1=intent, 2='committed' barrier, 3='done' close)."""
    calls = {"n": 0}
    real = merge_mod.append_manifest

    def crashing(spark_, paths_, rows):
        calls["n"] += 1
        if calls["n"] == crash_at:
            raise RuntimeError("injected merge crash")
        return real(spark_, paths_, rows)

    monkeypatch.setattr(merge_mod, "append_manifest", crashing)


def test_crashed_merge_rolls_back_before_commit(spark, tmp_path, monkeypatch):
    """A merge that dies BEFORE its 'committed' manifest barrier (here:
    the barrier append itself, i.e. after the dst postings/terms/norms
    dirs are durable) must roll BACK on the next mutation's GC pass —
    the partial dst dirs vanish, the sources are untouched, and
    re-running the same merge completes and matches the control."""
    import pytest

    from mantic_sh_spark.operators import merge as merge_mod
    from mantic_sh_spark.operators.index_build import _list_segments
    from mantic_sh_spark.operators.merge import gc_aborted_merges
    from mantic_sh_spark.sources.catalog import IndexPaths

    idx, ctrl, queries = _crash_fold_setup(spark, tmp_path)
    _crashing_append(merge_mod, monkeypatch, crash_at=2)
    with pytest.raises(RuntimeError, match="injected merge crash"):
        merge_segments(spark, idx, [0, 1], dst_segment=9, purge=True)
    monkeypatch.undo()

    paths = IndexPaths(idx)
    assert 9 in _list_segments(spark, paths.postings)  # partial dst exists
    assert gc_aborted_merges(spark, paths) == [9]
    assert sorted(_list_segments(spark, paths.postings)) == [0, 1, 2]
    assert gc_aborted_merges(spark, paths) == []  # terminal after heal

    # documented recovery: re-run the merge → identical to control
    merge_segments(spark, idx, [0, 1], dst_segment=9, purge=True)
    assert _by_url(spark, idx, queries) == _by_url(spark, ctrl, queries)


def test_crashed_merge_rolls_forward_after_commit(spark, tmp_path, monkeypatch):
    """A merge that dies AFTER 'committed' (here: the closing 'done'
    append, i.e. sources retired and the purge applied) must roll
    FORWARD: GC replays _finish_merge from the committed row's fields
    and the index ends indistinguishable from the control."""
    import pytest

    from mantic_sh_spark.operators import merge as merge_mod
    from mantic_sh_spark.operators.delete import tombstone_count
    from mantic_sh_spark.operators.index_build import _list_segments
    from mantic_sh_spark.operators.merge import gc_aborted_merges
    from mantic_sh_spark.sources.catalog import IndexPaths

    idx, ctrl, queries = _crash_fold_setup(spark, tmp_path)
    _crashing_append(merge_mod, monkeypatch, crash_at=3)
    with pytest.raises(RuntimeError, match="injected merge crash"):
        merge_segments(spark, idx, [0, 1], dst_segment=9, purge=True)
    monkeypatch.undo()

    paths = IndexPaths(idx)
    assert gc_aborted_merges(spark, paths) == [9]
    assert gc_aborted_merges(spark, paths) == []  # 'done' row landed
    assert sorted(_list_segments(spark, paths.postings)) == [2, 9]
    assert tombstone_count(spark, paths) == 0
    assert _by_url(spark, idx, queries) == _by_url(spark, ctrl, queries)


def test_tombstones_rehome_on_nonpurge_merge(spark, tmp_path):
    """Round-3 liveness invariant: tombstones live in the partition of
    their postings-OWNING segment. A merge WITHOUT purge moves postings
    (and norms) to the dst segment, so the src segments' tombstone
    partitions must re-home under dst — otherwise per-segment liveness
    reads and later purges would miss them."""
    from mantic_sh_spark.operators.delete import delete_docs, tombstone_count
    from mantic_sh_spark.operators.index_build import _list_segments
    from mantic_sh_spark.sources.catalog import IndexPaths

    cfg = SynthConfig(n_docs=240, vocab_size=200, seed=47)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3)
    paths = IndexPaths(idx)
    queries = gen_queries(cfg, n_queries=8)

    before = wand_topk(spark, idx, queries, k=5).collect()
    victims = sorted({r.doc_id for r in before})[:5]
    delete_docs(spark, idx, doc_ids=victims)
    owned_before = sorted(_list_segments(spark, paths.tombstones))
    assert owned_before and all(s >= 0 for s in owned_before)

    # fold ALL segments, NO purge: tombstones must survive, re-homed
    # under the new dst partition
    dst = merge_segments(spark, idx, [0, 1, 2], dst_segment=9, purge=False)
    assert dst == 9
    assert sorted(_list_segments(spark, paths.tombstones)) == [9]
    assert tombstone_count(spark, paths) == len(victims)

    # queries still exclude the deleted docs (per-segment liveness read
    # now comes from the dst partition)
    after = wand_topk(spark, idx, queries, k=5).collect()
    assert after and not ({r.doc_id for r in after} & set(victims))

    # and a later purge-merge of the dst still satisfies them
    merge_segments(spark, idx, [9], dst_segment=12, purge=True)
    assert tombstone_count(spark, paths) == 0

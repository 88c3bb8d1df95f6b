"""Deletion semantics: tombstones exclude docs from queries instantly;
merge(purge=True) makes deletes physical and re-baselines stats so the
purged index is query-identical to a fresh build on the remaining
corpus (the `deleted` leg of the reference's stale diff, A10/ST2)."""

from pyspark.sql import functions as F

from mantic_sh_spark.functions.tokenize import tokens_col
from mantic_sh_spark.operators.delete import delete_docs, live_docs
from mantic_sh_spark.operators.index_build import build_index
from mantic_sh_spark.operators.merge import merge_segments
from mantic_sh_spark.operators.query import bm25_topk
from mantic_sh_spark.operators.wand import wand_topk
from mantic_sh_spark.sources.catalog import IndexPaths
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries


def _topk(rows):
    return [(r.query_id, r.doc_id, r.score) for r in rows]


def test_delete_excludes_from_queries(spark, tmp_path):
    cfg = SynthConfig(n_docs=300, vocab_size=250, seed=29)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)

    queries = gen_queries(cfg, n_queries=10)
    before = wand_topk(spark, idx, queries, k=5).collect()
    victims = sorted({r.doc_id for r in before})[:4]
    assert delete_docs(spark, idx, doc_ids=victims) == 4

    after = wand_topk(spark, idx, queries, k=5).collect()
    assert not ({r.doc_id for r in after} & set(victims))
    # still returns full k where enough live docs match
    per_q = {}
    for r in after:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert max(per_q.values()) == 5

    # parity: WAND-with-tombstones == exhaustive over all docs (same
    # stats incl. deleted — the pre-purge contract), filtered to live
    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    ex = bm25_topk(spark, docs, queries, k=5 + len(victims))
    ex_live = (
        ex.filter(~F.col("doc_id").isin([int(v) for v in victims]))
        .orderBy("query_id", "rank")
        .collect()
    )
    want = {}
    for r in ex_live:
        want.setdefault(r.query_id, [])
        if len(want[r.query_id]) < 5:
            want[r.query_id].append((r.doc_id, r.score))
    got = {}
    for r in wand_topk(spark, idx, queries, k=5).orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    assert got == {q: v for q, v in want.items() if v}


def test_purge_matches_fresh_build(spark, tmp_path):
    cfg = SynthConfig(n_docs=260, vocab_size=220, seed=31)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2, chunk_size=48, block_size=16)

    docs_tbl = spark.read.parquet(f"{idx}/docs")
    victims = [r.doc_id for r in docs_tbl.select("doc_id").orderBy("doc_id").limit(30).collect()]
    victim_urls = {r.url for r in docs_tbl.filter(F.col("doc_id").isin(victims)).collect()}
    delete_docs(spark, idx, doc_ids=victims)

    merge_segments(spark, idx, [0, 1], dst_segment=5, purge=True)

    # tombstones satisfied, stats re-baselined
    paths = IndexPaths(idx)
    from mantic_sh_spark.operators.delete import tombstone_count

    assert tombstone_count(spark, paths) == 0
    stats = spark.read.parquet(paths.collection_stats).collect()[0]
    assert stats.n_docs == 260 - 30

    # fresh build over the remaining pages — compare by (url, score)
    fresh_dir = str(tmp_path / "fresh")
    remaining = pages.filter(~F.col("url").isin(list(victim_urls)))
    build_index(spark, remaining, fresh_dir, n_segments=2)

    queries = gen_queries(cfg, n_queries=14)

    def by_url(index_dir):
        res = wand_topk(spark, index_dir, queries, k=6)
        d = spark.read.parquet(f"{index_dir}/docs").select("doc_id", "url")
        rows = res.join(d, "doc_id").orderBy("query_id", "rank").collect()
        out = {}
        for r in rows:
            out.setdefault(r.query_id, []).append((r.url, r.score))
        return out

    assert by_url(idx) == by_url(fresh_dir)

    # a full purge leaves the tombstones ROOT dir with no partitions —
    # the serving reader must treat the column-less dataset as clean
    # (not crash on refresh) and stay value-identical to wand_topk
    from mantic_sh_spark.serve import IndexReader

    reader = IndexReader(idx)
    qid, qtext = queries[0]
    want = [
        (r.doc_id, r.score)
        for r in wand_topk(spark, idx, [(qid, qtext)], k=6).orderBy("rank").collect()
    ]
    assert reader.topk(qtext, k=6) == want


def test_purge_with_million_tombstones(spark, tmp_path):
    """Scale guard for the delete/purge path (round-3 bar: >=10^6
    tombstones, NO global id array in any closure): 1.2M tombstones
    must (a) keep queries correct immediately via the per-segment
    liveness sidecars — the driver ships only (path, segment-set)
    metadata — and (b) purge via anti-joins / partition deletes and end
    query-identical to a fresh build. Synthetic tombstones target
    unoccupied id space inside the source segments' ranges — exercising
    volume without a million-doc corpus."""
    import pandas as pd

    from mantic_sh_spark.operators.docs import SEG_STRIDE

    cfg = SynthConfig(n_docs=400, vocab_size=250, seed=83)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2, chunk_size=64, block_size=16)

    docs_tbl = spark.read.parquet(f"{idx}/docs")
    victims = [r.doc_id for r in docs_tbl.select("doc_id").orderBy("doc_id").limit(40).collect()]
    victim_urls = {r.url for r in docs_tbl.filter(F.col("doc_id").isin(victims)).collect()}
    delete_docs(spark, idx, doc_ids=victims)
    # 1.2M synthetic tombstones in the sources' id ranges, above any
    # real doc id (segments own [seg*STRIDE, ...); real count ≤ 400)
    synth = [int(seg * SEG_STRIDE + 10**6 + i) for seg in (0, 1) for i in range(600_000)]
    from mantic_sh_spark.operators.delete import delete_docs_df, tombstone_count

    delete_docs_df(
        spark, idx,
        spark.createDataFrame(pd.DataFrame({"doc_id": pd.array(synth, dtype="int64")})),
    )
    assert tombstone_count(spark, IndexPaths(idx)) == 1_200_000 + 40

    # queries stay correct IMMEDIATELY, and the liveness closure is
    # metadata-sized: _index_meta carries (tombstones_path, seg-set) —
    # never an id array (tasks read only their own segment's sidecar)
    from mantic_sh_spark.operators.wand import _index_meta, refresh_meta

    refresh_meta(idx)
    dead_src = _index_meta(spark, IndexPaths(idx))[3]
    assert dead_src is not None and isinstance(dead_src[0], str)
    assert isinstance(dead_src[1], frozenset) and len(dead_src[1]) <= 3
    live_hits = wand_topk(spark, idx, gen_queries(cfg, n_queries=4), k=5).collect()
    assert live_hits and not ({r.doc_id for r in live_hits} & set(victims))

    merge_segments(spark, idx, [0, 1], dst_segment=7, purge=True)
    assert tombstone_count(spark, IndexPaths(idx)) == 0

    fresh = str(tmp_path / "fresh")
    build_index(spark, pages.filter(~F.col("url").isin(list(victim_urls))), fresh, n_segments=2)
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
        # tie groups may reorder across differently-id'd builds; the
        # k-boundary group may swap members (see test_incremental)
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


def test_dead_docs_bitmap_matches_isin():
    """DeadDocs (one packed bitmap per origin segment) must agree with
    np.isin on random probes: ids over several origin segments,
    unsorted + duplicated input, probes past a bitmap's end and in
    segments with no bitmap, streamed batches, and the empty set."""
    import numpy as np

    from mantic_sh_spark.functions.codec import SEG_STRIDE
    from mantic_sh_spark.functions.liveness import DeadDocs

    rng = np.random.default_rng(7)
    ids = np.concatenate([rng.integers(0, 4000, 500) + s * SEG_STRIDE
                          for s in (0, 2, 5, 11)])
    ids = np.concatenate([ids, ids[::7]])  # duplicates
    rng.shuffle(ids)
    probe = np.concatenate([rng.integers(0, 9000, 3000) + s * SEG_STRIDE
                            for s in (0, 1, 2, 5, 11, 12)])
    ref = np.isin(probe, ids)
    for dd in (DeadDocs.from_ids(ids),
               DeadDocs.from_batches(np.array_split(ids, 9))):
        assert (dd.mask(probe) == ref).all()
        assert [int(p) in dd for p in probe[::13]] == ref[::13].tolist()
        # one bitmap per origin segment, sized by its largest dead row
        rows = {s: int(ids[ids // SEG_STRIDE == s].max() % SEG_STRIDE)
                for s in (0, 2, 5, 11)}
        assert dd.nbytes == sum(r // 8 + 1 for r in rows.values())
    one_seg = probe[probe // SEG_STRIDE == 2]
    assert (DeadDocs.from_ids(ids).mask(one_seg) == np.isin(one_seg, ids)).all()

    empty = DeadDocs.from_ids(np.empty(0, dtype=np.int64))
    assert not empty and empty.nbytes == 0
    assert not empty.mask(probe).any() and int(probe[0]) not in empty
    assert DeadDocs.from_ids(ids).mask(np.empty(0, dtype=np.int64)).shape == (0,)


def test_doc_lens_gather_matches_dict_lookup():
    """DocLens (one dense length array per origin segment) gathers the
    same lengths as a dict lookup: several origin segments streamed in
    shuffled batches, probes in block order of a merged segment whose
    postings interleave origins, each segment's array narrowed to the
    dtype its largest length needs, and an id with no row (past an
    array's end, inside it, or in an unknown segment) raising
    MissingDocLen naming it."""
    import numpy as np
    import pytest

    from mantic_sh_spark.functions.codec import SEG_STRIDE
    from mantic_sh_spark.functions.liveness import DocLens, MissingDocLen

    rng = np.random.default_rng(3)
    tops = {0: 200, 3: 60_000, 7: 70_000}  # largest length per origin segment
    ids = np.concatenate([s * SEG_STRIDE + rng.permutation(3000)[:2000] for s in tops])
    lens = np.concatenate([rng.integers(1, tops[s], 2000) for s in tops])
    lens[::2000] = list(tops.values())
    ref = dict(zip(ids.tolist(), lens.tolist()))
    o = rng.permutation(len(ids))
    dl = DocLens.from_batches(zip(np.array_split(ids[o], 7), np.array_split(lens[o], 7)))
    assert {s: a.dtype for s, a in dl._lens.items()} == {
        0: np.uint8, 3: np.uint16, 7: np.uint32}
    assert dl.nbytes == sum(int(ids[ids // SEG_STRIDE == s].max() % SEG_STRIDE + 1)
                            * {0: 1, 3: 2, 7: 4}[s] for s in tops)
    # a merged segment's postings of one term: ascending doc ids, so the
    # origins interleave by range; plus one origin alone (one gather)
    merged = np.sort(rng.choice(ids, 900, replace=False))
    for probe in (merged, merged[::-1], merged[merged // SEG_STRIDE == 3], ids):
        assert dl.get(probe).tolist() == [ref[d] for d in probe.tolist()]
    assert dl.get(np.empty(0, dtype=np.int64)).shape == (0,)
    absent = sorted(set(range(3000)) - set((ids[ids < SEG_STRIDE]).tolist()))
    for bad in (absent[0], 5 * SEG_STRIDE, 7 * SEG_STRIDE + 10**6):
        with pytest.raises(MissingDocLen) as err:
            dl.get(np.append(merged, bad))
        assert err.value.doc_id == bad and f"doc {bad} " in str(err.value)
    assert DocLens.from_batches([]).nbytes == 0

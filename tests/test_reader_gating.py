"""Reader live-segment gating (functions/liveness.py): between a
crashed (or in-flight) fold and the next mutation's GC, partition dirs
lie — a merge's partial dst sits beside its live sources. The manifest
protocol rows are the source of truth; both the distributed engine
(wand._index_meta) and the no-JVM serving reader (serve.IndexReader)
must exclude partial segments WITHOUT waiting for gc_aborted_merges.

Reference parity note: the reference has no durable index to gate
(src/brain-scorer.ts rescans per query); this is the Spark-first
equivalent of snapshot-isolated reads over an LSM index."""

import pytest

from mantic_sh_spark.functions.liveness import reader_exclusions
from mantic_sh_spark.operators.delete import delete_docs
from mantic_sh_spark.operators.index_build import build_index
from mantic_sh_spark.operators.merge import merge_segments
from mantic_sh_spark.operators.wand import refresh_meta, wand_topk
from mantic_sh_spark.serve import IndexReader
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries


def test_reader_exclusions_pure():
    rows_started = [
        (9, "merge", "started", 5.0),
        (0, "merge", "src", 5.0),
        (1, "merge", "src", 5.0),
    ]
    assert reader_exclusions(rows_started) == (frozenset({9}), False)
    rows_committed = rows_started + [(9, "merge", "committed", 5.0)]
    assert reader_exclusions(rows_committed) == (frozenset({0, 1}), True)
    rows_done = rows_committed + [(9, "merge", "done", 5.0)]
    assert reader_exclusions(rows_done) == (frozenset(), False)
    rows_aborted = rows_started + [(9, "merge", "aborted", 5.0)]
    assert reader_exclusions(rows_aborted) == (frozenset(), False)
    # crashed extend: latest row 'started' → excluded; closed → not
    assert reader_exclusions([(4, "extend", "started", 7.0)]) == (
        frozenset({4}), False)
    assert reader_exclusions(
        [(4, "extend", "started", 7.0), (4, "extend", "done", 7.0)]
    ) == (frozenset(), False)
    # gc_aborted_extends' closing row (stamped at GC time, later than
    # the fold's t0) must clear the exclusion — and a merge that later
    # reuses the freed id must serve (review r4 finding: the healed id
    # stayed excluded forever)
    healed = [(4, "extend", "started", 7.0), (4, "extend", "aborted", 9.0)]
    assert reader_exclusions(healed) == (frozenset(), False)
    reused = healed + [(4, "merge", "started", 11.0), (0, "merge", "src", 11.0),
                       (4, "merge", "committed", 11.0), (4, "merge", "done", 11.0)]
    assert reader_exclusions(reused) == (frozenset(), False)
    # a NEW extend fold on the healed id gates again while running
    assert reader_exclusions(healed + [(4, "extend", "started", 12.0)]) == (
        frozenset({4}), False)
    # legacy pre-protocol fold: only 'done'/'merged' rows → terminal
    assert reader_exclusions([(5, "merge", "done", 3.0)]) == (frozenset(), False)


def _setup(spark, tmp_path):
    cfg = SynthConfig(n_docs=240, vocab_size=200, seed=61)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=3)
    queries = gen_queries(cfg, n_queries=8)
    victims = sorted({r.doc_id for r in wand_topk(spark, idx, queries, k=5).collect()})[:5]
    delete_docs(spark, idx, doc_ids=victims)
    return idx, queries, cfg


def _wand(spark, idx, queries):
    return sorted(
        (r.query_id, r.rank, r.doc_id, round(r.score, 4))
        for r in wand_topk(spark, idx, queries, k=8).collect()
    )


def _serve(idx, cfg, queries_text):
    r = IndexReader(idx)
    return {q: r.topk(q, k=8) for q in queries_text}


def _df_agrees(spark, idx, queries_text, decoded_df):
    """The reader's df (the n of its served blocks summed) equals the df
    counted by decoding every block the reader serves (decoded_df, under
    the reader's gating) and the Spark plane's df under its gating."""
    from mantic_sh_spark.functions.tokenize import tokenize_query
    from mantic_sh_spark.operators.wand import _index_meta, _term_meta
    from mantic_sh_spark.sources.catalog import IndexPaths

    terms = sorted({t for q in queries_text for t in tokenize_query(q)} | {"qqabsent"})
    paths = IndexPaths(idx)
    meta = _term_meta(spark, paths, terms, excluded=_index_meta(spark, paths)[4])
    reader = IndexReader(idx)
    got = reader.df(terms)
    return (got == decoded_df(idx, reader.gated_segments, terms)
            and got == {t: m[0] for t, m in meta.items()})


def _meta_agrees(spark, idx, gated):
    """The reader's n_docs, avgdl, bound factors and gated segments
    equal the Spark plane's (wand._index_meta), and the gated set is
    the fold's."""
    from mantic_sh_spark.operators.wand import _index_meta
    from mantic_sh_spark.sources.catalog import IndexPaths

    n_docs, avgdl, factors, _dead, excluded = _index_meta(spark, IndexPaths(idx))
    r = IndexReader(idx)
    return ((r.n_docs, r.avgdl, r.bound_factors, r.gated_segments)
            == (n_docs, avgdl, factors, sorted(excluded))
            and excluded == frozenset(gated))


def test_readers_exclude_inflight_merge_dst(spark, tmp_path, monkeypatch, decoded_df):
    """Crash BEFORE the 'committed' barrier (partial dst postings/terms
    dirs on disk, sources + tombstones untouched): fresh readers must
    serve the exact pre-fold view without any GC having run."""
    from mantic_sh_spark.operators import merge as merge_mod

    idx, queries, cfg = _setup(spark, tmp_path)
    refresh_meta(idx)
    before = _wand(spark, idx, queries)
    qtexts = [q for _, q in queries][:4]
    serve_before = _serve(idx, cfg, qtexts)

    calls = {"n": 0}
    real = merge_mod.append_manifest

    def crashing(spark_, paths_, rows):
        calls["n"] += 1
        if calls["n"] == 2:  # the 'committed' barrier append
            raise RuntimeError("injected merge crash")
        return real(spark_, paths_, rows)

    monkeypatch.setattr(merge_mod, "append_manifest", crashing)
    with pytest.raises(RuntimeError, match="injected merge crash"):
        merge_segments(spark, idx, [0, 1], dst_segment=9, purge=True)
    monkeypatch.undo()

    # partial dst exists on disk; NO gc has run — a fresh reader must
    # still see the pre-fold view (both engines)
    import os

    assert os.path.isdir(f"{idx}/postings/segment_id=9")
    refresh_meta(idx)  # simulate a fresh process (drop memoized meta)
    assert _wand(spark, idx, queries) == before
    assert _serve(idx, cfg, qtexts) == serve_before
    assert _df_agrees(spark, idx, qtexts, decoded_df)
    assert _meta_agrees(spark, idx, {9})


def test_readers_exclude_crashed_extend_segments(spark, tmp_path, monkeypatch):
    """Crash an extend AFTER every table write (docs, norms, postings,
    terms) but BEFORE its closing manifest append: the new segments'
    dirs all exist, yet fresh readers must serve the exact pre-fold
    view — value-identical scores too, because the stats commit is
    deferred to the fold close. gc_aborted_extends' 'aborted' closing
    row must then CLEAR the exclusion (review r4 finding: the healed id
    stayed gated forever, silently hiding a later fold reusing it)."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    import mantic_sh_spark.streaming.incremental as inc
    from mantic_sh_spark.operators.index_build import gc_aborted_extends
    from mantic_sh_spark.sources.catalog import IndexPaths
    from mantic_sh_spark.streaming.incremental import extend_index

    idx, queries, cfg = _setup(spark, tmp_path)
    refresh_meta(idx)
    before = _wand(spark, idx, queries)
    qtexts = [q for _, q in queries][:4]
    serve_before = _serve(idx, cfg, qtexts)

    extra = gen_pages(spark, replace(cfg, seed=99, n_docs=80, needle_every=0), partitions=2
                      ).withColumn("url", F.regexp_replace("url", "example/", "example/g2/"))
    # crash at the DEFERRED stats commit — i.e. after every table write
    # (docs, norms, postings, terms) but with the on-disk stats still
    # describing the pre-fold corpus, which is the state for the whole
    # fold duration minus the final milliseconds
    from mantic_sh_spark.operators import index_build as ib

    def boom(*a, **kw):
        raise RuntimeError("injected extend crash")

    monkeypatch.setattr(ib, "write_collection_stats", boom)
    with pytest.raises(RuntimeError, match="injected extend crash"):
        extend_index(spark, idx, extra, n_new_segments=2)
    monkeypatch.undo()

    import os

    paths = IndexPaths(idx)
    orphan_segs = [3, 4]
    assert all(os.path.isdir(f"{idx}/postings/segment_id={s}") for s in orphan_segs)
    refresh_meta(idx)
    assert _wand(spark, idx, queries) == before
    assert _serve(idx, cfg, qtexts) == serve_before
    assert _meta_agrees(spark, idx, orphan_segs)

    # heal → 'aborted' closing rows → exclusion cleared, dirs gone
    assert gc_aborted_extends(spark, paths) == orphan_segs
    refresh_meta(idx)
    from mantic_sh_spark.operators.wand import _index_meta

    assert _index_meta(spark, paths)[4] == frozenset()
    assert _wand(spark, idx, queries) == before
    # the retried fold completes and serves the new docs
    segs = extend_index(spark, idx, extra, n_new_segments=2)
    assert segs
    refresh_meta(idx)
    assert _index_meta(spark, paths)[4] == frozenset()


def test_readers_serve_committed_fold_via_union_liveness(spark, tmp_path, monkeypatch,
                                                        decoded_df):
    """Crash right AFTER the 'committed' barrier (dst fully written and
    live; sources not yet retired; tombstones not yet re-homed off the
    src partitions): fresh readers must serve the POST-fold view —
    sources excluded, dst live, deleted docs still dead via the
    tombstone-partition union — identical to the completed control."""
    import shutil

    from mantic_sh_spark.operators import merge as merge_mod

    idx, queries, cfg = _setup(spark, tmp_path)
    qtexts = [q for _, q in queries][:4]

    ctrl = str(tmp_path / "ctrl")
    shutil.copytree(idx, ctrl)
    # non-purge fold: doc ids and scores are invariant across the merge,
    # so healed-vs-control compares exactly
    merge_segments(spark, ctrl, [0, 1], dst_segment=9, purge=False)
    refresh_meta(ctrl)
    control = _wand(spark, ctrl, queries)
    serve_control = _serve(ctrl, cfg, qtexts)

    def boom(*a, **kw):
        raise RuntimeError("injected post-barrier crash")

    monkeypatch.setattr(merge_mod, "_finish_merge", boom)
    with pytest.raises(RuntimeError, match="post-barrier"):
        merge_segments(spark, idx, [0, 1], dst_segment=9, purge=False)
    monkeypatch.undo()

    refresh_meta(idx)
    assert _wand(spark, idx, queries) == control
    assert _serve(idx, cfg, qtexts) == serve_control
    assert _df_agrees(spark, idx, qtexts, decoded_df)
    assert _meta_agrees(spark, idx, {0, 1})

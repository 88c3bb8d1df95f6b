"""End-to-end: build → exhaustive BM25 == pure oracle (rank identity),
WAND == exhaustive, resume, deterministic doc ids across parallelism."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mantic_sh_spark.functions.bm25 import oracle_topk
from mantic_sh_spark.operators.docs import build_docs
from mantic_sh_spark.operators.index_build import build_index, index_stats
from mantic_sh_spark.operators.query import bm25_topk
from mantic_sh_spark.operators.wand import wand_topk
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries


def _docs_with_tokens(spark, index_dir):
    from mantic_sh_spark.functions.tokenize import tokens_col

    d = spark.read.parquet(f"{index_dir}/docs")
    return d.withColumn("tokens", tokens_col("text"))


def _collect_topk(df):
    rows = df.orderBy("query_id", "rank").collect()
    out = {}
    for r in rows:
        out.setdefault(r.query_id, []).append((r.doc_id, round(r.score, 4)))
    return out


@pytest.fixture(scope="module")
def queries(small_corpus):
    return gen_queries(small_corpus["cfg"], n_queries=24)


def test_exhaustive_matches_oracle(spark, small_corpus, queries):
    idx = small_corpus["index_dir"]
    docs = _docs_with_tokens(spark, idx)
    got = _collect_topk(bm25_topk(spark, docs, queries, k=10))
    # pure-python oracle over the same (doc_id, text) corpus
    pairs = [(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()]
    for qid, qtext in queries:
        want = oracle_topk(pairs, qtext, k=10)
        assert got.get(qid, []) == want, f"q{qid}='{qtext}'"


def test_wand_matches_exhaustive(spark, small_corpus, queries):
    idx = small_corpus["index_dir"]
    docs = _docs_with_tokens(spark, idx)
    ex = _collect_topk(bm25_topk(spark, docs, queries, k=10))
    wd = _collect_topk(wand_topk(spark, idx, queries, k=10))
    for qid, qtext in queries:
        assert wd.get(qid, []) == ex.get(qid, []), f"q{qid}='{qtext}'"


def test_index_stats(spark, small_corpus):
    st = index_stats(spark, small_corpus["index_dir"])
    assert st["n_docs"] == 400
    assert st["segments"] == 4
    assert st["postings"] > 0 and st["index_bytes"] > 0


def test_doc_ids_deterministic_across_parallelism(spark, small_corpus):
    cfg = small_corpus["cfg"]
    pages = gen_pages(spark, cfg, partitions=2)
    a = build_docs(pages, n_segments=4).select("url", "doc_id", "salt")
    pages2 = gen_pages(spark, cfg, partitions=7)
    b = build_docs(pages2, n_segments=4).select("url", F.col("doc_id").alias("doc_id2"))
    diff = a.join(b, "url").filter(F.col("doc_id") != F.col("doc_id2")).count()
    assert diff == 0


def test_resume_produces_identical_index(spark, small_corpus, tmp_path):
    cfg = small_corpus["cfg"]
    pages = gen_pages(spark, cfg, partitions=4)

    full_dir = str(tmp_path / "full")
    build_index(spark, pages, full_dir, n_segments=4)

    part_dir = str(tmp_path / "partial")
    # simulate a killed build: only 2 of 4 segment batches complete
    build_index(spark, pages, part_dir, n_segments=4, batch_segments=1, max_batches=2)
    from mantic_sh_spark.sources.catalog import IndexPaths, done_segments

    done_before = done_segments(spark, IndexPaths(part_dir))
    assert len(done_before) == 2
    # resume: must complete only pending segments
    build_index(spark, pages, part_dir, n_segments=4, batch_segments=1)
    assert len(done_segments(spark, IndexPaths(part_dir))) == 4

    # resumed index == clean one-shot index, content-wise
    cols = ["segment_id", "tid", "first_doc", "last_doc", "n", "doc_gaps", "tfs", "dls"]
    a = spark.read.parquet(f"{full_dir}/postings").select(cols)
    b = spark.read.parquet(f"{part_dir}/postings").select(cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    # manifest rows for previously-done segments untouched by resume
    m = spark.read.parquet(f"{part_dir}/build_manifest")
    per_seg = m.filter(F.col("stage") == "postings").groupBy("segment_id").count().collect()
    assert all(r["count"] == 1 for r in per_seg)


def test_pipelined_batches_match_single_batch(spark, small_corpus, tmp_path):
    """A from-scratch multi-batch build takes the PIPELINED path (batch
    i's terms/manifest commit overlaps batch i+1's shuffle on one
    commit worker) — its postings, terms directory, and manifest
    metrics must be value-identical to the single-batch build."""
    cfg = small_corpus["cfg"]
    pages = gen_pages(spark, cfg, partitions=4)

    one = str(tmp_path / "one")
    build_index(spark, pages, one, n_segments=4)
    piped = str(tmp_path / "piped")
    build_index(spark, pages, piped, n_segments=4, batch_segments=1)

    for tbl, cols in (
        ("postings", ["segment_id", "tid", "first_doc", "last_doc", "n",
                      "doc_gaps", "tfs", "dls", "nbytes"]),
        ("terms", ["segment_id", "tid", "df", "max_tf_norm", "bytes"]),
    ):
        a = spark.read.parquet(f"{one}/{tbl}").select(cols)
        b = spark.read.parquet(f"{piped}/{tbl}").select(cols)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tbl

    def _metrics(d):
        m = spark.read.parquet(f"{d}/build_manifest")
        return {
            r.segment_id: (r.n_docs, r.n_terms, r.n_postings, r.bytes)
            for r in m.filter(F.col("stage") == "postings").collect()
        }

    assert _metrics(one) == _metrics(piped)


def test_fallback_paths_match_observed(spark, small_corpus, tmp_path, monkeypatch):
    """Forcing _OBS_SEG_CAP=0 routes every observed-aggregate site
    through its fallback job (terms metrics agg, norms count agg, no
    per-segment docs manifest rows) — the resulting index AND manifest
    metrics must match the observation path exactly."""
    import mantic_sh_spark.operators.index_build as ib

    cfg = small_corpus["cfg"]
    pages = gen_pages(spark, cfg, partitions=4)

    obs_dir = str(tmp_path / "obs")
    build_index(spark, pages, obs_dir, n_segments=4)
    monkeypatch.setattr(ib, "_OBS_SEG_CAP", 0)
    fb_dir = str(tmp_path / "fb")
    build_index(spark, pages, fb_dir, n_segments=4)

    def _postings_rows(d):
        m = spark.read.parquet(f"{d}/build_manifest")
        return {
            r.segment_id: (r.n_docs, r.n_terms, r.n_postings, r.bytes)
            for r in m.filter(F.col("stage") == "postings").collect()
        }

    assert _postings_rows(obs_dir) == _postings_rows(fb_dir)
    sa = spark.read.parquet(f"{obs_dir}/collection_stats").collect()[0]
    sb = spark.read.parquet(f"{fb_dir}/collection_stats").collect()[0]
    assert (sa.n_docs, sa.avgdl) == (sb.n_docs, sb.avgdl)
    a = spark.read.parquet(f"{obs_dir}/terms").select("segment_id", "tid", "df", "bytes")
    b = spark.read.parquet(f"{fb_dir}/terms").select("segment_id", "tid", "df", "bytes")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_crash_between_postings_and_manifest_resumes_clean(spark, small_corpus, tmp_path):
    """The pipelined crash window: a batch's postings commit lands but
    the process dies before its manifest row. Resume must clean the
    uncommitted segment and rebuild to a state identical to a clean
    one-shot build (no duplicate postings)."""
    from mantic_sh_spark.functions.tokenize import tokens_col
    from mantic_sh_spark.operators.index_build import _encode_and_write_postings
    from mantic_sh_spark.sources.catalog import IndexPaths

    cfg = small_corpus["cfg"]
    pages = gen_pages(spark, cfg, partitions=4)

    clean = str(tmp_path / "clean")
    build_index(spark, pages, clean, n_segments=4)

    crash = str(tmp_path / "crash")
    # docs stage only (zero postings batches), then a postings commit
    # with NO manifest row — the mid-pipeline crash state
    build_index(spark, pages, crash, n_segments=4, batch_segments=1, max_batches=0)
    docs = spark.read.parquet(f"{crash}/docs").withColumn("tokens", tokens_col("text"))
    stats = spark.read.parquet(f"{crash}/collection_stats").collect()[0]
    _encode_and_write_postings(spark, docs, IndexPaths(crash), [0], float(stats.avgdl))
    assert spark.read.parquet(f"{crash}/postings").count() > 0

    build_index(spark, pages, crash, n_segments=4, batch_segments=1)

    cols = ["segment_id", "tid", "first_doc", "last_doc", "n", "doc_gaps", "tfs", "dls"]
    a = spark.read.parquet(f"{clean}/postings").select(cols)
    b = spark.read.parquet(f"{crash}/postings").select(cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_needle_query_hits_exactly_one_doc(spark, small_corpus):
    idx = small_corpus["index_dir"]
    res = wand_topk(spark, idx, [(0, "zzneedle97")], k=10).collect()
    assert len(res) == 1
    docs = spark.read.parquet(f"{idx}/docs")
    url = docs.filter(F.col("doc_id") == res[0].doc_id).collect()[0].url
    assert url.endswith("doc-000000000097")


def test_absent_term_returns_empty(spark, small_corpus):
    assert wand_topk(spark, small_corpus["index_dir"], [(0, "qqnotthere")], k=5).count() == 0


def test_salted_chunks_concatenate_correctly(spark, tmp_path):
    """THE skew mechanism: with a tiny chunk_size every head term's
    postings split across many (term, segment, salt) groups that encode
    independently and must concatenate in doc-id order. The resulting
    index must be query-identical to the unsalted build, and the stop
    term (present in ~90% of docs) must actually span multiple chunks."""
    from pyspark.sql import functions as F

    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.wand import wand_topk
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    cfg = SynthConfig(n_docs=600, vocab_size=400, seed=11)
    pages = gen_pages(spark, cfg, partitions=4)
    a = str(tmp_path / "idx_salted")
    b = str(tmp_path / "idx_plain")
    build_index(spark, pages, a, n_segments=2, chunk_size=64)  # ~300 docs/segment → ~5 chunks
    build_index(spark, pages, b, n_segments=2)

    # the stop term must span >1 chunk: its per-(segment) block list in the
    # salted build comes from several independent encodes
    from mantic_sh_spark.operators.wand import _term_meta
    from mantic_sh_spark.sources.catalog import IndexPaths

    stop_tid = _term_meta(spark, IndexPaths(a), [cfg.stop_term])[cfg.stop_term][1]
    blocks_a = (
        spark.read.parquet(f"{a}/postings")
        .filter(F.col("tid") == stop_tid)
        .orderBy("segment_id", "first_doc")
        .collect()
    )
    assert len(blocks_a) >= 2
    # doc-id ranges must be strictly increasing within a segment (clean concat)
    by_seg = {}
    for r in blocks_a:
        prev = by_seg.get(r.segment_id)
        if prev is not None:
            assert r.first_doc > prev, "chunk outputs must not overlap"
        by_seg[r.segment_id] = r.last_doc

    queries = [(0, cfg.stop_term), (1, "w1x w5x w9x"), (2, f"w2x {cfg.stop_term}"),
               (3, "w0x w3x w7x w11x"), (4, "w4x w8x")]
    ra = wand_topk(spark, a, queries, k=10).orderBy("query_id", "rank").collect()
    rb = wand_topk(spark, b, queries, k=10).orderBy("query_id", "rank").collect()
    assert [(r.query_id, r.doc_id, r.score) for r in ra] == [
        (r.query_id, r.doc_id, r.score) for r in rb
    ]

    # anchor BOTH index layouts to the exhaustive engine (ground truth),
    # not merely to each other
    from mantic_sh_spark.functions.tokenize import tokens_col
    from mantic_sh_spark.operators.query import bm25_topk

    docs = spark.read.parquet(f"{a}/docs").withColumn("tokens", tokens_col("text"))
    rx = bm25_topk(spark, docs, queries, k=10).orderBy("query_id", "rank").collect()
    assert [(r.query_id, r.doc_id, r.score) for r in ra] == [
        (r.query_id, r.doc_id, r.score) for r in rx
    ]


def test_tiny_blocks_rank_identical(spark, tmp_path):
    """Maximum skip-logic stress: 8-posting blocks force the WAND
    block-max machinery through many boundaries per list; results must
    stay rank-identical to the exhaustive engine for a mixed query set."""
    from mantic_sh_spark.functions.tokenize import tokens_col
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.operators.query import bm25_topk
    from mantic_sh_spark.operators.wand import wand_topk
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, gen_queries

    cfg = SynthConfig(n_docs=500, vocab_size=300, seed=23)
    pages = gen_pages(spark, cfg, partitions=4)
    idx = str(tmp_path / "idx_tinyblocks")
    build_index(spark, pages, idx, n_segments=3, chunk_size=64, block_size=8)

    queries = gen_queries(cfg, n_queries=18)
    rw = wand_topk(spark, idx, queries, k=7).orderBy("query_id", "rank").collect()
    docs = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    rx = bm25_topk(spark, docs, queries, k=7).orderBy("query_id", "rank").collect()
    assert [(r.query_id, r.doc_id, r.score) for r in rw] == [
        (r.query_id, r.doc_id, r.score) for r in rx
    ]


def test_format_marker_gates_mutations(spark, tmp_path):
    """Format generations never mix in one postings dir: a fresh build
    records INDEX_FORMAT; extend/merge against a different (or absent —
    pre-v4) recorded version refuse with a rebuild instruction instead
    of appending mixed-schema files (review r4 finding). Spark-plane
    queries read no marker (the serving reader's marker gate is
    test_serve's; the block decoder raises on old-layout bytes)."""
    import pandas as pd
    import pytest

    from mantic_sh_spark.operators.index_build import INDEX_FORMAT, build_index
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.operators.wand import wand_topk
    from mantic_sh_spark.sources.catalog import IndexPaths
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages
    from mantic_sh_spark.streaming.incremental import extend_index

    cfg = SynthConfig(n_docs=80, vocab_size=100, seed=3)
    pages = gen_pages(spark, cfg, partitions=1)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)
    paths = IndexPaths(idx)
    marker = spark.read.parquet(paths.format_marker).collect()
    assert len(marker) == 1 and marker[0].version == INDEX_FORMAT

    # fake an older generation
    spark.createDataFrame(
        pd.DataFrame({"version": pd.array([1], dtype="int32")})
    ).coalesce(1).write.mode("overwrite").parquet(paths.format_marker)

    with pytest.raises(RuntimeError, match="format v1"):
        extend_index(spark, idx, pages, n_new_segments=1)
    with pytest.raises(RuntimeError, match="format v1"):
        merge_segments(spark, idx, [0, 1], purge=True)
    # queries still answer
    assert wand_topk(spark, idx, [(0, "w1x")], k=3).count() > 0


def test_failed_docs_commit_poisons_postings_commits(spark, small_corpus, tmp_path, monkeypatch):
    """If the deferred docs-stage norms commit fails on the commit
    worker, the already-queued postings-batch commits must NOT append
    their manifest rows (the pool runs queued tasks during shutdown):
    postings 'done' rows without docs rows would make a re-run see
    nothing pending and return before ever re-submitting the docs
    commit — a permanently wedged index with no norms table. The
    poison guard fails them instead; a re-run rebuilds cleanly."""
    import mantic_sh_spark.operators.index_build as ib
    from mantic_sh_spark.sources.catalog import IndexPaths, read_or_none

    cfg = small_corpus["cfg"]
    pages = gen_pages(spark, cfg, partitions=4)
    real = ib.doc_stats

    def boom(df):
        raise RuntimeError("injected norms failure")

    idx = str(tmp_path / "idx")
    monkeypatch.setattr(ib, "doc_stats", boom)
    with pytest.raises(Exception, match="injected norms failure"):
        build_index(spark, pages, idx, n_segments=4)
    m = read_or_none(spark, IndexPaths(idx).manifest)
    assert m is None or m.filter(F.col("stage") == "postings").count() == 0, \
        "poisoned queue must not commit postings rows after a failed docs commit"

    monkeypatch.setattr(ib, "doc_stats", real)
    build_index(spark, pages, idx, n_segments=4)
    clean = str(tmp_path / "clean")
    build_index(spark, pages, clean, n_segments=4)
    cols = ["segment_id", "tid", "first_doc", "last_doc", "n"]
    a = spark.read.parquet(f"{idx}/postings").select(cols)
    b = spark.read.parquet(f"{clean}/postings").select(cols)
    assert a.count() == b.count() and a.exceptAll(b).count() == 0
    sa = spark.read.parquet(f"{idx}/collection_stats").collect()[0]
    sb = spark.read.parquet(f"{clean}/collection_stats").collect()[0]
    assert (sa.n_docs, sa.sum_dl, sa.avgdl) == (sb.n_docs, sb.sum_dl, sb.avgdl)
    assert spark.read.parquet(f"{idx}/norms").count() == sa.n_docs


def test_tid_collision_gate_fails_loudly(spark, small_corpus, tmp_path, monkeypatch):
    """verify_tid_uniqueness (default-on) must abort a build whose hash
    collides BEFORE any posting is written, and name colliding terms;
    verify_tids=False opts out (VERDICT r4 #2)."""
    import mantic_sh_spark.operators.index_build as ib

    cfg = small_corpus["cfg"]
    pages = gen_pages(spark, cfg, partitions=4)

    def colliding_tid(term):
        col = term if isinstance(term, F.Column) else F.col(term)
        return F.xxhash64(F.substring(col, 1, 1))  # all terms sharing a first char collide

    monkeypatch.setattr(ib, "tid_col", colliding_tid)
    idx = str(tmp_path / "idx")
    with pytest.raises(RuntimeError, match="collision"):
        build_index(spark, pages, idx, n_segments=2)
    # the gate rides the commit worker and poisons every postings
    # commit: whatever segment files the overlapped shuffle wrote are
    # UNCOMMITTED (no postings manifest rows — exactly the crash-resume
    # state _cleanup_uncommitted handles)
    from mantic_sh_spark.sources.catalog import IndexPaths, read_or_none

    m = read_or_none(spark, IndexPaths(idx).manifest)
    assert m is None or m.filter(F.col("stage") == "postings").count() == 0

    # the same dir rebuilds cleanly once the hash is sane again
    monkeypatch.undo()
    build_index(spark, pages, idx, n_segments=2)
    assert read_or_none(spark, IndexPaths(idx).postings) is not None

    # opt-out path completes even with the colliding hash (the index is
    # hash-degenerate but that is the caller's explicit choice)
    monkeypatch.setattr(ib, "tid_col", colliding_tid)
    out = str(tmp_path / "optout")
    build_index(spark, pages, out, n_segments=2, verify_tids=False)
    assert read_or_none(spark, IndexPaths(out).postings) is not None


def test_tid_collision_gate_on_extend(spark, small_corpus, tmp_path, monkeypatch):
    """The same gate guards extend folds; the aborted fold is a normal
    crashed-extend (intent rows open) that the next mutation GCs."""
    import mantic_sh_spark.operators.index_build as ib
    from mantic_sh_spark.sources.catalog import IndexPaths
    from mantic_sh_spark.streaming.incremental import extend_index

    cfg = small_corpus["cfg"]
    pages = gen_pages(spark, cfg, partitions=2)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2)

    more = gen_pages(spark, SynthConfig(n_docs=80, vocab_size=300, seed=7), partitions=2)
    more = more.withColumn("url", F.concat(F.lit("x-"), F.col("url")))

    def colliding_tid(term):
        col = term if isinstance(term, F.Column) else F.col(term)
        return F.xxhash64(F.substring(col, 1, 1))

    monkeypatch.setattr(ib, "tid_col", colliding_tid)
    with pytest.raises(RuntimeError, match="collision"):
        extend_index(spark, idx, more, n_new_segments=1)
    monkeypatch.undo()
    # aborted fold heals on the next mutation; the retried extend lands
    segs = extend_index(spark, idx, more, n_new_segments=1)
    assert segs
    from mantic_sh_spark.operators.index_build import index_stats

    st = index_stats(spark, idx)
    assert st["n_docs"] == cfg.n_docs + 80


def _kernel_case(seed):
    """Random per-term postings over a few origin segments, encoded with
    the build's encoder (codec.encode_rows). Some terms come from two
    interleaved sources, so one term's blocks overlap; block sizes 2
    and 3 make many tiny intervals; every fourth case has all-equal
    per-term scores, so interval bounds tie θ and only the doc-id
    tie-break decides."""
    from mantic_sh_spark.functions.codec import SEG_STRIDE, encode_rows

    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(50, 600))
    ids = np.sort(rng.integers(0, 3, n_docs) * SEG_STRIDE + rng.permutation(4 * n_docs)[:n_docs])
    ties = seed % 4 == 2
    dl = np.full(n_docs, 10) if ties else rng.integers(1, 60, n_docs)
    avgdl = float(dl.mean())
    build_avgdl = avgdl * (0.8 if seed % 3 == 0 else 1.0)  # drifted → bound_factor > 1
    bs = int(rng.choice([2, 3, 128]))
    by_term, postings = {}, {}
    for t in range(int(rng.integers(1, 5))):
        sel = np.sort(rng.choice(n_docs, int(rng.integers(1, n_docs)), replace=False))
        tf = np.ones(len(sel), dtype=np.int64) if ties else rng.integers(1, 6, len(sel))
        postings[f"t{t}"] = (ids[sel], tf, dl[sel])
        sources = [np.arange(len(sel))]
        if rng.random() < 0.5:  # two interleaved sources → overlapping blocks
            half = rng.random(len(sel)) < 0.5
            sources = [np.flatnonzero(half), np.flatnonzero(~half)]
        by_term[f"t{t}"] = pd.concat(
            [encode_rows([0], [t], [0], ids[sel][src], tf[src], dl[sel][src],
                         build_avgdl, 1.2, 0.75, bs).to_pandas()
             for src in sources if len(src)], ignore_index=True
        )[["first_doc", "last_doc", "block_max", "n", "doc_gaps", "tfs", "dls"]]
    idf_map = {t: 1.0 if ties else float(rng.uniform(0.1, 3.0)) for t in by_term}
    dead = None
    if seed % 2:
        from mantic_sh_spark.functions.liveness import DeadDocs

        dead = DeadDocs.from_ids(rng.choice(ids, max(1, n_docs // 10), replace=False))
    return by_term, postings, idf_map, avgdl, avgdl / build_avgdl, dead


def _brute_scores(postings, idf_map, avgdl, dead):
    """doc → BM25 score rounded to 4 decimals, summed in term order."""
    from mantic_sh_spark.functions.codec import tf_norm

    acc: dict[int, float] = {}
    for t, (d, tf, dl) in postings.items():
        for doc, s in zip(d.tolist(), (idf_map[t] * tf_norm(tf, dl, avgdl, 1.2, 0.75)).tolist()):
            acc[doc] = acc.get(doc, 0.0) + s
    return {d: float(np.round(s, 4)) for d, s in acc.items()
            if dead is None or d not in dead}


def test_segment_topk_matches_brute_force():
    """The block-interval kernel equals a brute-force scorer on seeded
    frames: overlapping blocks, block_size 2/3, DeadDocs, drifted avgdl
    (bound_factor > 1), k from 1 to past the match count, a warm
    decode cache (and frames whose rows it no longer matches), and a
    deadline of 0 (partial, exact-scored answer)."""
    from mantic_sh_spark.operators.wand import segment_topk

    class Cache(dict):
        def put(self, key, value):
            self[key] = value

    for seed in range(60):
        by_term, postings, idf_map, avgdl, bf, dead = _kernel_case(seed)
        brute = _brute_scores(postings, idf_map, avgdl, dead)
        ranked = sorted(brute.items(), key=lambda x: (-x[1], x[0]))
        terms = sorted(by_term)
        cache = Cache()
        for k in (1, 7, 50, len(brute) + 5):
            stats = {}
            got = segment_topk(by_term, terms, idf_map, avgdl, k, 1.2, 0.75,
                               bound_factor=bf, dead=dead, stats=stats, decode_cache=cache)
            assert got == ranked[:k], (seed, k)
            assert "truncated" not in stats
            assert stats["blocks_decoded"] <= stats["blocks_considered"]
        # every term was fully decoded by the k > matches run → cached
        assert set(cache) == set(terms), seed
        stats = {}
        hot = segment_topk(by_term, terms, idf_map, avgdl, 7, 1.2, 0.75, bound_factor=bf,
                           dead=dead, stats=stats, decode_cache=cache)
        assert hot == ranked[:7] and stats["blocks_decoded"] == 0, seed
        # the same blocks in another row order must not reuse the entries
        # (one term left uncached, so cached blocks are sliced per block)
        flipped = {t: f.iloc[::-1].reset_index(drop=True) for t, f in by_term.items()}
        part = Cache({t: v for t, v in cache.items() if t != terms[0]})
        assert segment_topk(flipped, terms, idf_map, avgdl, 7, 1.2, 0.75, bound_factor=bf,
                            dead=dead, decode_cache=part) == ranked[:7], seed

        stats = {}
        partial = segment_topk(by_term, terms, idf_map, avgdl, 7, 1.2, 0.75,
                               bound_factor=bf, dead=dead, stats=stats, deadline=0.0)
        assert len(partial) <= 7 and partial == sorted(partial, key=lambda x: (-x[1], x[0]))
        assert all(brute[d] == s for d, s in partial), seed
        if not stats.get("truncated"):
            assert partial == ranked[:7], seed


def test_segment_topk_visits_intervals_that_tie_theta():
    """An interval whose bound only TIES θ must still be visited: its
    docs can equal the k-th score with a lower doc id. Dense term a over
    docs 0..99 and term b over 90, 95, 99 (equal per-posting scores):
    [90, 100) is bounded by a + b and visited first, filling the top 5
    with 90, 95, 99, 91, 92; [0, 90) is bounded by a alone — exactly θ —
    and holds docs 0 and 1, which outrank 91 and 92."""
    from mantic_sh_spark.functions.codec import encode_rows
    from mantic_sh_spark.operators.wand import segment_topk

    def frame(docs):
        docs = np.asarray(docs, dtype=np.int64)
        ones = np.ones(len(docs), dtype=np.int64)
        return encode_rows([0], [0], [0], docs, ones, ones * 10, 10.0, 1.2, 0.75).to_pandas()[
            ["first_doc", "last_doc", "block_max", "n", "doc_gaps", "tfs", "dls"]]

    by_term = {"a": frame(range(100)), "b": frame([90, 95, 99])}
    got = segment_topk(by_term, ["a", "b"], {"a": 1.0, "b": 1.0}, 10.0, 5, 1.2, 0.75)
    assert [d for d, _ in got] == [90, 95, 99, 0, 1]

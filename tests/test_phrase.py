"""Positional index + exact-phrase top-k: results must equal a pure
token-scan oracle (adjacent-run counting over the raw text)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from mantic_sh_spark.functions.tokenize import tokenize
from mantic_sh_spark.operators.index_build import build_index
from mantic_sh_spark.operators.phrase import phrase_topk
from mantic_sh_spark.operators.wand import wand_topk
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    cfg = SynthConfig(n_docs=300, vocab_size=120, seed=47)  # small vocab → real phrases
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path_factory.mktemp("posidx") / "idx")
    build_index(spark, pages, idx, n_segments=3, chunk_size=64, block_size=32,
                store_positions=True)
    return {"cfg": cfg, "idx": idx}


def _oracle_phrase(docs_pairs, phrase, k):
    terms = tokenize(phrase)
    res = []
    for doc_id, text in docs_pairs:
        toks = tokenize(text)
        n = sum(
            1
            for i in range(len(toks) - len(terms) + 1)
            if toks[i : i + len(terms)] == terms
        )
        if n:
            res.append((doc_id, n))
    res.sort(key=lambda x: (-x[1], x[0]))
    return res[:k]


def test_phrase_matches_token_scan_oracle(spark, pos_index):
    idx = pos_index["idx"]
    docs = spark.read.parquet(f"{idx}/docs").select("doc_id", "text").collect()
    pairs = [(r.doc_id, r.text) for r in docs]

    # pick REAL adjacent bigrams/trigram from the corpus + an absent one
    t0 = tokenize(pairs[0][1])
    phrases = [
        (0, f"{t0[3]} {t0[4]}"),
        (1, f"{t0[10]} {t0[11]} {t0[12]}"),
        (2, "w0x qqneverafter"),
    ]
    got = {}
    for r in phrase_topk(spark, idx, phrases, k=10).orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append((r.doc_id, r.n_matches))
    for qid, q in phrases:
        assert got.get(qid, []) == _oracle_phrase(pairs, q, 10), f"q{qid}='{q}'"


def test_positional_index_serves_wand_identically(spark, pos_index):
    """The positions column must not perturb BM25 serving: WAND over the
    positional index == WAND over a positions-free build."""
    cfg = pos_index["cfg"]
    pages = gen_pages(spark, cfg, partitions=3)
    import tempfile

    plain = tempfile.mkdtemp(prefix="plainidx") + "/idx"
    build_index(spark, pages, plain, n_segments=3, chunk_size=64, block_size=32)
    queries = [(0, "w1x w4x"), (1, "w0x"), (2, "w2x w9x w5x")]
    a = wand_topk(spark, pos_index["idx"], queries, k=8).orderBy("query_id", "rank").collect()
    b = wand_topk(spark, plain, queries, k=8).orderBy("query_id", "rank").collect()
    assert [(r.query_id, r.doc_id, r.score) for r in a] == [
        (r.query_id, r.doc_id, r.score) for r in b
    ]


def test_phrase_respects_tombstones(spark, pos_index, tmp_path):
    import shutil

    from mantic_sh_spark.operators.delete import delete_docs

    # copy the shared index — tombstoning must not pollute other tests
    idx = str(tmp_path / "idx_copy")
    shutil.copytree(pos_index["idx"], idx)
    docs = spark.read.parquet(f"{idx}/docs").select("doc_id", "text").collect()
    t0 = tokenize(docs[0].text)
    phrase = [(0, f"{t0[3]} {t0[4]}")]
    before = phrase_topk(spark, idx, phrase, k=5).collect()
    assert before
    victim = before[0].doc_id
    delete_docs(spark, idx, doc_ids=[int(victim)])
    after = phrase_topk(spark, idx, phrase, k=5).collect()
    assert victim not in {r.doc_id for r in after}


def test_positional_merge_purge_preserves_phrases(spark, tmp_path):
    """Full LSM composition on a positional index: delete docs, merge
    all segments with compact+purge, and phrase results must equal the
    token-scan oracle over the REMAINING corpus."""
    from mantic_sh_spark.operators.delete import delete_docs, tombstone_count
    from mantic_sh_spark.operators.merge import merge_segments
    from mantic_sh_spark.sources.catalog import IndexPaths

    cfg = SynthConfig(n_docs=250, vocab_size=100, seed=53)
    pages = gen_pages(spark, cfg, partitions=3)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=2, chunk_size=48, block_size=16,
                store_positions=True)

    docs = spark.read.parquet(f"{idx}/docs").select("doc_id", "text").collect()
    t0 = tokenize(docs[0].text)
    phrase = [(0, f"{t0[5]} {t0[6]}")]
    victims = [int(r.doc_id) for r in docs[:20]]
    delete_docs(spark, idx, doc_ids=victims)
    merge_segments(spark, idx, [0, 1], dst_segment=4, purge=True)
    assert tombstone_count(spark, IndexPaths(idx)) == 0

    remaining = [(r.doc_id, r.text) for r in docs if r.doc_id not in set(victims)]
    got = [(r.doc_id, r.n_matches) for r in
           phrase_topk(spark, idx, phrase, k=100000).orderBy("rank").collect()]
    want = _oracle_phrase(remaining, phrase[0][1], 10**6)
    assert sorted(got) == sorted(want) and len(want) > 0

    # WAND over the purged positional index still rank-identical to
    # exhaustive over the remaining docs
    from mantic_sh_spark.functions.tokenize import tokens_col
    from mantic_sh_spark.operators.query import bm25_topk

    queries = [(0, "w1x w3x"), (1, "w0x")]
    rw = wand_topk(spark, idx, queries, k=6).orderBy("query_id", "rank").collect()
    live = spark.read.parquet(f"{idx}/docs").withColumn("tokens", tokens_col("text"))
    rx = bm25_topk(spark, live, queries, k=6).orderBy("query_id", "rank").collect()
    assert [(r.query_id, r.doc_id, r.score) for r in rw] == [
        (r.query_id, r.doc_id, r.score) for r in rx
    ]


def _oracle_sloppy(docs_pairs, phrase, slop, k):
    """Greedy-smallest in-order match with total stretch ≤ slop."""
    terms = tokenize(phrase)
    res = []
    for doc_id, text in docs_pairs:
        toks = tokenize(text)
        pos = {t: [i for i, x in enumerate(toks) if x == t] for t in set(terms)}
        if any(not pos[t] for t in terms):
            continue
        n = 0
        for p0 in pos[terms[0]]:
            prev, ok = p0, True
            for t in terms[1:]:
                nxt = [p for p in pos[t] if p > prev]
                if not nxt:
                    ok = False
                    break
                prev = nxt[0]
            if ok and (prev - p0 - (len(terms) - 1)) <= slop:
                n += 1
        if n:
            res.append((doc_id, n))
    res.sort(key=lambda x: (-x[1], x[0]))
    return res[:k]


def test_sloppy_phrase_matches_oracle(spark, pos_index):
    idx = pos_index["idx"]
    docs = spark.read.parquet(f"{idx}/docs").select("doc_id", "text").collect()
    pairs = [(r.doc_id, r.text) for r in docs]
    t0 = tokenize(pairs[0][1])
    for slop in (0, 2, 5):
        phrases = [(0, f"{t0[3]} {t0[6]}"), (1, f"{t0[0]} {t0[4]} {t0[8]}")]
        got = {}
        rows = phrase_topk(spark, idx, phrases, k=100000, slop=slop).collect()
        for r in rows:
            got.setdefault(r.query_id, []).append((r.doc_id, r.n_matches))
        for qid, q in phrases:
            want = _oracle_sloppy(pairs, q, slop, 10**6)
            assert sorted(got.get(qid, [])) == sorted(want), f"slop={slop} q='{q}'"

"""The terms/ summary: one row per segment (n_terms, n_postings, bytes),
and the two readers outside the serving plane that depend on it —
index_stats and the benchmark's per-segment bytes read
(perfbench/spark_phases.py::segment_bytes)."""

import os
import sys

import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from mantic_sh_spark.operators import merge as merge_mod
from mantic_sh_spark.operators.delete import delete_docs
from mantic_sh_spark.operators.index_build import build_index, index_stats
from mantic_sh_spark.operators.merge import merge_segments
from mantic_sh_spark.serve import IndexReader
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages
from mantic_sh_spark.streaming.incremental import upsert_pages

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def _postings_truth(idx: str) -> dict:
    """{segment: (distinct tids, Σn, Σnbytes)} straight from postings."""
    t = ds.dataset(f"{idx}/postings", format="parquet", partitioning="hive").to_table(
        columns=["segment_id", "tid", "n", "nbytes"]).to_pandas()
    g = t.groupby("segment_id")
    return {int(s): (int(g.tid.nunique()[s]), int(g.n.sum()[s]), int(g.nbytes.sum()[s]))
            for s in g.groups}


def _stats_no_jobs(spark, idx: str, group: str) -> dict:
    sc = spark.sparkContext
    sc.setJobGroup(group, "index_stats")
    try:
        st = index_stats(spark, idx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0, group
    return st


def _check(spark, idx: str, step: str) -> None:
    if PERFBENCH not in sys.path:
        sys.path.insert(0, PERFBENCH)
    from spark_phases import segment_bytes

    truth = _postings_truth(idx)
    gated = set(IndexReader(idx).gated_segments)
    rows = ds.dataset(f"{idx}/terms", format="parquet", partitioning="hive").to_table().to_pylist()
    # exactly one summary row per live segment, equal to its postings
    assert sorted(r["segment_id"] for r in rows) == sorted(truth), step
    assert {r["segment_id"]: (r["n_terms"], r["n_postings"], r["bytes"]) for r in rows} == truth, step
    assert segment_bytes(idx) == {s: v[2] for s, v in truth.items()}, step
    st = _stats_no_jobs(spark, idx, f"segment-summary-{step}")
    served = [v for s, v in truth.items() if s not in gated]
    assert (st["postings"], st["index_bytes"]) == (sum(v[1] for v in served),
                                                   sum(v[2] for v in served)), step
    assert st["segments"] == len(served), step


def test_segment_summary_guards_benchmark_read(spark, tmp_path, monkeypatch):
    """After a build, an upsert, a delete, a merge crashed before its
    'committed' barrier (its dst summary is written but gated) and a
    purging merge: each live segment's terms/ partition holds one row
    equal to its postings' distinct tids, Σn and Σnbytes; the
    benchmark's segment_bytes reads Σnbytes per segment; index_stats
    sums the non-gated segments and runs no Spark job."""
    cfg = SynthConfig(n_docs=400, vocab_size=600, seed=42, needle_every=97)
    pages = gen_pages(spark, cfg, partitions=4)
    idx = str(tmp_path / "idx")
    build_index(spark, pages, idx, n_segments=4)
    _check(spark, idx, "build")

    mod_urls = [r.url for r in pages.select("url").orderBy("url").limit(30).collect()]
    modified = pages.filter(F.col("url").isin(mod_urls)).withColumn(
        "text", F.concat(F.col("text"), F.lit(" zzmodified")))
    res = upsert_pages(spark, idx, modified, n_new_segments=2)
    assert res["modified"] == 30
    _check(spark, idx, "upsert")

    delete_docs(spark, idx, doc_ids=[d for d, _ in IndexReader(idx).topk("w1x w2x", k=5)])
    _check(spark, idx, "delete")

    calls = {"n": 0}
    real = merge_mod.append_manifest

    def crashing(spark_, paths_, rows):
        calls["n"] += 1
        if calls["n"] == 2:  # the 'committed' barrier append
            raise RuntimeError("injected merge crash")
        return real(spark_, paths_, rows)

    monkeypatch.setattr(merge_mod, "append_manifest", crashing)
    with pytest.raises(RuntimeError, match="injected merge crash"):
        merge_segments(spark, idx, [0, 1], dst_segment=20, purge=True)
    monkeypatch.undo()
    assert IndexReader(idx).gated_segments == [20]
    _check(spark, idx, "crashed-merge")

    live = sorted(s for s in _postings_truth(idx) if s != 20)
    merge_segments(spark, idx, live, purge=True)  # GC rolls the crashed fold back first
    assert len(_postings_truth(idx)) == 1
    _check(spark, idx, "merge")

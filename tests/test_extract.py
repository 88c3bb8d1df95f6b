"""Extraction invariant (input_hint): byte-identical text per url,
guarded by golden sha256 hashes; extract(html) == text on the synthetic
corpus by construction."""

import hashlib
import json
import os

import numpy as np
import pandas as pd

from mantic_sh_spark.sources.extract import extract_pages, extract_series, extract_text
from mantic_sh_spark.sources.synth import SynthConfig, gen_pages, make_batch

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "extract_hashes.json")


def test_extract_basics():
    assert extract_text(b"<html><body><p>a b</p><p>c</p></body></html>") == "a b c"
    assert extract_text(b"<body>x<script>drop()</script> y</body>") == "x y"
    assert extract_text(b"<body>A &amp; B &lt;tag&gt; &#32;ok</body>") == "A & B <tag> ok"
    assert extract_text(b"<head><title>nope</title></head><body>yes</body>") == "yes"
    assert extract_text(b"no tags at all") == "no tags at all"
    assert extract_text("<body><b>bold</b> plain</body>") == "bold plain"


def test_extract_recovers_synth_text():
    cfg = SynthConfig(n_docs=50, vocab_size=300)
    pdf = make_batch(np.arange(50), cfg)
    got = extract_series(pdf["html"])
    assert list(got) == list(pdf["text"])


def test_golden_hashes():
    """Pin extraction output per url — any change to the extraction
    spec must bump EXTRACT_VERSION and regenerate (see file docstring
    of sources/extract.py)."""
    cfg = SynthConfig(n_docs=30, vocab_size=300)
    pdf = make_batch(np.arange(30), cfg)
    hashes = {
        url: hashlib.sha256(extract_text(h).encode("utf-8")).hexdigest()
        for url, h in zip(pdf["url"], pdf["html"])
    }
    if not os.path.exists(GOLDEN):
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            json.dump(hashes, f, indent=1, sort_keys=True)
    with open(GOLDEN) as f:
        want = json.load(f)
    assert hashes == want


def test_extract_pages_spark(spark):
    cfg = SynthConfig(n_docs=40, vocab_size=300)
    pages = gen_pages(spark, cfg, partitions=3)
    # blank out text, re-derive from html via mapInPandas, compare
    from pyspark.sql import functions as F

    blanked = pages.withColumn("text", F.lit(""))
    rederived = extract_pages(blanked).select("url", "text")
    orig = pages.select("url", F.col("text").alias("want"))
    joined = rederived.join(orig, "url")
    bad = joined.filter(F.col("text") != F.col("want")).count()
    assert bad == 0
    assert joined.count() == 40


def test_build_with_extract_matches_text_build(spark, tmp_path):
    """extract=True (html → text via the pinned spec) must produce an
    index identical to building from the provided text column — the
    synth corpus guarantees extract(html) == text byte-for-byte."""
    from pyspark.sql import functions as F

    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    pages = gen_pages(spark, SynthConfig(n_docs=120, vocab_size=300, seed=7), partitions=3)
    a = str(tmp_path / "idx_text")
    b = str(tmp_path / "idx_html")
    build_index(spark, pages, a, n_segments=3)
    build_index(spark, pages.drop("text").withColumn("text", F.lit(None).cast("string")).select(
        "url", "warc_ts", "html", "text", "lang"
    ), b, n_segments=3, extract=True)

    cols = ["tid", "segment_id", "first_doc", "last_doc", "n", "doc_gaps", "tfs"]
    pa_ = spark.read.parquet(f"{a}/postings").select(cols).orderBy("tid", "segment_id", "first_doc")
    pb_ = spark.read.parquet(f"{b}/postings").select(cols).orderBy("tid", "segment_id", "first_doc")
    assert pa_.collect() == pb_.collect()

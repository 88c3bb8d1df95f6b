"""Seeded inputs: the corpus shape, the query streams, the upsert and
delete batches and the registry tables. The same seed gives the same
inputs; the engine only ever receives what these functions return."""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Sized for a shared 4-core box, so that a run fits the run budget
# (see LAYERS.md in this directory).
N_DOCS = 2000
VOCAB = 50_000
SEGMENTS = 4
BATCH_PLAN = [2, 1, 1]  # tapered: the last commit, which nothing overlaps, is smallest
HOT_TERMS = 4096  # IndexReader's default hot-term LRU capacity
PREWARM_TERMS = 1024  # head terms a replica warms before taking traffic
PREWARM_BATCH = 64  # terms per prewarm query: one pruned postings read each
UPSERT_PAGES = 40  # half new urls, half existing urls with new text
DELETES = 5  # drawn from the base corpus's needle docs
NEEDLE_EVERY = 97  # SynthConfig default: doc i carries "zzneedle{i}" when i % 97 == 0
REG_DOCS = 2000
REG_VECS = 2000
REG_CUSTOMERS = 1500
REG_ORDERS = 15_000

# the 16 headline registry queries bench.py times, minus wand_multi, which
# writes its index to a fixed path outside the working tree
REGISTRY_QUERIES = [
    "bm25_topk", "bm25_multi", "tf_triples", "df_per_term", "dedup_exact",
    "minhash_sig", "simhash16", "token_stats", "quality_score", "ann_cosine_topk",
    "topn_per_lang", "stale_diff", "top_revenue", "phrase_positions", "fuzzy_closest",
]

WORKLOADS = ("serve", "churn")
OP_CYCLE = ["topk"] * 4 + ["phrase"] + ["topk"] * 4 + ["tiered"]


def corpus_config(seed: int):
    from mantic_sh_spark.sources.synth import SynthConfig

    return SynthConfig(n_docs=N_DOCS, vocab_size=VOCAB, seed=seed)


def corpus_terms(pages_dir: str) -> Counter:
    """Document frequency of every term of the generated corpus."""
    df = Counter()
    for text in pq.read_table(pages_dir, columns=["text"]).column("text").to_pylist():
        df.update(set(text.split(" ")))
    return df


@dataclass
class Request:
    op: str  # "topk" (followed by urls for its hits), "phrase" or "tiered"
    text: str


def serve_stream(seed: int, df: Counter, n: int) -> list[Request]:
    """n requests: 80% topk, 10% phrase, 10% tiered (OP_CYCLE).

    Per 10 topk/tiered queries, 7 of 1, 2 or 3 terms drawn Zipf(1.07) over
    the whole vocabulary, then a needle, a CamelCase head pair and an
    absent term (16 absent terms per seed, retried like the needles).
    Head terms repeat and stay in the reader's hot-term LRU; tail terms
    miss it and are fetched cold. Phrases are pairs of head terms whose
    first term cycles through the head.

    Query shapes cycle and Zipf draws are evenly spread quantiles (the seed
    offsets them), so the work a window holds does not swing with the
    seed."""
    rng = np.random.default_rng([seed, 7])
    head = by_frequency(df)[:64]
    p = 1.0 / np.power(np.arange(1, VOCAB + 1, dtype=np.float64), 1.07)
    cdf = np.cumsum(p / p.sum())
    # Zipf quantiles from a golden-ratio sequence: every prefix of it covers
    # [0, 1) evenly, whatever the window consumes (2n bounds the draws)
    u = (rng.random() + np.arange(2 * n) * 0.6180339887498949) % 1.0
    ranks = iter(np.searchsorted(cdf, u, side="right"))
    needles = [f"zzneedle{i}" for i in range(0, N_DOCS, NEEDLE_EVERY)]
    absent = [f"qqabsent{int(x)}" for x in rng.integers(0, 1 << 30, 16)]
    out, q_i, p_i = [], 0, 0
    for i in range(n):
        op = OP_CYCLE[i % len(OP_CYCLE)]
        if op == "phrase":
            a = head[p_i % len(head)]
            b = head[(p_i + 1 + int(rng.integers(0, len(head) - 1))) % len(head)]
            p_i += 1
            out.append(Request(op, f"{a} {b}"))
            continue
        if q_i % 10 < 7:
            out.append(Request(op, " ".join(f"w{next(ranks)}x" for _ in range(q_i % 3 + 1))))
        elif q_i % 10 == 7:
            out.append(Request(op, needles[int(rng.integers(0, len(needles)))]))
        elif q_i % 10 == 8:
            a, b = rng.choice(head, 2)
            out.append(Request(op, a + b.capitalize()))
        else:
            out.append(Request(op, absent[int(rng.integers(0, len(absent)))]))
        q_i += 1
    return out


def by_frequency(df: Counter) -> list[str]:
    """The corpus's vocabulary terms, most frequent first."""
    return [t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0])) if t.startswith("w")]


def prewarm_queries(df: Counter) -> list[str]:
    """What a replica replays from its query log before taking traffic: the
    PREWARM_TERMS most-queried terms (the stream's Zipf ranks 1, 2, ...
    that occur in the corpus), PREWARM_BATCH to a query, least popular
    first so the head ends most recently used."""
    terms = [f"w{r}x" for r in range(1, VOCAB + 1) if f"w{r}x" in df][:PREWARM_TERMS]
    return [" ".join(terms[i:i + PREWARM_BATCH]) for i in range(0, len(terms), PREWARM_BATCH)][::-1]


def check_queries(seed: int, df: Counter, n: int = 8) -> list[str]:
    """A seeded sample of topk queries for the rank-identity check: head,
    mid and tail terms, a multi-term query and a CamelCase pair."""
    rng = np.random.default_rng([seed, 11])
    by_freq = by_frequency(df)
    picks = [by_freq[int(rng.integers(0, 20))], by_freq[int(rng.integers(20, 500))],
             by_freq[int(rng.integers(HOT_TERMS, len(by_freq)))]]
    picks.append(" ".join(rng.choice(by_freq[:2000], 3)))
    a, b = rng.choice(by_freq[:100], 2)
    picks.append(a + b.capitalize())
    while len(picks) < n:
        picks.append(" ".join(rng.choice(by_freq[:5000], 2)))
    return picks


def phrase_checks(seed: int, pages_dir: str, changed: frozenset = frozenset(), n: int = 3) -> list[str]:
    """Adjacent token pairs lifted from corpus documents whose url is not in
    `changed` (upserted with new text or deleted), so each matches."""
    rng = np.random.default_rng([seed, 13])
    pages = pq.read_table(pages_dir, columns=["url", "text"]).to_pydict()
    texts = [t for u, t in zip(pages["url"], pages["text"]) if u not in changed]
    out = []
    for i in rng.choice(len(texts), n, replace=False):
        toks = texts[int(i)].split(" ")
        j = int(rng.integers(0, len(toks) - 1))
        out.append(f"{toks[j]} {toks[j + 1]}")
    return out


@dataclass
class ChurnBatch:
    pages: pd.DataFrame  # url, warc_ts, html, text, lang
    needles: dict  # url -> needle term unique to its new text
    delete_urls: dict  # url -> base needle term of the deleted doc


def churn_batch(seed: int) -> ChurnBatch:
    """UPSERT_PAGES pages, half new urls and half existing urls with new
    text, each carrying a needle term of its own; and DELETES base docs to
    delete, drawn from those that carry a base needle."""
    from mantic_sh_spark.sources.synth import SynthConfig, make_batch

    cfg = corpus_config(seed)
    rewrite = SynthConfig(n_docs=N_DOCS, vocab_size=VOCAB, seed=seed + 1)
    rng = np.random.default_rng([seed, 17])
    needle_docs = np.arange(0, N_DOCS, NEEDLE_EVERY)
    half = UPSERT_PAGES // 2
    fresh = make_batch(np.arange(N_DOCS, N_DOCS + half), cfg)
    mod_ids = np.sort(rng.choice(np.setdiff1d(np.arange(N_DOCS), needle_docs), half, replace=False))
    mod = make_batch(mod_ids, cfg)
    mod["text"] = make_batch(mod_ids, rewrite)["text"].to_numpy()
    pages = pd.concat([fresh, mod], ignore_index=True)
    tags = [f"zzvis{seed}n{j}" for j in range(len(pages))]
    pages["text"] = pages["text"] + " " + pd.Series(tags)
    dels = np.sort(rng.choice(needle_docs, DELETES, replace=False))
    return ChurnBatch(
        pages=pages,
        needles=dict(zip(pages["url"], tags)),
        delete_urls={u: f"zzneedle{int(i)}" for u, i in zip(make_batch(dels, cfg)["url"], dels)},
    )


_WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
          "line sort window order data column join small customer query stream "
          "group filter big vector index shard block page cache token").split()
_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]


def write_registry_tables(seed: int, out_dir: str) -> None:
    """documents, embeddings, orders and customer tables in the schema the
    registry queries and their DuckDB oracles read."""
    rng = np.random.default_rng([seed, 19])
    os.makedirs(out_dir, exist_ok=True)
    texts = []
    for _ in range(REG_DOCS):
        n = int(rng.integers(8, 60))
        texts.append(" ".join(rng.choice(_WORDS, n)))
    # a few exact duplicates so dedup_exact has groups to fold
    for i in range(0, REG_DOCS, 50):
        texts[i + 1] = texts[i]
    docs = pa.table({
        "doc_id": pa.array(np.arange(REG_DOCS), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in rng.choice(_LANGS, REG_DOCS)],
        "source": [f"src{int(x)}" for x in rng.integers(0, 8, REG_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.standard_normal((REG_VECS, 64)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(REG_VECS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, REG_VECS), pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, REG_CUSTOMERS + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, REG_CUSTOMERS + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, REG_CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, REG_CUSTOMERS), 2),
        "c_mktsegment": [str(x) for x in rng.choice(["BUILDING", "MACHINERY", "HOUSEHOLD"], REG_CUSTOMERS)],
    })
    base = np.datetime64("2024-01-01T00:00:00", "us")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, REG_ORDERS + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, REG_CUSTOMERS + 1, REG_ORDERS), pa.int64()),
        "o_orderstatus": [str(x) for x in rng.choice(["O", "F", "P"], REG_ORDERS)],
        "o_totalprice": np.round(rng.uniform(900, 500_000, REG_ORDERS), 2),
        "o_orderdate": pa.array(base + rng.integers(0, 365 * 86400, REG_ORDERS) * np.timedelta64(1, "s"),
                                pa.timestamp("us")),
        "o_orderpriority": [str(x) for x in rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], REG_ORDERS)],
    })
    for name, t in (("documents", docs), ("embeddings", embeddings),
                    ("customer", customer), ("orders", orders)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))

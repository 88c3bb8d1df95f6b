"""Similarity search over embedding columns (array<float>).

Reference analog: the optional semantic rerank — MiniLM embeddings +
cosine similarity re-sort (src/semantic-scorer.ts:157-244, R15). Here
generalized to corpus-scale ANN primitives:

  * brute-force cosine top-k — the exact baseline. Dot products run
    JVM-side via zip_with/aggregate (no Python).
  * random-hyperplane LSH top-k — the scale path: H deterministic
    hyperplanes → sign-bit bucket per vector → exact rescore within
    the query's bucket (plus multiprobe neighbors). Candidate set is
    |bucket|, not |corpus|.

At 10^12 vectors the brute path is a full scan per query (only for
oracle checks); the LSH path prunes to buckets and is embarrassingly
parallel — bucket assignment is one mapInPandas matmul.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def _cosine_scored(emb: DataFrame, q: F.Column, id_col: str,
                   vec_col: str) -> DataFrame:
    """(vec_id, cos) for an arbitrary query-vector Column — the ONE
    copy of the scoring expression (zip_with dot with both sides cast
    to double, round 4) shared by the literal-vector and
    DataFrame-vector entry points, so they cannot diverge."""
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.round(_dot(F.col(vec_col), q) / (_norm(F.col(vec_col)) * _norm(q)), 4).alias("cos"),
    )


def cosine_scores(emb: DataFrame, query_vec: list[float], id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """(vec_id, cos): exact cosine vs a constant query vector."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return _cosine_scored(emb, q, id_col, vec_col)


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Distributed top-k: orderBy().limit() compiles to
    TakeOrderedAndProject (per-partition heap + driver merge — no
    single-partition global sort, which a bare Window.orderBy would
    force); the rank window then runs over ≤ k rows only."""
    top = scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("vec_id"))
    return top.withColumn("rank", F.row_number().over(w))


def _exclude_and_rank(s: DataFrame, k: int, exclude_id: int | None) -> DataFrame:
    if exclude_id is not None:
        s = s.filter(F.col("vec_id") != exclude_id)
    return _ranked_topk(s, k)


def cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                exclude_id: int | None = None) -> DataFrame:
    """(vec_id, cos, rank): brute-force exact top-k (deterministic
    tie-break vec_id asc)."""
    return _exclude_and_rank(cosine_scores(emb, query_vec), k, exclude_id)


def cosine_topk_df(emb: DataFrame, query_df: DataFrame, k: int = 10,
                   exclude_id: int | None = None, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """cosine_topk with the query vector as a one-row DataFrame
    (broadcast crossJoin) instead of a collected Python list — keeps
    the whole query lazy, so a registry entry never runs a separate
    driver-side `first()` job inside its timed region (r6). Scoring is
    structurally shared with cosine_scores (_cosine_scored).

    `query_df` must hold EXACTLY one row: the crossJoin does not check,
    so zero rows return an empty result and several rows return
    duplicated, mis-ranked hits (the collected form failed loudly)."""
    j = emb.crossJoin(F.broadcast(query_df.select(F.col(vec_col).alias("_qv"))))
    s = _cosine_scored(j, F.col("_qv"), id_col, vec_col)
    return _exclude_and_rank(s, k, exclude_id)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (driver-side, tiny, broadcast
    via closure)."""
    rng = np.random.default_rng([seed, dim, n_planes])
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def lsh_bucket_ids(emb: DataFrame, dim: int, n_planes: int = 12, seed: int = 42,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, bucket): sign-bit bucket per vector. One vectorized
    matmul per Arrow batch (mapInPandas) — the only Python stage, and
    it is O(batch × dim × planes) BLAS."""
    planes = _hyperplanes(dim, n_planes, seed)

    def assign(batches):
        for pdf in batches:
            vecs = np.vstack(pdf[vec_col].to_numpy())
            bits = (vecs @ planes.T) > 0
            bucket = (bits.astype(np.int64) << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
            yield pd.DataFrame({"vec_id": pdf[id_col].to_numpy(), "bucket": bucket})

    return emb.select(id_col, vec_col).mapInPandas(assign, schema="vec_id long, bucket long")


def _probe_buckets(query_vec: list[float], n_planes: int, seed: int,
                   multiprobe: int) -> list[int]:
    """Query-side bucket + ≤multiprobe-bit-flip neighbors (driver-side,
    O(n_planes²) ints)."""
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    qbits = (planes @ np.asarray(query_vec, dtype=np.float64)) > 0
    qbucket = int((qbits.astype(np.int64) << np.arange(n_planes, dtype=np.int64)).sum())
    probes = {qbucket}
    if multiprobe >= 1:
        for i in range(n_planes):
            probes.add(qbucket ^ (1 << i))
    if multiprobe >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probes.add(qbucket ^ (1 << i) ^ (1 << j))
    return sorted(probes)


def lsh_cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10,
                    n_planes: int = 12, seed: int = 42, multiprobe: int = 1,
                    exclude_id: int | None = None) -> DataFrame:
    """Approximate top-k: rescore only vectors whose bucket matches the
    query's bucket or differs in ≤ multiprobe sign bits. This ad-hoc
    form recomputes bucket assignment over `emb` — use build_ann_index
    + ann_index_topk for serving (bucket table materialized once,
    probes are partition-pruned reads)."""
    probes = _probe_buckets(query_vec, n_planes, seed, multiprobe)
    buckets = lsh_bucket_ids(emb, len(query_vec), n_planes, seed)
    cand = buckets.filter(F.col("bucket").isin(probes)).select("vec_id")
    scored = cosine_scores(emb.join(cand, "vec_id", "left_semi"), query_vec)
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    return _ranked_topk(scored, k)


def build_ann_index(spark, emb: DataFrame, index_dir: str, n_planes: int = 12,
                    seed: int = 42, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> str:
    """Materialize the LSH bucket table ONCE, hive-partitioned by
    bucket and carrying the vectors — each query then reads ONLY its
    probe partitions (partition pruning, tests/test_plans.py) and
    rescores in place. One corpus pass at build time; query cost is
    O(probe-bucket rows), independent of corpus size."""
    import pandas as pd

    sample = emb.select(vec_col).first()
    dim = len(sample[0])
    buckets = lsh_bucket_ids(emb, dim, n_planes, seed, id_col, vec_col)
    (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
        .join(buckets, "vec_id")
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/buckets")
    )
    meta = pd.DataFrame({"dim": [dim], "n_planes": [n_planes], "seed": [seed]})
    spark.createDataFrame(meta, "dim int, n_planes int, seed int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/ann_meta")
    return index_dir


def ann_probe_candidates(spark, index_dir: str, query_vec: list[float],
                         multiprobe: int = 1) -> DataFrame:
    """Partition-pruned read of the probe buckets (exposed for plan
    tests)."""
    meta = spark.read.parquet(f"{index_dir}/ann_meta").collect()[0]
    assert len(query_vec) == meta.dim, "query dim must match index dim"
    probes = _probe_buckets(query_vec, meta.n_planes, meta.seed, multiprobe)
    return spark.read.parquet(f"{index_dir}/buckets").filter(F.col("bucket").isin(probes))


def ann_index_topk(spark, index_dir: str, query_vec: list[float], k: int = 10,
                   multiprobe: int = 1, exclude_id: int | None = None) -> DataFrame:
    """Approximate top-k against a materialized ANN index: probe-bucket
    partitions only — the corpus is never rescanned."""
    cand = ann_probe_candidates(spark, index_dir, query_vec, multiprobe)
    scored = cosine_scores(cand, query_vec)
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    return _ranked_topk(scored, k)


def _spherical_kmeans(mat: np.ndarray, n_lists: int, seed: int = 42,
                      iters: int = 12) -> np.ndarray:
    """Deterministic spherical k-means (cosine metric): unit-normalize,
    assign by max dot, centroid = renormalized mean. Pure numpy on a
    driver-side training sample — the standard IVF coarse-quantizer
    training regime (a few 10^4 samples train lists for 10^9+ vectors)."""
    rng = np.random.default_rng([seed, n_lists, mat.shape[1]])
    x = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    cents = x[rng.choice(len(x), size=min(n_lists, len(x)), replace=False)]
    if len(cents) < n_lists:  # degenerate tiny input: pad with jitter
        pad = cents[rng.integers(0, len(cents), n_lists - len(cents))]
        cents = np.vstack([cents, pad + 1e-3 * rng.standard_normal(pad.shape)])
    for _ in range(iters):
        assign = (x @ cents.T).argmax(axis=1)
        for j in range(n_lists):
            members = x[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 1e-12:
                    cents[j] = c / n
    return cents.astype(np.float64)


def build_ivf_index(spark, emb: DataFrame, index_dir: str, n_lists: int = 64,
                    seed: int = 42, train_sample: int = 8192,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """IVF ANN index (the second scale-path family next to sign-LSH):
    train a spherical-k-means coarse quantizer on a deterministic
    driver-side sample, assign every vector to its nearest centroid
    list (one mapInPandas matmul — the only Python stage), and
    materialize the lists hive-partitioned by `list_id`. Queries read
    only the n_probe nearest lists (partition pruning), so probe cost
    is O(corpus / n_lists × n_probe), independent of corpus size."""
    import pandas as pd

    train = (
        emb.orderBy(id_col).limit(train_sample)  # deterministic sample
        .select(vec_col).toPandas()[vec_col]
    )
    mat = np.vstack(train.to_numpy()).astype(np.float64)
    cents = _spherical_kmeans(mat, n_lists, seed)

    def assign(batches):
        for pdf in batches:
            vecs = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            vecs = vecs / np.maximum(np.linalg.norm(vecs, axis=1, keepdims=True), 1e-12)
            yield pd.DataFrame({
                "vec_id": pdf[id_col].to_numpy(),
                "list_id": (vecs @ cents.T).argmax(axis=1).astype(np.int32),
            })

    lists = emb.select(id_col, vec_col).mapInPandas(assign, schema="vec_id long, list_id int")
    (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
        .join(lists, "vec_id")
        .repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{index_dir}/ivf_lists")
    )
    cpdf = pd.DataFrame({
        "list_id": np.arange(n_lists, dtype=np.int32),
        "centroid": [c.tolist() for c in cents],
    })
    spark.createDataFrame(cpdf, "list_id int, centroid array<double>").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{index_dir}/ivf_centroids")
    return index_dir


def ivf_probe_candidates(spark, index_dir: str, query_vec: list[float],
                         n_probe: int = 4) -> DataFrame:
    """Partition-pruned read of the n_probe nearest centroid lists."""
    cents = spark.read.parquet(f"{index_dir}/ivf_centroids").orderBy("list_id").collect()
    C = np.array([r.centroid for r in cents])
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    probes = [int(i) for i in (C @ q).argsort()[::-1][:n_probe]]
    return spark.read.parquet(f"{index_dir}/ivf_lists").filter(F.col("list_id").isin(probes))


def ivf_cosine_topk(spark, index_dir: str, query_vec: list[float], k: int = 10,
                    n_probe: int = 4, exclude_id: int | None = None) -> DataFrame:
    """Approximate top-k against the IVF index: exact cosine rescore
    over the probed lists only."""
    cand = ivf_probe_candidates(spark, index_dir, query_vec, n_probe)
    scored = cosine_scores(cand, query_vec)
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    return _ranked_topk(scored, k)


def hashed_embeddings(docs: DataFrame, dim: int = 32, tokens_col: str = "tokens") -> DataFrame:
    """(doc_id, emb array<double>): deterministic feature-hashing text
    embedding — each token hashes to a bucket (md5-derived 60-bit hash
    % dim) with a ±1 sign bit; the vector is the signed token-count
    per bucket, L2-normalized. Pure Catalyst (explode → agg → map →
    dense array); reproducible in DuckDB AND driver-side Python
    (hash_embed_query), which is what puts the semantic-rerank
    pipeline under the SQL oracle gate.

    This is the honest stand-in for the reference's MiniLM embeddings
    (src/semantic-scorer.ts:157-244): same algebra (embed → cosine →
    re-sort), deterministic model. The neural swap point is exactly
    here — replace this function with a mapInPandas ONNX batch encoder
    and nothing downstream changes."""
    from .dedup import hash64

    t = docs.select("doc_id", F.explode(tokens_col).alias("term"))
    h = hash64(F.col("term"), F.lit("emb"))
    b = t.select(
        "doc_id",
        F.pmod(h, F.lit(dim)).cast("int").alias("bucket"),
        (F.shiftright(h, 40).bitwiseAND(F.lit(1)) * 2 - 1).cast("double").alias("sgn"),
    )
    vec = b.groupBy("doc_id", "bucket").agg(F.sum("sgn").alias("v"))
    dense = (
        vec.groupBy("doc_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("bucket", "v"))).alias("m"))
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.try_element_at("m", i), F.lit(0.0)),
            ).alias("raw"),
        )
    )
    norm = F.sqrt(F.aggregate("raw", F.lit(0.0), lambda a, x: a + x * x))
    # zero-norm guard (all bucket sums cancel): keep the zero vector —
    # same contract as hash_embed_query; dividing would yield NaNs that
    # sort ABOVE every real cosine under desc ordering
    return dense.select(
        "doc_id",
        F.when(norm > 0, F.transform("raw", lambda x: x / norm))
        .otherwise(F.col("raw"))
        .alias("emb"),
    )


def hash_embed_query(terms: list[str], dim: int = 32) -> list[float]:
    """Driver-side twin of hashed_embeddings for a query token list —
    bit-identical hash family (md5 60-bit), so query and corpus share
    one embedding space."""
    import hashlib

    v = np.zeros(dim, dtype=np.float64)
    for t in terms:
        h = int(hashlib.md5(f"{t}#emb".encode()).hexdigest()[:15], 16)
        v[h % dim] += 1.0 if (h >> 40) & 1 else -1.0
    n = float(np.linalg.norm(v))
    return (v / n).tolist() if n else v.tolist()


def semantic_rerank(docs: DataFrame, candidates: DataFrame, query_terms: list[str],
                    dim: int = 32, k: int = 10, backend=None) -> DataFrame:
    """(doc_id, cos): rerank a candidate set (column doc_id — e.g. the
    BM25 top-N) by embedding cosine against the query (R15). The
    embedding runs ONLY over the candidates (semi-join first): the
    rerank cost is O(candidates), never a corpus pass.

    `backend` is any functions/embed.py backend (embed_docs +
    embed_query); None = the deterministic HashingBackend, which keeps
    this pipeline under the SQL oracle gate. A neural encoder
    (functions.embed.NeuralBackend / any CallableBackend) drops in with
    zero change below this line — tests/test_embed.py proves it with a
    deterministic fake encoder through the same mapInPandas plumbing."""
    if backend is None:
        from ..functions.embed import HashingBackend

        backend = HashingBackend(dim)
    cand_docs = docs.join(candidates.select("doc_id"), "doc_id", "left_semi")
    emb = backend.embed_docs(cand_docs)
    qv = F.array(*[F.lit(float(x)) for x in backend.embed_query(query_terms)])
    scored = emb.select(
        "doc_id",
        F.round(F.aggregate(F.zip_with("emb", qv, lambda a, b: a * b),
                            F.lit(0.0), lambda a, x: a + x), 4).alias("cos"),
    )
    top = scored.orderBy(F.desc("cos"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             n_planes: int = 10, seed: int = 42) -> DataFrame:
    """(a, b, cos): embedding-cosine near-dup pairs via LSH bucket
    self-join → exact verify. The vector analog of dedup.near_dup_pairs."""
    sample = emb.select("embedding").first()
    dim = len(sample.embedding)
    buckets = lsh_bucket_ids(emb, dim, n_planes, seed)
    l = buckets.select(F.col("bucket"), F.col("vec_id").alias("a"))
    r = buckets.select(F.col("bucket").alias("bkt2"), F.col("vec_id").alias("b"))
    cand = l.join(r, (F.col("bucket") == F.col("bkt2")) & (F.col("a") < F.col("b"))).select("a", "b")
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    pairs = cand.join(ea, "a").join(eb, "b")
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))), 4)
    return pairs.select("a", "b", cos.alias("cos")).filter(F.col("cos") >= threshold)

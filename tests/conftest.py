import pytest


@pytest.fixture(scope="session")
def spark():
    from mantic_sh_spark.session import get_spark

    s = get_spark(cores=4, app_name="mantic-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def small_corpus(spark, tmp_path_factory):
    """One shared small synthetic corpus + built index for query tests."""
    from mantic_sh_spark.operators.index_build import build_index
    from mantic_sh_spark.sources.synth import SynthConfig, gen_pages

    cfg = SynthConfig(n_docs=400, vocab_size=600, seed=42, needle_every=97)
    pages = gen_pages(spark, cfg, partitions=4)
    idx = str(tmp_path_factory.mktemp("index") / "idx")
    build_index(spark, pages, idx, n_segments=4)
    return {"cfg": cfg, "pages": pages, "index_dir": idx}


@pytest.fixture(scope="session")
def decoded_df():
    """A df oracle that does not read the `n` column readers sum: decode
    every posting block outside the `gated` segments with
    codec.decode_blocks (which raises when a block's bytes disagree with
    its n) and count each term's distinct (tid, doc) pairs. Returns
    count(idx, gated, terms) → {term: df}."""
    import numpy as np
    import pyarrow.dataset as ds

    from mantic_sh_spark.functions.codec import decode_blocks
    from mantic_sh_spark.functions.termhash import term_tid

    def count(idx: str, gated, terms) -> dict:
        post = ds.dataset(f"{idx}/postings", format="parquet", partitioning="hive")
        flt = ~ds.field("segment_id").isin(list(gated)) if gated else None
        t = post.to_table(filter=flt, columns=["tid", "n", "first_doc", "doc_gaps", "tfs"])
        n = t["n"].to_numpy()
        docs = decode_blocks(n, t["first_doc"].to_numpy(), t["doc_gaps"].combine_chunks(),
                             t["tfs"].combine_chunks())[0]
        pairs = np.unique(np.stack([np.repeat(t["tid"].to_numpy(), n), docs]), axis=1)
        tids, dfs = np.unique(pairs[0], return_counts=True)
        have = dict(zip(tids.tolist(), dfs.tolist()))
        return {w: have.get(term_tid(w), 0) for w in terms}

    return count

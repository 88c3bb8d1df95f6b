"""Codec properties (FIXTURES.md F4): round-trip over seeded random
doc-id sets (sizes 1..10000, gaps up to 2^40), block_max soundness,
and the merge compactor's re-encode (Spark-free)."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mantic_sh_spark.functions import codec
from mantic_sh_spark.functions.bm25 import B, K1


def _encode(docs, tfs, dls, avgdl):
    """One term's postings through the build's encoder → block rows."""
    return codec.encode_rows([0], [1], [0], docs, tfs, dls, avgdl, K1, B)


def _decode(rows, positions=False):
    """Every block of an Arrow batch/table or pandas frame, one decode."""
    cols = ["doc_gaps", "tfs", "dls"] + (["positions"] if positions else [])
    if isinstance(rows, (pa.RecordBatch, pa.Table)):
        rows = rows.to_pandas()
    return codec.decode_blocks(rows["n"].to_numpy(), rows["first_doc"].to_numpy(),
                               *(rows[c].to_numpy(object) for c in cols))


@pytest.mark.parametrize("n,hi", [(0, 10), (1, 10), (7, 100), (128, 10**6), (129, 10**6), (5000, 2**40), (10000, 2**40)])
def test_delta_roundtrip(n, hi):
    rng = np.random.default_rng(n + hi)
    docs = np.sort(rng.choice(hi, size=n, replace=False)) if n else np.empty(0, dtype=np.int64)
    ones = np.ones(n, dtype=np.int64)
    rb = _encode(docs, ones, ones, 1.0)
    assert np.array_equal(_decode(rb)[0], docs)
    # Arrow binary columns decode zero-copy, sliced batches included
    sl = rb.slice(1)
    got = codec.decode_blocks(sl.column("n").to_numpy(), sl.column("first_doc").to_numpy(),
                              *(sl.column(c) for c in ("doc_gaps", "tfs", "dls")))[0]
    assert np.array_equal(got, docs[codec.BLOCK_SIZE:])


def test_block_stores_first_doc_once():
    """A block of n postings stores n-1 doc gaps (its first id is the
    first_doc column), so a one-posting block has empty doc_gaps;
    nbytes is the three byte columns' length. Segment-3 ids (6-byte
    varints) round-trip, whole and as sliced Arrow columns; v5-layout
    bytes (the absolute first id kept in doc_gaps) raise instead of
    decoding to wrong ids."""
    rng = np.random.default_rng(9)
    base = 3 * codec.SEG_STRIDE
    docs = base + np.sort(rng.choice(10**7, size=300, replace=False))
    tfs = rng.integers(1, 5, size=300)
    dls = rng.integers(10, 90, size=300)
    # groups of 1, 2, 130 and 167 postings → blocks of 1, 2, 128, 2, 128, 39
    rb = codec.encode_rows([0, 1, 3, 133], [1, 2, 3, 4], [3] * 4, docs, tfs, dls, 50.0, K1, B)
    blocks = rb.to_pandas()
    assert blocks["n"].tolist() == [1, 2, 128, 2, 128, 39]
    for _, bl in blocks.iterrows():
        assert len(codec.varint_decode(bl.doc_gaps)) == bl.n - 1
        assert bl["nbytes"] == len(bl.doc_gaps) + len(bl.tfs) + len(bl.dls)
    assert blocks["doc_gaps"][0] == b""
    d, t, l = _decode(rb)
    assert np.array_equal(d, docs) and np.array_equal(t, tfs) and np.array_equal(l, dls)
    for b0, b1, p0, p1 in ((1, 4, 1, 133), (4, 6, 133, 300)):  # sliced Arrow columns
        sl = rb.slice(b0, b1 - b0)
        d = codec.decode_blocks(sl.column("n").to_numpy(), sl.column("first_doc").to_numpy(),
                                *(sl.column(c) for c in ("doc_gaps", "tfs", "dls")))[0]
        assert np.array_equal(d, docs[p0:p1])

    # the v5 layout: every block's doc_gaps led by its absolute first id
    v5 = blocks.copy()
    v5["doc_gaps"] = [codec.varint_encode(np.array([f])) + g
                      for f, g in zip(v5["first_doc"], v5["doc_gaps"])]
    with pytest.raises(ValueError, match="varint values"):
        _decode(v5)
    pos = np.arange(int(tfs.sum()))
    off = np.concatenate(([0], np.cumsum(tfs)))
    v5p = codec.encode_rows([0], [1], [3], docs, tfs, dls, 50.0, K1, B,
                            positions=(pos, off)).to_pandas()
    assert np.array_equal(_decode(v5p, positions=True)[3], pos)
    v5p["doc_gaps"] = [codec.varint_encode(np.array([f])) + g
                       for f, g in zip(v5p["first_doc"], v5p["doc_gaps"])]
    with pytest.raises(ValueError, match="varint values"):
        _decode(v5p, positions=True)


def test_varint_boundaries():
    vals = np.array([0, 1, 127, 128, 16383, 16384, 2**21 - 1, 2**21, 2**40, 2**62], dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)


def test_varint_fuzz():
    rng = np.random.default_rng(7)
    for _ in range(20):
        n = int(rng.integers(1, 3000))
        vals = rng.integers(0, 2**50, size=n).astype(np.uint64)
        assert np.array_equal(codec.varint_decode(codec.varint_encode(vals)), vals)


def test_blocks_roundtrip_and_blockmax():
    rng = np.random.default_rng(11)
    n = 1000
    docs = np.sort(rng.choice(10**9, size=n, replace=False))
    tfs = rng.integers(1, 60, size=n)
    dls = rng.integers(10, 800, size=n)
    avgdl = float(dls.mean())
    blocks = _encode(docs, tfs, dls, avgdl).to_pandas()
    assert (blocks["n"] <= codec.BLOCK_SIZE).all()
    off = 0
    for _, bl in blocks.iterrows():
        d, t, l = _decode(blocks.iloc[[_]])
        assert np.array_equal(d, docs[off : off + bl.n])
        assert np.array_equal(t, tfs[off : off + bl.n])
        assert np.array_equal(l, dls[off : off + bl.n])
        assert bl.first_doc == d[0] and bl.last_doc == d[-1]
        assert bl["nbytes"] == len(bl.doc_gaps) + len(bl.tfs) + len(bl.dls)
        # soundness: block_max >= every member's tf_norm
        norms = codec.tf_norm(t, l, avgdl, K1, B)
        assert bl.block_max >= norms.max() - 1e-12
        off += bl.n
    assert off == n


def test_block_concatenation_is_merge():
    """Blocks from disjoint sorted doc ranges concatenate losslessly —
    the property the salted two-phase build and k-way merge rely on."""
    rng = np.random.default_rng(3)
    lo = np.sort(rng.choice(10**6, size=300, replace=False))
    hi = np.sort(rng.choice(10**6, size=300, replace=False)) + 2 * 10**6
    tf = np.ones(300, dtype=np.int64)
    dl = np.full(300, 100)
    both = pa.Table.from_batches([_encode(lo, tf, dl, 100.0), _encode(hi, tf, dl, 100.0)])
    assert np.array_equal(_decode(both)[0], np.concatenate([lo, hi]))


def _compactor_input(rng):
    """Block rows of 4 terms as a merge hands them to the compactor:
    per-source runs (one per origin stride range, tiny ragged blocks)
    sorted by (tid, first_doc); term 3's source is ONE run over ranges
    0 and 2, so its blocks span the stride gap (a legacy compaction).
    Returns (rows, {tid: (docs, tfs, dls, flat positions)})."""
    S = codec.SEG_STRIDE
    postings, parts = {}, []
    for tid in range(4):
        ranges = [[0, 2]] if tid == 3 else [[r] for r in range(int(rng.integers(1, 4)))]
        tparts = []
        for src in ranges:
            docs = np.sort(np.concatenate([
                r * S + rng.choice(400, int(rng.integers(1, 40)), replace=False)
                for r in src]))
            tfs = rng.integers(1, 4, len(docs))
            dls = rng.integers(5, 50, len(docs))
            flat = np.concatenate([np.sort(rng.choice(60, t, replace=False)) for t in tfs])
            off = np.concatenate(([0], np.cumsum(tfs)))
            bs = int(rng.choice([2, 3, 5]))
            parts.append(codec.encode_rows([0], [tid], [9], docs, tfs, dls, 20.0, K1, B, bs,
                                           (flat, off)))
            tparts.append((docs, tfs, dls, flat))
        postings[tid] = tuple(np.concatenate(x) for x in zip(*tparts))
    rows = pa.Table.from_batches(parts).sort_by([("tid", "ascending"),
                                                 ("first_doc", "ascending")])
    return rows, postings


def test_compact_stream_fn_regroups_and_purges(tmp_path):
    """The merge compactor fed RecordBatches of 1-3 rows (groups
    straddle batches) re-encodes exactly the input postings minus the
    dead docs, positions included; only each group's last block is
    short; split_ranges=True keeps every block in one stride range."""
    S = codec.SEG_STRIDE
    rng = np.random.default_rng(5)
    rows, postings = _compactor_input(rng)
    all_docs = np.unique(np.concatenate([p[0] for p in postings.values()]))
    dead_ids = rng.choice(all_docs, len(all_docs) // 5, replace=False)
    tomb = tmp_path / "tombstones"
    for s in (0, 1):  # the merge's src segments' partitions
        (tomb / f"segment_id={s}").mkdir(parents=True)
        pq.write_table(pa.table({"doc_id": dead_ids[s::2]}), tomb / f"segment_id={s}" / "p.parquet")
    avgdl = 17.5
    spans_seen = False
    for bs in (2, 3):
        for split in (False, True):
            for purge in (False, True):
                cuts, i, batches = rng.integers(1, 4, rows.num_rows), 0, []
                for c in cuts:
                    if i < rows.num_rows:
                        batches.extend(rows.slice(i, int(c)).to_batches())
                    i += int(c)
                run = codec.compact_stream_fn(
                    avgdl, K1, B, block_size=bs, with_positions=True, split_ranges=split,
                    dead_src=(str(tomb), [0, 1]) if purge else None)
                out = pa.Table.from_batches(list(run(iter(batches)))).to_pandas()
                docs, tfs, dls, flat = _decode(out, positions=True)
                tid_p = np.repeat(out["tid"].to_numpy(), out["n"].to_numpy())
                off = np.concatenate(([0], np.cumsum(tfs)))
                for tid, (d, t, l, f) in postings.items():
                    keep = ~np.isin(d, dead_ids) if purge else np.ones(len(d), dtype=bool)
                    sel = np.flatnonzero(tid_p == tid)
                    assert np.array_equal(docs[sel], d[keep]), (bs, split, purge, tid)
                    assert np.array_equal(tfs[sel], t[keep])
                    assert np.array_equal(dls[sel], l[keep])
                    got_pos = np.concatenate([flat[off[j]:off[j + 1]] for j in sel])
                    assert np.array_equal(got_pos, f[np.repeat(keep, t)])
                first, last = out["first_doc"].to_numpy(), out["last_doc"].to_numpy()
                group = out["tid"].to_numpy() * 8 + (first // S if split else 0)
                same_next = group[1:] == group[:-1]
                assert (out["n"].to_numpy()[:-1][same_next] == bs).all()
                assert (out["n"] <= bs).all() and (out["segment_id"] == 9).all()
                # blocks are re-encoded at the merge-time avgdl
                bmax = np.maximum.reduceat(codec.tf_norm(tfs, dls, avgdl, K1, B),
                                           np.concatenate(([0], np.cumsum(out["n"])[:-1])))
                assert np.array_equal(out["block_max"].to_numpy(), bmax)
                if split:
                    assert (first // S == last // S).all()
                else:
                    spans_seen |= bool((first // S != last // S).any())
    assert spans_seen  # the unsplit runs really built cross-range blocks

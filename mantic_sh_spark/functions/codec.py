"""Posting-list codec: delta + varint compression, fixed-size blocks,
block-max metadata for the block-interval top-k kernel (U2 in SURVEY.md §2.10).

The reference has no inverted index (it brute-force scans all docs per
query — src/brain-scorer.ts:168-179); this codec is the scale-path
replacement that makes the same top-k computable at 10^12 docs.

Layout: a posting list for (term) is a sequence of BLOCKS of ≤128
postings. Each block stores:
  first_doc / last_doc : absolute doc-id bounds (skip pointers)
  block_max            : max over the block of the idf-independent
                         BM25 factor  tf_norm = tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
                         — idf is applied query-side from CURRENT
                         global df, so block maxima survive segment
                         merges and df drift unchanged.
  n                    : posting count
  doc_gaps             : varint bytes of the n-1 deltas after the
                         block's first doc id (empty for a one-posting
                         block). The first id itself is first_doc, in
                         the same row, so it is stored once: blocks
                         stay independently decodable and block
                         sequences from disjoint sorted doc-id ranges
                         concatenate with no re-encode (this is what
                         makes the salted two-phase build cheap).
  tfs                  : varint bytes of term frequencies.
  dls                  : varint bytes of per-posting doc lengths —
                         scoring is self-contained per block (no
                         random-access norms lookup inside top-k);
                         ~1-2 bytes/posting, the Lucene-norms analog.

The format has ONE decoder, decode_blocks (any batch of blocks in one
varint pass — every reader: the top-k kernel, phrase, the per-doc
scorer, the merge compactor), and ONE encoder, encode_rows (the build
and the merge compactor). All encode/decode is numpy-vectorized (no
per-element or per-block Python loops); this code runs inside
applyInPandas/mapInArrow workers.
"""

from __future__ import annotations

from itertools import chain

import numpy as np

BLOCK_SIZE = 128
# Doc-id stride per segment (segment = doc_id div SEG_STRIDE). Lives
# here — the numpy-only module — so the encoder can derive segment/salt
# from doc_id without the build shipping them as shuffle columns;
# operators/docs.py imports it (single source of truth).
SEG_STRIDE = 1 << 40

# varint thresholds: value >= 2^(7k) needs more than k bytes
_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def _as_u64(values: np.ndarray) -> np.ndarray:
    """Zero-copy uint64 view of a contiguous non-negative int64 array
    (same bits); copies only when dtype/layout genuinely differ. The
    encoder's inputs are doc gaps / tfs / dls — all non-negative — and
    these views remove one full-array copy per column per batch (the
    encode is memory-bandwidth-bound in parallel)."""
    if isinstance(values, np.ndarray) and values.dtype == np.int64 and values.flags.c_contiguous:
        return values.view(np.uint64)
    return np.ascontiguousarray(values, dtype=np.uint64)


def varint_nbytes(values: np.ndarray) -> np.ndarray:
    """Per-value LEB128 encoded length (vectorized). Breaks out of the
    threshold ladder as soon as no value needs another byte — tfs stop
    after one pass, doc lengths after two, and the widest values (the
    gaps of sparse terms) after a few more."""
    v = _as_u64(values)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        m = v >= t
        if not m.any():
            break
        nbytes += m
    return nbytes


def varint_encode(values: np.ndarray, nbytes: np.ndarray | None = None) -> bytes:
    """LEB128-encode an array of non-negative ints, vectorized. Pass a
    precomputed `nbytes` (varint_nbytes) to avoid recomputing it when
    the caller already needed the lengths for offset bookkeeping."""
    v = _as_u64(values)
    if v.size == 0:
        return b""
    if nbytes is None:
        nbytes = varint_nbytes(v)
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    pos = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    for k in range(10):
        mask = nbytes > k
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (nbytes[mask] > k + 1).astype(np.uint8) << 7
        out[pos[mask] + k] = chunk.astype(np.uint8) | cont
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array, vectorized: one pass finds
    the value ends, then byte j of every value at least j+1 bytes long
    is OR-ed in — a pass per byte length, not per byte position, so
    the common 1-2 byte values cost ~2 passes over the values."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)
    if len(ends) == len(b):  # every value fits one byte (tfs, dense-term gaps)
        return b.astype(np.uint64)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    out = (b[starts] & 0x7F).astype(np.uint64)
    sel = np.flatnonzero(ends > starts)
    j = 1
    while len(sel):
        out[sel] |= (b[starts[sel] + j] & 0x7F).astype(np.uint64) << np.uint64(7 * j)
        j += 1
        sel = sel[ends[sel] >= starts[sel] + j]
    return out


def tf_norm(tfs: np.ndarray, dls: np.ndarray, avgdl: float, k1: float, b: float) -> np.ndarray:
    """idf-independent BM25 factor, vectorized (float64)."""
    tfs = tfs.astype(np.float64)
    return tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))


def _values(col):
    """A binary column's values as joinable pieces: the bytes objects
    of an object array as they are, or an Arrow binary array's value
    bytes as ONE zero-copy slice of its data buffer."""
    if not hasattr(col, "buffers"):
        return col
    _, offsets, data = col.buffers()
    if data is None:
        return []
    width = np.int64 if str(col.type) == "large_binary" else np.int32
    o = np.frombuffer(offsets, dtype=width, count=len(col) + 1,
                      offset=np.dtype(width).itemsize * col.offset)
    return [memoryview(data)[int(o[0]):int(o[-1])]]


def decode_blocks(counts, firsts, gaps, tfs, dls, positions=None) -> tuple[np.ndarray, ...]:
    """Batch-decode blocks (any terms, any order) in ONE varint pass
    over all their byte columns — the single decoder of the block
    format. Columns are object arrays of bytes or Arrow binary arrays;
    `counts` / `firsts` are the blocks' n / first_doc. Returns int64
    (doc_ids, tfs, dls), one entry per posting in block order, plus —
    when `positions` is given — the flat absolute positions: posting j
    owns flat[off[j]:off[j+1]] with off = cumsum(tfs) from 0. Both
    delta chains restart at every run head (a block's first doc id
    comes from `firsts`, a posting's first position is absolute), so
    one cumsum with a per-run rebase undoes them. Raises ValueError
    when the bytes hold a different number of values than the layout
    implies (n-1 gaps + n tfs + n dls per block, + sum(tfs) positions)
    — bytes of another format generation never decode silently."""
    counts = np.asarray(counts, dtype=np.int64)
    p = int(counts.sum())
    cols = (gaps, tfs, dls) if positions is None else (gaps, tfs, dls, positions)
    v = varint_decode(b"".join(chain.from_iterable(map(_values, cols)))).astype(np.int64)
    ng = p - len(counts)  # gap values: every posting but each block's first
    tf, dl = v[ng:ng + p], v[ng + p:ng + 2 * p]
    want = ng + 2 * p + (int(tf.sum()) if positions is not None else 0)
    if len(v) != want:
        raise ValueError(f"block bytes hold {len(v)} varint values; {len(counts)} "
                         f"blocks of {p} postings imply {want}")

    def rebase(g, lens):
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        c = np.cumsum(g)
        return c - np.repeat(c[starts] - g[starts], lens)

    heads = np.zeros(p, dtype=bool)
    heads[np.cumsum(counts) - counts] = True
    g = np.empty(p, dtype=np.int64)
    g[heads] = np.asarray(firsts, dtype=np.int64)
    g[~heads] = v[:ng]
    docs = rebase(g, counts)
    if positions is None:
        return docs, tf, dl
    return docs, tf, dl, rebase(v[ng + 2 * p:], tf)


def encode_groups(
    group_starts: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int = BLOCK_SIZE,
) -> dict:
    """Encode MANY posting lists in one vectorized pass.

    Input arrays hold the concatenation of all groups' postings, sorted
    by doc_id within each group; group_starts marks where each group
    begins. One varint buffer is built per column for the WHOLE batch
    and sliced per block — the per-group/per-block Python cost is one
    bytes-slice, which is what lets the salted build encode ~10^5
    groups per task without per-group pandas overhead.

    Returns columnar dict: group_idx (block → input group), first_doc,
    last_doc, block_max, n; doc_gaps/tfs/dls are (whole-batch varint
    buffer, per-posting byte offsets) pairs (a block's first posting
    has no doc_gaps bytes: its id is first_doc) — blocks tile the posting
    space contiguously, so a consumer builds the per-block binary
    column ZERO-COPY from the buffer plus offsets[bstarts] (no
    per-block Python slicing; that listcomp was ~15% of encode time at
    web-text group sizes and pure allocator churn).
    """
    n = len(doc_ids)
    if n == 0:
        empty = (b"", np.zeros(1, dtype=np.int64))
        return {"group_idx": [], "first_doc": [], "last_doc": [], "block_max": [],
                "n": [], "p_start": np.zeros(0, dtype=np.int64),
                "p_end": np.zeros(0, dtype=np.int64),
                "doc_gaps": empty, "tfs": empty, "dls": empty}
    g = np.ascontiguousarray(group_starts, dtype=np.int64)
    doc = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tf = np.ascontiguousarray(tfs, dtype=np.int64)
    dl = np.ascontiguousarray(dls, dtype=np.int64)

    # block segmentation: within each group, a block every block_size
    lens = np.diff(np.append(g, n))
    nb = (lens + block_size - 1) // block_size
    total_blocks = int(nb.sum())
    # arange-within-group: 0,1,..,nb[i]-1 for each group i
    rep_ends = np.cumsum(nb)
    within = np.arange(total_blocks, dtype=np.int64) - np.repeat(rep_ends - nb, nb)
    bstarts = np.repeat(g, nb) + within * block_size
    bends = np.minimum(bstarts + block_size, np.repeat(g + lens, nb))
    group_idx = np.repeat(np.arange(len(g), dtype=np.int64), nb)

    # gaps: global diff; a BLOCK start's value is its first_doc, which
    # the row stores already, so the doc_gaps column skips it (zeroed
    # so the varint length ladder stops at the widest stored gap)
    gaps = np.empty(n, dtype=np.int64)
    np.subtract(doc[1:], doc[:-1], out=gaps[1:])
    gaps[bstarts] = 0

    norms = tf_norm(tf, dl, avgdl, k1, b)
    bmax = np.maximum.reduceat(norms, bstarts)

    out = {
        "group_idx": group_idx,
        "first_doc": doc[bstarts],
        "last_doc": doc[bends - 1],
        "block_max": bmax,
        "n": (bends - bstarts).astype(np.int32),
        # posting-space block bounds — callers slicing sidecar buffers
        # (e.g. positions) read these
        "p_start": bstarts,
        "p_end": bends,
    }
    out["doc_gaps"] = _varint_column(gaps, skip=bstarts)
    out["tfs"], out["dls"] = _varint_column(tf), _varint_column(dl)
    return out


def _varint_column(values: np.ndarray, skip=None) -> tuple[bytes, np.ndarray]:
    """(one varint buffer for the whole array, per-value byte offsets
    with a trailing end) — value i is buf[offsets[i]:offsets[i+1]].
    Values at the `skip` indexes are not stored: they take 0 bytes."""
    nbytes = varint_nbytes(values)
    if skip is not None:
        nbytes[skip] = 0
    offsets = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    return varint_encode(values, nbytes), offsets


def _binary_column(buf: bytes, offsets: np.ndarray, lo: np.ndarray, hi: np.ndarray):
    """Zero-copy Arrow binary column of the rows [offsets[lo[j]],
    offsets[hi[j]]) of `buf`: rows tile the value space, so the Arrow
    offsets are offsets[lo] plus one trailing end."""
    import pyarrow as pa

    nb = len(lo)
    end = int(offsets[hi[-1]]) if nb else 0
    if end >= 2**31:  # int32 Arrow offsets would wrap silently
        raise OverflowError(
            f"varint batch buffer {end} B exceeds binary-column int32 "
            "offsets; lower CHUNK_SIZE/block_size so one Arrow batch "
            "stays under 2 GiB")
    offs = np.empty(nb + 1, dtype=np.int32)
    offs[:-1] = offsets[lo]
    offs[-1] = end
    return pa.Array.from_buffers(
        pa.binary(), nb, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(buf)]
    )


def encode_rows(group_starts, tids, segs, doc_ids, tfs, dls, avgdl: float, k1: float,
                b: float, block_size: int = BLOCK_SIZE, positions=None):
    """Postings of MANY groups → one RecordBatch of block rows (the
    postings-table schema) — the encoder the build and the merge
    compactor share. Arrays as in encode_groups; `tids` / `segs` hold
    one value per GROUP. `positions` = (flat, off): posting j's
    ascending within-doc positions are flat[off[j]:off[j+1]]."""
    import pyarrow as pa

    enc = encode_groups(group_starts, doc_ids, tfs, dls, avgdl, k1, b, block_size)
    gi, bs_p, be_p = enc["group_idx"], enc["p_start"], enc["p_end"]
    arrays = [
        pa.array(np.asarray(tids)[gi].astype(np.int64)),
        pa.array(np.asarray(segs)[gi].astype(np.int32)),
        pa.array(np.asarray(enc["first_doc"], dtype=np.int64)),
        pa.array(np.asarray(enc["last_doc"], dtype=np.int64)),
        pa.array(np.asarray(enc["block_max"], dtype=np.float64)),
        pa.array(np.asarray(enc["n"], dtype=np.int32)),
    ] + [_binary_column(*enc[c], bs_p, be_p) for c in ("doc_gaps", "tfs", "dls")]
    # per-block compressed size (gaps+tfs+dls — positions excluded, as
    # in the terms-directory metric): stored so index maintenance can
    # aggregate sizes from a few int columns instead of scanning the
    # binary payloads (measured 2.8 s of the 4.5 s terms job at sf0.1).
    # Block j owns postings [bs_p[j], be_p[j]), so its bytes in each
    # column are offsets[be_p[j]] - offsets[bs_p[j]].
    blk_bytes = sum(
        enc[c][1][be_p] - enc[c][1][bs_p] for c in ("doc_gaps", "tfs", "dls")
    )
    arrays.append(pa.array(np.asarray(blk_bytes, dtype=np.int32)))
    names = ["tid", "segment_id", "first_doc", "last_doc", "block_max", "n",
             "doc_gaps", "tfs", "dls", "nbytes"]
    if positions is not None:
        # per-posting position deltas (the first value of each posting
        # run is the absolute position), one varint buffer for the
        # whole batch sliced by each block's flat-position bounds
        flat, off = positions
        pgaps = np.empty(len(flat), dtype=np.int64)
        pgaps[0] = flat[0]
        np.subtract(flat[1:], flat[:-1], out=pgaps[1:])
        pgaps[off[:-1]] = flat[off[:-1]]
        arrays.append(_binary_column(*_varint_column(pgaps), off[bs_p], off[be_p]))
        names.append("positions")
    return pa.RecordBatch.from_arrays(arrays, names=names)


# --------------------------------------------------------------------
# Streaming multi-group encoder used by the build's mapInArrow stage.
# Lives HERE (numpy/pyarrow-only module) so that unpickling the UDF
# closure in fresh Python workers does not drag in pandas/pyspark.sql
# imports — worker cold-start is a measurable serial cost per stage.
def encode_table(tbl, avgdl: float, k1: float, b: float, block_size: int = BLOCK_SIZE,
                 with_positions: bool = False, chunk_size: int = 1 << 14):
    """Encode a sorted run of COMPLETE (tid, segment, salt) groups of
    raw token rows into block rows — fully vectorized, zero pandas.

    `tid` is the dictionary-encoded term key (xxhash64 of the term
    string, computed Catalyst-side before the wide shuffle): the build
    never ships term STRINGS through its shuffle — an int64 key
    shuffles/sorts for a fraction of the bytes and compares in one
    instruction, and the term→string mapping lives in the (vocabulary-
    sized) terms directory instead of on every posting row.

    Input rows are sorted by (tid, doc_id) — segment and salt are
    derived vectorized from doc_id (segment = id div SEG_STRIDE, salt =
    rank-in-segment div chunk_size), so they never travel as shuffle
    columns; the (tid, doc_id) order IS the (tid, segment, salt,
    doc_id) order because both are monotone in doc_id. With a `tf`
    column, rows are pre-aggregated postings (the doc-local combine
    path); without it, rows are occurrences and tf falls out of a
    run-length pass."""
    import pyarrow as pa

    n = tbl.num_rows
    tid = tbl.column("tid").to_numpy()
    doc = tbl.column("doc_id").to_numpy()
    seg = doc // SEG_STRIDE
    salt = (doc % SEG_STRIDE) // chunk_size
    dl = tbl.column("doc_len").to_numpy()

    gchanged = np.empty(n, dtype=bool)
    gchanged[0] = True
    gchanged[1:] = tid[1:] != tid[:-1]
    gchanged[1:] |= (seg[1:] != seg[:-1]) | (salt[1:] != salt[:-1])
    grows = np.flatnonzero(gchanged)
    if "tf" in tbl.schema.names:
        # pre-aggregated input: one row per (term, doc) posting with an
        # explicit tf column (the doc-local combine path) — no
        # run-length pass, posting index space == row index space
        pstarts = np.arange(n, dtype=np.int64)
        tf = tbl.column("tf").to_numpy().astype(np.int64)
        gstarts = grows
    else:
        # occurrence input: posting boundary = group change OR doc
        # change; tf falls out of the run lengths
        pchanged = gchanged.copy()
        pchanged[1:] |= doc[1:] != doc[:-1]
        pstarts = np.flatnonzero(pchanged)
        tf = np.diff(np.append(pstarts, n))
        # group starts re-expressed in posting index space
        gstarts = np.searchsorted(pstarts, grows)
    positions = None
    if with_positions:
        if "tf" in tbl.schema.names:
            # pre-aggregated rows: positions arrive as an int-ARRAY
            # column per posting — flatten keeps per-row order, and
            # posting j owns flat[off[j]:off[j+1]] with off = cumsum(tf)
            parr = tbl.column("positions").combine_chunks()
            if isinstance(parr, pa.ChunkedArray):
                parr = parr.chunk(0) if parr.num_chunks == 1 else pa.concat_arrays(parr.chunks)
            off = np.zeros(len(tf) + 1, dtype=np.int64)
            np.cumsum(tf, out=off[1:])
            positions = (parr.flatten().to_numpy(zero_copy_only=False), off)
        else:
            # occurrence rows: one `pos` per raw row; posting runs are
            # the pstarts segmentation
            positions = (tbl.column("pos").to_numpy(), np.append(pstarts, n))
    return encode_rows(gstarts, tid[grows], seg[grows], doc[pstarts], tf, dl[pstarts],
                       avgdl, k1, b, block_size, positions)


def compact_stream_fn(avgdl: float, k1: float, b: float, block_size: int = BLOCK_SIZE,
                      dead_src=None, with_positions: bool = False,
                      split_ranges: bool = False):
    """mapInArrow block compactor for segment merges: input is block
    rows sorted by (tid, first_doc) within each partition (a term's
    blocks never overlap, so postings arrive in (tid, doc_id) order).
    Each Arrow batch is decoded in one pass (decode_blocks), its
    tombstoned postings dropped, and the survivors re-encoded at
    `avgdl` in one encode_rows pass: every block of a group is full but
    its last. Only the batch's last group's short tail (< block_size
    postings) carries into the next batch, so memory is one batch plus
    one block however long a posting list is.

    A group is one term's postings; with split_ranges=True it also ends
    at every doc-id stride range (doc_id DIV SEG_STRIDE), so no block
    spans two ranges. merge sets it iff a surviving segment's span
    overlaps the sources' (operators/merge.py): a block spanning the
    gap between non-contiguous source ranges would envelop that
    segment's range and loosen the top-k kernel's interval bounds there
    (still correct — overlapping blocks are just overlapping intervals
    — but every query on the term decodes more). Cost: at most one
    short block per (term, source range).

    `dead_src` = (tombstones_path, [src_segment_ids]) purges tombstoned
    postings: each TASK loads those segments' liveness partitions into
    one DeadDocs itself (the per-segment discipline of the query
    kernels: no dead-id array ever materializes on the driver or ships
    in this closure, so a purge of a billion-tombstone index plans the
    same as a ten-tombstone one)."""

    def run(batches):
        from .liveness import DeadDocs, segment_tombstones

        dead = None
        if dead_src is not None:
            dead = DeadDocs.from_batches(
                segment_tombstones(dead_src[0], s) for s in dead_src[1]) or None
        byte_cols = ["doc_gaps", "tfs", "dls"] + (["positions"] if with_positions else [])
        carry = None  # the last group's short tail: ([tid, seg, doc, tf, dl], flat)

        def encode(cols, flat, gstarts):
            tid, seg, doc, tf, dl = cols
            pos = None
            if with_positions:
                off = np.zeros(len(tf) + 1, dtype=np.int64)
                np.cumsum(tf, out=off[1:])
                pos = (flat, off)
            return encode_rows(gstarts, tid[gstarts], seg[gstarts], doc, tf, dl,
                               avgdl, k1, b, block_size, pos)

        for rb in batches:
            if not rb.num_rows:
                continue
            n = rb.column("n").to_numpy().astype(np.int64)
            dec = decode_blocks(n, rb.column("first_doc").to_numpy(),
                                *(rb.column(c) for c in byte_cols))
            cols = [np.repeat(rb.column("tid").to_numpy(), n),
                    np.repeat(rb.column("segment_id").to_numpy(), n)] + list(dec[:3])
            flat = dec[3] if with_positions else None
            if dead is not None:
                keep = ~dead.mask(cols[2])
                if with_positions:
                    flat = flat[np.repeat(keep, cols[3])]
                cols = [c[keep] for c in cols]
            if carry is not None:
                cols = [np.concatenate(x) for x in zip(carry[0], cols)]
                if with_positions:
                    flat = np.concatenate((carry[1], flat))
            tid, doc, tf = cols[0], cols[2], cols[3]
            if not len(doc):
                carry = None
                continue
            brk = tid[1:] != tid[:-1]
            if split_ranges:
                brk |= doc[1:] // SEG_STRIDE != doc[:-1] // SEG_STRIDE
            gstarts = np.flatnonzero(np.concatenate(([True], brk)))
            # the last group may continue in the next batch: emit its
            # full blocks now (they are cut from the group start either
            # way) and carry only the short tail
            cut = len(doc) - (len(doc) - int(gstarts[-1])) % block_size
            pcut = int(tf[:cut].sum()) if with_positions else 0
            carry = ([c[cut:] for c in cols], flat[pcut:] if with_positions else None)
            if cut:
                yield encode([c[:cut] for c in cols],
                             flat[:pcut] if with_positions else None, gstarts[gstarts < cut])
        if carry is not None and len(carry[0][2]):
            yield encode(carry[0], carry[1], np.zeros(1, dtype=np.int64))

    return run


def encode_stream_fn(avgdl: float, k1: float, b: float, block_size: int = BLOCK_SIZE,
                     with_positions: bool = False, chunk_size: int = 1 << 14):
    """mapInArrow encoder over a partition sorted by (tid, doc_id)
    (== (tid, segment, salt, doc_id) order — see encode_table): Arrow
    batch boundaries can split a group, so the trailing (possibly
    incomplete) group of each batch is carried into the next. Carry
    size is bounded by chunk_size postings (the salt guarantees no
    group exceeds one doc-id chunk)."""

    def run(batches):
        import numpy as np
        import pyarrow as pa

        carry = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None and carry.num_rows:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            n = tbl.num_rows
            if not n:
                continue
            # trailing rows belonging to the last (tid, seg, salt) group
            # (sorted input ⇒ they are exactly the rows equal to the last key)
            tids = tbl.column("tid").to_numpy()
            tail = tids == tids[n - 1]
            doc = tbl.column("doc_id").to_numpy()
            seg = doc // SEG_STRIDE
            salt = (doc % SEG_STRIDE) // chunk_size
            tail &= (seg == seg[n - 1]) & (salt == salt[n - 1])
            cut = n - int(tail.sum())
            carry = tbl.slice(cut)
            if cut:
                yield encode_table(tbl.slice(0, cut), avgdl, k1, b, block_size,
                                   with_positions, chunk_size)
        if carry is not None and carry.num_rows:
            yield encode_table(carry.combine_chunks(), avgdl, k1, b, block_size,
                               with_positions, chunk_size)

    return run

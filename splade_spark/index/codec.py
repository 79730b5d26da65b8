"""Posting-block codec: delta + varint docIDs, u8/u16-quantized weights.

The reference stores raw int32/float32 arrays per term
(splade/indexing/inverted_index.py:35-41,86-88) and delegates compression to
PISA's block_simdbp impact-sorted index with block-max WAND metadata
(efficient_splade_pisa/README.md:28-38). We internalize that layout:
docID-ascending posting lists cut into fixed-size blocks; per block we store
(first_doc, count, varint-encoded consecutive-doc deltas, quantized weight
bytes, block_max over the stored *quantized* weights) — block_max in the
integer domain matching POSTINGS_SCHEMA and the WAND kernel's integer
scoring keeps block-max pruning rank-safe with no float round-trip.

Everything is vectorized numpy — these functions run inside the one Arrow
partition encoder (build.encode_partition, a mapInArrow UDF shared by the
build and the segment merge) and the WAND kernel on executors; no per-row
Python.
"""

from __future__ import annotations

import numpy as np

from .. import BLOCK_SIZE


def encode_varint_with_lens(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array, fully vectorized (≤10 passes).

    Returns (byte array, per-value byte lengths) so callers can slice the
    stream per block without re-encoding."""
    v = np.asarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    lens = np.ones(n, dtype=np.int64)
    tmp = v.copy()
    while True:
        mask = tmp >= 128
        if not mask.any():
            break
        tmp[mask] >>= np.uint64(7)
        lens[mask] += 1
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    out = np.zeros(int(lens.sum()), dtype=np.uint8)
    max_len = int(lens.max())
    for i in range(max_len):
        sel = lens > i
        byte = (v[sel] >> np.uint64(7 * i)) & np.uint64(0x7F)
        cont = (lens[sel] > i + 1).astype(np.uint8) << 7
        out[offsets[sel] + i] = byte.astype(np.uint8) | cont
    return out, lens


def encode_varint(values: np.ndarray) -> bytes:
    return encode_varint_with_lens(values)[0].tobytes()


def decode_varint(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes → uint64 array; count inferred from stop bits."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    cont = (b & 0x80) != 0
    # value index per byte: increments after each stop byte
    val_id = np.zeros(len(b), dtype=np.int64)
    np.cumsum(~cont[:-1], out=val_id[1:])
    n_vals = val_id[-1] + 1
    starts = np.zeros(n_vals, dtype=np.int64)
    ends = np.flatnonzero(~cont)
    starts[1:] = ends[:-1] + 1
    shift = (np.arange(len(b)) - starts[val_id]).astype(np.uint64) * np.uint64(7)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << shift
    out = np.zeros(n_vals, dtype=np.uint64)
    np.add.at(out, val_id, contrib)
    return out


def encode_for(values: np.ndarray) -> bytes:
    """FOR/bitpack one block's deltas: 1-byte bit width w, then the values
    packed w bits each (little-endian bit order, np.packbits). Decode is
    one unpackbits + shift-sum — cheaper than the varint byte walk in the
    query kernel's hot path (PISA's block codecs make the same trade,
    efficient_splade_pisa/README.md:28-38)."""
    v = np.asarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b"\x00"
    mx = int(v.max())
    w = mx.bit_length()
    if w == 0:
        return b"\x00"
    bits = ((v[:, None] >> np.arange(w, dtype=np.uint64)) & np.uint64(1)).astype(
        np.uint8
    )
    return bytes([w]) + np.packbits(bits.ravel(), bitorder="little").tobytes()


def decode_for(buf: bytes, n: int) -> np.ndarray:
    """Inverse of encode_for → uint64 array of n values."""
    w = buf[0]
    if w == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8, offset=1)
    bits = np.unpackbits(raw, count=n * w, bitorder="little").reshape(n, w)
    return (bits.astype(np.uint64) << np.arange(w, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64
    )


def encode_for_blocks(dvals: np.ndarray, dcount_cum: np.ndarray) -> list[bytes]:
    """FOR-pack MANY blocks in one vectorized pass (same wire format as
    ``encode_for`` per block, byte-for-byte).

    dvals: all blocks' deltas concatenated; dcount_cum[b]..dcount_cum[b+1]
    slices block b. Blocks are grouped by bit width and each width class is
    packed with ONE scatter + packbits — replacing the per-block Python
    loop, whose call overhead dominated FOR build time on Zipf-tail corpora
    where millions of groups are a single short block."""
    nb = len(dcount_cum) - 1
    counts = np.diff(dcount_cum).astype(np.int64)
    out: list[bytes] = [b"\x00"] * nb
    if len(dvals) == 0 or nb == 0:
        return out
    dvals = np.asarray(dvals, dtype=np.uint64)
    ne = np.flatnonzero(counts > 0)
    if len(ne) == 0:
        return out
    maxes = np.maximum.reduceat(dvals, dcount_cum[ne])
    widths = np.zeros(len(ne), dtype=np.int64)
    tmp = maxes.copy()
    while True:
        m = tmp > 0
        if not m.any():
            break
        widths[m] += 1
        tmp >>= np.uint64(1)
    for w in np.unique(widths):
        w = int(w)
        if w == 0:
            continue  # all-zero deltas keep the b"\x00" sentinel
        sel = ne[widths == w]
        c = counts[sel]
        nbytes = (c * w + 7) // 8
        base_bits = np.concatenate(([0], np.cumsum(nbytes * 8)))
        # gather the class's deltas: block-relative index arithmetic only
        rep = np.repeat(np.arange(len(sel)), c)
        within = np.arange(int(c.sum())) - np.repeat(
            np.concatenate(([0], np.cumsum(c)[:-1])), c
        )
        vals = dvals[dcount_cum[sel][rep] + within]
        bitbuf = np.zeros(int(base_bits[-1]), dtype=np.uint8)
        start_bit = base_bits[rep] + within * w
        # chunk the (values × width) scatter: the full matrices are
        # O(class_size × w) transient bytes — ~GB-scale on a multi-million-
        # delta partition with a dominant wide class, where the per-block
        # loop this replaced peaked at 128 × w. 256k values × w=30 ≈ 70 MB
        # per chunk keeps the vectorization win with a bounded footprint.
        CHUNK_VALS = 1 << 18
        shifts = np.arange(w, dtype=np.uint64)
        for s in range(0, len(vals), CHUNK_VALS):
            vc = vals[s : s + CHUNK_VALS]
            bits_c = ((vc[:, None] >> shifts) & np.uint64(1)).astype(np.uint8)
            pos_c = start_bit[s : s + CHUNK_VALS, None] + np.arange(w)
            bitbuf[pos_c.ravel()] = bits_c.ravel()
        packed = np.packbits(bitbuf, bitorder="little").tobytes()
        hdr = bytes([w])
        byte_off = base_bits // 8
        for i, b in enumerate(sel):  # cheap: slicing a shared buffer
            out[b] = hdr + packed[byte_off[i] : byte_off[i] + nbytes[i]]
    return out


def check_bits(bits: int) -> int:
    """Weight widths are stored as u8/u16; anything past 16 bits would wrap
    silently in astype(uint16) and decode as garbage. Fail loudly instead,
    both at quantize time and wherever ``bits`` is read back from index meta."""
    if not 1 <= int(bits) <= 16:
        raise ValueError(f"quantization bits must be in [1, 16], got {bits}")
    return int(bits)


def quantize_weights(weights: np.ndarray, scale: float, bits: int = 8) -> np.ndarray:
    """w → round(w*scale) clipped to [0, 2^bits-1] (u8 by default).

    Matches the reference's Anserini quantization rint(w*Q)
    (splade/tasks/transformer_evaluator.py:229) with a global scale chosen
    from the corpus max (PISA --scorer quantized)."""
    bits = check_bits(bits)
    q = np.rint(np.asarray(weights, dtype=np.float64) * scale)
    hi = float(2**bits - 1)
    dtype = np.uint8 if bits <= 8 else np.uint16
    return np.clip(q, 0.0, hi).astype(dtype)


def dequantize_weights(q: np.ndarray, scale: float) -> np.ndarray:
    return q.astype(np.float64) / scale


def encode_groups(
    shard: np.ndarray,
    term: np.ndarray,
    doc: np.ndarray,
    q: np.ndarray,
    block_size: int = BLOCK_SIZE,
    bits: int = 8,
    codec: str = "varint",
) -> dict[str, list]:
    """Encode MANY (shard, term) posting groups in one vectorized pass.

    q holds the quantized integer weights (quantize_weights for a build,
    decode_blocks for a segment merge). Input arrays must be sorted by
    (shard, term, doc) — build.encode_partition's worker-side np.lexsort,
    the one caller, guarantees this. Group/block boundaries, deltas,
    varint packing, and block maxima are all computed with cumsum/reduceat;
    the only Python loop slices the shared byte buffers per block (cheap).
    This replaces a per-group applyInPandas, whose per-group pandas overhead
    dominates when Zipf tails make most groups tiny.

    codec: 'varint' (LEB128 deltas; dense for mixed gap sizes, and the
    whole batch's deltas are packed in ONE vectorized pass) or 'for'
    (per-block fixed-width bitpack; cheaper to decode in the query kernel,
    but a single large gap inflates the whole block's width). FOR packing
    is also vectorized (``encode_for_blocks``: one scatter + packbits per
    bit-width class); varint stays the default because its byte stream is
    denser on mixed Zipf-tail gap distributions.
    """
    n = len(doc)
    if n == 0:
        return {
            k: []
            for k in (
                "shard_id", "term_id", "block_id", "first_doc", "last_doc",
                "n", "doc_bytes", "w_bytes", "block_max",
            )
        }
    doc = np.asarray(doc, dtype=np.int64)
    q = np.asarray(q).astype(
        np.uint8 if check_bits(bits) <= 8 else np.uint16, copy=False
    )

    new_grp = np.empty(n, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = (shard[1:] != shard[:-1]) | (term[1:] != term[:-1])
    gid = np.cumsum(new_grp) - 1
    grp_start = np.flatnonzero(new_grp)
    pos = np.arange(n) - grp_start[gid]
    new_blk = new_grp | (pos % block_size == 0)
    blk_start = np.flatnonzero(new_blk)
    nb = len(blk_start)
    blk_end = np.empty(nb, dtype=np.int64)
    blk_end[:-1] = blk_start[1:]
    blk_end[-1] = n
    blk_n = blk_end - blk_start

    raw_delta = np.empty(n, dtype=np.int64)
    raw_delta[0] = 0
    raw_delta[1:] = doc[1:] - doc[:-1]
    keep = ~new_blk  # block-start rows carry no delta (cross-group diffs excluded)
    dvals = raw_delta[keep].astype(np.uint64)
    dcount_cum = np.concatenate(([0], np.cumsum(blk_n - 1)))
    wbuf = q.tobytes()
    isz = q.itemsize

    if codec == "for":
        doc_bytes = encode_for_blocks(dvals, dcount_cum)
    else:
        dbytes_arr, dlens = encode_varint_with_lens(dvals)
        dbuf = dbytes_arr.tobytes()
        byte_cum = np.concatenate(([0], np.cumsum(dlens)))
        doc_bytes = [
            dbuf[byte_cum[dcount_cum[b]] : byte_cum[dcount_cum[b + 1]]]
            for b in range(nb)
        ]
    w_bytes = [wbuf[blk_start[b] * isz : blk_end[b] * isz] for b in range(nb)]
    block_max = np.maximum.reduceat(q, blk_start).astype(np.int32)

    # numeric fields stay numpy (no per-element .tolist() boxing): the
    # Arrow sink consumes arrays directly
    return {
        "shard_id": np.asarray(shard)[blk_start].astype(np.int32),
        "term_id": np.asarray(term)[blk_start].astype(np.int64),
        "block_id": (pos[blk_start] // block_size).astype(np.int32),
        "first_doc": doc[blk_start],
        "last_doc": doc[blk_end - 1],
        "n": blk_n.astype(np.int32),
        "doc_bytes": doc_bytes,
        "w_bytes": w_bytes,
        "block_max": block_max,
    }


def decode_block_raw(
    first_doc: int,
    n: int,
    doc_bytes: bytes,
    w_bytes: bytes,
    bits: int = 8,
    codec: str = "varint",
) -> tuple[np.ndarray, np.ndarray]:
    """One block → (doc_ids int64, quantized weights int64) — no float
    divide. This is the query kernel's hot path: it scores in the integer
    quantized-impact domain, so dequantizing here would be a wasted
    vectorized divide + allocation per block decode."""
    if codec == "for":
        deltas = decode_for(doc_bytes, n - 1)
    else:
        deltas = decode_varint(doc_bytes)
    docs = np.empty(n, dtype=np.int64)
    docs[0] = first_doc
    if n > 1:
        docs[1:] = first_doc + np.cumsum(deltas.astype(np.int64))
    dtype = np.uint8 if bits <= 8 else np.uint16
    q = np.frombuffer(w_bytes, dtype=dtype).astype(np.int64)
    return docs, q


def decode_blocks(
    first: np.ndarray,
    n: np.ndarray,
    doc_bytes: list[bytes],
    w_bytes: list[bytes],
    bits: int = 8,
    codec: str = "varint",
) -> tuple[np.ndarray, np.ndarray]:
    """MANY blocks → concatenated (doc_ids int64, quantized weights int64),
    in block order. Weights are one frombuffer over the joined weight
    bytes. Varint doc deltas of every block parse in ONE vectorized pass
    over the joined streams (LEB128 is self-delimiting); FOR deltas decode
    per block (each carries its own bit width). A segmented cumsum then
    rebuilds absolute docIDs: doc[j] = first_b + Σ deltas of block b."""
    first = np.asarray(first, dtype=np.int64)
    n = np.asarray(n, dtype=np.int64)
    total = int(n.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    if codec == "for":
        deltas = np.concatenate(
            [decode_for(b, int(c) - 1) for b, c in zip(doc_bytes, n)]
        )
    else:
        deltas = decode_varint(b"".join(doc_bytes))
    starts = np.cumsum(n) - n
    vals = np.empty(total, dtype=np.int64)
    mask = np.ones(total, dtype=bool)
    mask[starts] = False
    vals[starts] = first
    vals[mask] = deltas.astype(np.int64)
    c = np.cumsum(vals)
    doc = c - np.repeat(c[starts] - first, n)
    q = np.frombuffer(
        b"".join(w_bytes), dtype=np.uint8 if bits <= 8 else np.uint16
    ).astype(np.int64)
    return doc, q


def decode_block(
    first_doc: int,
    n: int,
    doc_bytes: bytes,
    w_bytes: bytes,
    scale: float,
    bits: int = 8,
    codec: str = "varint",
) -> tuple[np.ndarray, np.ndarray]:
    """One encode_groups block → (doc_ids, dequantized weights)."""
    docs, q = decode_block_raw(first_doc, n, doc_bytes, w_bytes, bits, codec)
    return docs, dequantize_weights(q, scale)

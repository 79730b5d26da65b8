from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from splade_spark.index.codec import (
    decode_block,
    decode_block_raw,
    decode_blocks,
    decode_varint,
    encode_groups,
    encode_varint,
    quantize_weights,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(decode_varint(encode_varint(arr)), arr)


def test_varint_known_bytes():
    # classic LEB128: 300 = 0xAC 0x02
    assert encode_varint(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert encode_varint(np.array([0], dtype=np.uint64)) == b"\x00"
    assert encode_varint(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert encode_varint(np.array([128], dtype=np.uint64)) == b"\x80\x01"


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # shard
            st.integers(min_value=0, max_value=3),  # term
            st.integers(min_value=0, max_value=10**9),  # doc
            st.integers(min_value=0, max_value=2**16 - 1),  # quantized weight
        ),
        min_size=1,
        max_size=700,
        unique_by=lambda t: t[:3],
    ),
    st.sampled_from(["varint", "for"]),
    st.sampled_from([8, 16]),
    st.sampled_from([16, 128]),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(postings, codec, bits, block_size):
    """encode_groups → decode_blocks is the identity on (shard, term,
    doc, q) sorted postings, for every codec and weight width; each block
    is a docID-ascending run of one group with consistent metadata, and
    the per-block decoder (the query kernel's) agrees with the batch one."""
    s, t, d, q = (
        np.array(c, dtype=np.int64) for c in zip(*sorted(postings))
    )
    q %= 2**bits
    g = encode_groups(s, t, d, q, block_size=block_size, bits=bits, codec=codec)
    n = np.asarray(g["n"], dtype=np.int64)
    doc, got_q = decode_blocks(
        g["first_doc"], n, g["doc_bytes"], g["w_bytes"], bits, codec
    )
    assert np.array_equal(doc, d) and np.array_equal(got_q, q)
    assert np.array_equal(np.repeat(g["shard_id"], n), s)
    assert np.array_equal(np.repeat(g["term_id"], n), t)
    assert n.min() >= 1 and n.max() <= block_size
    ends = np.cumsum(n)
    for b, e in enumerate(ends):
        lo = e - n[b]
        assert g["first_doc"][b] == d[lo] and g["last_doc"][b] == d[e - 1]
        assert g["block_max"][b] == q[lo:e].max()
        new_group = b == 0 or (s[lo], t[lo]) != (s[lo - 1], t[lo - 1])
        assert g["block_id"][b] == (0 if new_group else g["block_id"][b - 1] + 1)
        d1, q1 = decode_block_raw(
            g["first_doc"][b], n[b], g["doc_bytes"][b], g["w_bytes"][b],
            bits, codec,
        )
        assert np.array_equal(d1, d[lo:e]) and np.array_equal(q1, q[lo:e])
    # docID-ascending within every (shard, term) group
    same = (s[1:] == s[:-1]) & (t[1:] == t[:-1])
    assert np.all(np.diff(d)[same] > 0)


@given(st.lists(st.integers(min_value=0, max_value=2**53 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_for_roundtrip(values):
    from splade_spark.index.codec import decode_for, encode_for

    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(decode_for(encode_for(arr), len(arr)), arr)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),
            st.floats(min_value=0.0, max_value=20.0, allow_nan=False),
        ),
        min_size=1,
        max_size=700,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=60, deadline=None)
def test_encode_groups_for_equals_varint(postings):
    """encode_groups with codec='for' decodes to the same postings as
    codec='varint' (only doc_bytes representation differs)."""
    docs = np.sort(np.array([p[0] for p in postings], dtype=np.int64))
    weights = np.array([p[1] for p in postings])
    shard = np.zeros(len(docs), dtype=np.int64)
    term = np.zeros(len(docs), dtype=np.int64)
    scale = 255.0 / 20.0
    q = quantize_weights(weights, scale)
    decoded = {}
    for codec in ("varint", "for"):
        g = encode_groups(shard, term, docs, q, block_size=64, codec=codec)
        dd, ww = [], []
        for fd, n, db, wb in zip(g["first_doc"], g["n"],
                                 g["doc_bytes"], g["w_bytes"]):
            d, w = decode_block(fd, n, db, wb, scale, codec=codec)
            dd.append(d)
            ww.append(w)
        decoded[codec] = (np.concatenate(dd), np.concatenate(ww))
    assert np.array_equal(decoded["varint"][0], decoded["for"][0])
    assert np.array_equal(decoded["varint"][1], decoded["for"][1])


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=2**53 - 1), max_size=130),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=150, deadline=None)
def test_encode_for_blocks_matches_per_block(blocks):
    """The vectorized width-class packer must be byte-identical to the
    reference per-block encode_for (same wire format, decode_for-safe)."""
    from splade_spark.index.codec import decode_for, encode_for, encode_for_blocks

    counts = np.array([len(b) for b in blocks], dtype=np.int64)
    dvals = np.array([v for b in blocks for v in b], dtype=np.uint64)
    cum = np.concatenate(([0], np.cumsum(counts)))
    fast = encode_for_blocks(dvals, cum)
    for i, b in enumerate(blocks):
        assert fast[i] == encode_for(np.array(b, dtype=np.uint64))
        assert np.array_equal(
            decode_for(fast[i], len(b)), np.array(b, dtype=np.uint64)
        )


def test_decode_block_raw_integer_parity():
    """decode_block_raw returns the quantized int64 weights the WAND kernel
    scores with — dividing by scale must reproduce decode_block exactly."""
    rng = np.random.default_rng(7)
    docs = np.sort(rng.choice(10**6, size=300, replace=False)).astype(np.int64)
    weights = rng.uniform(0.01, 20.0, size=300)
    scale = 255.0 / 20.0
    zero = np.zeros(len(docs), dtype=np.int64)
    q = quantize_weights(weights, scale)
    for codec in ("varint", "for"):
        g = encode_groups(zero, zero, docs, q, block_size=128, codec=codec)
        for first, n, dbytes, wbytes in zip(
            g["first_doc"], g["n"], g["doc_bytes"], g["w_bytes"]
        ):
            d1, w1 = decode_block(first, n, dbytes, wbytes, scale, codec=codec)
            d2, q2 = decode_block_raw(first, n, dbytes, wbytes, codec=codec)
            assert q2.dtype == np.int64
            assert np.array_equal(d1, d2)
            assert np.array_equal(w1, q2 / scale)


def test_quantize_bits_guard():
    """bits > 16 would wrap in uint16 and decode as garbage — must raise,
    both at quantize time and when read back from index meta."""
    import json

    from splade_spark.index.build import read_index_meta
    from splade_spark.index.codec import check_bits

    for bad in (0, 17, 32, -1):
        with np.testing.assert_raises(ValueError):
            quantize_weights(np.array([1.0]), 10.0, bits=bad)
        with np.testing.assert_raises(ValueError):
            check_bits(bad)
    for ok in (1, 8, 16):
        quantize_weights(np.array([1.0]), 10.0, bits=ok)
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "_index_meta.json"), "w") as fh:
            json.dump({"scale": 1.0, "num_shards": 1, "bits": 32}, fh)
        with np.testing.assert_raises(ValueError):
            read_index_meta(d)

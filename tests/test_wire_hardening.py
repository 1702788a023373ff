"""Wire-codec hardening (round-4 max-effort review findings): forged or
corrupt payloads must raise ValueError at the decode site — never be
silently accepted into the merge algebra, never escape as struct.error
/ IndexError / AttributeError from deep inside a kernel."""

import struct

import numpy as np
import pytest

from rusty_bloomfilter_spark.sketch import (
    IBLT,
    BlockedBloomFilter,
    BloomFilter,
    CountMinSketch,
    CountSketch,
    CountingBloomFilter,
    DDSketch,
    FrequentDirections,
    GramMatrix,
    HyperLogLog,
    KLLSketch,
    MisraGries,
    Shape,
    SparseBloomBuilder,
    TDigest,
    XorFilter,
    _KINDS,
    merge_payloads,
    merge_sketch_payloads,
)

# bloom header: <4sBBBBQIQ — codec byte at offset 6
_BLOOM_HDR = struct.Struct("<4sBBBBQIQ")


def _sparse_payload(m: int, k: int, indices, n_items=1) -> bytes:
    head = _BLOOM_HDR.pack(b"RBSK", 1, 1, 1, 0, m, k, n_items)
    return head + np.asarray(indices, dtype=np.uint32).tobytes()


def test_bloom_sparse_index_out_of_range_rejected():
    # index 100 sits inside the ceil(70/64)*64 padding zone: previously
    # decoded silently; index 5000 previously crashed with IndexError
    for bad in (100, 5000):
        with pytest.raises(ValueError, match=">= m"):
            BloomFilter.from_bytes(_sparse_payload(70, 3, [1, bad]))


def test_bloom_merge_payloads_fast_path_rejects_forged_index():
    ok = _sparse_payload(70, 3, [1, 2])
    bad = _sparse_payload(70, 3, [100])
    with pytest.raises(ValueError, match=">= m"):
        merge_payloads([ok, bad])
    # encoders write strictly increasing indices: a duplicate or a
    # trailing lower index is corrupt, not two more set bits
    for bad in ([1, 1], [5, 2], [1, 2, 0, 0]):
        with pytest.raises(ValueError, match="strictly increasing"):
            merge_payloads([ok, _sparse_payload(70, 3, bad)])
        with pytest.raises(ValueError, match="strictly increasing"):
            BloomFilter.from_bytes(_sparse_payload(70, 3, bad))


def test_bloom_unknown_codec_rejected():
    f = BloomFilter.empty(Shape(m=70, k=3)).add_tokens(
        np.arange(10, dtype=np.int64)
    )
    raw = bytearray(f.to_bytes())
    raw[6] = 7  # codec byte
    with pytest.raises(ValueError, match="codec"):
        BloomFilter.from_bytes(bytes(raw))


def test_bloom_dense_padding_bits_rejected():
    f = BloomFilter.empty(Shape(m=70, k=3)).add_tokens(
        np.arange(40, dtype=np.int64)
    )
    raw = bytearray(f.to_bytes())
    assert raw[6] == 0, "test expects a dense payload"
    raw[-1] |= 0x80  # bit 127 >= m=70
    with pytest.raises(ValueError, match="padding"):
        BloomFilter.from_bytes(bytes(raw))


def test_bloom_dense_wrong_length_rejected():
    f = BloomFilter.empty(Shape(m=70, k=3)).add_tokens(
        np.arange(40, dtype=np.int64)
    )
    raw = f.to_bytes()
    assert raw[6] == 0
    with pytest.raises(ValueError, match="bytes"):
        BloomFilter.from_bytes(raw + b"\x00" * 8)


def test_bloom_dense_coded_sparse_filter_rejected():
    """Five tokens in a Shape.for_np(n=100_000, p=0.01) filter encode
    sparse (168 bytes); the same bits dense-coded (119,844 bytes) are a
    non-canonical payload and must not decode."""
    shape = Shape.for_np(n=100_000, p=0.01)
    f = BloomFilter.empty(shape).add_tokens(np.arange(5, dtype=np.int64))
    canonical = f.to_bytes()
    assert canonical[6] == 1 and len(canonical) == 168
    dense = _BLOOM_HDR.pack(b"RBSK", 1, 1, 0, 0, shape.m, shape.k, f.n_items) + f.words.tobytes()
    assert len(dense) == 119_844
    with pytest.raises(ValueError, match="non-canonical"):
        BloomFilter.from_bytes(dense)
    with pytest.raises(ValueError, match="non-canonical"):
        merge_payloads([canonical, dense])


def test_bloom_sparse_coded_dense_filter_rejected():
    """The mirror case: a sparse body whose index count, or whose m,
    the codec rule would have written dense is rejected by the decoder
    and by merge_payloads' sparse fast path."""
    shape = Shape.for_np(n=100, p=0.01)
    f = BloomFilter.empty(shape).add_tokens(_TOKENS)
    canonical = f.to_bytes()
    assert canonical[6] == 0
    sparse = _sparse_payload(shape.m, shape.k, f.to_indices(), f.n_items)
    small = _sparse_payload(shape.m, shape.k, [1, 2])
    assert BloomFilter.from_bytes(small).to_bytes() == small
    huge_m = _sparse_payload(1 << 33, 3, [1, 2])  # indices past 2^32 cannot be uint32
    for bad in (sparse, huge_m):
        with pytest.raises(ValueError, match="non-canonical"):
            BloomFilter.from_bytes(bad)
    with pytest.raises(ValueError, match="non-canonical"):
        merge_payloads([small, sparse])
    with pytest.raises(ValueError, match="non-canonical"):
        merge_payloads([huge_m, huge_m])


def test_shape_for_np_clamps_k_at_64():
    s = Shape.for_np(10**6, 1e-20)  # optimal k would be 66
    assert s.k == 64
    # sanity: still a valid monotone shape
    assert s.m > Shape.for_np(10**6, 1e-10).m


def test_sparse_builder_dense_snapshot_is_isolated():
    shape = Shape.for_np(n=500, p=0.01)
    b = SparseBloomBuilder(shape)
    b.add_tokens(np.arange(400, dtype=np.int64))  # enough to promote
    f = b.to_filter()
    before = f.to_bytes()
    b.add_tokens(np.arange(400, 800, dtype=np.int64))
    assert f.to_bytes() == before  # later builder adds must not mutate it


_TOKENS = np.arange(1, 3000, 7, dtype=np.int64)
_VALUES = np.linspace(-5.0, 5.0, 500)

# one or more canonical payloads per kind; Bloom and HLL cover both codecs
_SAMPLES = {
    BloomFilter: [
        BloomFilter.empty(Shape.for_np(n=n, p=0.01)).add_tokens(_TOKENS).to_bytes()
        for n in (100_000, 100)  # sparse-coded, dense-coded
    ],
    BlockedBloomFilter: [
        BlockedBloomFilter.for_np(n, 0.01).add_tokens(_TOKENS).to_bytes()
        for n in (100_000, 1000)  # sparse (v2), dense (v1)
    ],
    HyperLogLog: [
        HyperLogLog(p).add_tokens(_TOKENS).to_bytes() for p in (14, 6)  # sparse, dense
    ],
    CountMinSketch: [
        CountMinSketch(3, 64).add_tokens(t).to_bytes()
        for t in (_TOKENS, np.repeat(_TOKENS, 64))  # compact, dense (saturated)
    ],
    CountingBloomFilter: [
        CountingBloomFilter.empty(Shape.for_np(n=500, p=0.01)).add_tokens(_TOKENS).to_bytes()
    ],
    KLLSketch: [KLLSketch(20).update_batch(_VALUES).to_bytes()],
    DDSketch: [DDSketch(0.05).add(np.exp(_VALUES)).to_bytes()],
    TDigest: [TDigest(20).update_batch(_VALUES).to_bytes()],
    MisraGries: [MisraGries(16).add_tokens(_TOKENS % 40).to_bytes()],
    IBLT: [IBLT.for_diff(50, 4).add_u64(_TOKENS[:20].astype(np.uint64)).to_bytes()],
    CountSketch: [CountSketch(3, 64).add_tokens(_TOKENS).to_bytes()],
    GramMatrix: [GramMatrix(4).add_rows(np.eye(4)).to_bytes()],
    FrequentDirections: [FrequentDirections(2, 4).add_rows(np.eye(4)).to_bytes()],
    XorFilter: [XorFilter.build_tokens(_TOKENS).to_bytes()],
}


@pytest.mark.parametrize("cls,magic", [(cls, magic) for magic, cls in _KINDS.items()])
def test_truncated_payloads_raise_valueerror_not_struct_error(cls, magic):
    """Every kind's decoder accepts exactly its canonical bytes: a
    header-only stub, a payload one byte short, one with 8 trailing
    bytes, and one with a flipped version byte all raise ValueError."""
    with pytest.raises(ValueError):
        cls.from_bytes(magic + b"xx")
    for raw in _SAMPLES[cls]:
        assert raw[:4] == magic
        assert cls.from_bytes(raw).to_bytes() == raw
        bad_version = bytearray(raw)
        bad_version[4] ^= 0xFF
        for bad in (raw[:-1], raw + b"\x00" * 8, bytes(bad_version)):
            with pytest.raises(ValueError):
                cls.from_bytes(bad)


def test_kll_forged_level_count_raises_valueerror():
    sk = KLLSketch(200)
    sk.update_batch(np.arange(100, dtype=np.float64))
    raw = bytearray(sk.to_bytes())
    # n_levels at offset 12 (<4sBxxxIIQ): forge 99 levels
    struct.pack_into("<I", raw, 12, 99)
    with pytest.raises(ValueError, match="truncated level"):
        KLLSketch.from_bytes(bytes(raw))


def test_cms_wrong_body_length_raises():
    sk = CountMinSketch(4, 64)
    raw = sk.to_bytes()
    with pytest.raises(ValueError, match="bytes"):
        CountMinSketch.from_bytes(raw[:-8])


_CMS_HDR = struct.Struct("<4sBxxxIIQ")


def _cms_compact_payload(d, w, small, idx, vals, n_items=1) -> bytes:
    return b"".join((
        _CMS_HDR.pack(b"RCMS", 2, d, w, n_items),
        np.asarray(small, dtype=np.uint8).tobytes(),
        np.asarray(idx, dtype="<u4").tobytes(),
        np.asarray(vals, dtype="<u8").tobytes(),
    ))


def _cms_with_escapes(n_esc, d=2, w=12):
    table = np.full(d * w, 3, dtype=np.uint64)
    table[1] = 254  # largest cell stored inline
    table[d * w - n_esc :] = 255 + np.arange(n_esc, dtype=np.uint64) * 1000
    return CountMinSketch(d, w, table.reshape(d, w), n_items=int(table.sum()))


def test_cms_layouts_roundtrip_and_switch_point():
    """v2 (one byte per cell + escapes) is written exactly while it is
    smaller than the v1 dense table: 12*escapes < 7*d*w. At d*w = 24
    that is up to 13 escapes; at 14 both would be 216 bytes, so v1."""
    d, w = 2, 12
    cases = [  # (escapes, version, payload bytes)
        (0, 2, 24 + 24),
        (1, 2, 24 + 24 + 12),
        (13, 2, 24 + 24 + 12 * 13),
        (14, 1, 24 + 8 * 24),
        (23, 1, 24 + 8 * 24),
    ]
    for n_esc, version, size in cases:
        sk = _cms_with_escapes(n_esc, d, w)
        raw = sk.to_bytes()
        assert (raw[4], len(raw)) == (version, size), n_esc
        got = CountMinSketch.from_bytes(raw)
        assert got == sk and got.n_items == sk.n_items
        assert np.array_equal(got.query_tokens(_TOKENS), sk.query_tokens(_TOKENS))
        assert got.to_bytes() == raw
        assert len(raw) <= sk.max_payload_bytes() == 24 + 8 * d * w


def test_cms_malformed_compact_payloads_rejected():
    d, w = 2, 12
    sk = _cms_with_escapes(3, d, w)
    raw = sk.to_bytes()
    small = np.frombuffer(raw, np.uint8, d * w, 24)
    idx = [21, 22, 23]
    vals = [255, 1255, 2255]
    assert raw == _cms_compact_payload(d, w, small, idx, vals, sk.n_items)

    def rejects(bad, match=None):
        with pytest.raises(ValueError, match=match):
            CountMinSketch.from_bytes(bad)

    rejects(_cms_compact_payload(d, w, small, [21, 23, 22], vals))   # out of order
    rejects(_cms_compact_payload(d, w, small, [21, 22, 22], vals))   # duplicate
    rejects(_cms_compact_payload(d, w, small, [21, 22, 24], vals))   # out of range
    rejects(_cms_compact_payload(d, w, small, idx, [255, 1255, 254]))  # escape below 255
    more = small.copy()
    more[0] = 255  # a marker with no escape entry
    rejects(_cms_compact_payload(d, w, more, idx, vals))
    rejects(_cms_compact_payload(d, w, small, idx[:2], vals[:2]))   # an escape-less marker
    for cut in (1, 4, 8):
        rejects(raw[:-cut], match="bytes")
    rejects(raw + b"\x00" * 12, match="bytes|escape")
    rejects(raw[:24 + d * w - 1], match="bytes")
    # each layout's table written in the other layout is not canonical
    dense_of_compact = _CMS_HDR.pack(b"RCMS", 1, d, w, 1) + sk.table.tobytes()
    rejects(dense_of_compact, match="canonical")
    full = _cms_with_escapes(14, d, w)
    flat = full.table.reshape(-1)
    esc = np.flatnonzero(flat >= 255)
    rejects(
        _cms_compact_payload(d, w, np.minimum(flat, 255), esc, flat[esc]),
        match="canonical",
    )


_BLOCKED_HDR = struct.Struct("<4sBxxxQQ")


def _blocked_payload(version, n_blocks, idx=(), blocks=(), n_items=1) -> bytes:
    return b"".join((
        _BLOCKED_HDR.pack(b"RBKB", version, n_blocks, n_items),
        np.asarray(idx, dtype="<u4").tobytes(),
        np.asarray(blocks, dtype="<u8").reshape(-1).tobytes(),
    ))


def _blocked_with(n_blocks, filled) -> BlockedBloomFilter:
    """A filter whose listed blocks each hold one distinct bit pattern."""
    words = np.zeros(4 * n_blocks, dtype=np.uint64)
    for b in filled:
        words[4 * b + b % 4] = np.uint64(1 + b)
    return BlockedBloomFilter(n_blocks, words, n_items=len(filled))


def test_blocked_layout_switch_point():
    """v2 (index + words per non-empty block) is written exactly while
    it is smaller than the v1 block array: 36*nnz < 32*n_blocks. At 9
    blocks that is up to 7 listed blocks; at 8 both would be 288 bytes,
    so v1."""
    cases = [  # (non-empty blocks, version, payload bytes)
        (0, 2, 24),
        (1, 2, 24 + 36),
        (7, 2, 24 + 36 * 7),
        (8, 1, 24 + 32 * 9),
        (9, 1, 24 + 32 * 9),
    ]
    for nnz, version, size in cases:
        f = _blocked_with(9, range(nnz))
        raw = f.to_bytes()
        assert (raw[4], len(raw)) == (version, size), nnz
        got = BlockedBloomFilter.from_bytes(raw)
        assert got == f and got.n_items == f.n_items and got.to_bytes() == raw
        assert len(raw) <= f.max_payload_bytes() == 24 + 32 * 9
    # the listed blocks are the non-empty ones, in index order
    f = _blocked_with(64, [3, 17, 40])
    assert f.to_bytes() == _blocked_payload(
        2, 64, [3, 17, 40], f.words.reshape(-1, 4)[[3, 17, 40]], n_items=3
    )


def test_blocked_malformed_sparse_payloads_rejected():
    f = _blocked_with(64, [3, 17, 40])
    blocks = f.words.reshape(-1, 4)[[3, 17, 40]]
    raw = f.to_bytes()

    def rejects(bad, match):
        with pytest.raises(ValueError, match=match):
            BlockedBloomFilter.from_bytes(bad)

    rejects(_blocked_payload(2, 64, [3, 40, 17], blocks), "strictly increasing")  # out of order
    rejects(_blocked_payload(2, 64, [3, 17, 17], blocks), "strictly increasing")  # duplicate
    rejects(_blocked_payload(2, 64, [3, 17, 64], blocks), "strictly increasing")  # out of range
    empty_block = blocks.copy()
    empty_block[1] = 0
    rejects(_blocked_payload(2, 64, [3, 17, 40], empty_block), "empty")
    for cut in (1, 4, 32):
        rejects(raw[:-cut], "36-byte")
    rejects(raw + b"\x00" * 8, "36-byte")
    rejects(_blocked_payload(2, 0), "not a serialized")


def test_blocked_each_layout_in_the_other_is_not_canonical():
    sparse = _blocked_with(9, range(7))
    dense = _blocked_with(9, range(8))
    as_v1 = _BLOCKED_HDR.pack(b"RBKB", 1, 9, 7) + sparse.words.tobytes()
    with pytest.raises(ValueError, match="non-canonical"):
        BlockedBloomFilter.from_bytes(as_v1)
    listed = dense.words.reshape(-1, 4)[:8]
    with pytest.raises(ValueError, match="non-canonical"):
        BlockedBloomFilter.from_bytes(_blocked_payload(2, 9, range(8), listed))
    # block indices past 2^32 cannot be <u4: a filter that large is v1
    with pytest.raises(ValueError, match="non-canonical"):
        BlockedBloomFilter.from_bytes(_blocked_payload(2, (1 << 32) + 1, [1], listed[:1]))
    with pytest.raises(ValueError, match="non-canonical"):
        merge_sketch_payloads([sparse.to_bytes(), as_v1])


def test_hll_v1_wrong_register_count_raises():
    h = HyperLogLog(10)
    h.add_tokens(np.arange(5000, dtype=np.int64))  # dense encoding
    raw = h.to_bytes()
    with pytest.raises(ValueError, match="registers"):
        HyperLogLog.from_bytes(raw[:-4])


def _sparse_hll_payload(p: int, entries) -> bytes:
    hdr = struct.Struct("<4sBBxxQ").pack(b"RHLL", 2, p, 1)
    packed = np.array(
        [(i << 6) | r for i, r in entries], dtype="<u4"
    )
    return hdr + packed.tobytes()


def test_hll_sparse_forged_rank_rejected():
    # rank 63 at p=14 exceeds the reachable cap 64-14+1=51
    with pytest.raises(ValueError, match="rank"):
        HyperLogLog.from_bytes(_sparse_hll_payload(14, [(5, 63)]))
    # the cap itself is legitimate
    h = HyperLogLog.from_bytes(_sparse_hll_payload(14, [(5, 51)]))
    assert h.registers[5] == 51


def test_hll_sparse_duplicate_indices_rejected():
    with pytest.raises(ValueError, match="duplicate"):
        HyperLogLog.from_bytes(_sparse_hll_payload(14, [(5, 3), (5, 7)]))


def test_hll_sparse_decode_is_canonical():
    """The encoder writes nonzero registers in index order: out-of-order
    words and rank-0 words would decode to registers whose bytes differ
    from the payload."""
    for bad in ([(7, 3), (5, 2)], [(5, 2), (9, 0)]):
        with pytest.raises(ValueError):
            HyperLogLog.from_bytes(_sparse_hll_payload(14, bad))
    raw = _sparse_hll_payload(14, [(5, 2), (7, 3)])
    assert HyperLogLog.from_bytes(raw).to_bytes() == raw
    # each layout's registers written in the other layout
    with pytest.raises(ValueError, match="canonical"):
        HyperLogLog.from_bytes(_sparse_hll_payload(4, [(i, 1) for i in range(4)]))
    dense = struct.Struct("<4sBBxxQ").pack(b"RHLL", 1, 4, 1) + bytes([1, 1, 1] + [0] * 13)
    with pytest.raises(ValueError, match="canonical"):
        HyperLogLog.from_bytes(dense)
    assert HyperLogLog.from_bytes(_sparse_hll_payload(4, [(i, 1) for i in range(3)])).to_bytes()[4] == 2


def test_merge_sketch_payloads_mixed_kinds_rejected():
    bloom = BloomFilter.empty(Shape(m=1000, k=5)).add_tokens(
        np.arange(10, dtype=np.int64)
    )
    hll = HyperLogLog(10)
    hll.add_tokens(np.arange(10, dtype=np.int64))
    with pytest.raises(ValueError, match="kind mismatch"):
        merge_sketch_payloads([bloom.to_bytes(), hll.to_bytes()])


# -- CBF chunked updates must equal the one-shot semantics ----------------


def test_cbf_chunked_add_remove_equals_one_shot(monkeypatch):
    shape = Shape.for_np(n=200, p=0.01)
    toks = np.arange(150, dtype=np.int64)
    whole = CountingBloomFilter.empty(shape).add_tokens(toks)
    monkeypatch.setattr(CountingBloomFilter, "_CHUNK", 7)
    chunked = CountingBloomFilter.empty(shape).add_tokens(toks)
    assert whole.to_bytes() == chunked.to_bytes()

    # removal: chunked sticky count and final counters match one-shot
    rm = toks[::3]
    s1 = whole.remove_tokens(rm)
    monkeypatch.setattr(CountingBloomFilter, "_CHUNK", 1 << 18)
    s2 = chunked.remove_tokens(rm)
    assert s1 == s2
    assert whole.to_bytes() == chunked.to_bytes()


def test_cbf_subtract_touched_only_matches_remove():
    shape = Shape.for_np(n=300, p=0.001)
    toks = np.arange(250, dtype=np.int64)
    rm = toks[::5]
    a = CountingBloomFilter.empty(shape).add_tokens(toks)
    b = CountingBloomFilter.empty(shape).add_tokens(toks)
    rev = CountingBloomFilter.empty(shape).add_tokens(rm)
    sa = a.remove_tokens(rm)
    sb = b.subtract_in_place(rev)
    assert sa == sb == 0
    assert a.to_bytes() == b.to_bytes()
    keep = np.setdiff1d(toks, rm)
    assert a.contains_tokens(keep).all()


def test_cbf_merge_wrap_saturation_matches_reference():
    """uint8 wrap-detect saturating add == int64 min(a+b, 255)."""
    rng = np.random.default_rng(7)
    shape = Shape(m=512, k=3)
    a = rng.integers(0, 256, 512).astype(np.uint8)
    b = rng.integers(0, 256, 512).astype(np.uint8)
    fa = CountingBloomFilter(shape, a.copy(), n_items=1)
    fb = CountingBloomFilter(shape, b.copy(), n_items=1)
    fa.merge_in_place(fb)
    want = np.minimum(a.astype(np.int64) + b, 255).astype(np.uint8)
    assert np.array_equal(fa.counters, want)

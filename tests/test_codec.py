"""Codec round-trip tests (SURVEY.md §5 ring 1, test_codec)."""

import numpy as np
import pytest

from zsolr import codec


@pytest.mark.parametrize("c", [codec.CODEC_VARINT, codec.CODEC_BITPACK, codec.CODEC_PFOR])
def test_roundtrip_small(c):
    for arr in (
        np.array([], dtype=np.uint64),
        np.array([0], dtype=np.uint64),
        np.array([0, 1, 127, 128, 129, 16383, 16384, 2**32, 2**63 - 1], dtype=np.uint64),
    ):
        out = codec.decode_u64(codec.encode_u64(arr, c))
        assert np.array_equal(out, arr), (c, arr, out)


@pytest.mark.parametrize("c", [codec.CODEC_VARINT, codec.CODEC_BITPACK, codec.CODEC_PFOR])
@pytest.mark.parametrize("seed", range(5))
def test_roundtrip_random(c, seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 5000))
    # gap-like distribution: mostly small, occasional huge
    arr = rng.integers(0, 1000, n).astype(np.uint64)
    arr[rng.integers(0, n, max(1, n // 50))] = rng.integers(
        0, 2**62, max(1, n // 50)
    ).astype(np.uint64)
    assert np.array_equal(codec.decode_u64(codec.encode_u64(arr, c)), arr)


@pytest.mark.parametrize("c", [codec.CODEC_VARINT, codec.CODEC_BITPACK, codec.CODEC_PFOR])
def test_blocks_roundtrip_and_blockmax(c):
    rng = np.random.default_rng(42)
    n = 1000
    doc_ids = np.sort(rng.choice(100_000, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, n).astype(np.int64)
    firsts, lasts, lens, gblobs, tblobs, maxtfs = codec.encode_blocks(
        doc_ids, tfs, block_size=128, codec=c
    )
    assert sum(lens) == n
    got_d, got_t = [], []
    for i, (f, g, t) in enumerate(zip(firsts, gblobs, tblobs)):
        d, tf = codec.decode_block(f, g, t)
        assert d[0] == f and d[-1] == lasts[i]
        assert int(tf.max()) == maxtfs[i]
        got_d.append(d)
        got_t.append(tf)
    assert np.array_equal(np.concatenate(got_d), doc_ids)
    assert np.array_equal(np.concatenate(got_t), tfs)


def test_varint_compression_effective():
    # small gaps must cost ~1 byte each, not 8
    gaps = np.full(10_000, 3, dtype=np.uint64)
    blob = codec.encode_u64(gaps, codec.CODEC_VARINT)
    assert len(blob) < 10_100


def test_block_starts_alignment():
    """block_starts: every `block_size` postings AND at every docID shard
    boundary; equivalent to the naive per-segment computation."""
    import numpy as np

    from zsolr import codec

    rng = np.random.default_rng(7)
    for _ in range(20):
        n = int(rng.integers(1, 2000))
        ids = np.sort(rng.choice(100_000, size=n, replace=False))
        bs = int(rng.integers(2, 200))
        aw = int(rng.integers(10, 5000))
        got = codec.block_starts(ids, bs, aw)
        # naive oracle
        exp = []
        seg_start = 0
        for i in range(1, n + 1):
            if i == n or ids[i] // aw != ids[i - 1] // aw:
                exp.extend(range(seg_start, i, bs))
                seg_start = i
        assert got.tolist() == exp, (n, bs, aw)
        # no block spans a shard boundary
        f, l, cnt, gb, tb, mx = codec.encode_blocks(
            ids, np.ones(n, dtype=np.int64), block_size=bs, starts=got)
        assert all(a // aw == b // aw for a, b in zip(f, l))
        # roundtrip over aligned blocks reconstructs the full list
        dec = np.concatenate([
            codec.decode_block(f[i], gb[i], tb[i])[0] for i in range(len(f))])
        assert (dec == ids).all()


def test_pfor_beats_varint_on_skewed_gaps():
    """Patched PFor (I6 v2): mostly-small gaps with rare huge outliers —
    patching keeps the base width at the 90th percentile instead of the
    max, so the blob beats varint AND the no-exception bitpack."""
    rng = np.random.default_rng(9)
    gaps = rng.integers(1, 8, 2048).astype(np.uint64)     # 3-bit bodies
    gaps[rng.choice(2048, 20, replace=False)] = rng.integers(
        2**40, 2**50, 20).astype(np.uint64)               # rare outliers
    pfor = codec.encode_u64(gaps, codec.CODEC_PFOR)
    varint = codec.encode_u64(gaps, codec.CODEC_VARINT)
    bitpack = codec.encode_u64(gaps, codec.CODEC_BITPACK)
    assert np.array_equal(codec.decode_u64(pfor), gaps)
    assert len(pfor) < len(varint)
    assert len(pfor) < len(bitpack) / 4  # bitpack pays max-width for all


def test_codec_hypothesis_roundtrip():
    """Property: decode(encode(x)) == x for all three codecs over
    adversarial arrays (hypothesis shrinks failures)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(st.lists(st.integers(min_value=0, max_value=2**62 - 1),
                    max_size=600),
           st.sampled_from([codec.CODEC_VARINT, codec.CODEC_BITPACK,
                            codec.CODEC_PFOR]))
    def prop(vals, c):
        arr = np.array(vals, dtype=np.uint64)
        assert np.array_equal(codec.decode_u64(codec.encode_u64(arr, c)), arr)

    prop()


def test_pfor_blocked_encode_byte_identical():
    """encode_u64_blocked — the vectorized multi-block encoder — must be
    byte-identical to per-block encode_u64 (for PFOR: _pfor_encode) across
    distributions (uniform-wide, outlier-patched, all-zero, tiny) and
    roundtrip exactly; bitpack and varint take the same cases."""
    import numpy as np

    from zsolr import codec

    rng = np.random.default_rng(9)
    cases = []
    cases.append(rng.integers(0, 2**45, size=1111, dtype=np.uint64))
    small = rng.integers(0, 8, size=997, dtype=np.uint64)
    small[rng.integers(0, 997, size=40)] = 2**50
    cases.append(small)
    cases.append(np.zeros(300, dtype=np.uint64))
    cases.append(rng.integers(0, 3, size=5, dtype=np.uint64))
    for vals in cases:
        n = len(vals)
        # fixed strides, plus empty blocks (leading, inner, trailing)
        # inside a non-empty array — the empty-positions blocks of field
        # terms and norms when many groups encode in one pass
        for starts in [np.arange(0, n, bs, dtype=np.int64)
                       for bs in (1, 7, 128, 1000)] + [
                np.array(s, dtype=np.int64)
                for s in ([0, 1, 1], [0, 0, 2], [0, 1, 1, n], [0, n])]:
            for c in (codec.CODEC_PFOR, codec.CODEC_BITPACK,
                      codec.CODEC_VARINT):
                blocked = codec.encode_u64_blocked(vals, starts, c)
                bounds = list(starts) + [n]
                for i in range(len(starts)):
                    seg = vals[bounds[i]:bounds[i + 1]]
                    assert blocked[i] == codec.encode_u64(seg, c)
                    assert (codec.decode_u64(blocked[i]) == seg).all()

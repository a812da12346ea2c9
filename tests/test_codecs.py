"""Codec round-trips — property-based (hypothesis) + edge cases."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from org_rdkit_lucene_spark.functions.codecs import (
    delta_decode,
    delta_encode,
    for_decode,
    for_encode,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    v = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(v)), v)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
@settings(max_examples=100, deadline=None)
def test_for_roundtrip(vals):
    v = np.array(vals, dtype=np.uint64)
    assert np.array_equal(for_decode(for_encode(v)), v)


@given(st.sets(st.integers(min_value=0, max_value=10**13), max_size=300))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(ids):
    a = np.array(sorted(ids), dtype=np.int64)
    first, buf = delta_encode(a)
    assert np.array_equal(delta_decode(first, buf, len(a)), a)


def test_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0
    assert delta_encode(np.array([], dtype=np.int64)) == (0, b"")
    assert for_decode(for_encode(np.array([], dtype=np.uint64))).size == 0


def test_single_and_boundaries():
    for x in [0, 1, 127, 128, 16383, 16384, 2**62]:
        v = np.array([x], dtype=np.uint64)
        assert np.array_equal(varbyte_decode(varbyte_encode(v)), v)


def test_varbyte_decode_many_parity():
    """decode_ints_many == per-buffer decode_ints, bit-identical,
    including empty buffers and multi-byte values."""
    import numpy as np
    from org_rdkit_lucene_spark.functions.codecs import (
        decode_ints,
        decode_ints_many,
        encode_ints,
    )

    rng = np.random.default_rng(7)
    for codec in ("varbyte", "for"):
        bufs, expect = [], []
        for _ in range(137):
            n = int(rng.integers(0, 40))
            v = rng.integers(0, 2**40, size=n).astype(np.uint64)
            bufs.append(encode_ints(v, codec))
            expect.append(v)
        vals, counts = decode_ints_many(bufs, codec)
        assert counts.tolist() == [len(e) for e in expect]
        off = 0
        for buf, e in zip(bufs, expect):
            got = vals[off : off + len(e)]
            assert (got == decode_ints(buf, codec)).all()
            assert (got == e).all()
            off += len(e)
    assert decode_ints_many([], "varbyte")[0].size == 0


def test_varbyte_encode_segmented_parity():
    """Segmented encode == per-segment varbyte_encode concatenation
    (VByte encodes each value independently), including empty segments
    and multi-byte values; varbyte_decode_many round-trips the slices."""
    import numpy as np
    from org_rdkit_lucene_spark.functions.codecs import (
        varbyte_decode_many,
        varbyte_encode,
        varbyte_encode_segmented,
    )

    rng = np.random.default_rng(11)
    for _ in range(40):
        n_seg = int(rng.integers(1, 40))
        counts = rng.integers(0, 9, n_seg).astype(np.int64)
        vals = rng.integers(
            0, 1 << int(rng.integers(1, 40)), int(counts.sum())
        ).astype(np.uint64)
        buf, offs = varbyte_encode_segmented(vals, counts)
        assert len(offs) == n_seg + 1 and offs[-1] == len(buf)
        vs = np.concatenate(([0], np.cumsum(counts)))
        for i in range(n_seg):
            assert buf[offs[i] : offs[i + 1]] == varbyte_encode(
                vals[vs[i] : vs[i + 1]]
            )
        dec, cnt = varbyte_decode_many(
            [bytes(buf[offs[i] : offs[i + 1]]) for i in range(n_seg)]
        )
        assert (cnt == counts).all() and (dec == vals).all()
    # all-empty and fully-empty edges
    buf, offs = varbyte_encode_segmented(
        np.empty(0, dtype=np.uint64), np.zeros(3, dtype=np.int64)
    )
    assert buf == b"" and offs.tolist() == [0, 0, 0, 0]


def test_vb_positions_roundtrip_law():
    """vb_encode_positions ∘ vb_decode_fn is the identity on packed
    position lists — the writers' shuffle representation must restore
    the packed law exactly (ascending lists, first value absolute,
    gap deltas)."""
    import numpy as np
    import pyarrow as pa
    from org_rdkit_lucene_spark.operators.positions import (
        vb_decode_fn,
        vb_encode_positions,
    )

    rng = np.random.default_rng(5)
    lists = []
    for _ in range(500):
        n = int(rng.integers(1, 30))
        ps = np.unique(rng.integers(0, 10_000, n)).astype(np.int64)
        lists.append(ps)
    counts = np.array([len(x) for x in lists], dtype=np.int64)
    flat = np.concatenate(lists)
    arr = vb_encode_positions(flat, counts)
    rb = pa.RecordBatch.from_arrays(
        [
            pa.array(["t%d" % i for i in range(len(lists))], pa.string()),
            pa.array(np.arange(len(lists)), pa.int64()),
            arr,
        ],
        names=["term", "doc_id", "poss_vb"],
    )
    (out,) = list(vb_decode_fn()([rb]))
    got = out.column(2).to_pylist()
    assert got == [x.tolist() for x in lists]


def _reference_blocks(docs, tfs, dls, block_size, codec):
    """Per-block encode with the single-block reference functions."""
    from org_rdkit_lucene_spark.functions.codecs import encode_ints

    out = []
    for s in range(0, len(docs), block_size):
        d = docs[s : s + block_size]
        first, gap_bytes = delta_encode(d, codec)
        out.append((
            first, int(d[-1]), len(d), gap_bytes,
            encode_ints(tfs[s : s + block_size].astype(np.uint64), codec),
            encode_ints(dls[s : s + block_size].astype(np.uint64), codec),
        ))
    return out


def test_block_codec_parity():
    """encode_blocks is byte-identical to per-block delta_encode/
    encode_ints, and decode_blocks(encode_blocks(...)) equals the
    per-block delta_decode/decode_ints, for both codecs: n = 1 blocks,
    a term of exactly block_size postings, multi-byte gaps near 2^62
    and the empty batch."""
    from org_rdkit_lucene_spark.functions.codecs import (
        decode_blocks,
        decode_ints,
        encode_blocks,
    )

    rng = np.random.default_rng(3)
    bs = 16
    terms = [np.array([7]), np.arange(bs) * 3, np.array([0, 2**62 - 9, 2**62])]
    terms += [np.sort(rng.choice(10**9, df, replace=False)) for df in (1, 2, 17, 33, 200)]
    for codec in ("varbyte", "for"):
        batch = []
        for docs in terms:
            docs = docs.astype(np.int64)
            tfs = rng.integers(1, 300, docs.size).astype(np.float64)
            dls = rng.integers(1, 10**6, docs.size).astype(np.float64)
            cols = encode_blocks(docs, tfs, dls, tfs / dls, bs, codec)
            ref = _reference_blocks(docs, tfs, dls, bs, codec)
            names = ("first_doc", "last_doc", "n", "doc_bytes", "tf_bytes", "dl_bytes")
            assert list(zip(*(cols[c] for c in names))) == ref
            for i, s in enumerate(range(0, docs.size, bs)):
                assert cols["max_tf"][i] == tfs[s : s + bs].max()
                assert cols["min_dl"][i] == dls[s : s + bs].min()
                assert cols["max_tf_norm"][i] == (tfs / dls)[s : s + bs].max()
            batch += ref
        got_docs, got_tfs, got_dls, ok = decode_blocks(*zip(*[
            (f, n, db, tb, lb) for f, _, n, db, tb, lb in batch
        ]), codec)
        assert ok.all() and ok.size == len(batch)
        assert (got_docs == np.concatenate(
            [delta_decode(f, db, n, codec) for f, _, n, db, _, _ in batch])).all()
        assert (got_tfs == np.concatenate([decode_ints(r[4], codec) for r in batch])).all()
        assert (got_dls == np.concatenate([decode_ints(r[5], codec) for r in batch])).all()
        empty = decode_blocks([], [], [], [], [], codec)
        assert [a.size for a in empty] == [0, 0, 0, 0]


def test_decode_blocks_flags_count_mismatch():
    """A block whose n disagrees with its bytes gets ok = False and its
    postings are left out; the other blocks decode unchanged."""
    from org_rdkit_lucene_spark.functions.codecs import decode_blocks, encode_blocks

    for codec in ("varbyte", "for"):
        docs = np.arange(0, 40, 2, dtype=np.int64)
        ones = np.ones(docs.size)
        cols = encode_blocks(docs, ones, ones, ones, 8, codec)
        n = cols["n"].copy()
        n[1] += 1
        got, _, _, ok = decode_blocks(
            cols["first_doc"], n, cols["doc_bytes"], cols["tf_bytes"],
            cols["dl_bytes"], codec,
        )
        assert ok.tolist() == [True, False, True]
        assert (got == np.concatenate([docs[:8], docs[16:]])).all()

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flume_elasticsearch_2_spark.codec import (
    BLOCK_SIZE,
    decode_postings,
    delta_decode,
    delta_encode,
    encode_postings,
    svb_decode,
    svb_encode,
)


def test_svb_roundtrip_basic():
    v = np.array([0, 1, 255, 256, 65535, 65536, 2**24 - 1, 2**24, 2**32 - 1], dtype=np.uint32)
    assert np.array_equal(svb_decode(svb_encode(v), len(v)), v)


def test_svb_empty():
    assert svb_encode(np.array([], dtype=np.uint32)) == b""
    assert svb_decode(b"", 0).size == 0


def test_svb_sizes():
    # 4 one-byte values -> 1 control byte + 4 data bytes
    v = np.array([1, 2, 3, 4], dtype=np.uint32)
    assert len(svb_encode(v)) == 5


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), max_size=600))
def test_svb_roundtrip_property(xs):
    v = np.array(xs, dtype=np.uint32)
    assert np.array_equal(svb_decode(svb_encode(v), len(v)), v)


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**31 - 1), min_size=1, max_size=500))
def test_delta_roundtrip(ids):
    v = np.array(sorted(ids), dtype=np.uint32)
    assert np.array_equal(delta_decode(delta_encode(v)), v)


@settings(max_examples=50, deadline=None)
@given(
    st.sets(st.integers(min_value=0, max_value=10**7), min_size=1, max_size=1000),
    st.integers(min_value=1, max_value=50),
)
def test_postings_roundtrip(ids, tfmax):
    doc_ids = np.array(sorted(ids), dtype=np.uint32)
    rng = np.random.RandomState(42)
    tfs = rng.randint(1, tfmax + 1, size=len(doc_ids)).astype(np.uint32)
    enc = encode_postings(doc_ids, tfs)
    out_ids, out_tfs = decode_postings(enc.n, enc.doc_bytes, enc.tf_bytes)
    assert np.array_equal(out_ids, doc_ids)
    assert np.array_equal(out_tfs, tfs)
    # block metadata invariants
    nblocks = (len(doc_ids) + BLOCK_SIZE - 1) // BLOCK_SIZE
    assert len(enc.block_max_tf) == nblocks
    for bi in range(nblocks):
        lo, hi = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, len(doc_ids))
        assert enc.block_first_doc[bi] == doc_ids[lo]
        assert enc.block_last_doc[bi] == doc_ids[hi - 1]
        assert enc.block_max_tf[bi] == tfs[lo:hi].max()


def test_compression_is_compact():
    # dense doc ids -> deltas of 1 -> 1 byte each + control overhead
    v = np.arange(10_000, dtype=np.uint32) * 3 + 7
    enc = svb_encode(delta_encode(v))
    assert len(enc) < 10_000 * 1.3  # ~1.25 bytes/doc


def test_positions_roundtrip_property():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from flume_elasticsearch_2_spark.codec import decode_positions, encode_positions

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(0, 100_000), min_size=1, max_size=40, unique=True),
            min_size=0,
            max_size=30,
        )
    )
    def check(segments):
        segs = [np.sort(np.array(s, dtype=np.uint32)) for s in segments]
        tfs = np.array([len(s) for s in segs], dtype=np.uint32)
        flat = (
            np.concatenate(segs).astype(np.uint32)
            if segs
            else np.zeros(0, dtype=np.uint32)
        )
        buf = encode_positions(flat, tfs)
        out = decode_positions(buf, tfs)
        assert np.array_equal(out, flat)

    check()


def test_svb_golden_bytes():
    """The Stream-VByte layout is an on-disk format: control bytes (2 bits
    per value, first value in the low bits, last byte zero-padded), then
    each value's little-endian bytes truncated to its length."""
    v = np.array([0, 1, 255, 256, 65535, 65536, 2**24 - 1, 2**24, 2**32 - 1], dtype=np.uint32)
    assert svb_encode(v).hex() == "40e9030001ff0001ffff000001ffffff00000001ffffffff"


def test_encode_postings_batch_golden_bytes():
    """Three groups, the first two interleaved runs, the second empty, the
    third with a 3-byte delta and a 3-byte tf: each group pads its own
    control bytes."""
    from flume_elasticsearch_2_spark.codec import encode_postings_batch

    b = encode_postings_batch(
        np.array([5, 300, 7, 1 << 24, 2], np.uint32),
        np.array([1, 2, 3, 1, 70000], np.uint32),
        np.array([0, 3, 3, 5]),
    )
    assert [x.as_py().hex() for x in b.doc_bytes] == ["1005022501", "", "0802feffff"]
    assert [x.as_py().hex() for x in b.tf_bytes] == ["00010302", "", "0270110101"]
    assert b.n.tolist() == [3, 0, 2] and b.cf.tolist() == [6, 0, 70001]
    assert b.block_first_doc.to_pylist() == [[5], [], [2]]
    assert b.block_max_tf.to_pylist() == [[3], [], [70000]]


_group = st.tuples(
    st.one_of(
        st.sampled_from([1, 127, 128, 129]),
        st.integers(min_value=1, max_value=300),
    ),
    st.sampled_from([1 << 10, 1 << 24, 1 << 32]),  # id range: values >= 2^24 too
    st.sampled_from([1, 2, 1 << 17]),  # tf range; 1 -> every tf is 1
    st.integers(min_value=1, max_value=4),  # runs the group arrives in
    st.integers(min_value=0, max_value=2**31),  # seed
)


@settings(max_examples=60, deadline=None)
@given(st.lists(_group, min_size=1, max_size=8), st.booleans())
def test_encode_postings_batch_property(groups, with_pos):
    """Random batches of groups, each split into interleaved runs: every
    group's bytes decode back to its sorted (ids, tfs, positions), and its
    block first/last/max-tf/min-dl equal a brute-force per-block pass."""
    from flume_elasticsearch_2_spark.codec import decode_positions, encode_postings_batch

    want, ids_in, tfs_in, dls_in, pos_in, offsets = [], [], [], [], [], [0]
    for size, id_hi, tf_hi, n_runs, seed in groups:
        rng = np.random.default_rng(seed)
        ids = np.unique(rng.integers(0, id_hi, size=size, dtype=np.uint64)).astype(np.uint32)
        tfs = rng.integers(1, tf_hi, size=ids.size, endpoint=True).astype(np.uint32)
        dls = rng.integers(1, 10_000, size=ids.size)
        pos = []
        if with_pos:
            # min(tf, 3) distinct ascending positions per posting
            tfs = np.minimum(tfs, 3)
            pos = [np.sort(rng.choice(1 << 20, size=int(t), replace=False)).astype(np.uint32)
                   for t in tfs]
        want.append((ids, tfs, dls, pos))
        # deal postings round-robin-at-random into runs, each run ascending
        run = rng.integers(0, n_runs, size=ids.size)
        order = np.lexsort((ids, run))
        ids_in.append(ids[order])
        tfs_in.append(tfs[order])
        dls_in.append(dls[order])
        pos_in.extend(pos[i] for i in order if with_pos)
        offsets.append(offsets[-1] + ids.size)
    b = encode_postings_batch(
        np.concatenate(ids_in),
        np.concatenate(tfs_in),
        np.array(offsets),
        np.concatenate(dls_in),
        np.concatenate(pos_in) if with_pos else None,
    )
    for g, (ids, tfs, dls, pos) in enumerate(want):
        n = ids.size
        assert b.n[g] == n and b.cf[g] == int(tfs.sum())
        out_ids, out_tfs = decode_postings(n, b.doc_bytes[g].as_py(), b.tf_bytes[g].as_py())
        assert np.array_equal(out_ids, ids) and np.array_equal(out_tfs, tfs)
        if with_pos:
            assert np.array_equal(decode_positions(b.pos_bytes[g].as_py(), tfs), np.concatenate(pos))
        else:
            assert b.pos_bytes[g].as_py() == b""
        blocks = [slice(lo, min(lo + BLOCK_SIZE, n)) for lo in range(0, n, BLOCK_SIZE)]
        assert b.block_first_doc[g].as_py() == [int(ids[s][0]) for s in blocks]
        assert b.block_last_doc[g].as_py() == [int(ids[s][-1]) for s in blocks]
        assert b.block_max_tf[g].as_py() == [int(tfs[s].max()) for s in blocks]
        assert b.block_min_dl[g].as_py() == [int(dls[s].min()) for s in blocks]
        # the one-group encoder is the same kernel
        one = encode_postings(ids, tfs, dls)
        assert one.doc_bytes == b.doc_bytes[g].as_py() and one.tf_bytes == b.tf_bytes[g].as_py()

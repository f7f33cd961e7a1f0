"""Bit-packing / delta-gap codec round-trip properties and buffer sizes."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from data_prepper_spark.index.bitpack import (
    decode_doc_ids_payload,
    decode_payload,
    encode_payload_segmented,
)


def _doc_gaps(ids: np.ndarray) -> np.ndarray:
    return ids[1:].astype(np.uint64) - ids[:-1].astype(np.uint64)


def _packed_reference(seg: list[int]) -> bytes:
    """One segment's buffer built with Python integers: [w][n*w bits,
    little-endian], w = 64 above 57 bits."""
    w = max(seg, default=0).bit_length()
    w = 64 if w > 57 else w
    acc = sum(v << (i * w) for i, v in enumerate(seg))
    return bytes([w]) + acc.to_bytes((len(seg) * w + 7) // 8, "little")


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
        min_size=1,
        max_size=300,
        unique=True,
    )
)
def test_doc_id_roundtrip(ids):
    ids = sorted(ids)
    arr = np.array(ids, dtype=np.int64)
    buf = encode_payload_segmented(_doc_gaps(arr), np.array([len(arr) - 1]))[0]
    assert decode_doc_ids_payload(ids[0], buf, len(arr)).tolist() == ids


def test_empty_and_zero():
    assert encode_payload_segmented(np.zeros(0, dtype=np.uint64), np.array([], dtype=np.int64)) == []
    empty, zeros = encode_payload_segmented(np.zeros(3, dtype=np.uint64), np.array([0, 3]))
    assert empty == zeros == b"\x00"
    assert decode_payload(empty, 0).tolist() == []
    assert decode_payload(zeros, 3).tolist() == [0, 0, 0]


def test_payload_roundtrip():
    rng = np.random.RandomState(3)
    segs = [
        rng.randint(0, 2**50, 128).astype(np.uint64),   # realistic doc gaps
        np.zeros(5, dtype=np.uint64),                    # all-zero
        rng.randint(0, 2**62, 7).astype(np.uint64),      # >57 bits -> w = 64
        np.array([], dtype=np.uint64),                   # empty
        np.array([1], dtype=np.uint64),                  # single
        np.array([2**64 - 1, 0], dtype=np.uint64),       # the uint64 max
        rng.randint(0, 100, 128).astype(np.uint64),      # tf-sized
    ]
    vals = np.concatenate(segs)
    bufs = encode_payload_segmented(vals, np.array([len(s) for s in segs]))
    for s, b in zip(segs, bufs):
        assert decode_payload(b, len(s)).tolist() == s.tolist()
    ids = np.unique(rng.randint(-(2**62), 2**62, 100).astype(np.int64))
    ids = np.concatenate(([-(2**63)], ids, [2**63 - 1]))  # int64 extremes: gaps > 2**57
    buf = encode_payload_segmented(_doc_gaps(ids), np.array([len(ids) - 1]))[0]
    assert buf[0] == 64
    assert decode_doc_ids_payload(int(ids[0]), buf, len(ids)).tolist() == ids.tolist()


def test_buffer_sizes():
    """[w:1][ceil(n*w/8) bytes]: no codec tag and no pad; a segment whose
    max needs more than 57 bits packs at 8 bytes per value."""
    rng = np.random.RandomState(5)
    segs = [
        rng.randint(2**44, 2**50, 127).astype(np.uint64),  # w = 50
        np.array([5, 3, 7], dtype=np.uint64),              # w = 3: 9 bits -> 2 bytes
        np.array([2**57 - 1] * 4, dtype=np.uint64),        # w = 57
        np.array([2**57, 1, 2], dtype=np.uint64),          # 58 bits -> w = 64
        np.array([2**64 - 1], dtype=np.uint64),            # w = 64
    ]
    bufs = encode_payload_segmented(np.concatenate(segs), np.array([len(s) for s in segs]))
    assert [b[0] for b in bufs] == [50, 3, 57, 64, 64]
    assert [len(b) for b in bufs] == [1 + (127 * 50 + 7) // 8, 1 + 2, 1 + (4 * 57 + 7) // 8, 1 + 8 * 3, 1 + 8]


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=0, max_size=150),
            st.lists(st.just(0), min_size=0, max_size=20),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_payload_segmented_property(seg_lists):
    vals = np.array([v for seg in seg_lists for v in seg], dtype=np.uint64)
    lens = np.array([len(seg) for seg in seg_lists], dtype=np.int64)
    bufs = encode_payload_segmented(vals, lens)
    assert len(bufs) == len(seg_lists)
    for seg, buf in zip(seg_lists, bufs):
        assert buf == _packed_reference(seg)
        assert decode_payload(buf, len(seg)).tolist() == seg

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fafnir_spark.codec import (
    delta_decode,
    delta_encode,
    f64_decode,
    f64_encode,
    varint_decode,
    varint_encode,
    varint_encode_segments,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    a = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(a)), a)


@given(st.sets(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    a = np.array(sorted(ids), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(a)), a)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300),
       st.lists(st.integers(min_value=0, max_value=300), max_size=12))
@settings(max_examples=200, deadline=None)
def test_varint_encode_segments_equals_per_segment_encode(vals, cuts):
    """One encode pass split at value boundaries is byte-identical to
    encoding each segment on its own (the posting encoder's contract)."""
    a = np.array(vals, dtype=np.uint64)
    edges = sorted([0, len(a), *(min(c, len(a)) for c in cuts)])  # empty segments too
    lo, hi = np.array(edges[:-1], dtype=np.int64), np.array(edges[1:], dtype=np.int64)
    segs = varint_encode_segments(a, lo, hi)
    assert segs == [varint_encode(a[x:y]) for x, y in zip(lo, hi)]


def test_varint_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert len(varint_decode(b"")) == 0


def test_varint_known_bytes():
    # LEB128: 300 = 0b10 0101100 -> 0xAC 0x02
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"


def test_f64_roundtrip():
    w = np.random.default_rng(1).random(64)
    assert np.array_equal(f64_decode(f64_encode(w)), w)


def test_compression_wins():
    # dense doc ids => deltas are tiny => ~1 byte/doc vs 8 raw
    ids = np.arange(10_000, dtype=np.uint64) * 3
    enc = delta_encode(ids)
    assert len(enc) < 0.2 * ids.nbytes


@pytest.mark.parametrize("n", [1, 2, 128, 1000])
def test_delta_dense(n):
    ids = np.arange(n, dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(ids)), ids)

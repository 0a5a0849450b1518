"""Property + golden tests for the pure-Python codec kernels.

Mirrors the reference's runtime self-verification (SURVEY.md §5): round-trip
equality, homopolymer-free invariant, chunk-size budget, dense indices, and
the golden identity pairs shipped in the reference's own data directory.
"""

import hashlib
import os
import random

import pytest
from hypothesis import given, settings, strategies as st

from airflow_pipeline_text_processing_spark.codec import (
    build_chunks,
    bytes_to_dna,
    bytes_to_trits,
    chunk_utf8_bytes,
    dna_to_bytes,
    dna_to_trits,
    has_homopolymer,
    rs_decode,
    rs_encode,
    rs_parity_tail,
    trits_to_bytes,
    trits_to_dna,
)

REF_INPUT = "/root/reference/data/input"


# ---------------------------------------------------------------- goldman


@given(st.binary(min_size=0, max_size=1500))
@settings(max_examples=200, deadline=None)
def test_bytes_dna_roundtrip(data):
    dna = bytes_to_dna(data)
    assert not has_homopolymer(dna)
    assert set(dna) <= set("ACGT")
    if data:
        assert dna_to_bytes(dna, len(data)) == data


@given(st.binary(min_size=1, max_size=400))
@settings(max_examples=100, deadline=None)
def test_leading_nul_bytes_roundtrip(data):
    payload = b"\x00\x00" + data
    dna = bytes_to_dna(payload)
    assert dna_to_bytes(dna, len(payload)) == payload


def test_trit_edge_cases():
    assert bytes_to_trits(b"") == [0]
    assert bytes_to_trits(b"\x00") == [0]
    assert bytes_to_trits(b"\x00\x00") == [0]
    assert trits_to_bytes([0], 1) == b"\x00"
    assert trits_to_bytes([0], 3) == b"\x00\x00\x00"
    # a zero width is exactly zero bytes, whatever the value
    assert trits_to_bytes([1, 2], 0) == b""
    assert dna_to_bytes("CG", 0) == b""
    assert trits_to_dna([]) == ""
    assert dna_to_trits("") == []


@given(st.binary(min_size=0, max_size=800))
@settings(max_examples=100, deadline=None)
def test_expansion_factor(data):
    # log3(256) ~= 5.047 bases/byte for non-degenerate payloads
    dna = bytes_to_dna(data)
    if len(data) >= 8 and data.lstrip(b"\x00"):
        effective = len(data.lstrip(b"\x00"))
        assert len(dna) <= effective * 5.05 + 2


def test_unknown_base_decodes_as_zero():
    # ref dna_encoding.py:181-188 -- unknown bases -> trit 0; an unknown
    # *previous* base excludes nothing, so the next lookup spans all 4 bases
    assert dna_to_trits("X") == [0]
    assert dna_to_trits("XT") == [0, 3]
    assert dna_to_trits("AX") == [0, 0]
    assert dna_to_trits("ac") == dna_to_trits("AC")  # case-insensitive


def _reference_dna_to_trits(dna_sequence):
    # the reference's per-base decode loop (dna_encoding.py:165-194)
    trits = []
    previous_base = None
    for base in dna_sequence.upper():
        if previous_base is None:
            available = ["A", "C", "G"]
        else:
            available = [b for b in ["A", "C", "G", "T"] if b != previous_base]
        if base in available:
            trits.append(available.index(base))
        else:
            trits.append(0)
        previous_base = base
    return trits


def test_decode_matches_reference_loop_on_any_string():
    # lowercase, unknown and non-ASCII characters ('ß' upper-cases to
    # 'SS'), leading T, adjacent repeats: every path of the reference loop
    rng = random.Random(7)
    alphabet = "ACGTacgtNX?ß é"
    for _ in range(600):
        seq = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        trits = _reference_dna_to_trits(seq)
        assert dna_to_trits(seq) == trits, seq
        value = 0
        for t in trits:
            value = value * 3 + t
        n = rng.randint(1, 12)
        # fixed width, rightmost bytes kept when the value is wider
        assert dna_to_bytes(seq, n) == (value % 256**n).to_bytes(n, "big"), seq


@given(st.lists(st.integers(0, 2), min_size=1, max_size=2000))
@settings(max_examples=100, deadline=None)
def test_trits_dna_roundtrip(trits):
    dna = trits_to_dna(trits)
    assert dna_to_trits(dna) == trits
    assert not has_homopolymer(dna)


# ---------------------------------------------------------------- chunker


@given(st.text(min_size=0, max_size=5000), st.integers(1, 64))
@settings(max_examples=150, deadline=None)
def test_chunker_budget_and_reassembly(text, chunk_size):
    pieces = chunk_utf8_bytes(text, chunk_size)
    # concatenation restores the exact byte stream
    assert b"".join(pieces) == text.encode("utf-8")
    for p in pieces:
        assert 1 <= len(p) <= max(chunk_size, 1)
        if len(p) > 1 or chunk_size >= 4:
            # valid UTF-8 on its own, except the degenerate force-1-byte
            # branch (chunk_size smaller than one code point), which the
            # reference also emits as a raw invalid byte (ref :300-304)
            p.decode("utf-8")


def test_chunker_never_splits_codepoint_at_default_size():
    text = "x" * 999 + "é" + "y" * 10  # é straddles the 1000-byte boundary
    pieces = chunk_utf8_bytes(text, 1000)
    assert len(pieces[0]) == 999  # backed off, not split
    assert pieces[0].decode("utf-8") == "x" * 999


def test_chunk_records_shape():
    recs = build_chunks("abc" * 600, chunk_size=1000, nsym=10)
    assert [r["index"] for r in recs] == [0, 1]
    assert recs[0]["chunk_id"] == "dna_chunk_000"
    assert recs[1]["chunk_id"] == "dna_chunk_001"
    for r in recs:
        assert r["chunk_size"] == r["original_length_bytes"]
        assert len(r["error_correction_code"]) >= 10
        assert len(r["checksum"]) == 32
        piece = dna_to_bytes(r["dna_sequence"], r["original_length_bytes"])
        assert hashlib.md5(piece).hexdigest() == r["checksum"]


@pytest.mark.skipif(not os.path.isdir(REF_INPUT), reason="reference absent")
def test_golden_identity_pairs():
    """The reference's in-repo golden pairs: encode->decode is identity."""
    for name in ["sample_input.txt", "sample2.txt", "sample3.txt",
                 "test_shakespear.txt"]:
        with open(os.path.join(REF_INPUT, name), encoding="utf-8") as f:
            text = f.read()
        recs = build_chunks(text)
        rebuilt = "".join(
            dna_to_bytes(r["dna_sequence"], r["original_length_bytes"]).decode("utf-8")
            for r in sorted(recs, key=lambda r: r["index"])
        )
        assert rebuilt == text
        assert (hashlib.md5(rebuilt.encode()).hexdigest()
                == hashlib.md5(text.encode()).hexdigest())


# ---------------------------------------------------------------- reed-solomon


@given(st.binary(min_size=0, max_size=600))
@settings(max_examples=100, deadline=None)
def test_rs_roundtrip_clean(data):
    assert rs_decode(rs_encode(data, 10), 10) == data


@given(st.binary(min_size=1, max_size=600), st.data())
@settings(max_examples=100, deadline=None)
def test_rs_corrects_errors(data, draw):
    encoded = bytearray(rs_encode(data, 10))
    nblocks = (len(encoded) + 254) // 255
    for b in range(nblocks):
        lo, hi = b * 255, min((b + 1) * 255, len(encoded))
        k = draw.draw(st.integers(0, min(5, hi - lo)))
        for pos in draw.draw(
            st.lists(st.integers(lo, hi - 1), min_size=k, max_size=k, unique=True)
        ):
            encoded[pos] ^= draw.draw(st.integers(1, 255))
    assert rs_decode(bytes(encoded), 10) == data


def test_rs_parity_tail_len():
    # <=245 bytes: exactly nsym parity bytes; >245: interleaved-tail quirk
    assert len(rs_parity_tail(b"x" * 100, 10)) == 10
    assert len(rs_parity_tail(b"x" * 245, 10)) == 10
    assert len(rs_parity_tail(b"x" * 1000, 10)) == 50  # 5 blocks x 10

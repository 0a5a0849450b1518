"""Randomized reference tests for MinHash-LSH dedup and content-defined
chunking: seeded corpora (with planted near-copies for LSH) compared
exactly against pure-Python reimplementations of the md5-permutation
MinHash + banding pipeline and both CDC boundary rules (per-position
md5 and the base-37 rolling polynomial)."""

from __future__ import annotations

import hashlib
import random
import re
import string

from airflow_pipeline_text_processing_spark.operators.dedup import (
    CDC_ROLL_BASE,
    CDC_ROLL_KEEP,
    CDC_ROLL_MOD,
    CDC_THRESHOLD,
    CDC_WINDOW,
    band_signatures,
    cdc_chunks,
    cdc_chunks_rolling,
    minhash_dedup_pairs,
    minhash_signatures,
)

VOCAB = [f"w{i}" for i in range(10)]


def _py_tokens(t):
    return [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]


def _py_shingles(t, n=3):
    tk = _py_tokens(t)
    m = max(len(tk) - (n - 1), 1)
    return {" ".join(tk[i : i + n]) for i in range(m)}


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def _py_signature(text, num_perm=16):
    return [
        min(hashlib.md5(f"{p}|{s}".encode()).hexdigest() for s in _py_shingles(text))
        for p in range(num_perm)
    ]


def _py_bands(sig, band_size=4):
    """Band strings in band order; the last band is short when
    ``band_size`` does not divide the signature length."""
    return [",".join(sig[b : b + band_size]) for b in range(0, len(sig), band_size)]


def _py_minhash_pairs(texts, threshold=0.5, num_perm=16, band_size=4):
    sh = {i: _py_shingles(t) for i, t in enumerate(texts)}
    buckets = {}
    for i, t in enumerate(texts):
        for key in enumerate(_py_bands(_py_signature(t, num_perm), band_size)):
            buckets.setdefault(key, []).append(i)
    cands = set()
    for members in buckets.values():
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = sorted((members[ai], members[bi]))
                cands.add((a, b))
    out = {}
    for a, b in cands:
        inter = len(sh[a] & sh[b])
        jac = inter / (len(sh[a]) + len(sh[b]) - inter)
        if jac >= threshold:
            out[(a, b)] = jac
    return out


def test_minhash_signatures_and_bands_match_python_reference(spark):
    texts = [
        "",  # no token: the one shingle ""
        "solo",  # one token: the one shingle "solo"
        "a b c a b c a b c a b c",  # repeated shingles count once
        "Hello, World! hello world -- again and AGAIN",
        "a b",
    ]
    rng = random.Random(5)
    texts += [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 30)))
              for _ in range(6)]
    docs = _mk_docs(spark, texts)
    for num_perm, band_size in ((16, 4), (10, 4)):
        sigs = minhash_signatures(docs, num_perm=num_perm)
        got = {}
        for r in sigs.collect():
            got.setdefault(r.doc_id, {})[r.perm] = r.minhash
        want = {i: _py_signature(t, num_perm) for i, t in enumerate(texts)}
        assert {i: [g[p] for p in sorted(g)] for i, g in got.items()} == want
        assert all(sorted(g) == list(range(num_perm)) for g in got.values())
        bands = {
            (r.doc_id, r.band): r.band_sig
            for r in band_signatures(sigs, band_size).collect()
        }
        assert bands == {
            (i, b): s
            for i, sig in want.items()
            for b, s in enumerate(_py_bands(sig, band_size))
        }, (num_perm, band_size)


def test_minhash_lsh_matches_python_reference(spark):
    for seed in range(4):
        rng = random.Random(seed)
        texts = []
        for i in range(14):
            if i >= 3 and rng.random() < 0.4:
                base = _py_tokens(texts[rng.randrange(i)])
                base[rng.randrange(len(base))] = rng.choice(VOCAB)
                texts.append(" ".join(base))
            else:
                texts.append(
                    " ".join(
                        rng.choice(VOCAB) for _ in range(rng.randint(6, 20))
                    )
                )
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_dedup_pairs(_mk_docs(spark, texts)).collect()
        }
        want = _py_minhash_pairs(texts)
        assert got == want, f"seed {seed}"
        # 10 permutations in bands of 4: the short last band (perms 8-9)
        # is a band of its own
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in minhash_dedup_pairs(
                _mk_docs(spark, texts), num_perm=10
            ).collect()
        }
        assert got == _py_minhash_pairs(texts, num_perm=10), f"seed {seed}"


def _py_cdc(text, boundary_fn, window=CDC_WINDOW):
    n = len(text)
    bnd = (
        [i for i in range(window, n + 1) if boundary_fn(text[i - window : i])]
        if n >= window
        else []
    )
    starts = [0] + bnd
    ends = bnd + [n]
    chunks = [text[s:e] for s, e in zip(starts, ends) if e > s]
    return [
        (idx, c, hashlib.md5(c.encode()).hexdigest(), len(c))
        for idx, c in enumerate(chunks)
    ]


def _md5_boundary(win):
    return hashlib.md5(win.encode()).hexdigest() < CDC_THRESHOLD


def _poly_boundary(win):
    v = 0
    for ch in win:
        v = v * CDC_ROLL_BASE + ord(ch)
    return v % CDC_ROLL_MOD < CDC_ROLL_KEEP


def test_cdc_chunks_match_python_reference(spark):
    for seed in range(4):
        rng = random.Random(70 + seed)
        texts = [
            "".join(
                rng.choice(string.ascii_lowercase + " ")
                for _ in range(rng.randint(1, 120))
            )
            for _ in range(12)
        ]
        for op, rule in (
            (cdc_chunks, _md5_boundary),
            (cdc_chunks_rolling, _poly_boundary),
        ):
            got = {}
            for r in op(_mk_docs(spark, texts)).collect():
                got.setdefault(r.doc_id, []).append(
                    (r.chunk_idx, r.chunk, r.chunk_hash, r.chunk_len)
                )
            for v in got.values():
                v.sort()
            want = {
                i: _py_cdc(t, rule)
                for i, t in enumerate(texts)
                if _py_cdc(t, rule)
            }
            assert got == want, f"seed {seed} op {op.__name__}"

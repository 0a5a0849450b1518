"""Randomized reference tests for the round-10 wave-2/3 operators:
each drives the Spark operator over seeded random corpora and compares
against an independent pure-Python reference implementation (exact --
the fixed-point conventions make every matched value integer or an
IEEE-identical float expression).  Complements the planted-edge tests
in test_r10_wave2.py and the sf0.01 oracle gate with breadth."""

from __future__ import annotations

import math
import random
import re

from airflow_pipeline_text_processing_spark.operators.dedup import (
    canonical_pick,
    containment_pairs,
)
from airflow_pipeline_text_processing_spark.operators.similarity import (
    mmr_rerank,
)
from airflow_pipeline_text_processing_spark.operators.text import (
    strip_boilerplate,
)

VOCAB = [f"w{i}" for i in range(12)]
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]


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


def test_containment_matches_python_reference(spark):
    for seed in range(5):
        rng = random.Random(seed)
        texts = [
            " ".join(rng.choice(VOCAB) for _ in range(rng.randint(3, 15)))
            for _ in range(25)
        ]
        got = {
            (r.doc_a, r.doc_b): (
                r.n_common, r.size_a, r.size_b,
                r.cont_a_in_b_ppm, r.cont_b_in_a_ppm,
            )
            for r in containment_pairs(
                _mk_docs(spark, texts), threshold_ppm=0
            ).collect()
        }
        want = {}
        sh = [_py_shingles(t) for t in texts]
        for a in range(25):
            for b in range(a + 1, 25):
                inter = len(sh[a] & sh[b])
                if inter == 0:
                    continue  # candidate generation needs a shared shingle
                want[(a, b)] = (
                    inter, len(sh[a]), len(sh[b]),
                    inter * 1_000_000 // len(sh[a]),
                    inter * 1_000_000 // len(sh[b]),
                )
        assert got == want, f"seed {seed}"


def test_strip_boilerplate_matches_python_reference(spark):
    for seed in range(5):
        rng = random.Random(100 + seed)
        lines_pool = [f"line {i} text" for i in range(8)]
        texts = [
            "\n".join(
                rng.choice(lines_pool + ["", "  "])
                for _ in range(rng.randint(1, 6))
            )
            for _ in range(20)
        ]
        min_df = 3
        # python reference
        per_doc = [
            [ln for ln in t.split("\n") if ln.strip()] for t in texts
        ]
        df = {}
        for ls in per_doc:
            for ln in set(ls):
                df[ln] = df.get(ln, 0) + 1
        want = {
            i: (
                len(ls),
                sum(1 for ln in ls if df[ln] >= min_df),
                "\n".join(ln for ln in ls if df[ln] < min_df),
            )
            for i, ls in enumerate(per_doc)
        }
        got = {
            r.doc_id: (r.n_lines, r.n_removed_lines, r.kept_text)
            for r in strip_boilerplate(
                _mk_docs(spark, texts), min_df=min_df
            ).collect()
        }
        assert got == want, f"seed {seed}"


def _py_quality_ppm(t):
    tk = _py_tokens(t)
    n = len(tk)
    if n == 0:
        return None  # no token: NULL quality, as SQL's x / 0 with ANSI off
    stop = sum(1 for x in tk if x in STOPWORDS)
    uniq = len(set(tk))
    punct = len(t) - len(re.sub(r"[.,;:!?]", "", t))
    q = (stop / n) * 0.4 + (uniq / n) * 0.4 - (punct / len(t)) * 0.2
    return math.floor(q * 1_000_000.0)


def test_canonical_pick_matches_python_reference(spark, broadcast_threshold):
    """Checked at the session's threshold (the pick read to the driver)
    and with broadcast off (the distributed path); rows in doc_id order."""
    for threshold in (None, -1):
        if threshold is not None:
            broadcast_threshold(threshold)
        for seed in range(6):
            _check_canonical_pick_seed(spark, seed, threshold)


def _check_canonical_pick_seed(spark, seed, threshold):
    rng = random.Random(200 + seed)
    texts = [
        " ".join(
            rng.choice(VOCAB + STOPWORDS + ["x.", "y!"])
            for _ in range(rng.randint(2, 10))
        )
        for _ in range(15)
    ]
    pairs = sorted(
        {
            tuple(sorted(rng.sample(range(15), 2)))
            for _ in range(rng.randint(0, 8))
        }
    )
    if seed == 5:
        # zero-token docs (empty, CJK-only, punctuation-only): a
        # cluster mixing them with a scored doc, and one of only them
        zero = {3: "", 7: "中文文本", 11: "?!", 12: "中文 文本"}
        texts = [zero.get(i, t) for i, t in enumerate(texts)]
        pairs = sorted(set(pairs) | {(3, 7), (7, 9), (11, 12)})
    # python reference: union-find + quality argmax
    parent = list(range(15))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    cluster = {i: find(i) for i in range(15)}
    qual = {i: _py_quality_ppm(t) for i, t in enumerate(texts)}
    members = {}
    for i, c in cluster.items():
        members.setdefault(c, []).append(i)
    keep = {  # NULL quality ranks last, then doc_id
        c: min(ms, key=lambda i: (qual[i] is None, -(qual[i] or 0), i))
        for c, ms in members.items()
    }
    want = {
        i: (
            cluster[i], len(members[cluster[i]]), qual[i],
            1 if keep[cluster[i]] == i else 0,
        )
        for i in range(15)
    }
    pairs_df = spark.createDataFrame(
        pairs or [(-1, -2)], "doc_a long, doc_b long"
    )
    rows = canonical_pick(_mk_docs(spark, texts), pairs_df).collect()
    assert [r.doc_id for r in rows] == sorted(r.doc_id for r in rows)
    got = {
        r.doc_id: (r.cluster_id, r.n_members, r.quality_ppm, r.is_kept)
        for r in rows
        if r.doc_id >= 0
    }
    # ghost -1/-2 sentinel nodes (empty-pairs case) form their own
    # cluster but are not in docs, so they never appear in output
    assert got == want, f"seed {seed}, threshold {threshold}"


def _py_mmr(query, cands, k, pool, lam_num=7, lam_den=10):
    def sdot(a, b):
        return sum(math.floor(float(x) * float(y) * 1e6) for x, y in zip(a, b))

    def cos_ppm(a, b):
        return math.floor(
            sdot(a, b) / (math.sqrt(sdot(a, a)) * math.sqrt(sdot(b, b)))
            * 1_000_000.0
        )

    rel = {cid: cos_ppm(query, v) for cid, v in cands.items()}
    ranked = sorted(rel, key=lambda c: (-rel[c], c))[:pool]
    out = []
    selected = []
    for step in range(1, k + 1):
        best = None
        for c in ranked:
            if c in selected:
                continue
            pen = max(
                (cos_ppm(cands[c], cands[s]) for s in selected), default=0
            )
            score = lam_num * rel[c] - (lam_den - lam_num) * pen
            key = (-score, c)
            if best is None or key < best[0]:
                best = (key, c, pen)
        if best is None:
            break
        out.append((best[1], step, rel[best[1]], best[2]))
        selected.append(best[1])
    return out


def test_mmr_matches_python_reference(spark):
    for seed in range(5):
        rng = random.Random(300 + seed)
        cands = {
            cid: [rng.randint(0, 50) for _ in range(4)]
            for cid in range(1, 9)
        }
        # no zero vectors (cosine undefined) -- bump a coordinate
        for v in cands.values():
            if not any(v):
                v[0] = 1
        query = [rng.randint(1, 50) for _ in range(4)]
        qdf = spark.createDataFrame(
            [(100, [float(x) for x in query])],
            "vec_id long, embedding array<float>",
        )
        cdf = spark.createDataFrame(
            [(cid, [float(x) for x in v]) for cid, v in cands.items()],
            "vec_id long, embedding array<float>",
        )
        got = [
            (r.cand_id, r.pick_order, r.rel_ppm, r.penalty_ppm)
            for r in mmr_rerank(qdf, cdf, k=4, pool=6).collect()
        ]
        want = _py_mmr(query, cands, k=4, pool=6)
        assert got == want, f"seed {seed}: {got} != {want}"

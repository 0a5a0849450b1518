"""Seeded input generator for the benchmark.

Single process, stdlib only.  Every function takes a ``random.Random`` that
the caller seeds from ``--seed``, so one seed always yields byte-identical
inputs.  Files are written only below the directory the caller passes in.

What the generator controls, and why:

* document sizes: heavy-tailed (Pareto), from sub-chunk documents up to many
  1000-byte codec chunks, rescaled so a workload's total bytes stay fixed
  across seeds (throughput then compares like with like);
* multibyte share: a fraction of documents mixes CJK and accented words,
  which makes the codec chunker back off to UTF-8 code-point boundaries;
* renamed copies: files whose content was already ingested, under new names,
  which the tracking table must skip;
* planted near-duplicate clusters with known membership, for dedup recall.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
from dataclasses import dataclass, field

# Common English words lead the Zipf order so the curation quality score
# (stopword and unique-token ratios) sees realistic prose statistics.
_HEAD = (
    "the of and to a in is for on with that it as was by at be this from "
    "or an are which not have has but were its also their they can more"
).split()
_ACCENTED = (
    "café naïve façade über señor déjà crème jalapeño smörgåsbord coöperate "
    "résumé piñata müller garçon fiancée élan"
).split()


def _syllable_words(n: int) -> list[str]:
    onsets = "b c d f g h j k l m n p r s t v w z br cr dr fl gr pl st tr".split()
    vowels = "a e i o u ai ea io ou".split()
    codas = ["", "n", "r", "s", "t", "l", "m", "x"]
    out = []
    for o1, v1, o2, v2, c in itertools.product(onsets, vowels, onsets, vowels, codas):
        out.append(o1 + v1 + o2 + v2 + c)
        if len(out) == n:
            return out
    return out


_ASCII_VOCAB = _HEAD + _syllable_words(6000)
# Zipf weights (rank ** -1.0) over the ASCII vocabulary
_ASCII_CUM = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(_ASCII_VOCAB))))


def _cjk_word(rng: random.Random) -> str:
    return "".join(chr(0x4E00 + rng.randrange(3000)) for _ in range(rng.randint(1, 4)))


def make_text(rng: random.Random, n_bytes: int, multibyte: bool) -> str:
    """Prose-like text of at least ``n_bytes`` UTF-8 bytes (it stops at the
    first word that reaches the target)."""
    parts: list[str] = []
    size = 0
    words_in_sentence = 0
    while size < n_bytes:
        if multibyte and rng.random() < 0.3:
            w = _cjk_word(rng) if rng.random() < 0.6 else rng.choice(_ACCENTED)
        else:
            w = rng.choices(_ASCII_VOCAB, cum_weights=_ASCII_CUM)[0]
        words_in_sentence += 1
        if words_in_sentence >= rng.randint(8, 18):
            w += "." + ("\n" if rng.random() < 0.3 else "")
            words_in_sentence = 0
        parts.append(w)
        size += len(w.encode("utf-8")) + 1
    return " ".join(parts)


def heavy_tailed_sizes(
    rng: random.Random, n: int, total: int, lo: int, hi: int, alpha: float = 1.2
) -> list[int]:
    """``n`` Pareto(alpha) sizes clipped to [lo, hi], rescaled to sum to about
    ``total`` bytes."""
    sizes = [min(hi, lo * (1.0 - rng.random()) ** (-1.0 / alpha)) for _ in range(n)]
    # rescale the unclipped sizes until the clipped total matches, so every
    # seed yields the same total however its tail fell
    for _ in range(50):
        free = sum(s for s in sizes if s < hi)
        fixed = sum(sizes) - free
        if free == 0 or abs(fixed + free - total) < 1:
            break
        scale = max(total - fixed, 0) / free
        sizes = [s if s >= hi else max(lo / 2, min(hi, s * scale)) for s in sizes]
    return [int(s) for s in sizes]


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def write_file(directory: str, name: str, text: str) -> None:
    # newline="" keeps "\n" as written, so the file's bytes are the text's
    with open(os.path.join(directory, name), "w", encoding="utf-8", newline="") as f:
        f.write(text)


@dataclass
class Corpus:
    """Files of one directory: name -> text, plus bookkeeping for checks."""

    texts: dict[str, str] = field(default_factory=dict)
    # renamed copy name -> name of the earlier file with the same content
    copies: dict[str, str] = field(default_factory=dict)

    @property
    def n_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts.values())

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for name, text in self.texts.items():
            write_file(directory, name, text)


def document_corpus(
    rng: random.Random,
    prefix: str,
    n_files: int,
    total_bytes: int,
    multibyte_share: float,
    n_same_content: int = 0,
    lo: int = 200,
    hi: int = 40_000,
) -> Corpus:
    """Fresh documents plus ``n_same_content`` extra files that repeat an
    earlier file's content under a different name."""
    corpus = Corpus()
    sizes = heavy_tailed_sizes(rng, n_files, total_bytes, lo, hi)
    for i, size in enumerate(sizes):
        corpus.texts[f"{prefix}{i:05d}.txt"] = make_text(
            rng, size, rng.random() < multibyte_share
        )
    originals = list(corpus.texts)
    for j in range(n_same_content):
        src = rng.choice(originals)
        name = f"{prefix}dup{j:03d}.txt"
        corpus.texts[name] = corpus.texts[src]
        corpus.copies[name] = src
    return corpus


def tick_batch(
    rng: random.Random,
    tick: int,
    n_new: int,
    n_copies: int,
    landed: dict[str, str],
    bytes_per_file: int,
    multibyte_share: float,
) -> Corpus:
    """One cron tick's arrivals: ``n_new`` fresh files and ``n_copies``
    renamed copies of content that already landed (``landed``: name -> text)."""
    batch = Corpus()
    sizes = heavy_tailed_sizes(
        rng, n_new, n_new * bytes_per_file, lo=200, hi=8 * bytes_per_file
    )
    for i, size in enumerate(sizes):
        batch.texts[f"tick{tick:04d}_{i:02d}.txt"] = make_text(
            rng, size, rng.random() < multibyte_share
        )
    earlier = sorted(landed)
    for j in range(n_copies):
        src = rng.choice(earlier)
        name = f"tick{tick:04d}_copy{j:02d}.txt"
        batch.texts[name] = landed[src]
        batch.copies[name] = src
    return batch


@dataclass
class DedupCorpus:
    """Near-duplicate corpus: ``texts[doc_id]`` and the planted clusters, each
    a list of doc ids whose members are light edits of one base document."""

    texts: dict[int, str]
    clusters: list[list[int]]

    def planted_pairs(self) -> set[tuple[int, int]]:
        return {
            (a, b)
            for members in self.clusters
            for a, b in itertools.combinations(sorted(members), 2)
        }

    def write(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        for doc_id, text in self.texts.items():
            write_file(directory, f"{doc_id:06d}.txt", text)


def dedup_corpus(
    rng: random.Random,
    n_docs: int,
    n_clusters: int,
    words_per_doc: tuple[int, int] = (120, 260),
    max_edits: int = 3,
) -> DedupCorpus:
    """``n_docs`` ASCII documents; ``n_clusters`` of them seed clusters of 2,
    3 or 4 members in turn, each extra member the seed with 1..``max_edits``
    words replaced.  With at least 120 words, one edit changes at most 3 of
    ~120 word 3-shingles, so every planted pair stays far above a 0.5 Jaccard
    threshold.  Cluster sizes and document lengths are the same for every
    seed (only their order and the words differ), so the dedup work is too.
    Doc ids are shuffled so cluster members are not adjacent."""
    lo, hi = words_per_doc
    lengths = [lo + (hi - lo) * k // max(1, n_docs - 1) for k in range(n_docs)]
    rng.shuffle(lengths)
    ids = list(range(1, n_docs + 1))
    rng.shuffle(ids)
    texts: dict[int, str] = {}
    clusters: list[list[int]] = []
    pos = 0
    for c in range(n_clusters):
        size = 2 + c % 3
        if pos + size > n_docs:
            break
        members = ids[pos : pos + size]
        base = rng.choices(_ASCII_VOCAB, cum_weights=_ASCII_CUM, k=lengths[pos])
        pos += size
        texts[members[0]] = " ".join(base)
        for m in members[1:]:
            words = list(base)
            for _ in range(rng.randint(1, max_edits)):
                words[rng.randrange(len(words))] = rng.choice(_ASCII_VOCAB[len(_HEAD):])
            texts[m] = " ".join(words)
        clusters.append(members)
    for k in range(pos, n_docs):
        texts[ids[k]] = " ".join(
            rng.choices(_ASCII_VOCAB, cum_weights=_ASCII_CUM, k=lengths[k]))
    return DedupCorpus(texts, clusters)

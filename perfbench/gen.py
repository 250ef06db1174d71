"""Seeded input generator. Every input a workload reads comes from here,
keyed only on the seed, so the same seed always gives the same inputs.

- a Zipf vocabulary (rank r drawn with weight 1/r**ZIPF_S) and
  lognormal document lengths;
- multi-page PDFs rendered with ``sources.minipdf.render_pdf``;
- a curation corpus with fixed exact-duplicate and near-duplicate shares;
- query texts, part copied from the corpus and part off-corpus;
- an open-loop landing schedule of plain-text documents.
"""

from __future__ import annotations

import os
import string
from statistics import NormalDist

import numpy as np

ZIPF_S = 1.1
VOCAB = 5000


class Corpus:
    """Word sampler over a seeded Zipf vocabulary."""

    def __init__(self, rng: np.random.Generator, vocab: int = VOCAB):
        self.rng = rng
        letters = np.array(list(string.ascii_lowercase))
        words = set()
        while len(words) < vocab:
            n = int(rng.integers(2, 11))
            words.add("".join(rng.choice(letters, n)))
        self.words = np.array(sorted(words))
        rng.shuffle(self.words)
        w = 1.0 / np.arange(1, vocab + 1) ** ZIPF_S
        self.p = w / w.sum()

    def words_for(self, n: int) -> list[str]:
        return list(self.words[self.rng.choice(len(self.words), n, p=self.p)])

    def lengths(self, n: int, median_chars: float, sigma: float = 0.5,
                min_chars: int = 80) -> list[int]:
        """``n`` lognormal document lengths, taken at the distribution's
        quantiles (i + 0.5) / n and shuffled: every seed gets the same
        total volume, so throughput does not move with the seed."""
        dist = NormalDist(np.log(median_chars), sigma)
        out = [max(min_chars, int(np.exp(dist.inv_cdf((i + 0.5) / n)))) for i in range(n)]
        self.rng.shuffle(out)
        return out

    def text(self, target: int) -> str:
        """One document of about ``target`` characters: words joined by
        spaces with a newline every ~12 words."""
        words = self.words_for(target // 5 + 8)
        out, size = [], 0
        for i, w in enumerate(words):
            if size >= target:
                break
            out.append(w)
            out.append("\n" if i % 12 == 11 else " ")
            size += len(w) + 1
        return "".join(out).strip()

    def texts(self, n: int, median_chars: float) -> list[str]:
        return [self.text(k) for k in self.lengths(n, median_chars)]


def paginate(text: str, page_chars: int) -> list[str]:
    """Greedy line packing into pages of at most ~page_chars characters;
    pages never start or end with whitespace and are never empty."""
    pages, cur = [], ""
    for line in text.split("\n"):
        if cur and len(cur) + 1 + len(line) > page_chars:
            pages.append(cur)
            cur = line
        else:
            cur = f"{cur}\n{line}" if cur else line
    if cur:
        pages.append(cur)
    return [p.strip() for p in pages if p.strip()]


def pdf_corpus(seed: int, out_dir: str, n_docs: int, median_chars: int = 4000,
               page_chars: int = 1500, tag: str = "doc") -> dict[str, list[str]]:
    """Write ``n_docs`` multi-page PDFs; returns {file name: page texts}."""
    from ai_data_pipeline_spark.sources.minipdf import render_pdf

    corpus = Corpus(np.random.default_rng([seed, 1]))
    os.makedirs(out_dir, exist_ok=True)
    docs = {}
    for i, text in enumerate(corpus.texts(n_docs, median_chars)):
        name = f"{tag}{i:05d}.pdf"
        pages = paginate(text, page_chars)
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(render_pdf(pages))
        docs[name] = pages
    return docs


def dedup_corpus(seed: int, n_docs: int, exact_share: float, near_share: float,
                 median_chars: int = 1200, edit_share: float = 0.03) -> list[tuple[int, str]]:
    """(id, text) rows: ``exact_share`` of them are byte copies of another
    row, ``near_share`` copies with ``edit_share`` of their words replaced;
    the rest are independent documents. Row order is shuffled."""
    rng = np.random.default_rng([seed, 2])
    corpus = Corpus(rng)
    n_exact = int(round(n_docs * exact_share))
    n_near = int(round(n_docs * near_share))
    n_base = n_docs - n_exact - n_near
    texts = corpus.texts(n_base, median_chars)
    for _ in range(n_near):
        words = texts[int(rng.integers(n_base))].split(" ")
        for j in rng.choice(len(words), max(1, int(len(words) * edit_share)), replace=False):
            words[j] = corpus.words_for(1)[0]
        texts.append(" ".join(words))
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(len(texts)))])
    order = rng.permutation(len(texts))
    return [(int(i), texts[j]) for i, j in enumerate(order)]


def queries(seed: int, questions: list[str], n: int, in_share: float) -> list[str]:
    """``n`` query texts: ``in_share`` of them questions copied from the
    corpus (the 1-NN is an exact hit), the rest off-corpus phrases."""
    rng = np.random.default_rng([seed, 3])
    corpus = Corpus(rng)
    out = []
    for _ in range(n):
        if rng.random() < in_share:
            out.append(questions[int(rng.integers(len(questions)))])
        else:
            out.append(" ".join(corpus.words_for(int(rng.integers(3, 9)))) + "?")
    return out


def landing_texts(seed: int, n_files: int, median_chars: int = 2500) -> list[str]:
    """Documents the stream generator lands, in landing order."""
    return Corpus(np.random.default_rng([seed, 4])).texts(n_files, median_chars)


def landing_schedule(n_files: int, rate: float) -> list[float]:
    """Due times (seconds from the start) of ``n_files`` landings at a
    fixed ``rate`` per second."""
    return [(i + 1) / rate for i in range(n_files)]

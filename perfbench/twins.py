"""Pure-Python twins of each workload's result, and readers for what the
pipelines wrote. The benchmark compares the two after every pass."""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter

import numpy as np

from ai_data_pipeline_spark.operators.chunker import chunk_pages_python, chunk_pipeline_python
from ai_data_pipeline_spark.operators.embedding import fake_text_encoder
from ai_data_pipeline_spark.operators.json_fallback import extract_json_python
from ai_data_pipeline_spark.operators.llm_map import PROMPT_TEMPLATE, StubLLM

QA_KEY = ("source_file", "window_index", "subchunk_index", "question", "answer")


def _qa(source: str, chunks: list[tuple[int, int, str]]) -> list[tuple]:
    raws = StubLLM().generate([PROMPT_TEMPLATE.format(chunk=c) for _, _, c in chunks])
    out = []
    for (w, s, _), raw in zip(chunks, raws):
        d = extract_json_python(raw)
        if d is not None and d.get("question") is not None and d.get("answer") is not None:
            out.append((source, w, s, d["question"], d["answer"]))
    return out


def qa_records(docs: dict[str, list[str]]) -> list[tuple]:
    """Q&A records the PDF chain must write, from the known page texts."""
    return [r for name, pages in docs.items() for r in _qa(name, chunk_pages_python(pages))]


def stream_records(texts: dict[str, str], page_chars: int) -> list[tuple]:
    """Q&A records the streaming chain must commit for landed text files."""
    return [r for name, t in texts.items() for r in _qa(name, chunk_pipeline_python(t, page_chars))]


def digest(records) -> str:
    return hashlib.sha256(repr(sorted(records)).encode()).hexdigest()


def read_jsonl_dir(path: str) -> list[tuple]:
    """Every record in the part files under ``path`` (any depth), keyed
    like QA_KEY with ``source_file`` cut to its base name."""
    out = []
    for f in glob.glob(os.path.join(path, "**", "part-*"), recursive=True):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    d = json.loads(line)
                    d["source_file"] = os.path.basename(d["source_file"])
                    out.append(tuple(d[k] for k in QA_KEY))
    return out


def multiset_diff(got: list, want: list) -> tuple[int, int, int]:
    """(missing, extra, duplicated) records of ``got`` against ``want``."""
    g, w = Counter(got), Counter(want)
    return (sum((w - g).values()), sum((g - w).values()),
            sum(n - 1 for n in g.values() if n > 1))


# --- dedup ------------------------------------------------------------------

def shingles(text: str, n: int) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def exact_survivors(rows: list[tuple[int, str]]) -> dict[int, str]:
    """Lowest id per distinct text."""
    best: dict[str, int] = {}
    for i, t in rows:
        if t not in best or i < best[t]:
            best[t] = i
    return {i: t for t, i in best.items()}


def verified_pairs(docs: dict[int, str], candidates, n: int, min_jaccard: float) -> dict:
    """{(id_a, id_b): jaccard} over candidate pairs at or above ``min_jaccard``."""
    sh = {}
    out = {}
    for a, b in candidates:
        sa = sh.setdefault(a, shingles(docs[a], n))
        sb = sh.setdefault(b, shingles(docs[b], n))
        inter = len(sa & sb)
        j = inter / (len(sa) + len(sb) - inter)
        if j >= min_jaccard:
            out[(a, b)] = j
    return out


def clusters(pairs) -> dict[int, int]:
    """Union-find: {id: smallest id of its component} over pair endpoints."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


# --- retrieval --------------------------------------------------------------

def knn_answers(corpus: list[tuple[int, str, str]], queries: list[str], threshold: float,
                sentinel: str) -> list[tuple[int, bool, str]]:
    """numpy brute-force squared-L2 1-NN (ties to the lowest id) over the
    fake encoder's vectors: [(vec_id, accepted, answer)] per query."""
    ids = np.array([c[0] for c in corpus])
    mat = np.array(fake_text_encoder([c[1] for c in corpus]))
    out = []
    for q in np.array(fake_text_encoder(queries)):
        d = ((mat - q) ** 2).sum(axis=1)
        k = np.lexsort((ids, d))[0]
        ok = bool(d[k] <= threshold)
        out.append((int(ids[k]), ok, corpus[k][2] if ok else sentinel))
    return out

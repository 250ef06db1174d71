"""Document chunking: the reference's page-window + recursive-split
pipeline (SURVEY.md §2A R2/R3/R4), re-expressed as DataFrame ops.

Reference semantics preserved:
- R2 (`app/main.py:19-27`): per-document ordered pages; pages with
  falsy text (None/"") dropped.
- R3 (`app/main.py:76-82`): for every ODD 1-based page index i, one
  window = pages[i-2 .. i+2] clamped, joined with "\\n\\n". Here:
  a Window.rowsBetween(-2, 2) + collect_list + array_join, filtered
  to odd pages — pure JVM, one shuffle on doc_id.
- R4 (`app/main.py:84-88,101`): recursive character split,
  chunk_size=1500, overlap=200, len() as length, separators
  ["\\n\\n", "\\n", " ", ""]. Re-implemented in pure Python (no
  langchain dependency) — the SAME function is used by the Arrow-
  batched pandas UDF and by the golden tests, so Spark output ==
  golden by construction. window_index and subchunk_index are
  1-based like the reference (`app/main.py:100,103`).

Scale: pages shuffle once on doc_id for the sliding window; the
splitter is a scalar pandas UDF (Arrow batches, ~1k windows per
batch) — the only Python in the pipeline, unavoidable because the
greedy merge is inherently sequential per window. Window text is
bounded (±2 pages), so batch memory is bounded regardless of corpus
size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType


DEFAULT_SEPARATORS = ("\n\n", "\n", " ", "")


def _atomize(text: str, chunk_size: int, separators: tuple[str, ...]) -> list[str]:
    """Split text into atoms ≤ chunk_size (where possible) using the
    first matching separator, recursing into finer separators for
    oversize atoms. Separators stay attached to the preceding atom,
    so ``"".join(atoms) == text`` exactly."""
    if text == "":
        return []
    if len(text) <= chunk_size:
        return [text]

    sep = None
    rest: tuple[str, ...] = ()
    for i, s in enumerate(separators):
        if s == "":
            sep, rest = s, ()
            break
        if s in text:
            sep, rest = s, separators[i + 1 :]
            break
    if sep is None:
        return [text]

    if sep == "":
        return list(text)

    pieces = text.split(sep)
    atoms = [p + sep for p in pieces[:-1]] + [pieces[-1]]
    atoms = [a for a in atoms if a != ""]

    flat: list[str] = []
    for a in atoms:
        if len(a) > chunk_size and rest:
            flat.extend(_atomize(a, chunk_size, rest))
        else:
            flat.append(a)
    return flat


def split_recursive_with_offsets(
    text: str,
    chunk_size: int = 1500,
    chunk_overlap: int = 200,
    separators: tuple[str, ...] = DEFAULT_SEPARATORS,
) -> list[tuple[int, str]]:
    """Recursive character splitter (R4 semantics, langchain-free),
    returning ``(start_offset, chunk)`` pairs.

    Algorithm: pick the first separator that occurs in the text (""
    always matches → char split); split into atoms keeping the
    separator attached to the preceding atom (full coverage); any
    atom longer than chunk_size is recursively split with the
    remaining separators; finally merge consecutive atoms greedily
    into chunks ≤ chunk_size, starting each new chunk with the
    previous chunk's trailing atoms up to chunk_overlap chars.

    Invariants (property-tested via the offsets): every chunk equals
    text[start : start+len(chunk)]; starts are strictly increasing;
    the intervals cover [0, len(text)) with no gaps; every chunk ≤
    chunk_size unless a single unsplittable atom exceeds it; carried
    overlap ≤ chunk_overlap.
    """
    if text == "":
        return []
    if len(text) <= chunk_size:
        return [(0, text)]

    flat = _atomize(text, chunk_size, separators)
    # atom start offsets: atoms concatenate to text exactly
    starts: list[int] = []
    pos = 0
    for a in flat:
        starts.append(pos)
        pos += len(a)

    chunks: list[tuple[int, str]] = []
    cur: list[int] = []  # indices into flat
    cur_len = 0
    for idx, a in enumerate(flat):
        if cur and cur_len + len(a) > chunk_size:
            chunks.append((starts[cur[0]], "".join(flat[i] for i in cur)))
            carry: list[int] = []
            carry_len = 0
            for prev in reversed(cur):
                if carry_len + len(flat[prev]) > chunk_overlap:
                    break
                carry.insert(0, prev)
                carry_len += len(flat[prev])
            # shrink the carry so carry + incoming atom still fits
            while carry and carry_len + len(a) > chunk_size:
                dropped = carry.pop(0)
                carry_len -= len(flat[dropped])
            cur = carry
            cur_len = carry_len
        cur.append(idx)
        cur_len += len(a)
    if cur:
        chunks.append((starts[cur[0]], "".join(flat[i] for i in cur)))
    return chunks


def split_recursive(
    text: str,
    chunk_size: int = 1500,
    chunk_overlap: int = 200,
    separators: tuple[str, ...] = DEFAULT_SEPARATORS,
) -> list[str]:
    """See split_recursive_with_offsets — chunk texts only."""
    return [c for _, c in split_recursive_with_offsets(text, chunk_size, chunk_overlap, separators)]


def paginate_text(text: str, page_chars: int = 400) -> list[str]:
    """Deterministic pseudo-pagination for plain-text documents (the
    testdata analog of R2's PDF page extraction): greedy word packing
    into ~page_chars pages. Pure function shared by UDF and goldens."""
    words = [w for w in text.split(" ") if w != ""]
    pages: list[str] = []
    cur: list[str] = []
    cur_len = 0
    for w in words:
        add = len(w) + (1 if cur else 0)
        if cur and cur_len + add > page_chars:
            pages.append(" ".join(cur))
            cur, cur_len = [], 0
            add = len(w)
        cur.append(w)
        cur_len += add
    if cur:
        pages.append(" ".join(cur))
    return pages


def chunk_pages_python(
    pages: list[str],
    window_before: int = 2,
    window_after: int = 2,
    chunk_size: int = 1500,
    chunk_overlap: int = 200,
) -> list[tuple[int, int, str]]:
    """Golden reference for the R3→R4 half over an ALREADY-paged
    document (the pure-Python twin of ``chunk_paged_documents``):
    callers pass the surviving page list in order (empty pages
    already dropped — window positions are ROW positions in that
    filtered sequence, exactly like the Spark rowsBetween window).
    Returns [(window_index, subchunk_index, chunk_text)] (1-based)."""
    out: list[tuple[int, int, str]] = []
    win_idx = 0
    for i in range(1, len(pages) + 1):  # 1-based, odd pages only (R3)
        if i % 2 != 1:
            continue
        win_idx += 1
        lo = max(1, i - window_before)
        hi = min(len(pages), i + window_after)
        window_text = "\n\n".join(pages[lo - 1 : hi])
        for j, chunk in enumerate(split_recursive(window_text, chunk_size, chunk_overlap), 1):
            out.append((win_idx, j, chunk))
    return out


def chunk_pipeline_python(
    text: str,
    page_chars: int = 400,
    window_before: int = 2,
    window_after: int = 2,
    chunk_size: int = 1500,
    chunk_overlap: int = 200,
) -> list[tuple[int, int, str]]:
    """Golden reference: full R2→R3→R4 pipeline in pure Python.
    Returns [(window_index, subchunk_index, chunk_text)] (1-based),
    exactly what the Spark pipeline must produce per document."""
    pages = [p for p in paginate_text(text, page_chars) if p.strip()]
    return chunk_pages_python(
        pages, window_before, window_after, chunk_size, chunk_overlap
    )


# --- Spark side -------------------------------------------------------------

def sliding_windows(
    pages: DataFrame,
    before: int = 2,
    after: int = 2,
    sep: str = "\n\n",
) -> DataFrame:
    """R3: odd 1-based pages, ±(before/after) page window concat.
    Input: [doc_id, page_no, page_text]; output: [doc_id,
    window_index (1-based), window_text]."""
    w = Window.partitionBy("doc_id").orderBy("page_no").rowsBetween(-before, after)
    wi = Window.partitionBy("doc_id").orderBy("page_no")
    return (
        pages.withColumn("window_text", F.array_join(F.collect_list("page_text").over(w), sep))
        .filter(F.col("page_no") % 2 == 1)
        .withColumn("window_index", F.row_number().over(wi).cast("int"))
        .select("doc_id", "window_index", "window_text")
    )


def split_chunks(
    windows: DataFrame,
    chunk_size: int = 1500,
    chunk_overlap: int = 200,
) -> DataFrame:
    """R4: recursive split each window; 1-based subchunk_index.
    Output: [doc_id, window_index, subchunk_index, chunk_text]."""

    @F.pandas_udf(ArrayType(StringType()))
    def split_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda t: split_recursive(t or "", chunk_size, chunk_overlap))

    return (
        windows.withColumn("chunks", split_udf(F.col("window_text")))
        .select(
            "doc_id",
            "window_index",
            F.posexplode("chunks").alias("sub0", "chunk_text"),
        )
        .select(
            "doc_id",
            "window_index",
            (F.col("sub0") + 1).cast("int").alias("subchunk_index"),
            "chunk_text",
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    page_chars: int = 400,
    chunk_size: int = 1500,
    chunk_overlap: int = 200,
) -> DataFrame:
    """Full R2→R3→R4 pipeline: documents → chunk rows.

    Single pandas UDF + posexplode: the page window (R3) only ever
    looks within one document, so the whole per-doc pipeline runs in
    one Arrow batch pass — zero shuffles, and no chained Python
    evals (two ArrowEvalPython nodes feeding each other in one plan
    can deadlock on pipe buffering; we hit this at sf0.1 — see also
    ``chunk_paged_documents`` for the page-table variant used when
    pages arrive pre-exploded from a PDF parser).
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    elem = StructType(
        [
            StructField("window_index", IntegerType()),
            StructField("subchunk_index", IntegerType()),
            StructField("chunk_text", StringType()),
        ]
    )

    @F.pandas_udf(ArrayType(elem))
    def chunks_udf(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: chunk_pipeline_python(
                t or "", page_chars, 2, 2, chunk_size, chunk_overlap
            )
        )

    return (
        df.select(F.col(id_col).alias("doc_id"), chunks_udf(F.col(text_col)).alias("cs"))
        .select("doc_id", F.explode("cs").alias("c"))
        .select(
            "doc_id",
            F.col("c.window_index").alias("window_index"),
            F.col("c.subchunk_index").alias("subchunk_index"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


def chunk_paged_documents(
    pages: DataFrame,
    chunk_size: int = 1500,
    chunk_overlap: int = 200,
) -> DataFrame:
    """R3→R4 over an already-paged table [doc_id, page_no, page_text]
    (e.g. from sources.readers.parse_pages): window-function sliding
    windows + split UDF. NOTE: if the page table itself comes from a
    pandas UDF in the same lineage, materialize it first (cache or
    checkpoint) — chained ArrowEvalPython nodes in one plan can
    deadlock on pipe buffering (observed at sf0.1)."""
    return split_chunks(sliding_windows(pages), chunk_size, chunk_overlap)

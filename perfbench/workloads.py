"""The four workloads. Each one generates its inputs from the seed, runs
an untimed warm pass, and then runs timed operations through the
package's public functions, checking every output against a pure-Python
twin (perfbench/twins.py)."""

from __future__ import annotations

import json
import os
import statistics
import time
from functools import partial

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from ai_data_pipeline_spark.operators.chunker import sliding_windows, split_chunks
from ai_data_pipeline_spark.operators.dedup import (
    dedup_clusters_star,
    exact_dedup,
    minhash_lsh_candidates,
    minhash_neardup_pairs,
    minhash_signatures,
)
from ai_data_pipeline_spark.operators.embedding import embed_text
from ai_data_pipeline_spark.operators.json_fallback import valid_records_with_metrics
from ai_data_pipeline_spark.operators.llm_map import StubLLM, llm_map
from ai_data_pipeline_spark.operators.similarity import knn_l2_with_threshold
from ai_data_pipeline_spark.sources.readers import parse_pages, read_document_dir, read_jsonl
from ai_data_pipeline_spark.sources.sinks import compact_sorted, with_source_stem, write_jsonl_partitioned
from ai_data_pipeline_spark.streaming.pipelines import (
    jsonl_stream_sink,
    read_documents_stream,
    stream_qa_pipeline,
)
from perfbench import gen, twins
from perfbench.llm import LatencyLLM

# Input sizes and knobs, fixed for every seed.
PDF_DOCS = 16              # pdf_qa: PDFs per pass (lognormal, ~4 KB median, ~1.5 KB pages)
DEDUP_DOCS = 200           # dedup: corpus rows per pass
DEDUP_EXACT, DEDUP_NEAR = 0.10, 0.20  # shares of exact and near duplicates
SHINGLE_N, NUM_HASHES, BANDS, MIN_JACCARD = 3, 16, 4, 0.5
RAG_DOCS = 10              # rag_query: PDFs whose Q&A records form the index
RAG_QUERIES, RAG_IN_SHARE = 200, 0.7
RAG_THRESHOLD, RAG_SENTINEL = 1.0, "I don't know."
# stream_qa: files landed per second (open loop). Each file is one task,
# so a micro-batch that outgrows one wave of tasks runs longer and the
# next one collects more files; the source takes at most one file per core
# per micro-batch, which keeps every batch to one wave.
STREAM_RATE = 2.0
STREAM_WARM_FILES = 4
STREAM_PAGE_CHARS = 2000
LLM_DELAY_S = 0.01         # stream_qa: latency stub, seconds per request (one prompt)
MIN_OPS = 2                # closed loops: fewest operations a measured phase runs


class Op:
    """Outcome of one timed operation; ``cpu_s`` is set by closed loops."""

    def __init__(self, items: int, latency_s: float, ok: bool):
        self.items, self.latency_s, self.ok = items, latency_s, ok
        self.cpu_s: float | None = None


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's metadata files."""
    n = size = 0
    for dp, _, files in os.walk(path):
        for f in files:
            if f.startswith(("part-", "part_")):
                n += 1
                size += os.path.getsize(os.path.join(dp, f))
    return n, size


def counting_client(spark, delay_s: float):
    """LatencyLLM factory whose prompt count and busy time flow back
    through accumulators; returns (factory, prompts_acc, busy_acc)."""
    sc = spark.sparkContext
    prompts, busy = sc.accumulator(0), sc.accumulator(0.0)
    return partial(LatencyLLM, delay_s, prompts, busy), prompts, busy


def pdf_chain(spark, tr, pdf_dir: str, out_dir: str, client_factory):
    """binaryFile read → parse → windows/split → LLM map → JSON fallback →
    partitioned JSONL. Returns the valid/invalid observation and the
    stage frames (materialized when tracing) for ``pdf_counts``; the
    caller unpersists the first, the page table."""
    with tr.span("sources.readers.parse_s"):
        docs = read_document_dir(spark, pdf_dir, glob="*.pdf")
        # the page table comes from a pandas UDF: materialize it before the
        # split UDF (chunker.chunk_paged_documents' rule)
        pages = parse_pages(docs).withColumnRenamed("source_file", "doc_id").localCheckpoint()
    with tr.span("operators.chunker.split_s"):
        chunks = tr.force(split_chunks(sliding_windows(pages)).withColumnRenamed("doc_id", "source_file"))
    with tr.span("operators.llm_map.map_s"):
        enriched = tr.force(llm_map(chunks, client_factory))
    with tr.span("operators.json_fallback.validate_s"):
        records, obs = valid_records_with_metrics(enriched)
        records = tr.force(records)
    with tr.span("sources.sinks.write_s"):
        write_jsonl_partitioned(with_source_stem(records), out_dir)
    return obs, (pages, chunks, records)


def pdf_counts(tr, stages, out_dir: str) -> None:
    """Per-layer counts of a traced ``pdf_chain`` pass."""
    pages, chunks, records = stages
    n_chunks = chunks.count()
    tr.count("sources.readers.pages", pages.count())
    tr.count("operators.chunker.chunks", n_chunks)
    tr.count("operators.json_fallback.valid_ratio", records.count() / max(1, n_chunks))
    sink_counts(tr, out_dir)


def sink_counts(tr, out_dir: str) -> None:
    files, size = dir_stats(out_dir)
    tr.count("sources.sinks.files_written", files)
    tr.count("sources.sinks.bytes_written", size)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, cores: int, tr):
        self.spark, self.work, self.seed, self.cores, self.tr = spark, work, seed, cores, tr
        self.info: dict[str, float] = {}  # workload-specific figures for the report
        self.cpu_s = lambda: 0.0  # CPU seconds of the engine so far; set by the runner

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def generate(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        """Untimed pass that lets JIT, Python workers and caches settle."""
        raise NotImplementedError

    def run(self) -> Op:
        raise NotImplementedError

    def measure(self, seconds: float, log, min_ops: int = MIN_OPS) -> list[Op]:
        """Closed loop: run operations back to back for ``seconds``, and
        at least ``min_ops`` of them."""
        ops: list[Op] = []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or len(ops) < min_ops:
            self.tr.begin_pass()
            c0 = self.cpu_s()
            try:
                op = self.run()
                op.cpu_s = self.cpu_s() - c0
            except Exception as e:  # one failed operation is counted, not fatal
                log(f"{self.name}: operation failed: {e!r}")
                op = Op(0, float("nan"), False)
            ops.append(op)
            self.tr.end_pass()
        return ops

    def close(self) -> None:
        pass


class PdfQA(Workload):
    name = "pdf_qa"

    def generate(self):
        self.docs = gen.pdf_corpus(self.seed, self.path("pdfs"), PDF_DOCS)
        self.want = twins.qa_records(self.docs)
        self.want_digest = twins.digest(self.want)

    def warm(self):
        if not self.run().ok:
            raise RuntimeError("pdf_qa warm pass: output differs from the Python twin")

    def run(self):
        tr = self.tr
        factory, prompts, busy = counting_client(self.spark, 0.0) if tr.enabled else (StubLLM, None, None)
        t0 = time.perf_counter()
        obs, stages = pdf_chain(self.spark, tr, self.path("pdfs"), self.path("out"), factory)
        dt = time.perf_counter() - t0
        tr.spark_totals()
        got = twins.read_jsonl_dir(self.path("out"))
        ok = len(got) == len(self.want) and twins.digest(got) == self.want_digest
        if tr.enabled:
            pdf_counts(tr, stages, self.path("out"))
            tr.count("operators.llm_map.prompts", prompts.value)
            tr.count("operators.llm_map.client_busy_s", busy.value)
        else:  # the observation is fed by the write job (untraced plan only)
            ok = ok and obs.get["n_valid"] == len(self.want)
        stages[0].unpersist()
        return Op(PDF_DOCS, dt, ok)


class Dedup(Workload):
    name = "dedup"

    def generate(self):
        rows = gen.dedup_corpus(self.seed, DEDUP_DOCS, DEDUP_EXACT, DEDUP_NEAR)
        table = pa.table({"id": pa.array([i for i, _ in rows], pa.int64()),
                          "text": [t for _, t in rows]})
        os.makedirs(self.path("corpus"))
        step = -(-len(rows) // self.cores)
        for k in range(self.cores):
            pq.write_table(table.slice(k * step, step), self.path("corpus", f"part-{k:05d}.parquet"))
        self.survivors = twins.exact_survivors(rows)
        self.want_keepers = None
        self.checking = False

    def warm(self):
        # The first pass keeps its candidate pairs, verified pairs and
        # cluster count; exact Jaccard over the candidates is recomputed in
        # Python. The second pass is a plain one: passes after a single
        # warm pass still cost a third more CPU.
        self.checking = True
        self.run()
        self.checking = False
        want_pairs = twins.verified_pairs(self.survivors, self.got_cands, SHINGLE_N, MIN_JACCARD)
        got_pairs = self.got_pairs
        if set(got_pairs) != set(want_pairs) or any(
                abs(got_pairs[k] - want_pairs[k]) > 1e-9 for k in want_pairs):
            raise RuntimeError("dedup: verified pairs differ from Python Jaccard over the candidates")
        comp = twins.clusters(want_pairs)
        if self.got_clusters != len(set(comp.values())):
            raise RuntimeError("dedup: cluster count differs from a Python union-find")
        self.want_keepers = {i for i in self.survivors if comp.get(i, i) == i}
        if self.got_keepers != self.want_keepers or not self.run().ok:
            raise RuntimeError("dedup warm pass: keepers differ from the Python twin")
        self.info["candidate_pairs"] = len(self.got_cands)

    def run(self):
        tr = self.tr
        t0 = time.perf_counter()
        df = self.spark.read.parquet(self.path("corpus"))
        with tr.span("operators.dedup.exact_s"):
            exact = tr.force(exact_dedup(df, ["text"], "id"))
        if self.checking:  # first warm pass only: keep the LSH candidates
            exact = exact.localCheckpoint()
            self.got_cands = [(r.id_a, r.id_b) for r in minhash_lsh_candidates(
                minhash_signatures(exact, "id", "text", SHINGLE_N, NUM_HASHES), NUM_HASHES,
                BANDS).collect()]
        if tr.enabled:  # the LSH stages on their own, to split near-dup time
            with tr.span("operators.dedup.signature_s"):
                tr.force(minhash_signatures(exact, "id", "text", SHINGLE_N, NUM_HASHES))
            with tr.span("operators.dedup.candidates_s"):  # signatures and banding, fused
                cands = tr.force(minhash_lsh_candidates(
                    minhash_signatures(exact, "id", "text", SHINGLE_N, NUM_HASHES), NUM_HASHES, BANDS))
        with tr.span("operators.dedup.neardup_s"):
            pairs = tr.force(minhash_neardup_pairs(exact, "id", "text", SHINGLE_N, NUM_HASHES,
                                                   BANDS, MIN_JACCARD))
        if self.checking:
            pairs = pairs.localCheckpoint()
            self.got_pairs = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
        with tr.span("operators.dedup.cluster_s"):
            comp = tr.force(dedup_clusters_star(pairs))
        if self.checking:
            comp = comp.localCheckpoint()
            self.got_clusters = comp.select("cluster_id").distinct().count()
        keepers = (exact.join(comp, "id", "left")
                   .filter(F.col("cluster_id").isNull() | (F.col("id") == F.col("cluster_id")))
                   .select("id", "text"))
        with tr.span("sources.sinks.write_s"):
            compact_sorted(keepers, self.path("out"), ["id"], self.cores)
        dt = time.perf_counter() - t0
        tr.spark_totals()
        self.got_keepers = set(pd.read_parquet(self.path("out"), columns=["id"])["id"].tolist())
        if tr.enabled:
            n_cand, n_pairs = cands.count(), pairs.count()
            tr.count("operators.dedup.exact_removed", DEDUP_DOCS - exact.count())
            tr.count("operators.dedup.candidate_pairs", n_cand)
            tr.count("operators.dedup.verified_pairs", n_pairs)
            tr.count("operators.dedup.precision", n_pairs / max(1, n_cand))
            tr.count("operators.dedup.clusters", comp.select("cluster_id").distinct().count())
            sink_counts(tr, self.path("out"))
        return Op(DEDUP_DOCS, dt, self.got_keepers == self.want_keepers)


class RagQuery(Workload):
    name = "rag_query"

    def generate(self):
        docs = gen.pdf_corpus(self.seed, self.path("pdfs"), RAG_DOCS, tag="kb")
        recs = sorted(twins.qa_records(docs))  # (source_file, window, subchunk, q, a)
        self.corpus = [(i, r[3], r[4]) for i, r in enumerate(recs)]
        self.queries = gen.queries(self.seed, [r[3] for r in recs], RAG_QUERIES, RAG_IN_SHARE)
        self.want = twins.knn_answers(self.corpus, self.queries, RAG_THRESHOLD, RAG_SENTINEL)
        self.next_q = 0

    def warm(self):
        # the knowledge base is what the pdf_qa chain writes
        _, stages = pdf_chain(self.spark, self.tr, self.path("pdfs"), self.path("records"), StubLLM)
        stages[0].unpersist()
        t0 = time.perf_counter()
        recs = read_jsonl(self.spark, self.path("records"))
        order = Window.orderBy("source_file", "window_index", "subchunk_index")
        corpus = recs.withColumn("vec_id", (F.row_number().over(order) - 1).cast("long"))
        self.index = embed_text(corpus, "question").localCheckpoint()
        self.info["index_build_s"] = time.perf_counter() - t0
        n = self.index.count()
        self.info["vectors"] = n
        if n != len(self.corpus):
            raise RuntimeError(f"rag_query: index holds {n} vectors, expected {len(self.corpus)}")
        if not self.run().ok:
            raise RuntimeError("rag_query warm pass: answer differs from numpy 1-NN")
        self.next_q = 0

    def run(self):
        qid = self.next_q % len(self.queries)
        self.next_q += 1
        t0 = time.perf_counter()
        with self.tr.span("operators.similarity.knn_s"):
            q = self.spark.createDataFrame([(qid, self.queries[qid])], "qid long, text string")
            rows = knn_l2_with_threshold(self.index, embed_text(q, "text", "qvec"), RAG_THRESHOLD,
                                         RAG_SENTINEL, "answer").collect()
        dt = time.perf_counter() - t0
        self.tr.spark_totals()
        got = [(r["vec_id"], r["accepted"], r["answer"]) for r in rows]
        self.tr.count("operators.similarity.accepted_ratio", float(bool(got and got[0][1])))
        return Op(1, dt, got == [self.want[qid]])


class StreamQA(Workload):
    """Open loop: the generator lands text files on a seeded schedule
    while one streaming query processes them in micro-batches."""

    name = "stream_qa"

    def generate(self):
        self.texts = gen.landing_texts(self.seed, STREAM_WARM_FILES + 4 * 64)
        self.phase = 0
        self.query = None

    def _start(self, traced: bool):
        """Fresh landing/checkpoint/output directories and a running query
        with ``STREAM_WARM_FILES`` files landed and committed."""
        if self.query is not None:
            self.query.stop()
        self.phase += 1
        base = self.path(f"stream{self.phase}")
        self.dirs = {k: os.path.join(base, k) for k in ("landing", "staging", "out", "ckpt")}
        for d in ("landing", "staging"):
            os.makedirs(self.dirs[d])
        if traced:
            factory, self.prompts, self.busy = counting_client(self.spark, LLM_DELAY_S)
        else:
            factory, self.prompts, self.busy = partial(LatencyLLM, LLM_DELAY_S), None, None
        self.landed: dict[str, str] = {}
        self.next_text = 0
        for _ in range(STREAM_WARM_FILES):
            self._land()
        docs = read_documents_stream(self.spark, self.dirs["landing"], max_files_per_trigger=self.cores)
        self.query = jsonl_stream_sink(stream_qa_pipeline(docs, factory, page_chars=STREAM_PAGE_CHARS),
                                       self.dirs["out"], self.dirs["ckpt"]).start()
        self.query.processAllAvailable()
        self.llm_base = (self.prompts.value, self.busy.value) if traced else (0, 0.0)

    def _land(self) -> str:
        name = f"f{self.phase}_{self.next_text:05d}.txt"
        text = self.texts[self.next_text % len(self.texts)]
        self.next_text += 1
        tmp = os.path.join(self.dirs["staging"], name)
        with open(tmp, "w") as f:
            f.write(text)
        os.rename(tmp, os.path.join(self.dirs["landing"], name))
        self.landed[name] = text
        return name

    def warm(self):
        self._start(traced=False)

    def _batch_of_files(self) -> dict[str, int]:
        """{file name: id of the micro-batch that read it}, from the file
        source's log in the checkpoint."""
        src = os.path.join(self.dirs["ckpt"], "sources", "0")
        out = {}
        for f in os.listdir(src):
            if f.startswith("."):
                continue
            with open(os.path.join(src, f)) as fh:
                for line in fh.read().splitlines()[1:]:
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def _commit_time(self, batch: int) -> float:
        """Wall time the sink committed ``batch`` (its metadata log entry)."""
        meta = os.path.join(self.dirs["out"], "_spark_metadata")
        for f in (str(batch), f"{batch}.compact"):
            p = os.path.join(meta, f)
            if os.path.exists(p):
                return os.stat(p).st_mtime
        return os.stat(os.path.join(self.dirs["ckpt"], "commits", str(batch))).st_mtime

    def measure(self, seconds, log, min_ops=0):
        if self.tr.enabled:
            self._start(traced=True)
        self.tr.begin_pass()
        due: dict[str, float] = {}
        landed_at: dict[str, float] = {}
        t0 = time.time() + 0.05
        # the streaming query runs on its own threads; this one is the generator
        for offset in gen.landing_schedule(int(round(seconds * STREAM_RATE)), STREAM_RATE):
            delay = t0 + offset - time.time()
            if delay > 0:
                time.sleep(delay)
            name = self._land()
            due[name] = t0 + offset
            landed_at[name] = time.time()
        self.query.processAllAvailable()
        self.tr.spark_totals()
        batch_of = self._batch_of_files()
        read = [n for n in due if n in batch_of]
        mine = {batch_of[n] for n in read}
        commits = {b: self._commit_time(b) for b in mine}
        # one operation per landed file, failed if no micro-batch read it
        ops = [Op(1, commits[batch_of[n]] - due[n], True) for n in read]
        ops += [Op(0, float("nan"), False) for n in due if n not in batch_of]
        events = [(landed_at[n], 1) for n in read] + [(commits[batch_of[n]], -1) for n in read]
        backlog = peak = 0
        for _, d in sorted(events):
            backlog += d
            peak = max(peak, backlog)
        self.info["backlog_max_files"] = peak
        self.info["generator_late_max_ms"] = 1000 * max(landed_at[k] - due[k] for k in due)
        self.info["elapsed_s"] = max(commits.values()) - t0 if commits else seconds
        # output check: the committed records are exactly the twin's
        want = twins.stream_records(self.landed, STREAM_PAGE_CHARS)
        missing, extra, dup = twins.multiset_diff(twins.read_jsonl_dir(self.dirs["out"]), want)
        if missing or extra or dup:
            log(f"stream_qa: {missing} missing, {extra} unexpected, {dup} duplicated records")
            for op in ops:
                op.ok = False
        self._trace_batches(mine)
        self.tr.end_pass()
        return ops

    def _trace_batches(self, batches: set[int]):
        if not self.tr.enabled:
            return
        progress = [p for p in self.query.recentProgress if p.batchId in batches and p.numInputRows > 0]
        d = lambda k: statistics.median(p.durationMs.get(k, 0) for p in progress) if progress else 0.0
        self.tr.count("streaming.pipelines.batches", len(progress))
        self.tr.count("streaming.pipelines.rows_per_batch",
                      statistics.median(p.numInputRows for p in progress) if progress else 0)
        self.tr.count("streaming.pipelines.add_batch_ms", d("addBatch"))
        self.tr.count("streaming.pipelines.planning_ms", d("queryPlanning"))
        self.tr.count("streaming.pipelines.wal_commit_ms", d("walCommit"))
        prompts = self.prompts.value - self.llm_base[0]
        self.tr.count("operators.llm_map.prompts", prompts)
        self.tr.count("operators.llm_map.client_busy_s", self.busy.value - self.llm_base[1])
        self.tr.count("operators.chunker.chunks", prompts)  # one prompt per chunk
        sink_counts(self.tr, self.dirs["out"])

    def close(self):
        if self.query is not None:
            self.query.stop()
            self.query = None


WORKLOADS = {w.name: w for w in (PdfQA, Dedup, RagQuery, StreamQA)}

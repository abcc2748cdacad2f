"""The benchmark's workloads: set-up, one closed-loop iteration, output
checks and the per-layer metrics of a traced iteration.

Each workload drives the program only through its public calls:
``plans.pipeline.run_extraction`` (crawl_commit) and
``operators.textops.fingerprint_exact_dedup``,
``operators.dedup.ngram_jaccard_pairs`` / ``minhash_lsh_dedup``
(dedup_dupheavy).
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
from collections import Counter
from typing import Dict, List

import pyarrow.parquet as pq

from deepseek_ocr_2_spark.functions.assemble import PAGE_SEPARATOR, process_page
from deepseek_ocr_2_spark.functions.htmlmain import extract_main_content
from deepseek_ocr_2_spark.functions.refparse import has_eos
from deepseek_ocr_2_spark.operators import dedup, textops
from deepseek_ocr_2_spark.operators.cachereg import release_caches
from deepseek_ocr_2_spark.operators.decode import PDF_MAGIC, parse_pdf_payload
from deepseek_ocr_2_spark.operators.extract import HOST_REGEX, SPAN_STRUCT, ExtractConfig
from deepseek_ocr_2_spark.plans.pipeline import run_extraction

from . import gen, kernels
from .trace import Execution, Stage

# Hosts holding more docs than this are salted per url, as a production
# job would decide from its input snapshot's statistics.
HOT_HOST_MIN_DOCS = 200
# urls per iteration byte-compared against direct kernel calls
SAMPLE_URLS = 64

_SPAN_FIELDS = SPAN_STRUCT.fieldNames()


class Call:
    """Wall-clock span of one public call."""

    def __init__(self, name: str) -> None:
        self.name = name

    def __enter__(self) -> "Call":
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()


def hot_hosts(urls: List[str]) -> tuple:
    host_re = re.compile(HOST_REGEX)
    counts = Counter(host_re.match(u).group(1).lower() for u in urls)
    return tuple(sorted(h for h, n in counts.items() if n > HOT_HOST_MIN_DOCS))


def expected_row(payload: bytes) -> tuple:
    """(extracted_text, spans, failed_pages, ok) from direct kernel calls."""
    if not payload.startswith(PDF_MAGIC):
        text, spans = extract_main_content(payload)
        for s in spans:
            s["page_index"] = 0
        return text, spans, 0, True
    pages = parse_pdf_payload(payload)
    markdowns, spans, failed = [], [], 0
    for p in pages:
        raw = p.payload["raw_output"]
        if not has_eos(raw):
            failed += 1
            continue
        md, elements = process_page(raw, p.width, p.height, p.page_index)
        markdowns.append(md)
        for e in elements:
            e["page_index"] = p.page_index
        spans.extend(elements)
    ok = bool(markdowns) or not pages
    return (PAGE_SEPARATOR.join(markdowns) if ok else None), spans, failed, ok


def _norm_spans(spans) -> List[tuple]:
    return [tuple(s.get(f) for f in _SPAN_FIELDS) for s in spans or ()]


class CrawlCommit:
    """HTML-dominant crawl mix committed through ``run_extraction`` into
    a fresh output directory per iteration."""

    name = "crawl_commit"
    # the first iteration after session start pays JIT compilation and
    # Python worker start-up (~5x a warm one); the second is ~30% slow
    warmup = 2

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.snapshots: Dict[int, str] = {}

    def setup(self) -> None:
        self.inp = gen.crawl_commit(os.path.join(self.work_dir, "pages.parquet"), self.seed)
        self.docs = len(self.inp.urls)
        self.cfg = ExtractConfig(static_hot_hosts=hot_hosts(self.inp.urls))

    def _out(self, i: int) -> str:
        return os.path.join(self.work_dir, f"out{i}")

    def iterate(self, i: int) -> List[Call]:
        with Call("run_extraction") as call:
            pages = self.spark.read.parquet(self.inp.path)
            snap = run_extraction(self.spark, pages, self._out(i), self.cfg)
        self.snapshots[i] = os.path.join(
            self._out(i), "data", f"snapshot={snap.snapshot_id}"
        )
        return [call]

    def check(self, i: int) -> int:
        """Failed documents of iteration ``i``: missing, duplicated,
        byte-mismatched on the seeded sample, or a failure (ok=false or
        dropped pages) the generator did not plant."""
        t = pq.read_table(
            self.snapshots[i], columns=["url", "ok", "failed_pages", "extracted_text", "spans"]
        )
        urls = t.column("url").to_pylist()
        ok = t.column("ok").to_pylist()
        failed_pages = t.column("failed_pages").to_pylist()
        expected = set(self.inp.urls)
        bad = set(expected - set(urls))
        failed = len(urls) - len(set(urls))
        for u, k, fp in zip(urls, ok, failed_pages):
            if u not in expected:
                bad.add(u)
            elif k != (u not in self.inp.planted_not_ok) or fp != self.inp.planted_failed_pages.get(u, 0):
                bad.add(u)
        row_of = {u: r for r, u in enumerate(urls)}
        rng = random.Random(self.seed * 1_000 + i)
        for u in rng.sample(self.inp.urls, SAMPLE_URLS):
            r = row_of.get(u)
            if r is None:
                continue
            text, spans, _, _ = expected_row(self.inp.payloads[u])
            if (
                t.column("extracted_text")[r].as_py() != text
                or _norm_spans(t.column("spans")[r].as_py()) != _norm_spans(spans)
            ):
                bad.add(u)
        shutil.rmtree(self._out(i), ignore_errors=True)
        return failed + len(bad)

    def kernel_metrics(self) -> Dict[str, float]:
        return kernels.extraction_kernels([self.inp.payloads[u] for u in self.inp.urls])

    def final_metrics(self, i: int) -> Dict[str, float]:
        return {}

    def layer_metrics(
        self, calls: List[Call], execs: List[Execution], stages: Dict[int, Stage]
    ) -> Dict[str, float]:
        (call,) = calls
        data = next(e for e in execs if e.nodes_named("MapInPandas"))
        kernel_stages = [stages[s] for s in data.stage_ids if s in stages]
        kernel = max(kernel_stages, key=lambda s: s.run_s)
        sink = "Execute InsertIntoHadoopFsRelationCommand"
        return {
            "extract.python_start_s": data.metric("MapInPandas", "time to start Python workers"),
            "extract.python_init_s": data.metric("MapInPandas", "time to initialize Python workers"),
            "extract.python_run_s": data.metric("MapInPandas", "time to run Python workers"),
            "extract.python_bytes_sent": data.metric("MapInPandas", "data sent to Python workers"),
            "extract.python_bytes_recv": data.metric("MapInPandas", "data returned from Python workers"),
            "extract.python_rows_out": data.metric("MapInPandas", "number of output rows"),
            "extract.scan_s": data.metric("Scan parquet", "scan time"),
            "extract.exchange_bytes": sum(s.shuffle_write_bytes for s in kernel_stages),
            "extract.exchange_write_s": sum(s.shuffle_write_s for s in kernel_stages),
            "extract.fetch_wait_s": sum(s.fetch_wait_s for s in kernel_stages),
            "extract.gc_s": sum(s.gc_s for s in kernel_stages),
            "extract.task_skew": kernel.task_max_s / kernel.task_p50_s if kernel.task_p50_s else 0.0,
            "pipeline.write_s": data.metric(sink, "task commit time") + data.metric(sink, "job commit time"),
            "pipeline.lineage_s": sum(e.end - e.start for e in execs if e is not data),
            "pipeline.commit_s": call.end - max(e.end for e in execs),
        }


class DedupDupheavy:
    """Exact fingerprint, n-gram Jaccard and MinHash-LSH dedup over a
    documents table with planted near-duplicate clusters."""

    name = "dedup_dupheavy"
    # three plans' worth of code to compile: iterations 1 and 2 after
    # the cold one are still ~50% and ~20% slower than steady state
    warmup = 3

    def __init__(self, spark, work_dir: str, seed: int) -> None:
        self.spark = spark
        self.sf_dir = os.path.join(work_dir, "sf")
        self.seed = seed
        self.results: Dict[int, tuple] = {}

    def setup(self) -> None:
        os.makedirs(self.sf_dir, exist_ok=True)
        self.inp = gen.dedup_dupheavy(os.path.join(self.sf_dir, "documents.parquet"), self.seed)
        self.docs = self.inp.n_docs

    def iterate(self, i: int) -> List[Call]:
        with Call("fingerprint_exact_dedup") as c1:
            exact = textops.fingerprint_exact_dedup(self.spark, self.sf_dir).collect()
        with Call("ngram_jaccard_pairs") as c2:
            ngram = dedup.ngram_jaccard_pairs(self.spark, self.sf_dir).collect()
        with Call("minhash_lsh_dedup") as c3:
            minhash = dedup.minhash_lsh_dedup(self.spark, self.sf_dir).collect()
            release_caches()
        self.results[i] = (
            [(r.keep_doc_id, r.group_size) for r in exact],
            {(r.doc_a, r.doc_b): r.jaccard for r in ngram},
            {(r.doc_a, r.doc_b): r.jaccard for r in minhash},
        )
        return [c1, c2, c3]

    def check(self, i: int) -> int:
        """Wrong results of iteration ``i``: fingerprint groups that
        differ from the planted ones, planted pairs missing from (or
        extra pairs in) the n-gram result, and pairs where MinHash and
        n-gram disagree."""
        exact, ngram, minhash = self.results[i]
        groups = {k: n for k, n in exact if n > 1}
        failed = len(set(groups.items()) ^ set(self.inp.exact_groups.items()))
        failed += abs(sum(n for _, n in exact) - self.inp.n_docs)
        failed += len(set(ngram.items()) ^ set(self.inp.near_pairs.items()))
        failed += len(set(minhash.items()) ^ set(ngram.items()))
        return failed

    def kernel_metrics(self) -> Dict[str, float]:
        texts = pq.read_table(self.inp.path, columns=["text"]).column("text").to_pylist()
        return kernels.minhash_kernel(texts)

    def layer_metrics(
        self, calls: List[Call], execs: List[Execution], stages: Dict[int, Stage]
    ) -> Dict[str, float]:
        walls = {c.name: c.end - c.start for c in calls}
        ngram = [e for e in execs if e.call == "ngram_jaccard_pairs"]
        records = "shuffle records written"
        return {
            "dedup.exact_s": walls["fingerprint_exact_dedup"],
            "dedup.ngram_s": walls["ngram_jaccard_pairs"],
            "dedup.minhash_s": walls["minhash_lsh_dedup"],
            "dedup.shingle_rows": sum(
                e.metric("Exchange", records, "hashpartitioning(shingle") for e in ngram
            ),
            "dedup.pair_rows": sum(
                e.metric("Exchange", records, "hashpartitioning(doc_a") for e in ngram
            ),
            "dedup.fanout_bytes": sum(
                e.metric("Exchange", "shuffle bytes written", "RoundRobinPartitioning")
                for e in execs
            ),
        }

    def final_metrics(self, i: int) -> Dict[str, float]:
        """LSH precision: iteration ``i``'s verified pairs over the
        ``minhash_lsh_candidates`` pairs."""
        cands = dedup.minhash_lsh_candidates(self.spark, self.sf_dir).count()
        release_caches()
        return {"dedup.lsh_precision": len(self.results[i][2]) / cands}


WORKLOADS = {w.name: w for w in (CrawlCommit, DedupDupheavy)}

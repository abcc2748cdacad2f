"""Spark-free single-core baseline: the workload's kernels in a plain
loop over the workload's own inputs, on the driver's one thread.

It gives the kernel per-layer metrics and ``kernel.single_core_docs_per_s``,
the baseline that Spark's throughput is read against (effective cores =
``docs_per_s / kernel.single_core_docs_per_s``).
"""

from __future__ import annotations

import time
from typing import Dict, List

from deepseek_ocr_2_spark.functions import textstats
from deepseek_ocr_2_spark.functions.assemble import process_page
from deepseek_ocr_2_spark.functions.htmlmain import extract_main_content
from deepseek_ocr_2_spark.functions.refparse import has_eos
from deepseek_ocr_2_spark.operators import dedup
from deepseek_ocr_2_spark.operators.decode import (
    DEFAULT_MAX_BATCH_VISUAL_TOKENS,
    PDF_MAGIC,
    PageTask,
    decode_pages,
    pack_micro_batches,
    parse_pdf_payload,
    stub_decode_batch,
)


def extraction_kernels(payloads: List[bytes]) -> Dict[str, float]:
    """HTML main-content, PDF decode (parse + packed stub decode) and
    page assembly, each timed over every payload of its kind."""
    html = [p for p in payloads if not p.startswith(PDF_MAGIC)]
    pdfs = [p for p in payloads if p.startswith(PDF_MAGIC)]

    t0 = time.perf_counter()
    for p in html:
        extract_main_content(p)
    t_html = time.perf_counter() - t0

    t0 = time.perf_counter()
    tasks: List[PageTask] = []
    for p in pdfs:
        tasks.extend(parse_pdf_payload(p))
    decoded = decode_pages(tasks, stub_decode_batch, DEFAULT_MAX_BATCH_VISUAL_TOKENS)
    t_decode = time.perf_counter() - t0

    t0 = time.perf_counter()
    for task, raw in decoded:
        if has_eos(raw):
            process_page(raw, task.width, task.height, task.page_index)
    t_assemble = time.perf_counter() - t0

    batches = sum(1 for _ in pack_micro_batches(tasks, DEFAULT_MAX_BATCH_VISUAL_TOKENS))
    tokens = sum(t.est_visual_tokens for t in tasks)
    pages = max(len(tasks), 1)
    return {
        "htmlmain.s_per_kdoc": t_html / max(len(html), 1) * 1e3,
        "decode.s_per_kpage": t_decode / pages * 1e3,
        "assemble.s_per_kpage": t_assemble / pages * 1e3,
        "decode.batch_fill": tokens / max(batches * DEFAULT_MAX_BATCH_VISUAL_TOKENS, 1),
        "kernel.single_core_docs_per_s": len(payloads) / (t_html + t_decode + t_assemble),
    }


def minhash_kernel(texts: List[str]) -> Dict[str, float]:
    """The MinHash band kernel of ``minhash_lsh_dedup``, per document."""
    t0 = time.perf_counter()
    for text in texts:
        toks = textstats.tokenize(text)
        if len(toks) >= dedup.SHINGLE_K:
            sig = textstats.minhash_signature(toks, num_perm=dedup.NUM_PERM, k=dedup.SHINGLE_K)
            textstats.minhash_bands(sig, bands=dedup.BANDS)
    dt = time.perf_counter() - t0
    return {
        "textstats.minhash_s_per_kdoc": dt / len(texts) * 1e3,
        "kernel.single_core_docs_per_s": len(texts) / dt,
    }

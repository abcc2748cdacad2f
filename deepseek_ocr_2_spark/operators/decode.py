"""Pluggable batched decode boundary for PDF/image payloads.

The reference runs pages through a vLLM ``AsyncLLMEngine``
(``deepseek_ocr2_api/engine/inference.py:351-419``) with continuous
batching (``max_num_seqs=100``).  In the Spark rebuild the decode step
is a *function* called from inside ``mapInPandas`` on micro-batches of
pages, so the engine choice is a config knob:

* ``stub_decode_batch`` — deterministic, dependency-free: payloads are
  ``%PDF-STUB1`` + JSON pages carrying ``raw_output`` fixture strings
  (see ``sources/corpus.py``).  This is the CI path; it replays the
  "reference server response" exactly, which is what makes byte-identity
  testable without a GPU.
* ``vllm_decode_batch`` — the real path, code-complete but exercised
  only where torch/vLLM and a GPU exist (none in this sandbox).  Mirrors
  the reference engine config: bf16, ``max_model_len=8192``, greedy
  ``temperature=0.0``, the windowed no-repeat-n-gram processor with
  whitelist {128821, 128822} (``deepseek_ocr2_api/config.py:144-164,
  291-301``).

Micro-batch packing uses the visual-token cost model
(``functions/tiling.py``): pages are packed greedily until the batch's
estimated visual tokens reach ``DEFAULT_MAX_BATCH_VISUAL_TOKENS``, the
Spark analog of vLLM's ``max_num_seqs`` budget — it keeps per-call
latency and executor memory bounded regardless of page-size mix.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable, Dict, Iterator, List, Sequence, Tuple

from ..functions.tiling import num_image_tokens

PDF_MAGIC = b"%PDF-STUB1\n"

# 100 sequences x up-to-1120 visual tokens each is the reference engine
# ceiling; default micro-batch budget mirrors it.
DEFAULT_MAX_BATCH_VISUAL_TOKENS = 100 * 1120


@dataclass(frozen=True)
class PageTask:
    """One page to decode: page index + geometry + payload slice (no doc
    key: ``decode_pages`` keeps task order, callers match by position)."""

    page_index: int
    width: int
    height: int
    payload: Dict  # stub: {'raw_output': str}; real: {'pixels': bytes}

    @property
    def est_visual_tokens(self) -> int:
        return num_image_tokens(self.width, self.height)


DecodeBatchFn = Callable[[Sequence[PageTask]], List[str]]


def parse_pdf_payload(blob: bytes) -> List[PageTask]:
    """``%PDF-STUB1`` payload -> page tasks, in page order.

    Raises ``ValueError`` on a malformed body (not UTF-8 JSON, not an
    object) or page (non-string raw_output), and ``KeyError``/
    ``TypeError``/``OverflowError`` on missing or non-numeric dims; the
    kernel turns each into a failure row, never a task kill.
    """
    if not blob.startswith(PDF_MAGIC):
        raise ValueError("not a stub PDF payload")
    try:
        doc = json.loads(blob[len(PDF_MAGIC):].decode("utf-8"))
    except UnicodeDecodeError as exc:
        raise ValueError(f"undecodable payload body: {exc}") from exc
    if not isinstance(doc, dict):
        raise ValueError(f"payload body is {type(doc).__name__}, not an object")
    tasks = []
    for i, p in enumerate(doc.get("pages", [])):
        raw = p["raw_output"]
        if not isinstance(raw, str):
            raise ValueError(f"page {i}: raw_output is {type(raw).__name__}")
        tasks.append(
            PageTask(
                page_index=i,
                width=int(p["width"]),
                height=int(p["height"]),
                payload={"raw_output": raw},
            )
        )
    return tasks


def pack_micro_batches(
    tasks: Sequence[PageTask],
    max_batch_visual_tokens: int = DEFAULT_MAX_BATCH_VISUAL_TOKENS,
) -> Iterator[List[PageTask]]:
    """Greedy cost-bounded packing; never splits below one page."""
    batch: List[PageTask] = []
    budget = 0
    for t in tasks:
        cost = t.est_visual_tokens
        if batch and budget + cost > max_batch_visual_tokens:
            yield batch
            batch, budget = [], 0
        batch.append(t)
        budget += cost
    if batch:
        yield batch


def stub_decode_batch(tasks: Sequence[PageTask]) -> List[str]:
    """Deterministic decode: return the fixture raw_output per page."""
    return [t.payload["raw_output"] for t in tasks]


# Reference decode configuration (values verified against
# deepseek_ocr2_api/config.py and DeepSeek-OCR2-vllm/config.py —
# config constants, no code):
VLLM_MODEL_PATH_ENV = "DEEPSEEK_OCR2_MODEL_PATH"
VLLM_DEFAULT_MODEL = "deepseek-ai/DeepSeek-OCR-2"
VLLM_PROMPT = "<image>\n<|grounding|>Convert the document to markdown."
VLLM_MAX_MODEL_LEN = 8192       # config.py:74-78
VLLM_MAX_TOKENS = 8192
VLLM_TEMPERATURE = 0.0          # config.py:144-149 (deterministic)
VLLM_BLOCK_SIZE = 256           # engine/manager.py:144-153
VLLM_GPU_MEM_UTIL = 0.9
VLLM_MAX_NUM_SEQS = 100         # continuous-batching ceiling
NGRAM_SIZE = 20                 # config.py:155-164
NGRAM_WINDOW_PDF = 50           # routers/ocr.py:311 (PDF path)
NGRAM_WHITELIST = (128821, 128822)  # <td>/</td>, config.py:291-301
EOS_STRING = "<｜end▁of▁sentence｜>"

_VLLM_ENGINE = None


def _get_vllm_engine():  # pragma: no cover - requires GPU + weights
    """Per-executor singleton (reference C4 analog: one engine per
    python worker, lazily created on the first micro-batch — the
    standard Spark GPU-inference pattern)."""
    global _VLLM_ENGINE
    if _VLLM_ENGINE is None:
        import os

        from vllm import LLM  # type: ignore

        _VLLM_ENGINE = LLM(
            model=os.environ.get(VLLM_MODEL_PATH_ENV, VLLM_DEFAULT_MODEL),
            trust_remote_code=True,
            max_model_len=VLLM_MAX_MODEL_LEN,
            max_num_seqs=VLLM_MAX_NUM_SEQS,
            block_size=VLLM_BLOCK_SIZE,
            gpu_memory_utilization=VLLM_GPU_MEM_UTIL,
            enforce_eager=False,
            dtype="bfloat16",
            disable_mm_preprocessor_cache=True,  # config.py:97-100
        )
    return _VLLM_ENGINE


def vllm_decode_batch(tasks: Sequence[PageTask]) -> List[str]:
    """Real GPU decode path (import-guarded; exercised only where
    torch/vLLM and DeepSeek-OCR-2 weights exist — not in this CI).

    Engine parameters mirror ``deepseek_ocr2_api/engine/manager.py:
    144-155``; sampling mirrors ``engine/inference.py:212-263``
    (greedy, max_tokens=8192, windowed NoRepeatNGram with the td/td
    whitelist, stop string kept in the output so the EOS filter and
    postprocess see it — ``include_stop_str_in_output=True``).

    Each task's ``payload['image_bytes']`` carries the rasterized page
    (PNG/JPEG); decode + the reference's preprocessing (EXIF transpose,
    resize guard, tiling) run in the model's own processor via
    ``trust_remote_code``.
    """
    try:  # pragma: no cover - requires GPU + weights
        import io

        from PIL import Image, ImageOps  # type: ignore
        from vllm import SamplingParams  # type: ignore
    except ImportError as exc:
        raise NotImplementedError(
            "vllm/torch/PIL not available in this environment; "
            "use stub_decode_batch (the CI path)"
        ) from exc

    engine = _get_vllm_engine()  # pragma: no cover

    def _ban_repeats(token_ids, logits):  # pragma: no cover
        # vLLM logits-processor signature; same math as the pure kernel
        from ..functions.ngram import banned_next_tokens

        banned = banned_next_tokens(
            token_ids,
            ngram_size=NGRAM_SIZE,
            window_size=NGRAM_WINDOW_PDF,
            whitelist_token_ids=frozenset(NGRAM_WHITELIST),
        )
        for tok in banned:
            logits[tok] = float("-inf")
        return logits

    sampling = SamplingParams(  # pragma: no cover
        temperature=VLLM_TEMPERATURE,
        max_tokens=VLLM_MAX_TOKENS,
        stop=[EOS_STRING],
        include_stop_str_in_output=True,
        logits_processors=[_ban_repeats],
    )
    inputs = []  # pragma: no cover
    for t in tasks:  # pragma: no cover
        img = Image.open(io.BytesIO(t.payload["image_bytes"]))
        img = ImageOps.exif_transpose(img).convert("RGB")
        inputs.append(
            {"prompt": VLLM_PROMPT, "multi_modal_data": {"image": img}}
        )
    outputs = engine.generate(inputs, sampling)  # pragma: no cover
    return [o.outputs[0].text for o in outputs]  # pragma: no cover


def decode_pages(
    tasks: Sequence[PageTask],
    decode_batch: DecodeBatchFn = stub_decode_batch,
    max_batch_visual_tokens: int = DEFAULT_MAX_BATCH_VISUAL_TOKENS,
) -> List[Tuple[PageTask, str]]:
    """Run decode over cost-packed micro-batches, preserving task order."""
    out: List[Tuple[PageTask, str]] = []
    for batch in pack_micro_batches(tasks, max_batch_visual_tokens):
        raws = decode_batch(batch)
        if len(raws) != len(batch):
            raise RuntimeError(
                f"decode_batch returned {len(raws)} outputs for "
                f"{len(batch)} pages"
            )
        out.extend(zip(batch, raws))
    return out

"""Execution evidence for the vLLM decode path (M5) WITHOUT a GPU.

``vllm_decode_batch`` was code-complete but had zero execution evidence
in this sandbox (VERDICT r02 "What's missing" #3 / next-steps #8).  A
mock vllm/PIL injected into ``sys.modules`` lets the REAL function body
run end to end, pinning the wiring a GPU owner would otherwise discover
broken at boot: engine construction args (must mirror the reference's
``engine/manager.py:144-155``), sampling params (greedy, EOS kept in
output — ``engine/inference.py:212-263``), the logits-processor hook
(token-id order, whitelist pass-through), EXIF transpose before decode,
and input/output plumbing.  ``GPU_VALIDATION.md`` remains the on-GPU
checklist; this is the everything-but-the-model test.
"""

from __future__ import annotations

import sys
import types

import pytest


@pytest.fixture()
def fake_vllm(monkeypatch):
    """Install stub vllm + PIL modules and reset the engine singleton."""
    from deepseek_ocr_2_spark.operators import decode

    calls = {"llm_kwargs": None, "generate": None, "sampling": None}

    class FakeLLM:
        def __init__(self, **kwargs):
            calls["llm_kwargs"] = kwargs

        def generate(self, inputs, sampling):
            calls["generate"] = inputs
            calls["sampling"] = sampling
            out = []
            for i, _ in enumerate(inputs):
                o = types.SimpleNamespace(
                    outputs=[
                        types.SimpleNamespace(
                            text=f"page-{i}" + decode.EOS_STRING
                        )
                    ]
                )
                out.append(o)
            return out

    class FakeSamplingParams:
        def __init__(self, **kwargs):
            self.kwargs = kwargs

    vllm_mod = types.ModuleType("vllm")
    vllm_mod.LLM = FakeLLM
    vllm_mod.SamplingParams = FakeSamplingParams

    class FakeImage:
        def __init__(self):
            self.transposed = False
            self.mode = "P"

        def convert(self, mode):
            self.mode = mode
            return self

    image_ns = types.SimpleNamespace(open=lambda buf: FakeImage())
    imageops_ns = types.SimpleNamespace(
        exif_transpose=lambda img: (setattr(img, "transposed", True), img)[1]
    )
    pil_mod = types.ModuleType("PIL")
    pil_mod.Image = image_ns
    pil_mod.ImageOps = imageops_ns

    monkeypatch.setitem(sys.modules, "vllm", vllm_mod)
    monkeypatch.setitem(sys.modules, "PIL", pil_mod)
    monkeypatch.setitem(sys.modules, "PIL.Image", image_ns)
    monkeypatch.setitem(sys.modules, "PIL.ImageOps", imageops_ns)
    monkeypatch.setattr(decode, "_VLLM_ENGINE", None)
    yield calls
    # singleton reset so later tests never see the fake engine
    decode._VLLM_ENGINE = None


def _tasks(n=3):
    from deepseek_ocr_2_spark.operators.decode import PageTask

    return [
        PageTask(
            page_index=i, width=800, height=1100,
            payload={"image_bytes": b"\x89PNG-fake"},
        )
        for i in range(n)
    ]


def test_engine_args_mirror_reference_config(fake_vllm):
    from deepseek_ocr_2_spark.operators import decode

    decode.vllm_decode_batch(_tasks(1))
    kw = fake_vllm["llm_kwargs"]
    assert kw["trust_remote_code"] is True
    assert kw["max_model_len"] == 8192           # config.py:74-78
    assert kw["max_num_seqs"] == 100             # vllm config.py:7-8
    assert kw["block_size"] == 256               # manager.py:144-153
    assert kw["gpu_memory_utilization"] == 0.9   # manager.py:144-155
    assert kw["dtype"] == "bfloat16"
    assert kw["disable_mm_preprocessor_cache"] is True  # config.py:97-100


def test_sampling_greedy_and_eos_survives(fake_vllm):
    from deepseek_ocr_2_spark.operators import decode

    outs = decode.vllm_decode_batch(_tasks(2))
    sp = fake_vllm["sampling"].kwargs
    assert sp["temperature"] == 0.0 and sp["max_tokens"] == 8192
    assert sp["stop"] == [decode.EOS_STRING]
    # EOS retention is load-bearing: clean_output strips it downstream
    assert sp["include_stop_str_in_output"] is True
    assert all(o.endswith(decode.EOS_STRING) for o in outs)
    # order-preserving, one output per task
    assert outs == [f"page-{i}" + decode.EOS_STRING for i in range(2)]


def test_inputs_carry_prompt_and_exif_transposed_rgb(fake_vllm):
    from deepseek_ocr_2_spark.operators import decode

    decode.vllm_decode_batch(_tasks(2))
    inputs = fake_vllm["generate"]
    assert len(inputs) == 2
    for item in inputs:
        assert item["prompt"] == decode.VLLM_PROMPT
        img = item["multi_modal_data"]["image"]
        assert img.transposed and img.mode == "RGB"


def test_logits_processor_bans_repeats_and_spares_whitelist(fake_vllm):
    """The vLLM logits-processor hook must apply the SAME math as the
    pure kernel: a 20-gram repeated inside the 50-token window bans its
    continuation token, whitelist tokens (td tags) never get banned."""
    from deepseek_ocr_2_spark.operators import decode

    decode.vllm_decode_batch(_tasks(1))
    (proc,) = fake_vllm["sampling"].kwargs["logits_processors"]

    n = decode.NGRAM_SIZE
    gram = list(range(1000, 1000 + n))
    history = gram + [7] + gram[:-1]  # next token would repeat the gram
    logits = {t: 0.0 for t in range(2000)}
    logits[decode.NGRAM_WHITELIST[0]] = 0.0
    out = proc(history, logits)
    assert out[gram[-1]] == float("-inf")  # continuation banned
    assert out[decode.NGRAM_WHITELIST[0]] == 0.0  # whitelist spared

    # and the singleton holds: second call reuses the same engine
    before = decode._VLLM_ENGINE
    decode.vllm_decode_batch(_tasks(1))
    assert decode._VLLM_ENGINE is before


def test_missing_vllm_raises_not_implemented(monkeypatch):
    """Without the GPU stack the path must fail with the documented
    NotImplementedError, never an opaque ImportError mid-job."""
    import builtins

    from deepseek_ocr_2_spark.operators import decode

    real_import = builtins.__import__

    def no_vllm(name, *a, **k):
        if name in ("vllm", "PIL"):
            raise ImportError(name)
        return real_import(name, *a, **k)

    monkeypatch.setattr(builtins, "__import__", no_vllm)
    monkeypatch.setattr(decode, "_VLLM_ENGINE", None)
    with pytest.raises(NotImplementedError, match="stub_decode_batch"):
        decode.vllm_decode_batch(_tasks(1))

"""deepseek_ocr_2_spark — a PySpark-native web-scale extraction engine.

Brand-new implementation (not a port) with the data-processing
capabilities of the DeepSeek-OCR-2 reference server studied read-only at
/root/reference.  The engine reads Common-Crawl-style page tables
``(url, warc_ts, html binary, text, lang)`` and produces
``(url, extracted_text, spans, lang)`` via a single Arrow-vectorized
``mapInPandas`` stage:

* HTML payloads  -> DOM block-tree text-density/link-density main-content
  extraction (``functions.htmlmain``; new code, Readability/trafilatura
  style public heuristics).
* PDF/image payloads -> DeepSeek-OCR-2-style deterministic layout
  postprocessing (``functions.refparse`` / ``functions.assemble``) over a
  pluggable batched ``decode_batch`` (deterministic stub in CI, vLLM on
  GPU clusters — see ``operators.decode``).

Layout:

* ``functions/``  — pure-Python deterministic kernels (no Spark imports):
  byte-identity critical.
* ``operators/``  — DataFrame-level operators: extraction pipeline,
  dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding),
  similarity search, text analysis, multimodal plumbing.
* ``sources/``    — synthetic corpus generator, testdata loaders,
  snapshot/lineage sink with checkpoint-resume.
* ``plans/``      — the committed extraction run (``pipeline.run_extraction``).
* ``streaming/``  — Structured Streaming ingestion variant.
"""

__version__ = "0.1.0"

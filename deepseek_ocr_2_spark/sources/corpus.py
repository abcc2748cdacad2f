"""Deterministic Common-Crawl-style corpus builder.

The north-rule input table is ``(url string, warc_ts timestamp,
html binary, text string, lang string)`` (``BASELINE.json`` input_hint).
No such table ships with the sandbox, so this module synthesizes one —
deterministically, row-by-row from the driver's ``documents`` parquet
(``/root/testdata/sf*/documents.parquet``), entirely inside Spark
(vectorized ``mapInPandas``; no driver-side loops, no RNG: every value
is a pure function of ``doc_id`` and the document text), so the same
generator runs unchanged at any scale factor or cluster size.

Payload mix (all derived from ``doc_id``):

* ~3/4 of rows carry an HTML payload: the document text wrapped in a
  boilerplate-rich page template (nav / sidebar / ads / footer / inline
  links) so the main-content extractor has real work to do.
* ~1/4 carry a PDF-style payload: a ``%PDF-STUB1`` header followed by a
  JSON body of per-page ``(width, height, raw_output)`` where
  ``raw_output`` is a synthetic DeepSeek-OCR-2 model output string
  (ref/det grounding tags, image refs, EOS marker) built from the
  document text.  The deterministic decode stub
  (``operators/decode.py``) "decodes" these payloads; a real vLLM
  decode path sees actual page bytes in the same position.
* a small slice of PDF pages deliberately *lack* the EOS marker, so the
  incomplete-page filter (reference F2 / skip_repeat) and the failure
  counters are exercised end to end.

Skew realism (SURVEY §7): a deterministic subset of rows lands on one
giant host (``big.example-news.com``) so host-level partitioning is
skewed and the salt path in ``operators/extract.py`` actually fires.
"""

from __future__ import annotations

import json
from typing import Iterator, List, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.refparse import EOS_TOKEN
from ..operators.decode import PDF_MAGIC

# doc_id % PDF_MOD < PDF_HITS -> PDF payload; else HTML.
PDF_MOD = 4
PDF_HITS = 1

# doc_id % EOS_FAIL_MOD == 0 (among PDF docs) -> last page lacks EOS.
EOS_FAIL_MOD = 10

# doc_id % HOT_MOD < HOT_HITS -> giant host (skew).
HOT_MOD = 10
HOT_HITS = 3
HOT_HOST = "big.example-news.com"
N_SMALL_HOSTS = 97

CORPUS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), False),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("doc_id", LongType(), False),
    ]
)

_WARC_EPOCH_S = 1_700_000_000  # fixed; warc_ts = epoch + doc_id seconds


def host_for(doc_id: int) -> str:
    if doc_id % HOT_MOD < HOT_HITS:
        return HOT_HOST
    return f"site{doc_id % N_SMALL_HOSTS}.example.org"


def url_for(doc_id: int) -> str:
    return f"https://{host_for(doc_id)}/articles/{doc_id}.html"


def is_pdf_doc(doc_id: int) -> bool:
    return doc_id % PDF_MOD < PDF_HITS


# the generator's word splitter is pinned to EXACTLY RE2's \s class
# ([\t\n\f\r ], ASCII) rather than str.split()'s Unicode whitespace:
# the DuckDB oracles replay the paragraph fold with regexp_split_to_
# array(text, '\s+') (RE2), and a U+00A0-style space would otherwise
# split in one engine and not the other, silently shifting paragraph
# counts.  Testdata contains no such characters today (scanned), so
# this pin changes no bytes — it removes the latent divergence.
_WORD_SPLIT_RE = None


def _split_words(text: str) -> List[str]:
    global _WORD_SPLIT_RE
    if _WORD_SPLIT_RE is None:
        import re

        _WORD_SPLIT_RE = re.compile(r"[\t\n\f\r ]+")
    return [w for w in _WORD_SPLIT_RE.split(text) if w]


def _paragraphs(text: str, target_len: int = 400) -> List[str]:
    """Deterministic paragraph split: fixed-size word runs."""
    words = _split_words(text)
    if not words:
        return [""]
    paras: List[str] = []
    cur: List[str] = []
    n = 0
    for w in words:
        cur.append(w)
        n += len(w) + 1
        if n >= target_len:
            paras.append(" ".join(cur))
            cur, n = [], 0
    if cur:
        paras.append(" ".join(cur))
    return paras


def render_html(doc_id: int, text: str, lang: str) -> bytes:
    """Boilerplate-rich page with the document text as main content.

    Every structural choice is a pure function of ``doc_id`` so the
    expected extraction output is reproducible from the row alone.
    """
    paras = _paragraphs(text)
    body_parts: List[str] = []
    for i, p in enumerate(paras):
        if i == 1 and len(paras) > 2 and doc_id % 3 == 0:
            # Inline link inside real content: must survive extraction
            # (link density stays low for a long paragraph).
            words = p.split()
            mid = len(words) // 2
            p = (
                " ".join(words[:mid])
                + f' <a href="/ref/{doc_id}">source {doc_id}</a> '
                + " ".join(words[mid:])
            )
        body_parts.append(f"<p>{p}</p>")
    article = "\n".join(body_parts)
    nav_items = "".join(
        f'<li><a href="/cat/{k}">Category {k}</a></li>' for k in range(6)
    )
    related = "".join(
        f'<li><a href="/a/{doc_id + k}">Related story {doc_id + k}</a></li>'
        for k in range(1, 5)
    )
    page = f"""<!DOCTYPE html>
<html lang="{lang}"><head><title>Article {doc_id}</title>
<script>var trk={doc_id};track(trk);</script>
<style>.main {{ color: #222 }}</style></head>
<body>
<nav class="top-nav"><ul>{nav_items}</ul></nav>
<div class="ads banner">Buy now! Limited offer {doc_id % 50}% off!</div>
<article class="main">
<h1>Article {doc_id}</h1>
{article}
</article>
<aside class="sidebar related"><ul>{related}</ul></aside>
<footer class="footer">© example.org · <a href="/tos">Terms</a> ·
<a href="/privacy">Privacy</a></footer>
</body></html>"""
    return page.encode("utf-8")


PAGE_DIMS: List[Tuple[int, int]] = [
    (640, 760),    # no-crop regime
    (1275, 1650),  # US-letter-ish @150dpi
    (1240, 1754),  # A4 @150dpi
    (2480, 1748),  # landscape A5 scan, wide
    (900, 2400),   # long receipt-style page
]


def page_dims(doc_id: int, page_index: int) -> Tuple[int, int]:
    """Deterministic page size; mixes the <=768 no-crop and tiled regimes."""
    return PAGE_DIMS[(doc_id * 7 + page_index * 13) % 5]


def render_raw_output(
    doc_id: int, page_index: int, page_paras: List[str], with_eos: bool
) -> str:
    """Synthetic DeepSeek-OCR-2 model output for one page.

    Shape mirrors real outputs: a title ref, grounded text refs with
    trailing content, an image ref with no content, the EOS marker.
    """
    parts: List[str] = [
        f"<|ref|>title<|/ref|><|det|>[[120, 30, 880, 80]]<|/det|>"
        f"# Document {doc_id} · page {page_index}\n\n"
    ]
    y = 100
    for i, p in enumerate(page_paras):
        y2 = min(990, y + 150)
        parts.append(
            f"<|ref|>text<|/ref|><|det|>[[100, {y}, 900, {y2}]]<|/det|>{p}\n\n"
        )
        y = y2 + 20
        if i == 0 and doc_id % 5 == 0:
            y2 = min(990, y + 120)
            parts.append(
                f"<|ref|>image<|/ref|><|det|>[[150, {y}, 850, {y2}]]<|/det|>"
            )
            y = y2 + 20
    raw = "".join(parts)
    if with_eos:
        raw += EOS_TOKEN
    return raw


def render_pdf_payload(doc_id: int, text: str) -> bytes:
    """PDF-style payload: magic header + JSON pages for the decode stub."""
    paras = _paragraphs(text)
    per_page = 3
    page_chunks = [paras[i : i + per_page] for i in range(0, len(paras), per_page)]
    if not page_chunks:
        page_chunks = [[""]]
    pages = []
    for pidx, chunk in enumerate(page_chunks):
        w, h = page_dims(doc_id, pidx)
        last = pidx == len(page_chunks) - 1
        with_eos = not (last and doc_id % EOS_FAIL_MOD == 0)
        pages.append(
            {
                "width": w,
                "height": h,
                "raw_output": render_raw_output(doc_id, pidx, chunk, with_eos),
            }
        )
    return PDF_MAGIC + json.dumps({"doc_id": doc_id, "pages": pages}).encode("utf-8")


def _build_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {
            "url": [],
            "warc_ts": [],
            "html": [],
            "text": [],
            "lang": [],
            "doc_id": [],
        }
        for doc_id, text, lang in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
            doc_id = int(doc_id)
            text = text or ""
            if is_pdf_doc(doc_id):
                payload = render_pdf_payload(doc_id, text)
            else:
                payload = render_html(doc_id, text, lang)
            out["url"].append(url_for(doc_id))
            out["warc_ts"].append(
                pd.Timestamp(_WARC_EPOCH_S + doc_id, unit="s")
            )
            out["html"].append(payload)
            out["text"].append(text)
            out["lang"].append(lang)
            out["doc_id"].append(doc_id)
        yield pd.DataFrame(out)


def build_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> Common-Crawl-style pages table.

    Column pruning note: only ``doc_id, text, lang`` are read from the
    parquet; the generator is a single narrow ``mapInPandas`` stage, so
    corpus construction scales linearly with input splits.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    # under-split small inputs fan out so the generator kernel gets all
    # cores (round 7, guide §2.5; no-op at scale — see
    # sources.stats.adaptive_scan_partitions)
    from .stats import adaptive_scan_partitions

    par = adaptive_scan_partitions(spark, sf_dir, "documents")
    if par:
        docs = docs.repartition(par)
    return docs.mapInPandas(_build_rows, schema=CORPUS_SCHEMA)


# The greedy-paragraph-fold CTE chain (see extraction_metrics_oracle's
# docstring for the recursion argument) — shared by every oracle that
# needs per-doc paragraph counts.
_PARAS_CTES = """    WITH RECURSIVE
    d AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    pre AS (
      SELECT doc_id, i,
             SUM(len(toks[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i) AS s,
             COALESCE(SUM(len(toks[i]) + 1) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_s
      FROM d, UNNEST(generate_series(1, len(toks))) AS g(i)
    ),
    breaks AS (
      SELECT doc_id, CAST(0 AS HUGEINT) AS brk_s, 0 AS n_flush,
             CAST(0 AS BIGINT) AS brk_i
      FROM d
      UNION ALL
      SELECT p.doc_id, p.s, b.n_flush + 1, p.i
      FROM breaks b JOIN pre p
        ON p.doc_id = b.doc_id
       AND p.s >= b.brk_s + 400 AND p.prev_s < b.brk_s + 400
    ),
    flush AS (
      SELECT doc_id, MAX(n_flush) AS n_flush, MAX(brk_s) AS last_brk
      FROM breaks GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, MAX(s) AS total_s FROM pre GROUP BY doc_id),
    paras AS (
      SELECT f.doc_id,
             CASE WHEN t.total_s IS NULL THEN 1
                  ELSE f.n_flush +
                       CASE WHEN t.total_s > f.last_brk THEN 1 ELSE 0 END
             END AS n_paras
      FROM flush f LEFT JOIN tot t USING (doc_id)
    )"""


def extraction_metrics_oracle() -> str:
    """DuckDB twin of ``_extraction_metrics`` (VERDICT r03 #5): every
    column of the metrics rollup is pure arithmetic over this module's
    OWN generator rules, so SQL can recompute it from ``documents``
    without running the extraction kernel:

    * payload routing: ``is_pdf_doc`` (``doc_id % PDF_MOD < PDF_HITS``);
    * pdf page count: ``ceil(n_paras / 3)`` pages of 3 paragraphs
      (``render_pdf_payload``), where ``n_paras`` replays
      ``_paragraphs``' greedy 400-char word fold — a sequential flush
      rule, computed here with a recursive CTE over per-word prefix
      sums that finds one paragraph BREAK per iteration (the unique row
      crossing ``last_break + 400``, located via ``s >= thr AND
      prev_s < thr`` on the monotone prefix sum — no aggregate needed
      in the recursive term), so recursion depth is max paragraphs per
      doc, not max words;
    * failures: the last page of every ``doc_id % EOS_FAIL_MOD == 0``
      pdf doc lacks EOS and is dropped by the incomplete-page filter
      (reference F2), so ``ok`` is false exactly when that doc has a
      single page;
    * visual tokens: ``num_image_tokens(page_dims(doc_id, pidx))`` —
      the per-page constants are computed HERE from the same tiling
      functions the kernel uses (257 untiled / 256+1+144k tiled), keyed
      by ``(doc_id*7 + pidx*13) % 5``.

    The byte-exact extraction text itself stays legitimately non-SQL
    (covered by the reference-differential parity suite); this oracle
    flips the metrics rollup from rows-only to hash-verified.
    """
    from ..functions.tiling import num_image_tokens

    tok_case = " ".join(
        f"WHEN {k} THEN {num_image_tokens(w, h)}"
        for k, (w, h) in enumerate(PAGE_DIMS)
    )
    return f"""
{_PARAS_CTES},
    pdf AS (
      SELECT doc_id,
             CAST(CEIL(n_paras / 3.0) AS BIGINT) AS n_pages,
             CASE WHEN doc_id % {EOS_FAIL_MOD} = 0 THEN 1 ELSE 0 END AS failed
      FROM paras WHERE doc_id % {PDF_MOD} < {PDF_HITS}
    ),
    pdf_tok AS (
      SELECT doc_id,
             SUM(CASE (doc_id * 7 + (i - 1) * 13) % 5 {tok_case} END) AS est
      FROM pdf, UNNEST(generate_series(1, n_pages)) AS g(i)
      GROUP BY doc_id
    ),
    per_doc AS (
      SELECT doc_id, 'html' AS payload_type, TRUE AS ok,
             1 AS n_pages, 0 AS failed, 0 AS est
      FROM documents WHERE doc_id % {PDF_MOD} >= {PDF_HITS}
      UNION ALL
      SELECT p.doc_id, 'pdf',
             NOT (p.n_pages = 1 AND p.failed = 1) AS ok,
             p.n_pages, p.failed, t.est
      FROM pdf p JOIN pdf_tok t USING (doc_id)
    )
    SELECT payload_type, ok,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_pages) AS BIGINT) AS n_pages,
           CAST(SUM(failed) AS BIGINT) AS n_failed_pages,
           CAST(SUM(est) AS BIGINT) AS est_visual_tokens
    FROM per_doc
    GROUP BY payload_type, ok
    ORDER BY payload_type, ok
    """


def page_metadata_oracle() -> str:
    """DuckDB twin of the registered ``multimodal_page_metadata``
    projection: every *geometry / cost-model* column of the probe is
    pure arithmetic over this generator — page count from the
    paragraph fold, per-page (width, height, tiles, tokens, resize
    plan) from the ``page_dims`` table keyed by
    ``(doc_id*7 + pidx*13) % 5``, and the url from ``host_for``.

    ``payload_bytes`` is deliberately NOT part of the registered
    projection: reproducing it in SQL means replaying the exact
    ``json.dumps`` escape arithmetic (``ensure_ascii`` \\uXXXX
    expansions over arbitrary unicode text, y-coordinate digit counts)
    — high fragility for a column that pytest already covers
    byte-exactly (``tests/test_multimodal.py``); the probe's substance
    (what the cost model and tiler consume) is hash-verified.
    """
    from ..functions.tiling import num_image_tokens, resize_dims, crop_ratio_for

    rows = []
    for k, (w, h) in enumerate(PAGE_DIMS):
        wt, ht = crop_ratio_for(w, h)
        rw, rh = resize_dims(w, h)
        capped = "yes" if (rw, rh) != (w, h) else "no"
        rows.append(
            f"WHEN {k} THEN "
            f"{{'w': {w}, 'h': {h}, 'wt': {wt}, 'ht': {ht}, "
            f"'tok': {num_image_tokens(w, h)}, 'rw': {rw}, 'rh': {rh}, "
            f"'capped': '{capped}'}}"
        )
    dim_case = " ".join(rows)
    return f"""{_PARAS_CTES},
    pdf AS (
      SELECT doc_id, CAST(CEIL(n_paras / 3.0) AS BIGINT) AS n_pages
      FROM paras WHERE doc_id % {PDF_MOD} < {PDF_HITS}
    ),
    pages AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS page_index,
             CASE (doc_id * 7 + (i - 1) * 13) % 5 {dim_case} END AS g
      FROM pdf, UNNEST(generate_series(1, n_pages)) AS u(i)
    )
    SELECT 'https://' ||
           CASE WHEN doc_id % {HOT_MOD} < {HOT_HITS} THEN '{HOT_HOST}'
                ELSE 'site' || (doc_id % {N_SMALL_HOSTS}) || '.example.org'
           END || '/articles/' || doc_id || '.html' AS url,
           page_index,
           CAST(g.w AS INTEGER) AS width,
           CAST(g.h AS INTEGER) AS height,
           CAST(g.wt AS INTEGER) AS wtiles,
           CAST(g.ht AS INTEGER) AS htiles,
           CAST(g.tok AS INTEGER) AS est_visual_tokens,
           CAST(g.rw AS INTEGER) AS resized_w,
           CAST(g.rh AS INTEGER) AS resized_h,
           g.capped AS was_capped
    FROM pages
    ORDER BY url, page_index
    """


def raw_output_oracle() -> str:
    """DuckDB twin of the registered ``extraction_raw_output`` query:
    rebuilds the raw model-output strings from ``documents`` exactly.

    Unlike ``payload_bytes`` (JSON escape arithmetic — see
    ``page_metadata_oracle``), ``raw_output`` is plain string
    concatenation: ``render_raw_output`` is title line + per-paragraph
    grounded refs + optional image ref + EOS, and with <= 3 paragraphs
    per page the y-coordinates never hit the 990 cap, so every det tag
    is a CONSTANT of (paragraph slot, image flag).  Paragraph TEXT is
    recovered from the break word-indices the fold CTE carries
    (``brk_i``): paragraph j spans words (brk_{j-1}+1 .. brk_j], the
    trailing partial runs to the last word — both sides join with a
    single space, and the word splitter is RE2-parity-pinned.  The
    pages then join with the extraction config's page separator,
    including EOS-filtered pages (reference S8/F4 semantics: raw keeps
    what the incomplete-page filter drops).
    """
    from ..operators.extract import PAGE_SEPARATOR
    from ..functions.refparse import EOS_TOKEN as _EOS

    title = (
        "'<|ref|>title<|/ref|><|det|>[[120, 30, 880, 80]]<|/det|>"
        "# Document ' || doc_id || ' · page ' || p0 || chr(10) || chr(10)"
    )
    # det-tag constants per (slot s in 1..3, image flag): y advances
    # 100 -> (+170 per text ref, +140 for the image ref after slot 1)
    def text_ref(y, y2):
        return (
            f"'<|ref|>text<|/ref|><|det|>[[100, {y}, 900, {y2}]]<|/det|>'"
        )

    img_ref = "'<|ref|>image<|/ref|><|det|>[[150, 270, 850, 390]]<|/det|>'"
    slot_sql = f"""
          CASE s
            WHEN 1 THEN {text_ref(100, 250)} || ptxt || chr(10) || chr(10)
                 || CASE WHEN doc_id % 5 = 0 THEN {img_ref} ELSE '' END
            WHEN 2 THEN CASE WHEN doc_id % 5 = 0
                 THEN {text_ref(410, 560)} ELSE {text_ref(270, 420)} END
                 || ptxt || chr(10) || chr(10)
            ELSE CASE WHEN doc_id % 5 = 0
                 THEN {text_ref(580, 730)} ELSE {text_ref(440, 590)} END
                 || ptxt || chr(10) || chr(10)
          END"""
    return f"""{_PARAS_CTES},
    pdocs AS (
      SELECT p.doc_id, p.n_paras, d.toks, len(d.toks) AS nw
      FROM paras p JOIN d USING (doc_id)
      WHERE p.doc_id % {PDF_MOD} < {PDF_HITS}
    ),
    bl AS (
      SELECT doc_id, list(brk_i ORDER BY brk_i) AS bks
      FROM breaks WHERE n_flush > 0 GROUP BY doc_id
    ),
    ptxts AS (
      SELECT pd.doc_id, g.j AS pj,
             CASE WHEN pd.nw = 0 THEN ''
                  ELSE array_to_string(pd.toks[
                    (CASE WHEN g.j = 1 THEN CAST(1 AS BIGINT)
                          ELSE b.bks[g.j - 1] + 1 END):
                    (CASE WHEN g.j <= len(b.bks) THEN b.bks[g.j]
                          ELSE pd.nw END)], ' ')
             END AS ptxt
      FROM pdocs pd
      LEFT JOIN bl b USING (doc_id),
      UNNEST(generate_series(1, pd.n_paras)) AS g(j)
    ),
    page_parts AS (
      SELECT t.doc_id,
             CAST((t.pj - 1) // 3 AS INTEGER) AS p0,
             t.pj - ((t.pj - 1) // 3) * 3 AS s,
             t.pj, t.ptxt
      FROM ptxts t
    ),
    page_raw AS (
      SELECT doc_id, p0,
             string_agg({slot_sql}, '' ORDER BY pj) AS body
      FROM page_parts GROUP BY doc_id, p0
    ),
    per_page AS (
      SELECT pr.doc_id, pr.p0,
             {title} || pr.body ||
             CASE WHEN pr.p0 = pd.n_pages - 1 AND pr.doc_id % {EOS_FAIL_MOD} = 0
                  THEN '' ELSE '{_EOS}' END AS raw
      FROM page_raw pr
      JOIN (SELECT doc_id, CAST(CEIL(n_paras / 3.0) AS BIGINT) AS n_pages
            FROM pdocs) pd USING (doc_id)
    ),
    per_doc AS (
      SELECT doc_id,
             string_agg(raw, '{PAGE_SEPARATOR}' ORDER BY p0) AS raw_output,
             COUNT(*) AS n_pages
      FROM per_page GROUP BY doc_id
    )
    SELECT 'https://' ||
           CASE WHEN doc_id % {HOT_MOD} < {HOT_HITS} THEN '{HOT_HOST}'
                ELSE 'site' || (doc_id % {N_SMALL_HOSTS}) || '.example.org'
           END || '/articles/' || doc_id || '.html' AS url,
           raw_output,
           CAST(n_pages AS INTEGER) AS total_pages,
           CAST(CASE WHEN doc_id % {EOS_FAIL_MOD} = 0 THEN 1 ELSE 0 END
                AS INTEGER) AS failed_pages
    FROM per_doc
    ORDER BY url
    """


# Per-paragraph text recovery from the fold CTE's break word-indices
# (paragraph j spans words (brk_{j-1}+1 .. brk_j], trailing partial to
# the last word) — shared by the flagship and payload-rebuild oracles.
_PTXT_CTES = """    alldocs AS (
      SELECT p.doc_id, p.n_paras, d.toks, len(d.toks) AS nw
      FROM paras p JOIN d USING (doc_id)
    ),
    bl AS (
      SELECT doc_id, list(brk_i ORDER BY brk_i) AS bks
      FROM breaks WHERE n_flush > 0 GROUP BY doc_id
    ),
    ptext AS (
      SELECT a.doc_id, a.n_paras, a.toks, g.j AS pj,
             CASE WHEN g.j = 1 THEN CAST(1 AS BIGINT)
                  ELSE b.bks[g.j - 1] + 1 END AS ws,
             CASE WHEN g.j <= len(coalesce(b.bks, [])) THEN b.bks[g.j]
                  ELSE a.nw END AS we
      FROM alldocs a
      LEFT JOIN bl b USING (doc_id),
      UNNEST(generate_series(1, a.n_paras)) AS g(j)
    ),
    ptxts AS (
      SELECT doc_id, n_paras, pj, toks, ws, we,
             CASE WHEN nw = 0 THEN ''
                  ELSE array_to_string(toks[ws:we], ' ') END AS ptxt
      FROM (SELECT p.*, a.nw FROM ptext p JOIN alldocs a USING (doc_id)) t
    ),"""


def _utf8_bytes_expr(col: str) -> str:
    """SQL list expression: UTF-8 bytes of string column ``col``.

    Codepoints -> UTF-8 byte sequences by the encoding arithmetic
    itself (1/2/3/4-byte forms), so the histogram below is over the
    exact bytes ``str.encode('utf-8')`` yields — no dependence on which
    non-ASCII characters the generator happens to emit."""
    return f"""flatten(list_transform(
      list_transform(generate_series(1, length({col})),
                     i -> unicode({col}[i])),
      c -> CASE
        WHEN c < 128 THEN [c]
        WHEN c < 2048 THEN [192 + c // 64, 128 + c % 64]
        WHEN c < 65536 THEN [224 + c // 4096, 128 + (c // 64) % 64,
                             128 + c % 64]
        ELSE [240 + c // 262144, 128 + (c // 4096) % 64,
              128 + (c // 64) % 64, 128 + c % 64]
      END))"""


def _hist_filters(dim: int) -> str:
    """``dim`` equal-width bins over byte range [0, 256) as a list of
    conditional-count aggregates — ``np.histogram(bins=dim,
    range=(0, 256))`` over uint8 input reduces to ``b // (256//dim)``
    because the right-closed last edge (256) is unreachable."""
    w = 256 // dim
    return ", ".join(
        f"count(*) FILTER (b // {w} = {k})" for k in range(dim)
    )



# One definition of the paragraphs->pages fold (3 paragraph slots per
# page) shared by every oracle that reconstructs PDF pages — a
# pagination change edited in one copy can no longer desynchronize the
# flagship oracle from the payload oracles (code review r05).
_PDF_PAGES_CTE = f"""    pdf_pages AS (
      SELECT doc_id, CAST((pj - 1) // 3 AS INTEGER) AS p0,
             pj - ((pj - 1) // 3) * 3 AS s, pj, ptxt,
             CAST(CEIL(n_paras / 3.0) AS BIGINT) AS n_pages
      FROM ptxts
      WHERE doc_id % {PDF_MOD} < {PDF_HITS}
    )"""


def _anchor_split_case(insert_sql: str) -> str:
    """The doc_id%3==0 middle-paragraph anchor insertion at the word
    midpoint, parameterized by what gets inserted (anchor TEXT for the
    extraction model, anchor MARKUP for the payload rebuild) — one
    definition of the midpoint arithmetic."""
    return f"""CASE WHEN pj = 2 AND n_paras > 2 AND doc_id % 3 = 0 THEN
               array_to_string(toks[ws : ws + (we - ws + 1) // 2 - 1], ' ')
               || {insert_sql} ||
               array_to_string(toks[ws + (we - ws + 1) // 2 : we], ' ')
             ELSE ptxt END"""


def flagship_oracle() -> str:
    """DuckDB twin of the registered ``extraction_flagship`` projection
    (url, extracted_text, n_spans, lang, payload_type, ok) — the
    postprocessed text for BOTH payload paths rebuilt byte-exactly in
    SQL from ``documents`` (VERDICT r04 next-steps #1).

    Why this is SQL-expressible end to end:

    * **PDF path** (reference T1/T3/T4 over the generated raw output):
      ``raw_output_oracle`` already proved the raw strings rebuild
      byte-exactly; the postprocess is then deterministic — T1 ref
      extraction leaves the title line + paragraph text (the det tags
      are constants of (slot, image flag)), T3 replaces the single
      image ref with ``![images/{page}_0.jpg]\\n``, T4 strips EOS +
      ref tags and collapses newline runs (replayed with the same two
      regexes, 4+ then exactly-3).  The EOS-incomplete last page of
      ``doc_id % EOS_FAIL_MOD == 0`` docs is dropped (reference F2),
      taking its spans with it; a single-page doc losing its only page
      flips ``ok`` false with NULL text.
    * **HTML path**: the boilerplate extractor's decisions over the
      generated page are a pure function of the generator — the h1
      (``Article {doc_id}``) and every >=400-char paragraph are kept,
      the ``doc_id % 3 == 0`` inline link contributes its anchor text
      in place (``... source {doc_id} ...`` at the paragraph's word
      midpoint), and the only data-dependent decision is the trailing
      partial paragraph: kept iff ``len >= MIN_CONTENT_CHARS`` (25) —
      the rescue pass never applies because the next block (sidebar)
      is boilerplate.  Verified byte-exact against the kernel on all
      500 sf0.01 docs before this SQL was derived from the model.

    ``doc_json`` is deliberately NOT part of the registered projection
    (the ``payload_bytes`` precedent): reproducing Spark ``to_json``
    escape arithmetic in SQL is high fragility for a column pytest
    already covers byte-exactly (``tests/test_extract_pipeline.py``).
    """
    from ..operators.extract import PAGE_SEPARATOR

    return f"""{_PARAS_CTES},
{_PTXT_CTES}
    html_kept AS (
      SELECT doc_id, pj,
             {_anchor_split_case("' source ' || doc_id || ' '")} AS ptxt
      FROM ptxts
      WHERE doc_id % {PDF_MOD} >= {PDF_HITS}
    ),
    html_body AS (
      SELECT doc_id,
             string_agg(ptxt, chr(10) || chr(10) ORDER BY pj) AS body,
             COUNT(*) AS n_kept
      FROM (SELECT h.*, p.n_paras FROM html_kept h
            JOIN (SELECT DISTINCT doc_id, n_paras FROM ptxts) p
            USING (doc_id)) k
      WHERE NOT (pj = n_paras AND len(ptxt) < 25)
      GROUP BY doc_id
    ),
    html_docs AS (
      SELECT a.doc_id,
             'Article ' || a.doc_id ||
               coalesce(chr(10) || chr(10) || k.body, '') AS extracted_text,
             CAST(1 + coalesce(k.n_kept, 0) AS INTEGER) AS n_spans,
             'html' AS payload_type, TRUE AS ok
      FROM alldocs a LEFT JOIN html_body k USING (doc_id)
      WHERE a.doc_id % {PDF_MOD} >= {PDF_HITS}
    ),
{_PDF_PAGES_CTE},
    pdf_body AS (
      SELECT doc_id, p0, MAX(n_pages) AS n_pages,
             string_agg(
               ptxt || chr(10) || chr(10) ||
               CASE WHEN s = 1 AND doc_id % 5 = 0
                    THEN '![images/' || p0 || '_0.jpg]' || chr(10)
                    ELSE '' END,
               '' ORDER BY pj) AS body,
             COUNT(*) AS paras_on_page,
             MAX(CASE WHEN s = 1 AND doc_id % 5 = 0 THEN 1 ELSE 0 END)
               AS has_img
      FROM pdf_pages GROUP BY doc_id, p0
    ),
    pdf_md AS (
      SELECT doc_id, p0, n_pages,
             regexp_replace(regexp_replace(
               '# Document ' || doc_id || ' · page ' || p0 ||
               chr(10) || chr(10) || body,
               '\\n{{4,}}', chr(10) || chr(10), 'g'),
               '\\n{{3}}', chr(10) || chr(10), 'g') AS md,
             1 + paras_on_page + has_img AS page_spans
      FROM pdf_body
    ),
    pdf_agg AS (
      SELECT doc_id,
             string_agg(md, '{PAGE_SEPARATOR}' ORDER BY p0)
               AS extracted_text,
             SUM(page_spans) AS n_spans
      FROM pdf_md
      WHERE NOT (p0 = n_pages - 1 AND doc_id % {EOS_FAIL_MOD} = 0)
      GROUP BY doc_id
    ),
    pdf_docs AS (
      SELECT a.doc_id, k.extracted_text,
             CAST(coalesce(k.n_spans, 0) AS INTEGER) AS n_spans,
             'pdf' AS payload_type,
             k.extracted_text IS NOT NULL AS ok
      FROM alldocs a LEFT JOIN pdf_agg k USING (doc_id)
      WHERE a.doc_id % {PDF_MOD} < {PDF_HITS}
    ),
    every_doc AS (
      SELECT * FROM html_docs UNION ALL SELECT * FROM pdf_docs
    )
    SELECT 'https://' ||
           CASE WHEN e.doc_id % {HOT_MOD} < {HOT_HITS} THEN '{HOT_HOST}'
                ELSE 'site' || (e.doc_id % {N_SMALL_HOSTS})
                     || '.example.org'
           END || '/articles/' || e.doc_id || '.html' AS url,
           e.extracted_text, e.n_spans, doc.lang, e.payload_type, e.ok
    FROM every_doc e JOIN documents doc USING (doc_id)
    ORDER BY url
    """


# The raw-page rebuild used by the payload oracles: per-(doc, page)
# raw model-output strings + page geometry, as CTE text appended after
# {_PTXT_CTES}.  Mirrors raw_output_oracle's construction (det tags
# are constants of (slot, image flag); title/EOS per generator rules)
# but keyed to expose (doc_id, p0, raw, w, h, n_pages) for downstream
# byte arithmetic instead of the document-level join.
def _pdf_page_raw_ctes() -> str:
    from ..functions.refparse import EOS_TOKEN as _EOS

    def text_ref(y, y2):
        return (
            f"'<|ref|>text<|/ref|><|det|>[[100, {y}, 900, {y2}]]<|/det|>'"
        )

    img_ref = "'<|ref|>image<|/ref|><|det|>[[150, 270, 850, 390]]<|/det|>'"
    slot_sql = f"""
          CASE s
            WHEN 1 THEN {text_ref(100, 250)} || ptxt || chr(10) || chr(10)
                 || CASE WHEN doc_id % 5 = 0 THEN {img_ref} ELSE '' END
            WHEN 2 THEN CASE WHEN doc_id % 5 = 0
                 THEN {text_ref(410, 560)} ELSE {text_ref(270, 420)} END
                 || ptxt || chr(10) || chr(10)
            ELSE CASE WHEN doc_id % 5 = 0
                 THEN {text_ref(580, 730)} ELSE {text_ref(440, 590)} END
                 || ptxt || chr(10) || chr(10)
          END"""
    dim_case = " ".join(
        f"WHEN {k} THEN {{'w': {w}, 'h': {h}}}"
        for k, (w, h) in enumerate(PAGE_DIMS)
    )
    return f"""
{_PDF_PAGES_CTE},
    pdf_raw AS (
      SELECT b.doc_id, b.p0, b.n_pages, g.w, g.h,
             '<|ref|>title<|/ref|><|det|>[[120, 30, 880, 80]]<|/det|>'
             || '# Document ' || b.doc_id || ' · page ' || b.p0
             || chr(10) || chr(10) || b.body ||
             CASE WHEN b.p0 = b.n_pages - 1
                       AND b.doc_id % {EOS_FAIL_MOD} = 0
                  THEN '' ELSE '{_EOS}' END AS raw
      FROM (
        SELECT doc_id, p0, MAX(n_pages) AS n_pages,
               string_agg({slot_sql}, '' ORDER BY pj) AS body
        FROM pdf_pages GROUP BY doc_id, p0
      ) b,
      LATERAL (SELECT CASE (b.doc_id * 7 + b.p0 * 13) % 5 {dim_case}
               END AS g) t
    )"""


def payload_features_oracle() -> str:
    """DuckDB twin of the registered ``multimodal_payload_features``
    projection (url, modality, feature_csv): rebuilds BOTH payload
    byte streams in SQL and recomputes the 16-bin byte histogram.

    * the HTML payload is the generator's template — pure string
      concatenation over (doc_id, lang, paragraph texts), with the
      ``doc_id % 3 == 0`` inline anchor inserted at the middle
      paragraph's word midpoint;
    * the PDF payload is ``PDF_MAGIC`` + the ``json.dumps`` replay:
      with no quotes/backslashes in the generated raw strings the only
      escapes are LF -> ``\\n`` and ``ensure_ascii`` ``\\uXXXX`` for
      the three non-ASCII codepoints the generator emits;
    * the byte histogram is computed over the UTF-8 byte expansion of
      the rebuilt string (codepoint -> byte-sequence arithmetic, so
      multi-byte characters land in the same bins as the kernel's
      ``np.frombuffer(payload, uint8)``).

    Both rebuilds were verified byte-equal to the real payloads on all
    500 sf0.01 docs before the histogram layer was added.
    """
    nav_items = "".join(
        f'<li><a href="/cat/{k}">Category {k}</a></li>' for k in range(6)
    )
    related_sql = " || ".join(
        f"'<li><a href=\"/a/' || (doc_id + {k}) || '\">Related story '"
        f" || (doc_id + {k}) || '</a></li>'"
        for k in range(1, 5)
    )
    esc = (
        "replace(replace(replace(replace(raw, chr(10), '\\n'),"
        " '·', '\\u00b7'), '｜', '\\uff5c'),"
        " '▁', '\\u2581')"
    )
    anchor_markup = (
        """' <a href="/ref/' || doc_id || '">source ' || doc_id || '</a> '"""
    )
    return f"""{_PARAS_CTES},
{_PTXT_CTES}
{_pdf_page_raw_ctes()},
    html_paras AS (
      SELECT doc_id, pj,
             {_anchor_split_case(anchor_markup)} AS ptxt
      FROM ptxts
      WHERE doc_id % {PDF_MOD} >= {PDF_HITS}
    ),
    html_payload AS (
      SELECT a.doc_id, 'html' AS modality,
             '<!DOCTYPE html>' || chr(10) ||
             '<html lang="' || doc.lang || '"><head><title>Article '
             || a.doc_id || '</title>' || chr(10) ||
             '<script>var trk=' || a.doc_id || ';track(trk);</script>'
             || chr(10) ||
             '<style>.main {{ color: #222 }}</style></head>' || chr(10) ||
             '<body>' || chr(10) ||
             '<nav class="top-nav"><ul>{nav_items}</ul></nav>' || chr(10) ||
             '<div class="ads banner">Buy now! Limited offer '
             || (a.doc_id % 50) || '% off!</div>' || chr(10) ||
             '<article class="main">' || chr(10) ||
             '<h1>Article ' || a.doc_id || '</h1>' || chr(10) ||
             k.article || chr(10) ||
             '</article>' || chr(10) ||
             '<aside class="sidebar related"><ul>' || {related_sql}
             || '</ul></aside>' || chr(10) ||
             '<footer class="footer">© example.org · '
             || '<a href="/tos">Terms</a> ·' || chr(10) ||
             '<a href="/privacy">Privacy</a></footer>' || chr(10) ||
             '</body></html>' AS s
      FROM alldocs a
      JOIN documents doc USING (doc_id)
      JOIN (SELECT doc_id,
                   string_agg('<p>' || ptxt || '</p>', chr(10)
                              ORDER BY pj) AS article
            FROM html_paras GROUP BY doc_id) k USING (doc_id)
      WHERE a.doc_id % {PDF_MOD} >= {PDF_HITS}
    ),
    pdf_payload AS (
      SELECT doc_id, 'pdf' AS modality,
             '%PDF-STUB1' || chr(10) ||
             '{{"doc_id": ' || doc_id || ', "pages": [' ||
             string_agg(
               '{{"width": ' || w || ', "height": ' || h
               || ', "raw_output": "' || {esc} || '"}}',
               ', ' ORDER BY p0) || ']}}' AS s
      FROM pdf_raw GROUP BY doc_id
    ),
    payloads AS (
      SELECT * FROM html_payload UNION ALL SELECT * FROM pdf_payload
    ),
    pb AS (
      SELECT doc_id, modality, UNNEST({_utf8_bytes_expr("s")}) AS b
      FROM payloads
    ),
    feats AS (
      SELECT doc_id, modality,
             array_to_string([{_hist_filters(16)}], ',') AS feature_csv
      FROM pb GROUP BY doc_id, modality
    )
    SELECT 'https://' ||
           CASE WHEN doc_id % {HOT_MOD} < {HOT_HITS} THEN '{HOT_HOST}'
                ELSE 'site' || (doc_id % {N_SMALL_HOSTS})
                     || '.example.org'
           END || '/articles/' || doc_id || '.html' AS url,
           modality, feature_csv
    FROM feats
    ORDER BY url
    """


def frame_sample_oracle() -> str:
    """DuckDB twin of the registered ``multimodal_frame_sample``
    projection (url, frame_index, n_frames, frame_feature_csv): the
    uniform-stride frame selection (``idx = j * n // min(4, n)``) over
    the PDF payloads' page sequence, with the 8-bin byte histogram of
    each sampled page's raw string (same UTF-8 byte expansion as
    ``payload_features_oracle``)."""
    return f"""{_PARAS_CTES},
{_PTXT_CTES}
{_pdf_page_raw_ctes()},
    sel AS (
      SELECT doc_id, (g.j * n_pages) // LEAST(4, n_pages) AS idx
      FROM (SELECT DISTINCT doc_id, n_pages FROM pdf_raw) d,
      UNNEST(generate_series(0, LEAST(4, n_pages) - 1)) AS g(j)
    ),
    frames AS (
      SELECT r.doc_id, r.p0 AS frame_index,
             CAST(r.n_pages AS INTEGER) AS n_frames, r.raw
      FROM pdf_raw r JOIN sel s ON r.doc_id = s.doc_id AND r.p0 = s.idx
    ),
    fb AS (
      SELECT doc_id, frame_index, n_frames,
             UNNEST({_utf8_bytes_expr("raw")}) AS b
      FROM frames
    ),
    feats AS (
      SELECT doc_id, frame_index, n_frames,
             array_to_string([{_hist_filters(8)}], ',')
               AS frame_feature_csv
      FROM fb GROUP BY doc_id, frame_index, n_frames
    )
    SELECT 'https://' ||
           CASE WHEN doc_id % {HOT_MOD} < {HOT_HITS} THEN '{HOT_HOST}'
                ELSE 'site' || (doc_id % {N_SMALL_HOSTS})
                     || '.example.org'
           END || '/articles/' || doc_id || '.html' AS url,
           frame_index, n_frames, frame_feature_csv
    FROM feats
    ORDER BY url, frame_index
    """

"""The extraction operator: pages table -> (url, extracted_text, spans, lang).

Spark lifecycle (SURVEY §3, one stage per boundary)::

    read input table
      -> (narrow) host/payload-type columns, JVM-side
      -> repartition(url-hash bucket, salted for giant hosts)   [only wide op]
      -> extract_kernel_stage: mapInPandas(extract_kernel)      [Arrow batches]
      -> output DataFrame (url, extracted_text, spans, lang, ...)

Routing happens *inside* one vectorized kernel (north-star: "a single
vectorized pandas/Arrow UDF stage"): HTML payloads go through the
DOM/text-density extractor (``functions/htmlmain.py``), PDF payloads
through cost-packed micro-batched decode (``operators/decode.py``) plus
the byte-exact postprocess kernel (``functions/assemble.py``, parity
with ``deepseek_ocr2_api/processors/postprocess.py``).

Scale notes (designed for ~100 TB / 10^12 docs, tested on local[32]):

* Partitioning is by ``xxhash64(host) % num_buckets`` so one host's
  pages stay together (connection/cache locality on real fetch-adjacent
  workloads) — EXCEPT hosts above ``hot_host_threshold`` docs, which are
  salted per-url (``xxhash64(url)``) so a giant host fans out across the
  cluster instead of pinning one executor (north-rule skew mitigation).
  Hot-host detection is a host-level count — a tiny aggregate with
  map-side partial aggregation over a pruned (url-only) projection —
  broadcast back, never a row-level shuffle of payload bytes beyond the
  single repartition.
* Pages of one document never split across partitions (they live in one
  payload blob), so per-url output is independent of partitioning —
  byte-identical at local[8] and local[32] and on any real cluster.
* The incomplete-page filter (reference F2 with ``skip_repeat`` on,
  ``routers/ocr.py:332-335``) always drops pages whose raw output lacks
  the EOS marker; dropped pages are counted per-document
  (``failed_pages``) and tallied per partition by the kernel itself
  (``LINEAGE_COUNTS``), for the metrics table ``plans/pipeline.py``
  writes without a second pass over the output.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from itertools import islice
from typing import Dict, Iterator, List, Optional

import pandas as pd

from pyspark import TaskContext
from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.assemble import PAGE_SEPARATOR, process_page
from ..functions.htmlmain import extract_main_content
from ..functions.refparse import has_eos
from .decode import (
    PDF_MAGIC,
    DecodeBatchFn,
    decode_pages,
    parse_pdf_payload,
    stub_decode_batch,
)
from .pyworker import drop_zip_finders

# Scheme-relative-tolerant authority extraction: no trailing slash
# required (path-less urls are common), authority ends at /, ?, or #.
HOST_REGEX = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)"

_log = logging.getLogger(__name__)


def hot_keys(df: DataFrame, key: str, threshold: int) -> List[str]:
    """Keys whose row count exceeds ``threshold`` — e.g. the hosts to
    pass as ``ExtractConfig.static_hot_hosts``.  One tiny aggregate with
    map-side partials; in production it lives with the snapshot
    statistics."""
    rows = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > threshold)
        .select(key)
        .collect()
    )
    return [r[0] for r in rows]


SPAN_STRUCT = StructType(
    [
        StructField("id", IntegerType(), False),
        StructField("page_index", IntegerType(), False),
        StructField("type", StringType(), True),
        StructField("bbox_normalized", ArrayType(IntegerType()), True),
        StructField("bbox_pixels", ArrayType(IntegerType()), True),
        StructField("text", StringType(), True),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("extracted_text", StringType(), True),
        StructField("spans", ArrayType(SPAN_STRUCT), True),
        StructField("lang", StringType(), True),
        StructField("payload_type", StringType(), False),
        StructField("total_pages", IntegerType(), False),
        StructField("failed_pages", IntegerType(), False),
        StructField("est_visual_tokens", LongType(), False),
        StructField("ok", BooleanType(), False),
        StructField("error", StringType(), True),
    ]
)

# with ExtractConfig.include_raw_output: the pre-postprocess model
# output per document (reference S8/F4 — the ``/ocr`` raw-output
# response field, ``routers/ocr.py:177-178,347-348``, and the ``.mmd``
# sink, ``run_dpsk_ocr2_pdf.py:279-326``).  Pages join on the page
# separator in page order, INCLUDING incomplete pages that the EOS
# filter drops from extracted_text — raw output is the debugging /
# re-postprocessing artifact, so it must show what the model actually
# emitted.  HTML payloads have no model output -> null.
EXTRACT_SCHEMA_WITH_RAW = StructType(
    EXTRACT_SCHEMA.fields
    + [StructField("raw_output", StringType(), True)]
)


@dataclass
class ExtractConfig:
    """Job-level knobs, broadcast to executors by closure capture.

    ``static_hot_hosts``: when set, skips the host-count detection job
    and salts exactly these hosts.  In production the hot-host list is
    computed once per input snapshot (a tiny aggregate) and reused by
    every run over that snapshot — recomputing it per job is wasted I/O
    at 100 TB.
    """

    num_buckets: int = 256
    hot_host_threshold: int = 20
    static_hot_hosts: Optional[tuple] = None
    decode_batch: DecodeBatchFn = field(default=stub_decode_batch)
    # gate the raw model output column (reference S8/F4) — off by
    # default: at 100 TB the raw strings roughly double output bytes
    include_raw_output: bool = False


_COLUMNS = (
    "url", "extracted_text", "spans", "lang", "payload_type",
    "total_pages", "failed_pages", "est_visual_tokens", "ok", "error",
)


class _Out:
    """Columnar accumulator: one list per output column.

    Building 10 parallel lists and one dict-of-lists DataFrame per batch
    is ~2x faster than a list of 10-key row dicts through
    ``pd.DataFrame(rows)`` — this wrapper cost was half the kernel time
    at bench scale.
    """

    __slots__ = _COLUMNS + ("raw_output", "include_raw")

    def __init__(self, include_raw: bool = False) -> None:
        for c in _COLUMNS:
            setattr(self, c, [])
        self.raw_output = []
        self.include_raw = include_raw

    def add(self, url, extracted_text, spans, lang, payload_type,
            total_pages, failed_pages, est_visual_tokens, ok, error,
            raw=None) -> None:
        self.url.append(url)
        self.extracted_text.append(extracted_text)
        self.spans.append(spans)
        self.lang.append(lang)
        self.payload_type.append(payload_type)
        self.total_pages.append(total_pages)
        self.failed_pages.append(failed_pages)
        self.est_visual_tokens.append(est_visual_tokens)
        self.ok.append(ok)
        self.error.append(error)
        if self.include_raw:
            self.raw_output.append(raw)

    def frame(self) -> pd.DataFrame:
        cols = _COLUMNS + ("raw_output",) if self.include_raw else _COLUMNS
        return pd.DataFrame({c: getattr(self, c) for c in cols})

    def __len__(self) -> int:
        return len(self.url)

    def counts(self) -> tuple:
        """This batch's lineage counts, in ``LINEAGE_COUNTS`` order."""
        return (
            len(self.url),
            self.ok.count(False),
            sum(self.failed_pages),
            sum(self.total_pages),
            sum(self.est_visual_tokens),
        )


# per-partition lineage counts the kernel tallies over its own output
# rows, named as the metrics table's columns (``plans/pipeline.py``)
LINEAGE_COUNTS = (
    "doc_count", "extraction_failure_count", "failed_page_count",
    "page_count", "est_visual_tokens",
)


class LineageParam(AccumulatorParam):
    """Accumulator of ``{partition id: LINEAGE_COUNTS tuple}``.

    Each kernel task adds its partition's tally once, at task end.  The
    kernel runs in the write's result stage, where Spark merges each
    partition's update exactly once, so retried and speculative tasks
    do not count twice.
    """

    def zero(self, value: Dict[int, tuple]) -> Dict[int, tuple]:
        return {}

    def addInPlace(
        self, acc: Dict[int, tuple], update: Dict[int, tuple]
    ) -> Dict[int, tuple]:
        for pid, counts in update.items():
            prior = acc.get(pid, (0,) * len(counts))
            acc[pid] = tuple(a + b for a, b in zip(prior, counts))
        return acc


def _extract_html_row(out: _Out, url: str, payload: bytes, lang) -> None:
    """One HTML payload -> one row.  Any exception the extractor raises
    becomes an ``ok=false`` row for its one failed page, never a task
    kill that would take the rest of the partition with it."""
    try:
        text, spans = extract_main_content(payload)
    except Exception as exc:
        _log.warning("HTML extraction failed for %s", url, exc_info=True)
        out.add(url, None, [], lang, "html", 1, 1, 0, False,
                f"html_extract: {type(exc).__name__}: {exc}")
        return
    for s in spans:  # tag in place; extract_main_content builds fresh dicts
        s["page_index"] = 0
    out.add(url, text, spans, lang, "html", 1, 0, 0, True, None)


def _extract_pdf_rows(
    out: _Out, rows: List[tuple], cfg: ExtractConfig
) -> None:
    """Decode + postprocess a batch of PDF docs; one output row per doc.

    All pages of every doc in the batch are flattened into one task list
    and cost-packed together, so decode batches stay full even when docs
    are short — the Spark analog of vLLM continuous batching across
    requests (``engine/inference.py:390-414``).  ``decode_pages`` returns
    results in task order, so each row takes the next ``len(pages)``
    results: docs are matched by position, never by url (the input does
    not guarantee url uniqueness — re-crawls).
    """
    parsed = []  # per row: its page tasks, or the exception parsing raised
    tasks = []
    for _url, payload, _lang in rows:
        try:
            pages = parse_pdf_payload(payload)
        except (ValueError, KeyError, TypeError, OverflowError) as exc:
            pages = exc
        else:
            tasks.extend(pages)
        parsed.append(pages)

    decoded = iter(decode_pages(tasks, cfg.decode_batch))
    for (url, _payload, lang), pages in zip(rows, parsed):
        if isinstance(pages, Exception):
            out.add(
                url, None, [], lang, "pdf", 0, 0, 0, False,
                f"payload_parse: {pages}",
            )
            continue
        markdowns: List[str] = []
        raws: List[str] = []
        spans: List[dict] = []
        failed = 0
        est_tokens = 0
        for task, raw in islice(decoded, len(pages)):
            est_tokens += task.est_visual_tokens
            raws.append(raw)  # raw keeps even EOS-filtered pages (S8/F4)
            # Reference F2: a page without the EOS marker hit max_tokens
            # and is dropped (skip_repeat).
            if not has_eos(raw):
                failed += 1
                continue
            md, elements = process_page(raw, task.width, task.height, task.page_index)
            markdowns.append(md)
            for e in elements:  # tag in place; process_page builds fresh
                # dicts with int bboxes (_coerce_bbox)
                e["page_index"] = task.page_index
                spans.append(e)
        ok = bool(markdowns) or not pages
        out.add(
            url,
            PAGE_SEPARATOR.join(markdowns) if ok else None,
            spans,
            lang,
            "pdf",
            len(pages),
            failed,
            est_tokens,
            ok,
            None if ok else "no_complete_pages",
            raw=PAGE_SEPARATOR.join(raws) if raws else None,
        )


def make_extract_kernel(
    cfg: ExtractConfig, lineage: Optional[Accumulator] = None
):
    """Build the mapInPandas kernel (picklable closure over the config).

    With a ``LineageParam`` accumulator as ``lineage``, each task adds
    its partition's ``LINEAGE_COUNTS`` to it once its input is drained
    (a partition with no rows adds nothing).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tally = (0,) * len(LINEAGE_COUNTS)
        for pdf in batches:
            out = _Out(include_raw=cfg.include_raw_output)
            pdf_rows: List[tuple] = []
            for url, payload, lang in zip(pdf["url"], pdf["html"], pdf["lang"]):
                if payload is None:
                    # null payload: failure row, never a task kill
                    out.add(url, None, [], lang, "html", 0, 0, 0, False,
                            "null_payload")
                    continue
                payload = bytes(payload)
                if payload.startswith(PDF_MAGIC):
                    pdf_rows.append((url, payload, lang))
                else:
                    _extract_html_row(out, url, payload, lang)
            if pdf_rows:
                _extract_pdf_rows(out, pdf_rows, cfg)
            if len(out):
                tally = tuple(a + b for a, b in zip(tally, out.counts()))
                yield out.frame()
        if lineage is not None and tally[0]:
            lineage.add({TaskContext.get().partitionId(): tally})
        drop_zip_finders()

    return kernel


def with_partition_key(df: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """Attach ``host`` + salted ``bucket`` columns (all JVM-side).

    Hot hosts are ``cfg.static_hot_hosts`` when set, else derived from
    ``df`` itself via a pruned host count.
    """
    df = df.withColumn(
        "host", F.lower(F.regexp_extract(F.col("url"), HOST_REGEX, 1))
    )
    if cfg.static_hot_hosts is not None:
        is_hot = F.col("host").isin(list(cfg.static_hot_hosts))
    else:
        hot = (
            df.groupBy("host")
            .agg(F.count(F.lit(1)).alias("host_docs"))
            .filter(F.col("host_docs") > cfg.hot_host_threshold)
            .select("host")
            .withColumn("is_hot_flag", F.lit(True))
        )
        df = df.join(F.broadcast(hot), "host", "left")
        is_hot = F.col("is_hot_flag").isNotNull()
    key = F.when(is_hot, F.xxhash64(F.col("url"))).otherwise(
        F.xxhash64(F.col("host"))
    )
    return df.withColumn(
        "bucket", F.pmod(key, F.lit(cfg.num_buckets)).cast("int")
    ).drop("is_hot_flag")


def extract_kernel_stage(
    narrow: DataFrame,
    cfg: ExtractConfig,
    lineage: Optional[Accumulator] = None,
) -> DataFrame:
    """(url, html, lang) rows -> extraction results.  The one kernel stage
    of both ``extract_pages`` and ``streaming.ingest.extract_stream``, so
    the schema always matches ``cfg.include_raw_output``."""
    schema = (
        EXTRACT_SCHEMA_WITH_RAW if cfg.include_raw_output else EXTRACT_SCHEMA
    )
    return narrow.mapInPandas(make_extract_kernel(cfg, lineage), schema=schema)


def extract_pages(
    df: DataFrame,
    cfg: Optional[ExtractConfig] = None,
    lineage: Optional[Accumulator] = None,
) -> DataFrame:
    """pages table -> extraction results (north-star output schema + QA cols).

    ``df`` must have columns (url, html, lang); extra columns are pruned
    before the kernel so the Arrow transfer only ships what the kernel
    reads.  ``lineage``: see ``make_extract_kernel``.
    """
    cfg = cfg or ExtractConfig()
    keyed = with_partition_key(df, cfg)
    shuffle_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # one wave at the session parallelism: a multi-wave fan-out
    # measured as a pure per-task-overhead loss on shared cores
    narrow = keyed.select("url", "html", "lang", "bucket").repartition(
        min(cfg.num_buckets, shuffle_parts), "bucket"
    )
    return extract_kernel_stage(narrow.drop("bucket"), cfg, lineage)

"""Byte-contract gate for the extraction kernel (no Spark).

Feeds the same pandas batches to ``make_extract_kernel`` that Spark's
``mapInPandas`` would: sf0.01's 500 rendered pages plus 6 hand-built
rows (0-page PDF, a PDF with an EOS-less middle page, a malformed PDF
body, a null payload, two rows sharing one url), for both
``include_raw_output`` settings and Arrow-style batch sizes 1, 7 and
all.  The sha256 over every output frame is pinned: a change that
leaves the kernel's bytes alone keeps it; a change that means to alter
them updates it together with the list of urls whose rows changed.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
import pyarrow.parquet as pq

from deepseek_ocr_2_spark.functions.refparse import EOS_TOKEN
from deepseek_ocr_2_spark.operators.extract import ExtractConfig, make_extract_kernel
from deepseek_ocr_2_spark.sources import corpus as C

from .conftest import SF_SMALL

KERNEL_SHA256 = "6076f20722c3cd344189c0b86793a44a92e00c1332262c910e815a7b2c23290f"


def _pdf(*raws: str) -> bytes:
    pages = [{"width": 800, "height": 1000, "raw_output": r} for r in raws]
    return C.PDF_MAGIC + json.dumps({"pages": pages}).encode()


def _inputs() -> pd.DataFrame:
    docs = pq.read_table(
        f"{SF_SMALL}/documents.parquet", columns=["doc_id", "text", "lang"]
    ).to_pandas()
    rows = pd.concat(list(C._build_rows(iter([docs]))))
    rows = rows[["url", "html", "lang"]].values.tolist()
    rows += [
        ("a://0", _pdf(), "en"),
        ("a://3", _pdf("a" + EOS_TOKEN, "no eos", "c" + EOS_TOKEN), "en"),
        ("a://bad", C.PDF_MAGIC + b"{x", "en"),
        ("a://null", None, "en"),
        ("d://x", C.render_pdf_payload(4, "alpha " * 200), "en"),
        ("d://x", C.render_pdf_payload(8, "bravo " * 200), "en"),
    ]
    return pd.DataFrame(rows, columns=["url", "html", "lang"])


def test_kernel_output_digest_is_pinned():
    frame, h = _inputs(), hashlib.sha256()
    assert len(frame) == 506
    for raw in (False, True):
        kernel = make_extract_kernel(ExtractConfig(include_raw_output=raw))
        for bs in (1, 7, len(frame)):
            parts = [
                frame.iloc[i:i + bs].reset_index(drop=True)
                for i in range(0, len(frame), bs)
            ]
            out = pd.concat(list(kernel(iter(parts)))).reset_index(drop=True)
            h.update(repr(out.to_dict("list")).encode())
    assert h.hexdigest() == KERNEL_SHA256

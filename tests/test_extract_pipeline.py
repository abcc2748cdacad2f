"""End-to-end extraction: byte identity vs the pure kernel, partition
independence, failure accounting, skew bucketing."""

from __future__ import annotations

import json

import pytest

from deepseek_ocr_2_spark.functions.assemble import PAGE_SEPARATOR, process_page
from deepseek_ocr_2_spark.functions.htmlmain import extract_main_content
from deepseek_ocr_2_spark.functions.refparse import has_eos
from deepseek_ocr_2_spark.operators.extract import ExtractConfig, extract_pages
from deepseek_ocr_2_spark.operators.decode import (
    PageTask,
    pack_micro_batches,
    parse_pdf_payload,
)
from deepseek_ocr_2_spark.operators.pyworker import drop_zip_finders
from deepseek_ocr_2_spark.sources import corpus as C

from .conftest import SF_TINY


def kernel_golden(payload: bytes) -> str | None:
    """Single-process reference computation of extracted_text for a row."""
    if payload.startswith(C.PDF_MAGIC):
        doc = json.loads(payload[len(C.PDF_MAGIC):])
        mds = []
        for i, p in enumerate(doc["pages"]):
            if not has_eos(p["raw_output"]):
                continue
            md, _ = process_page(p["raw_output"], p["width"], p["height"], i)
            mds.append(md)
        # a 0-page doc is ok with empty text; all pages incomplete: None
        return PAGE_SEPARATOR.join(mds) if mds or not doc["pages"] else None
    return extract_main_content(payload)[0]


@pytest.fixture(scope="module")
def corpus_rows(spark):
    return {
        r.url: bytes(r.html)
        for r in C.build_corpus(spark, SF_TINY).collect()
    }


@pytest.fixture(scope="module")
def extracted(spark):
    df = C.build_corpus(spark, SF_TINY)
    res = extract_pages(df, ExtractConfig(num_buckets=16, hot_host_threshold=5))
    return {r.url: r for r in res.collect()}


def test_every_url_byte_identical_to_kernel(corpus_rows, extracted):
    assert set(corpus_rows) == set(extracted)
    for url, payload in corpus_rows.items():
        golden = kernel_golden(payload)
        got = extracted[url].extracted_text
        assert got == golden, f"byte mismatch for {url}"


def test_partition_independence(spark, extracted):
    """Same per-url output under a different bucketing/parallelism."""
    df = C.build_corpus(spark, SF_TINY).repartition(13)
    res = extract_pages(df, ExtractConfig(num_buckets=3, hot_host_threshold=2))
    other = {r.url: r for r in res.collect()}
    assert set(other) == set(extracted)
    for url, row in extracted.items():
        assert other[url].extracted_text == row.extracted_text
        assert [tuple(s) for s in other[url].spans] == [
            tuple(s) for s in row.spans
        ]


def test_failure_accounting(extracted, corpus_rows):
    """Docs whose every page lacks EOS are failed + counted, not dropped."""
    failed = [r for r in extracted.values() if not r.ok]
    assert failed, "fixture corpus must exercise the failure path"
    for r in failed:
        assert r.error == "no_complete_pages"
        assert r.extracted_text is None
        assert r.failed_pages == r.total_pages > 0
    # multi-page docs with one bad page keep the good pages
    partial = [
        r for r in extracted.values() if r.ok and r.failed_pages > 0
    ]
    for r in partial:
        assert r.total_pages > r.failed_pages
        assert PAGE_SEPARATOR not in ("", None)


def test_spans_match_kernel_elements(corpus_rows, extracted):
    url = next(
        u for u, p in corpus_rows.items()
        if p.startswith(C.PDF_MAGIC) and extracted[u].ok
        and extracted[u].spans
    )
    doc = json.loads(corpus_rows[url][len(C.PDF_MAGIC):])
    expect = []
    for i, p in enumerate(doc["pages"]):
        if not has_eos(p["raw_output"]):
            continue
        _, elements = process_page(p["raw_output"], p["width"], p["height"], i)
        for e in elements:
            expect.append((e["id"], i, e["type"], e["bbox_normalized"],
                           e["bbox_pixels"], e["text"]))
    got = [
        (s.id, s.page_index, s.type, list(s.bbox_normalized),
         list(s.bbox_pixels), s.text)
        for s in extracted[url].spans
    ]
    assert got == expect


def test_micro_batch_packing_bounds_cost():
    tasks = [
        PageTask(page_index=i, width=1275, height=1650, payload={})
        for i in range(50)
    ]
    per = tasks[0].est_visual_tokens
    batches = list(pack_micro_batches(tasks, max_batch_visual_tokens=per * 7))
    assert all(len(b) <= 7 for b in batches)
    assert sum(len(b) for b in batches) == 50
    # order preserved
    flat = [t.page_index for b in batches for t in b]
    assert flat == list(range(50))


# JSON bodies that are not objects: a failure row each, never a task kill
NON_OBJECT_BODIES = [b"[]", b"null", b'"s"', b"5"]


def test_parse_pdf_payload_rejects_garbage():
    for blob in [b"<html>not a pdf</html>"] + [
        C.PDF_MAGIC + b for b in NON_OBJECT_BODIES
    ]:
        with pytest.raises(ValueError):
            parse_pdf_payload(blob)


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path, monkeypatch):
    """Dropped zip finders come back on demand from zipimport's
    directory cache: a later ``invalidate_caches()`` re-reads nothing,
    and a submodule not imported before still imports."""
    import importlib
    import sys
    import zipfile
    import zipimport

    archive = str(tmp_path / "zipfinderpkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zipfinderpkg/__init__.py", "")
        z.writestr("zipfinderpkg/sub/__init__.py", "")
        z.writestr("zipfinderpkg/sub/a.py", "A = 1\n")
        z.writestr("zipfinderpkg/sub/b.py", "B = 2\n")
    monkeypatch.syspath_prepend(archive)

    def zip_finders():
        return [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]

    try:
        import zipfinderpkg.sub.a

        assert zipfinderpkg.sub.a.A == 1
        assert len(zip_finders()) >= 3  # archive root, package, subpackage
        files = zipimport._zip_directory_cache[archive]

        drop_zip_finders()
        assert zip_finders() == []
        importlib.invalidate_caches()
        import zipfinderpkg.sub.b

        assert zipfinderpkg.sub.b.B == 2
        assert zipimport._zip_directory_cache[archive] is files  # no re-read
    finally:
        for name in [m for m in sys.modules if m.startswith("zipfinderpkg")]:
            del sys.modules[name]


def test_hot_host_is_salted_across_buckets(spark):
    from deepseek_ocr_2_spark.operators.extract import with_partition_key

    df = C.build_corpus(spark, SF_TINY)
    cfg = ExtractConfig(num_buckets=16, hot_host_threshold=5)
    keyed = with_partition_key(df, cfg)
    hot = keyed.filter(keyed.host == C.HOT_HOST)
    buckets = {r.bucket for r in hot.select("bucket").distinct().collect()}
    assert len(buckets) > 4, "giant host must fan out over many buckets"
    # a small host stays in exactly one bucket (locality preserved)
    small = (
        keyed.filter(keyed.host != C.HOT_HOST)
        .groupBy("host")
        .agg({"bucket": "count"})
    )
    one = keyed.filter(keyed.host != C.HOT_HOST).select("host", "bucket").distinct()
    per_host = one.groupBy("host").count().collect()
    assert all(r["count"] == 1 for r in per_host)


def test_null_payload_yields_failure_row(spark):
    import pandas as pd

    from pyspark.sql.types import (
        BinaryType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("url", StringType()),
        StructField("html", BinaryType()),
        StructField("lang", StringType()),
    ])
    df = spark.createDataFrame(
        [("https://x.org/a", None, "en"),
         ("https://x.org/b", b"<p>hello world this is long enough to keep</p>", "en")],
        schema,
    )
    res = {r.url: r for r in extract_pages(
        df, ExtractConfig(num_buckets=2, hot_host_threshold=99)
    ).collect()}
    assert not res["https://x.org/a"].ok
    assert res["https://x.org/a"].error == "null_payload"
    assert res["https://x.org/b"].ok


def test_kernel_aligns_pages_to_their_own_rows():
    """One pandas batch mixing every row kind through the kernel, no
    Spark: each output row must carry its own doc's pages, in order."""
    import pandas as pd

    from deepseek_ocr_2_spark.operators.extract import make_extract_kernel

    eos = "<｜end▁of▁sentence｜>"

    def pdf(*raws):
        pages = [{"width": 800, "height": 1000, "raw_output": r} for r in raws]
        return C.PDF_MAGIC + json.dumps({"pages": pages}).encode()

    def span(i):
        return f"<|ref|>text<|/ref|><|det|>[[{i},{i},50,50]]<|/det|>\npage {i}"

    rows = [
        ("https://k.org/html", b"<p>" + b"main text words " * 20 + b"</p>"),
        ("https://k.org/null", None),
        ("https://k.org/bad", C.PDF_MAGIC + b"{not json"),
        ("https://k.org/p0", pdf()),
        ("https://k.org/p1", pdf("only page" + eos)),
        ("https://k.org/p3", pdf(span(0) + eos, span(1), span(2) + eos)),
        ("https://k.org/dup", C.render_pdf_payload(4, "alpha " * 200)),
        ("https://k.org/dup", C.render_pdf_payload(8, "bravo " * 200)),
    ]
    batch = pd.DataFrame(
        {"url": [u for u, _ in rows], "html": [p for _, p in rows],
         "lang": ["en"] * len(rows)}
    )
    kernel = make_extract_kernel(ExtractConfig(include_raw_output=True))
    out = pd.concat(list(kernel(iter([batch]))))
    # HTML/null rows are emitted before the PDF rows; match by position
    # within each url
    got = {}
    for r in out.itertuples(index=False):
        got.setdefault(r.url, []).append(r)
    assert sum(map(len, got.values())) == len(rows)
    for url, payload in rows:
        r = got[url].pop(0)
        if payload is None:
            assert (r.ok, r.error) == (False, "null_payload")
        elif url.endswith("/bad"):
            assert not r.ok and r.error.startswith("payload_parse")
            assert r.raw_output is None
        elif payload.startswith(C.PDF_MAGIC):
            pages = json.loads(payload[len(C.PDF_MAGIC):])["pages"]
            assert r.extracted_text == kernel_golden(payload), url
            assert r.total_pages == len(pages)
            assert r.failed_pages == sum(
                not has_eos(p["raw_output"]) for p in pages
            )
            assert r.raw_output == (
                PAGE_SEPARATOR.join(p["raw_output"] for p in pages)
                if pages else None
            )
        else:
            assert r.extracted_text == kernel_golden(payload)
            assert r.raw_output is None
    three = next(r for r in out.itertuples() if r.url.endswith("/p3"))
    assert (three.failed_pages, three.ok) == (1, True)
    assert {s["page_index"] for s in three.spans} == {0, 2}


def test_duplicate_urls_not_merged(spark):
    """Two rows with the same url must each extract their OWN payload."""
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    p1 = C.render_pdf_payload(4, "alpha " * 200)
    p2 = C.render_pdf_payload(8, "bravo " * 200)
    schema = StructType([
        StructField("url", StringType()),
        StructField("html", BinaryType()),
        StructField("lang", StringType()),
    ])
    df = spark.createDataFrame(
        [("https://dup.org/x", p1, "en"), ("https://dup.org/x", p2, "en")],
        schema,
    ).coalesce(1)
    rows = extract_pages(
        df, ExtractConfig(num_buckets=2, hot_host_threshold=99)
    ).collect()
    assert len(rows) == 2
    texts = sorted(r.extracted_text for r in rows)
    assert texts[0] != texts[1]
    assert "alpha" in texts[0] and "alpha" not in texts[1]
    assert all("Document 4" in texts[0] or "Document 8" in t for t in texts)
    for r in rows:
        expect = kernel_golden(p1 if "alpha" in r.extracted_text else p2)
        assert r.extracted_text == expect  # no page doubling


def test_pathless_and_uppercase_scheme_urls_get_real_hosts(spark):
    from deepseek_ocr_2_spark.operators.extract import with_partition_key

    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    schema = StructType([
        StructField("url", StringType()),
        StructField("html", BinaryType()),
        StructField("lang", StringType()),
    ])
    df = spark.createDataFrame(
        [("https://pathless.example.com", b"<p>x</p>", "en"),
         ("HTTPS://Upper.Example.com/a", b"<p>y</p>", "en"),
         ("https://q.example.com?x=1", b"<p>z</p>", "en")],
        schema,
    )
    hosts = {r.url: r.host for r in with_partition_key(
        df, ExtractConfig(num_buckets=4, hot_host_threshold=99)
    ).collect()}
    assert hosts["https://pathless.example.com"] == "pathless.example.com"
    assert hosts["HTTPS://Upper.Example.com/a"] == "upper.example.com"
    assert hosts["https://q.example.com?x=1"] == "q.example.com"


def test_malformed_pdf_pages_become_failure_rows(spark):
    import json as j

    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    bad1 = C.PDF_MAGIC + j.dumps(
        {"pages": [{"width": 800, "height": 600, "raw_output": None}]}
    ).encode()
    bad2 = C.PDF_MAGIC + b"\xff\xfe not json"
    # a width of 1e400 parses as inf: int() raises OverflowError
    bad3 = C.PDF_MAGIC + b'{"pages": [{"width": 1e400, "height": 9, "raw_output": "x"}]}'
    bads = [bad1, bad2, bad3] + [C.PDF_MAGIC + b for b in NON_OBJECT_BODIES]
    schema = StructType([
        StructField("url", StringType()),
        StructField("html", BinaryType()),
        StructField("lang", StringType()),
    ])
    df = spark.createDataFrame(
        [(f"https://m.org/{i}", b, "en") for i, b in enumerate(bads)],
        schema,
    )
    rows = {r.url: r for r in extract_pages(
        df, ExtractConfig(num_buckets=2, hot_host_threshold=99)
    ).collect()}
    assert len(rows) == len(bads)
    assert all(not r.ok for r in rows.values())
    assert all(r.error.startswith("payload_parse") for r in rows.values())


def test_static_hot_hosts_config_salts_without_detection_pass(spark):
    from deepseek_ocr_2_spark.operators.extract import with_partition_key

    df = C.build_corpus(spark, SF_TINY)
    cfg = ExtractConfig(
        num_buckets=16, static_hot_hosts=(C.HOT_HOST,)
    )
    keyed = with_partition_key(df, cfg)
    # no host-count aggregate in the plan (static list used instead)
    plan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "count" not in plan.lower().split("hashaggregate")[0] or \
        "HashAggregate" not in plan
    hot_buckets = {
        r.bucket for r in keyed.filter(keyed.host == C.HOT_HOST)
        .select("bucket").distinct().collect()
    }
    assert len(hot_buckets) > 4  # salted
    cold = keyed.filter(keyed.host != C.HOT_HOST).select("host", "bucket").distinct()
    per_host = cold.groupBy("host").count().collect()
    assert all(r["count"] == 1 for r in per_host)  # others co-located


def test_all_hot_corpus_distributes_evenly(spark):
    """Extreme skew: every row on one host; salting must spread it."""
    from pyspark.sql import functions as F
    from deepseek_ocr_2_spark.operators.extract import with_partition_key

    df = C.build_corpus(spark, SF_TINY).withColumn(
        "url",
        F.concat(F.lit("https://only.example.com/"), F.col("doc_id").cast("string")),
    )
    cfg = ExtractConfig(num_buckets=16, static_hot_hosts=("only.example.com",))
    keyed = with_partition_key(df, cfg)
    counts = [r["count"] for r in keyed.groupBy("bucket").count().collect()]
    assert len(counts) >= 12  # most buckets occupied
    assert max(counts) < 4 * (sum(counts) / len(counts))  # no pile-up


def test_raw_output_column_is_config_gated(spark, corpus_rows, extracted):
    """Reference S8/F4: include_raw_output adds the pre-postprocess
    model output per document (page-separator-joined, in page order,
    INCLUDING EOS-filtered pages); default schema is unchanged."""
    assert "raw_output" not in extracted[next(iter(extracted))].asDict()

    df = C.build_corpus(spark, SF_TINY)
    res = extract_pages(
        df,
        ExtractConfig(
            num_buckets=4, hot_host_threshold=99, include_raw_output=True
        ),
    )
    rows = {r.url: r for r in res.collect()}
    assert set(rows) == set(corpus_rows)
    saw_pdf = saw_filtered = 0
    for url, r in rows.items():
        payload = corpus_rows[url]
        if not payload.startswith(C.PDF_MAGIC):
            assert r.raw_output is None  # html: no model output
            continue
        saw_pdf += 1
        doc = json.loads(payload[len(C.PDF_MAGIC):])
        expect = PAGE_SEPARATOR.join(p["raw_output"] for p in doc["pages"])
        assert r.raw_output == expect
        if r.failed_pages:
            saw_filtered += 1
            # the filtered page's raw text is present in raw_output even
            # though it is absent from extracted_text
            assert r.extracted_text is None or len(r.raw_output) > len(
                r.extracted_text
            )
    assert saw_pdf > 0


def test_flagship_doc_json_bytes(spark, extracted):
    """doc_json is NOT in the registered driver projection (the
    payload_bytes precedent — Spark to_json escape arithmetic is not
    worth replaying in SQL), so it is byte-pinned HERE instead: for
    every ok row it must be exactly the compact-separator JSON of the
    flagship struct fields in declaration order, and null otherwise."""
    import __spark_entry__ as entrymod

    flag = {
        r.url: r
        for r in entrymod._extraction_flagship(spark, SF_TINY).collect()
    }
    assert set(flag) == set(extracted)
    saw_ok = saw_failed = 0
    for url, r in flag.items():
        src = extracted[url]
        if not r.ok:
            saw_failed += 1
            assert r.doc_json is None
            continue
        saw_ok += 1
        expect = json.dumps(
            {
                "url": src.url,
                "lang": src.lang,
                "payload_type": src.payload_type,
                "total_pages": src.total_pages,
                "n_spans": len(src.spans),
                "extracted_text": src.extracted_text,
            },
            separators=(",", ":"),
            ensure_ascii=False,
        )
        assert r.doc_json == expect, f"doc_json byte mismatch for {url}"
    assert saw_ok > 0 and saw_failed > 0


def test_registered_flagship_is_projection_of_flagship(spark):
    """The driver-registered entry must be exactly the flagship minus
    doc_json (no silent column drift between the oracle-verified
    projection and the library surface)."""
    import __spark_entry__ as entrymod

    reg = entrymod._extraction_flagship_registered(spark, SF_TINY)
    assert reg.columns == [
        "url", "extracted_text", "n_spans", "lang", "payload_type", "ok",
    ]
    full = {
        r.url: r for r in entrymod._extraction_flagship(spark, SF_TINY).collect()
    }
    for r in reg.collect():
        f = full[r.url]
        assert (
            r.extracted_text, r.n_spans, r.lang, r.payload_type, r.ok
        ) == (f.extracted_text, f.n_spans, f.lang, f.payload_type, f.ok)

"""Structured Streaming ingestion: exactly-once extraction, incremental
top-up, per-batch metrics, streaming/batch byte parity."""

from __future__ import annotations

import os

import pytest

from deepseek_ocr_2_spark.operators.extract import ExtractConfig, extract_pages
from deepseek_ocr_2_spark.sources import corpus as C
from deepseek_ocr_2_spark.streaming import ingest

from .conftest import SF_TINY

CFG = ExtractConfig(num_buckets=8, hot_host_threshold=10**9)


@pytest.fixture(scope="module")
def corpus_df(spark):
    return C.build_corpus(spark, SF_TINY).cache()


def _await(query, timeout=120):
    assert query.awaitTermination(timeout), "stream did not drain in time"


def test_stream_drains_drop_dir_and_matches_batch(spark, tmp_path, corpus_df):
    drop = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    corpus_df.limit(120).write.mode("overwrite").parquet(drop)

    q = ingest.start_extraction_stream(spark, drop, out, ckpt, CFG)
    _await(q)

    got = {r.url: r.extracted_text for r in spark.read.parquet(out).collect()}
    want = {
        r.url: r.extracted_text
        for r in extract_pages(spark.read.parquet(drop), CFG).collect()
    }
    assert got == want  # streaming output byte-identical to batch


def test_stream_keeps_raw_output_column(spark, tmp_path, corpus_df):
    """include_raw_output reaches the streaming sink, per url equal to
    the batch path's raw_output."""
    from dataclasses import replace

    cfg = replace(CFG, include_raw_output=True)
    drop = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    corpus_df.limit(120).write.mode("overwrite").parquet(drop)
    _await(ingest.start_extraction_stream(
        spark, drop, out, str(tmp_path / "ckpt"), cfg
    ))
    got = spark.read.parquet(out)
    assert "raw_output" in got.columns
    want = {
        r.url: r.raw_output
        for r in extract_pages(spark.read.parquet(drop), cfg).collect()
    }
    assert {r.url: r.raw_output for r in got.collect()} == want
    assert any(v is not None for v in want.values())


def test_stream_incremental_topup_is_exactly_once(spark, tmp_path, corpus_df):
    drop = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first = corpus_df.limit(60)
    first.write.mode("overwrite").parquet(drop)
    _await(ingest.start_extraction_stream(spark, drop, out, ckpt, CFG))
    n1 = spark.read.parquet(out).count()
    assert n1 == 60

    # second batch of files lands; restart with the same checkpoint
    corpus_df.limit(100).write.mode("append").parquet(drop)
    _await(ingest.start_extraction_stream(spark, drop, out, ckpt, CFG))
    res = spark.read.parquet(out)
    assert res.count() == 160  # only the new files were processed
    # no url extracted twice more than its occurrence count in the drop
    n_inputs = spark.read.parquet(drop).count()
    assert res.count() == n_inputs


def test_metrics_stream_counts(spark, tmp_path, corpus_df):
    drop = str(tmp_path / "drop")
    metrics = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    corpus_df.limit(200).write.mode("overwrite").parquet(drop)
    _await(ingest.start_metrics_stream(spark, drop, metrics, ckpt, CFG))
    rows = spark.read.parquet(metrics).collect()
    assert sum(r.doc_count for r in rows) == 200
    assert {r.payload_type for r in rows} == {"html", "pdf"}
    assert "batch_id" in spark.read.parquet(metrics).columns


def test_windowed_failure_counts_plan(spark, tmp_path, corpus_df):
    """Watermarked windowed agg analyzes + runs on a streaming source."""
    drop = str(tmp_path / "drop")
    corpus_df.limit(50).write.mode("overwrite").parquet(drop)
    pages = ingest.read_page_stream(spark, drop)
    res = ingest.extract_stream(pages, CFG)
    joined = pages.select("url", "warc_ts").join(res.select("url", "ok"), "url")
    windowed = ingest.windowed_failure_counts(joined)
    assert windowed.isStreaming
    q = (
        windowed.writeStream.format("memory")
        .queryName("winfail")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wc"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    total = spark.sql("select sum(docs) d from winfail").collect()[0]
    # append mode only emits closed windows; with availableNow the final
    # watermark closes everything that arrived
    assert total["d"] is None or total["d"] <= 50


def test_stateful_host_counters_survive_restart(spark, tmp_path, corpus_df):
    """applyInPandasWithState: running totals persist across stream
    restarts via the state store, counting each doc exactly once."""
    drop = str(tmp_path / "drop")
    out = str(tmp_path / "counters")
    ckpt = str(tmp_path / "ckpt")

    first = corpus_df.limit(80)
    first.write.mode("overwrite").parquet(drop)
    _await(ingest.start_host_counter_stream(spark, drop, out, ckpt, CFG))
    snap1 = spark.read.parquet(out)
    total1 = (
        snap1.groupBy("host").agg({"docs_total": "max"}).collect()
    )
    assert sum(r["max(docs_total)"] for r in total1) == 80

    # more files land; restart from the same checkpoint: totals continue
    corpus_df.limit(200).write.mode("append").parquet(drop)
    _await(ingest.start_host_counter_stream(spark, drop, out, ckpt, CFG))
    snap2 = spark.read.parquet(out)
    total2 = snap2.groupBy("host").agg({"docs_total": "max"}).collect()
    assert sum(r["max(docs_total)"] for r in total2) == 280
    # failure totals match the batch pipeline's count on the same input
    from pyspark.sql import functions as F

    expect_failures = (
        extract_pages(spark.read.parquet(drop), CFG)
        .filter(~F.col("ok"))
        .count()
    )
    got_failures = sum(
        r["max(failures_total)"]
        for r in snap2.groupBy("host").agg({"failures_total": "max"}).collect()
    )
    assert got_failures == expect_failures


def test_streaming_dedup_within_watermark(spark, tmp_path, corpus_df):
    """dropDuplicatesWithinWatermark: a re-crawled duplicate inside the
    horizon is suppressed; distinct content all survives."""
    from pyspark.sql import functions as F

    drop = str(tmp_path / "ddrop")
    base = corpus_df.limit(40)
    # forge re-crawls: same text (same fingerprint), different url + ts
    dups = base.limit(10).select(
        F.concat(F.col("url"), F.lit("?recrawl=1")).alias("url"),
        (F.col("warc_ts") + F.expr("INTERVAL 5 MINUTES")).alias("warc_ts"),
        "html",
        "text",
        "lang",
        (F.col("doc_id") + 10_000).alias("doc_id"),
    )
    base.unionByName(dups).write.mode("overwrite").parquet(drop)

    deduped = ingest.dedup_page_stream(
        ingest.read_page_stream(spark, drop), horizon="1 hour"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    rows = spark.sql("select * from dedup_sink").collect()
    # 40 distinct fingerprints in, 10 in-horizon re-crawls dropped
    assert len(rows) == 40
    assert len({r.fingerprint for r in rows}) == 40


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join emits exactly the
    pairs the equivalent batch join produces on the same files."""
    from pyspark.sql import functions as F

    src = f"{SF_TINY}/events.parquet"
    drop = str(tmp_path / "events_drop")
    events_batch = spark.read.parquet(src)
    events_batch.write.mode("overwrite").parquet(drop)

    stream = spark.readStream.schema(events_batch.schema).parquet(drop)
    joined = ingest.stream_stream_click_purchase_join(stream)
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ssckpt"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    got = {
        (r.purchase_event_id, r.click_event_id)
        for r in spark.sql("select * from ss_join_sink").collect()
    }

    c = events_batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    p = events_batch.filter(F.col("event_type") == "purchase")
    want = {
        (r.event_id, r.cid)
        for r in p.join(
            c,
            (p.user_id == c.cu)
            & (c.cts < p.ts)
            & (c.cts >= p.ts - F.expr("INTERVAL 2 HOURS")),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_dedup_null_text_pages_survive(spark, tmp_path, corpus_df):
    """md5(NULL) is NULL and dropDuplicatesWithinWatermark treats equal
    nulls as duplicates — without the sentinel fingerprint, DISTINCT
    null-text pages inside the horizon silently collapse to one
    survivor (ADVICE r02).  Distinct urls with null text must all pass;
    a re-crawl of the SAME url with null text still dedups."""
    from pyspark.sql import functions as F

    drop = str(tmp_path / "nulldrop")
    base = corpus_df.limit(20)
    nulls = base.limit(5).select(
        F.concat(F.col("url"), F.lit("?nulltext=1")).alias("url"),
        "warc_ts",
        "html",
        F.lit(None).cast("string").alias("text"),
        "lang",
        (F.col("doc_id") + 20_000).alias("doc_id"),
    )
    recrawl = nulls.limit(1).select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 5 MINUTES")).alias("warc_ts"),
        "html",
        "text",
        "lang",
        (F.col("doc_id") + 1_000).alias("doc_id"),
    )
    base.unionByName(nulls).unionByName(recrawl).write.mode(
        "overwrite"
    ).parquet(drop)

    deduped = ingest.dedup_page_stream(
        ingest.read_page_stream(spark, drop), horizon="1 hour"
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("nulldedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "nckpt"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    rows = spark.sql("select * from nulldedup_sink").collect()
    # 20 distinct texts + 5 DISTINCT null-text urls survive;
    # the same-url null-text re-crawl is the only drop
    assert len(rows) == 25
    null_urls = {r.url for r in rows if r.text is None}
    assert len(null_urls) == 5


def test_event_time_ordered_replay_is_lossless(spark, tmp_path):
    """Replaying a range-partitioned historical table into the
    watermarked stream-stream join must emit EXACTLY the batch-join
    pairs when files arrive in event-time order
    (``order_files_by_event_time``) — and demonstrably LOSES rows when
    the newest slice arrives first (the file source orders by mtime,
    so a parallel write can do exactly that): the early watermark jump
    drops every older slice as late.  This is why the helper exists."""
    import glob
    import time

    from pyspark.sql import functions as F

    src = f"{SF_TINY}/events.parquet"
    drop = str(tmp_path / "replay_drop")
    events = spark.read.parquet(src)
    events.repartitionByRange(8, "ts").write.mode("overwrite").parquet(drop)

    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    p = events.filter(F.col("event_type") == "purchase")
    batch_rows = p.join(
        c,
        (p.user_id == c.cu)
        & (c.cts < p.ts)
        & (c.cts >= p.ts - F.expr("INTERVAL 2 HOURS")),
    ).count()
    assert batch_rows > 0

    def run(name: str) -> int:
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(drop)
        )
        q = (
            ingest.stream_stream_click_purchase_join(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"{name}_ckpt"))
            .start()
        )
        _await(q, 300)
        return spark.sql(f"select count(*) n from {name}").collect()[0]["n"]

    n = ingest.order_files_by_event_time(drop, "ts")
    assert n == 8
    # mtimes now ascend in event-time order -> replay is lossless
    assert run("replay_ordered") == batch_rows

    # adversarial order: newest event-time slice gets the OLDEST mtime
    fs = sorted(glob.glob(os.path.join(drop, "part-*.parquet")),
                key=os.path.getmtime)
    base = time.time() - len(fs) - 1
    for i, fname in enumerate(reversed(fs)):
        os.utime(fname, (base + i, base + i))
    assert run("replay_reversed") < batch_rows


def test_replay_ordering_handles_int96_and_empty_files(spark, tmp_path):
    """ADVICE r03: the replay helper crashed on (a) TIMESTAMP (non-NTZ)
    columns — Spark writes those as INT96, which carries no parquet
    min/max statistics — and (b) empty part files (zero row groups).
    Both must now order correctly: stat-less files via the per-file
    column-read fallback, empty files first (any order is correct for
    zero rows, but they must still be admitted)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    drop = str(tmp_path / "int96_drop")
    events = spark.read.parquet(f"{SF_TINY}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")  # NTZ -> default TIMESTAMP
    )
    events.repartitionByRange(4, "ts").write.mode("overwrite").parquet(drop)

    files = sorted(glob.glob(os.path.join(drop, "part-*.parquet")))
    assert len(files) == 4
    pf0 = pq.ParquetFile(files[0])
    md = pf0.metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    st = md.row_group(0).column(names.index("ts")).statistics
    # the empirical repro the fallback exists for: INT96 has no stats
    assert st is None or not st.has_min_max, (
        "this Spark wrote stats for TIMESTAMP — update the guard test"
    )

    # plant an empty (0-row-group) part file with the same schema
    empty_path = os.path.join(drop, "part-99990-empty.parquet")
    pq.write_table(pf0.schema_arrow.empty_table(), empty_path)

    n = ingest.order_files_by_event_time(drop, "ts")
    assert n == 5

    ordered = sorted(
        glob.glob(os.path.join(drop, "part-*.parquet")), key=os.path.getmtime
    )
    assert ordered[0] == empty_path  # empties first
    mins = []
    for fname in ordered[1:]:
        col = pq.ParquetFile(fname).read(columns=["ts"])["ts"]
        mins.append(min(col.to_pylist()))
    assert mins == sorted(mins), "files not restamped in event-time order"


def test_replay_ordering_rejects_missing_column(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nocol")
    os.makedirs(path)
    pq.write_table(
        pa.table({"x": [1, 2]}), os.path.join(path, "part-0.parquet")
    )
    with pytest.raises(ValueError, match="'ts' not present"):
        ingest.order_files_by_event_time(path, "ts")

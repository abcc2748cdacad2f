"""Incremental extraction via Structured Streaming.

The reference ingests via an HTTP upload queue drained by async workers
(``deepseek_ocr2_api/task_manager.py:263-640``).  The Spark-native
equivalent is a file-source stream: crawl batches land as parquet files
in a drop directory; ``readStream`` discovers them, the batch path's own
kernel stage (``operators.extract.extract_kernel_stage``) processes them
(identical per-url bytes and columns as the batch path — the kernel is
a pure function of the row), and ``writeStream`` commits
exactly-once via its checkpoint, replacing the reference's mutable
task-index JSON with source offsets + sink commit log.

Two modes:

* ``start_extraction_stream`` — continuous or ``availableNow`` one-shot
  (drain-what-exists, then stop: the cron-style incremental top-up).
* ``streaming_metrics`` — per-micro-batch lineage rows appended through
  ``foreachBatch`` (batch id, doc/failure counts), the streaming analog
  of the batch pipeline's per-partition metrics table.

Watermarks/stateful aggregation are deliberately absent from the hot
path: extraction is stateless per row, so the stream stays a pure map —
no state store, no late-data semantics to tune.  (The windowed rollup in
``windowed_failure_counts`` shows the watermark pattern where it *is*
wanted: failure-rate monitoring over event time.)
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.extract import ExtractConfig, extract_kernel_stage
from ..sources.corpus import CORPUS_SCHEMA


def order_files_by_event_time(path: str, ts_col: str = "ts") -> int:
    """Restamp a parquet directory's part-file mtimes in ascending
    min(``ts_col``) order, so a file-source stream replays them in
    EVENT-TIME order.

    Spark's file stream source admits files oldest-mtime-first, but a
    parallel batch write stamps mtimes in task-completion order — so
    replaying a range-partitioned historical table into a watermarked
    stream can deliver the newest event-time slice first, advance the
    watermark past the older files, and silently drop their rows as
    late.  For backfill/replay jobs (the standard way to rebuild
    streaming state from history) the files must arrive like a live
    feed would: this helper reads each footer's min stat (driver-side,
    no Spark job) and rewrites mtimes monotonically.  Returns the
    number of files restamped.

    Two footer shapes need a fallback (ADVICE r03): Spark's *default*
    TIMESTAMP type is written as INT96, which carries NO min/max
    statistics (TIMESTAMP_NTZ / INT64 columns do), and an empty part
    file has zero row groups.  Stat-less row groups fall back to a
    driver-side single-column read of that file (pyarrow decodes INT96
    fine — one column of one file, acceptable for a replay job; writing
    history as TIMESTAMP_NTZ keeps the cheap stats-only path).  Empty
    files sort first: they carry no events, so any order is correct —
    they must merely still be admitted.
    """
    import glob
    import time

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    empty = []
    parts = []
    for fname in glob.glob(os.path.join(path, "part-*.parquet")):
        pf = pq.ParquetFile(fname)
        md = pf.metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        if ts_col not in names:
            raise ValueError(
                f"column {ts_col!r} not present in {fname} "
                f"(columns: {names})"
            )
        if md.num_row_groups == 0 or md.num_rows == 0:
            empty.append(fname)
            continue
        ts_i = names.index(ts_col)
        stats = [
            md.row_group(g).column(ts_i).statistics
            for g in range(md.num_row_groups)
        ]
        if all(s is not None and s.has_min_max for s in stats):
            mins = min(s.min for s in stats)
        else:
            # INT96 (Spark's default TIMESTAMP) writes no stats —
            # read just the ts column of this file instead
            mins = pc.min(pf.read(columns=[ts_col])[ts_col]).as_py()
            if mins is None:  # all-null ts: order with the empties
                empty.append(fname)
                continue
        parts.append((mins, fname))
    ordered = sorted(empty) + [f for _, f in sorted(parts)]
    t_base = time.time() - len(ordered) - 1
    for i, fname in enumerate(ordered):
        os.utime(fname, (t_base + i, t_base + i))
    return len(ordered)


def read_page_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """File-source stream over a parquet drop directory."""
    return (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(drop_dir)
    )


def extract_stream(pages: DataFrame, cfg: Optional[ExtractConfig] = None) -> DataFrame:
    """Streaming flavor of ``extract_pages``: the same kernel stage, so
    the same schema (``raw_output`` included when the config asks).

    No pre-repartition: micro-batches are already file-sized, and the
    kernel is a pure function of the row, so per-url output bytes match
    the batch pipeline exactly.
    """
    return extract_kernel_stage(
        pages.select("url", "html", "lang"), cfg or ExtractConfig()
    )


def start_extraction_stream(
    spark: SparkSession,
    drop_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: Optional[ExtractConfig] = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Drop dir -> extraction -> parquet sink with exactly-once checkpoint."""
    results = extract_stream(read_page_stream(spark, drop_dir), cfg)
    writer = (
        results.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_metrics_stream(
    spark: SparkSession,
    drop_dir: str,
    metrics_dir: str,
    checkpoint_dir: str,
    cfg: Optional[ExtractConfig] = None,
) -> StreamingQuery:
    """Per-micro-batch lineage via foreachBatch (streaming A1 analog)."""
    results = extract_stream(read_page_stream(spark, drop_dir), cfg)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("payload_type")
            .agg(
                F.count(F.lit(1)).alias("doc_count"),
                F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias(
                    "extraction_failure_count"
                ),
                F.sum("failed_pages").alias("failed_page_count"),
            )
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(metrics_dir)
        )

    return (
        results.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


HOST_STATE_SCHEMA = "host STRING, docs_total LONG, failures_total LONG"
HOST_OUTPUT_SCHEMA = (
    "host STRING, batch_docs LONG, docs_total LONG, failures_total LONG"
)


def host_running_counters(results: DataFrame) -> DataFrame:
    """Custom stateful operator: per-host lifetime doc/failure counters.

    The streaming analog of the reference's mutable per-task counters
    (``task_manager.py:420,469,514``), rebuilt as
    ``applyInPandasWithState``: state = (docs_total, failures_total)
    per host, checkpointed with the query, updated incrementally per
    micro-batch — survives restarts without reprocessing history.

    Input: the streaming extraction results (must carry ``url``/``ok``).
    Output: one row per (host, micro-batch) with batch delta + running
    totals.
    """
    import pandas as pd  # local import keeps the worker closure light

    def update(key, pdf_iter, state):
        host = key[0]
        docs = 0
        failures = 0
        for pdf in pdf_iter:
            docs += len(pdf)
            failures += int((~pdf["ok"]).sum())
        if state.exists:
            prev_docs, prev_failures = state.get[1], state.get[2]
        else:
            prev_docs, prev_failures = 0, 0
        total_docs = prev_docs + docs
        total_failures = prev_failures + failures
        state.update((host, total_docs, total_failures))
        yield pd.DataFrame(
            {
                "host": [host],
                "batch_docs": [docs],
                "docs_total": [total_docs],
                "failures_total": [total_failures],
            }
        )

    from ..operators.extract import HOST_REGEX

    with_host = results.withColumn(
        "host", F.lower(F.regexp_extract(F.col("url"), HOST_REGEX, 1))
    )
    return with_host.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=HOST_OUTPUT_SCHEMA,
        stateStructType=HOST_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def start_host_counter_stream(
    spark: SparkSession,
    drop_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: Optional[ExtractConfig] = None,
) -> StreamingQuery:
    """Drop dir -> extraction -> stateful per-host counters -> parquet."""
    results = extract_stream(read_page_stream(spark, drop_dir), cfg)
    counters = host_running_counters(results)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(output_dir)

    return (
        counters.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def dedup_page_stream(
    pages: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state: drop pages whose
    whitespace-normalized content fingerprint was already seen within
    the watermark horizon.

    The batch pipeline dedups with a full hash-groupBy
    (``textops.fingerprint_exact_dedup``); a stream cannot hold every
    fingerprint ever seen, so this uses
    ``dropDuplicatesWithinWatermark`` — state for a fingerprint is
    dropped once the watermark passes it, which bounds the state store
    by (ingest rate x horizon) instead of corpus size.  Re-crawled
    near-simultaneous duplicates (the common case: the same page from
    two crawl frontiers hours apart) are suppressed; true re-crawls
    beyond the horizon re-emit and fall through to the batch dedup,
    the standard lambda split.

    Null-text guard (ADVICE r02): ``md5(NULL)`` is NULL and
    ``dropDuplicatesWithinWatermark`` treats equal nulls as duplicates,
    so without it every distinct null-text page inside the horizon
    would silently collapse to one survivor.  Null-text rows instead
    fingerprint on a sentinel keyed by url ('\\x00' cannot open real
    page text), so only a re-crawl of the SAME url dedups.
    """
    fp = F.md5(
        F.coalesce(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")),
            F.concat(F.lit("\x00null-text:"), F.col("url")),
        )
    ).alias("fingerprint")
    return (
        pages.select("url", "warc_ts", "html", "text", "lang", fp)
        .withWatermark("warc_ts", horizon)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def stream_stream_click_purchase_join(
    events: DataFrame,
    lookback: str = "2 hours",
    watermark: str = "4 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase event joined to the
    same user's clicks within the preceding ``lookback``.

    Both sides carry watermarks and the join condition bounds event
    time on BOTH ends (``purchase - lookback <= click < purchase``), so
    Spark can expire join state: a click older than
    ``watermark + lookback`` can never match a future purchase and is
    dropped from the state store — bounded state at any ingest rate,
    the streaming analog of the batch as-of join
    (``relational.asof_join_purchase_click``).
    """
    # watermarks require TIMESTAMP (with zone); the events parquet is
    # TIMESTAMP_NTZ — cast once, monotone, applied to both sides
    ts = F.col("ts").cast("timestamp")
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            ts.alias("click_ts"),
            F.col("event_id").alias("click_event_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            ts.alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}")
        ),
    ).select(
        "purchase_event_id", "user_id", "purchase_ts",
        "click_event_id", "click_ts",
    )


def windowed_failure_counts(pages_with_results: DataFrame) -> DataFrame:
    """Event-time windowed failure rollup with a watermark (monitoring).

    Input: a *streaming* DataFrame with ``warc_ts`` + ``ok`` columns.
    10-minute tumbling windows, 30-minute watermark for late crawl
    records.
    """
    return (
        pages_with_results.withWatermark("warc_ts", "30 minutes")
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("failures"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "docs",
            "failures",
        )
    )

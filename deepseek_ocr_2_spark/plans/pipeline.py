"""End-to-end extraction job: snapshot commits, lineage, resume.

The reference persists a mutable task index (whole-JSON rewrite per
state change, ``deepseek_ocr2_api/task_manager.py:642-660``) and marks
interrupted tasks failed on reload (``:662-690``).  The Spark rebuild
replaces that with *immutable snapshot commits*, Iceberg-style (the
sandbox Spark has no Iceberg catalog jar, so the same semantics are
implemented as parquet snapshot directories + an atomically-renamed
manifest — SURVEY §7 step 5 fallback; the interface is storage-agnostic
so an Iceberg table slots in where the manifest is today):

* each run writes ``<out>/data/snapshot=<id>/`` (results) and
  ``<out>/metrics/snapshot=<id>/`` (per-partition lineage rows:
  input snapshot id, partition id, doc/failure/page counts), then
  appends the snapshot id to ``<out>/MANIFEST.json`` via
  write-temp + ``os.replace`` (atomic on POSIX);
* a crashed run never appears in the manifest, so its partial files are
  invisible — exactly Iceberg's uncommitted-snapshot behavior;
* resume = anti-join the input against urls already committed
  (``committed_urls``), the north-rule checkpoint semantics.  The
  anti-join is a broadcast when the committed set is small, else a
  shuffle join — left to AQE.

Lineage (north rule: "per-partition lineage rows: input snapshot id,
partition id, doc count, extraction-failure count") is tallied *inside*
the kernel stage: each kernel task adds its partition's counts to a
per-run accumulator (``operators.extract.LineageParam``), so the rows
reflect the real physical partitioning of the inference stage and match
the ``partition_id`` column of the data.  The driver writes them as the
metrics table (pyarrow); nothing is read back from the snapshot, so a
run is one SQL execution.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import List, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import (
    LINEAGE_COUNTS,
    ExtractConfig,
    LineageParam,
    extract_pages,
)

MANIFEST_NAME = "MANIFEST.json"

# the metrics table, one row per kernel partition that extracted docs;
# column order, types and nullability as the Spark groupBy that used to
# build it wrote them
METRICS_SCHEMA = pa.schema(
    [
        pa.field("partition_id", pa.int32()),
        pa.field("input_snapshot_id", pa.string(), nullable=False),
    ]
    + [pa.field(c, pa.int64(), nullable=c != "doc_count") for c in LINEAGE_COUNTS]
    + [pa.field("snapshot_id", pa.string(), nullable=False)]
)


@dataclass
class Snapshot:
    snapshot_id: str
    committed_at: str
    doc_count: int
    failure_count: int
    # output layout, recorded so every reader/resumer agrees with it:
    # mixing partitioned and unpartitioned snapshots in one output dir
    # is unreadable (CONFLICTING_DIRECTORY_STRUCTURES), and hive
    # partition-type inference silently rewrites numeric-looking string
    # partition values unless the reader gets the written schema back
    partition_by: Optional[list] = None
    schema_json: Optional[str] = None


def _manifest_path(output_dir: str) -> str:
    return os.path.join(output_dir, MANIFEST_NAME)


def read_manifest(output_dir: str) -> List[dict]:
    path = _manifest_path(output_dir)
    if not os.path.exists(path):
        return []
    with open(path, "r", encoding="utf-8") as f:
        return json.load(f)["snapshots"]


def _commit_manifest(output_dir: str, snapshots: List[dict]) -> None:
    path = _manifest_path(output_dir)
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"snapshots": snapshots}, f, indent=2)
    os.replace(tmp, path)  # atomic commit point


class _manifest_lock:
    """Advisory lockfile (O_CREAT|O_EXCL) serializing manifest
    read-modify-write: without it, two concurrent committers each read
    N snapshots and the second replace drops the first's entry — the
    lost snapshot's data would become permanently invisible.  (A real
    Iceberg catalog does this with optimistic locking; the lockfile
    gives the same single-winner semantics on a shared filesystem.)"""

    def __init__(self, output_dir: str, timeout_s: float = 60.0) -> None:
        self.lock = os.path.join(output_dir, "MANIFEST.lock")
        self.timeout_s = timeout_s
        self.fd: Optional[int] = None

    def __enter__(self) -> "_manifest_lock":
        deadline = time.time() + self.timeout_s
        while True:
            try:
                self.fd = os.open(
                    self.lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                return self
            except FileExistsError:
                if time.time() > deadline:
                    raise TimeoutError(
                        f"manifest lock held too long: {self.lock}"
                    )
                time.sleep(0.05)

    def __exit__(self, *exc) -> None:
        if self.fd is not None:
            os.close(self.fd)
            os.unlink(self.lock)


def _append_snapshot(output_dir: str, snap: dict, timeout_s: float = 60.0) -> None:
    """Commit one snapshot entry — layout/schema re-VALIDATED under the
    lock: the early fail-fast in run_extraction is check-then-act (two
    concurrent first runs with different layouts both see an empty
    manifest), so the authoritative check happens here, where appends
    serialize.  A loser raises and stays uncommitted (its files are
    orphans for clean_orphans), never corrupting the directory."""
    with _manifest_lock(output_dir, timeout_s):
        snapshots = read_manifest(output_dir)
        if snapshots:
            prior = snapshots[-1]
            if prior.get("partition_by") != snap.get("partition_by"):
                raise ValueError(
                    "commit rejected: output dir is partitioned by "
                    f"{prior.get('partition_by')}, this snapshot by "
                    f"{snap.get('partition_by')} — mixed layouts are "
                    "unreadable (one layout per output dir)"
                )
            if (
                prior.get("schema_json") is not None
                and snap.get("schema_json") is not None
                and prior["schema_json"] != snap["schema_json"]
            ):
                raise ValueError(
                    "commit rejected: snapshot schema differs from the "
                    "committed snapshots' schema (e.g. a config toggle "
                    "like include_raw_output) — readers pin one schema "
                    "per output dir; use a new output dir or expire "
                    "existing snapshots"
                )
        snapshots.append(snap)
        _commit_manifest(output_dir, snapshots)


def expire_snapshots(output_dir: str, keep_n: int) -> List[str]:
    """Retention cleanup (reference C5, ``task_manager.py:692-765``):
    keep the newest ``keep_n`` committed snapshots, expire the rest.

    Crash-safe ordering: the manifest commits FIRST (expired snapshots
    become invisible atomically), then their data/metrics directories
    are swept best-effort — a crash between the two leaves orphaned but
    unreferenced files, never a referenced-but-deleted snapshot (the
    same order Iceberg's expire_snapshots uses).  Expired urls leave
    the committed set, so a later resume run re-extracts them — the
    retention contract, not a bug.  Returns expired snapshot ids.
    """
    import shutil

    if keep_n < 0:
        raise ValueError("keep_n must be >= 0")
    with _manifest_lock(output_dir):
        snapshots = read_manifest(output_dir)
        if len(snapshots) <= keep_n:
            return []
        expired = snapshots[: len(snapshots) - keep_n]
        _commit_manifest(output_dir, snapshots[len(snapshots) - keep_n:])
    expired_ids = [s["snapshot_id"] for s in expired]
    for sid in expired_ids:
        for sub in ("data", "metrics"):
            path = os.path.join(output_dir, sub, f"snapshot={sid}")
            shutil.rmtree(path, ignore_errors=True)  # best-effort sweep
    return expired_ids


def _tree_newest_mtime(path: str) -> float:
    """Newest mtime anywhere under ``path`` (the dir itself included).

    A Spark parquet write touches the snapshot's TOP-level dir mainly at
    job start; task files land in subdirectories as the job runs — so a
    long in-flight write presents a stale top-level mtime.  The age
    guard must see the newest write anywhere in the tree, or it trashes
    a directory that a writer touched seconds ago (ADVICE r02)."""
    newest = os.path.getmtime(path)
    for root, dirs, files in os.walk(path):
        for name in dirs + files:
            try:
                newest = max(
                    newest, os.path.getmtime(os.path.join(root, name))
                )
            except OSError:
                continue  # raced with the writer: treat as unknown
    return newest


def clean_orphans(
    output_dir: str,
    older_than_s: float = 3600.0,
    inflight_grace_s: Optional[float] = None,
) -> List[str]:
    """Delete snapshot directories that no manifest entry references.

    Two sources of orphans: (a) a run that crashed between writing its
    data files and committing the manifest (invisible by design — this
    reclaims the space), and (b) ``expire_snapshots`` sweeps interrupted
    after the manifest commit.

    Concurrency design: the scan and a cheap atomic RENAME to a trash
    name happen under the manifest lock (a committer blocked in
    ``_append_snapshot`` cannot slip its commit between our scan and our
    removal), while the expensive recursive delete happens AFTER the
    lock releases — at 100 TB an rmtree takes minutes and holding the
    lock that long would time out every concurrent committer.  A run
    whose files exist but whose commit has not STARTED is protected by
    ``older_than_s`` (default 1h; Iceberg's remove_orphan_files uses
    the same age-guard contract — raise it for long-running writers,
    pass 0 only in a maintenance window with no jobs active).  The age
    guard reads the NEWEST mtime across the whole snapshot tree (a
    long-running write keeps touching task files in subdirectories
    while the top-level dir's mtime goes stale — ADVICE r02), and a
    tree that looks in-flight (``_temporary`` present or ``_SUCCESS``
    absent) gets the larger ``inflight_grace_s`` window instead
    (default 4x ``older_than_s``): long enough that a live writer is
    certain to have touched something, while a crashed mid-write orphan
    still gets reclaimed eventually — and a maintenance-window full
    sweep (``older_than_s=0``) still reclaims everything.  Returns the
    original orphan paths.
    """
    import shutil

    if inflight_grace_s is None:
        inflight_grace_s = 4 * older_than_s
    trashed = []  # (original_path, trash_path)
    with _manifest_lock(output_dir):
        referenced = {s["snapshot_id"] for s in read_manifest(output_dir)}
        now = time.time()
        for sub in ("data", "metrics"):
            root = os.path.join(output_dir, sub)
            if not os.path.isdir(root):
                continue
            for name in os.listdir(root):
                if not name.startswith("snapshot="):
                    continue
                sid = name[len("snapshot="):]
                path = os.path.join(root, name)
                if sid in referenced:
                    continue
                try:
                    looks_inflight = os.path.exists(
                        os.path.join(path, "_temporary")
                    ) or not os.path.exists(os.path.join(path, "_SUCCESS"))
                    guard = inflight_grace_s if looks_inflight else older_than_s
                    if now - _tree_newest_mtime(path) < guard:
                        continue  # too fresh: possibly mid-commit/write
                except OSError:
                    continue
                trash = os.path.join(root, f".trash-{uuid.uuid4().hex[:8]}-{sid}")
                try:
                    os.rename(path, trash)  # atomic removal from namespace
                except OSError:
                    continue
                trashed.append((path, trash))
    for _, trash in trashed:
        shutil.rmtree(trash, ignore_errors=True)  # slow part: lock-free
    return [orig for orig, _ in trashed]


def committed_data_paths(
    output_dir: str, as_of: Optional[str] = None
) -> List[str]:
    """Data paths of committed snapshots; ``as_of`` (a snapshot id)
    truncates history at that commit — Iceberg-style time travel."""
    paths = []
    for s in read_manifest(output_dir):
        paths.append(
            os.path.join(output_dir, "data", f"snapshot={s['snapshot_id']}")
        )
        if as_of is not None and s["snapshot_id"] == as_of:
            return paths
    if as_of is not None:
        raise ValueError(f"unknown snapshot id: {as_of}")
    return paths


def committed_layout(output_dir: str) -> tuple:
    """(partition_by, schema_json) of the committed snapshots (all
    committed snapshots share one layout — enforced at commit time)."""
    snaps = read_manifest(output_dir)
    if not snaps:
        return None, None
    last = snaps[-1]
    pb = last.get("partition_by")
    return (tuple(pb) if pb else None), last.get("schema_json")


def committed_results(
    spark: SparkSession, output_dir: str, as_of: Optional[str] = None
) -> Optional[DataFrame]:
    paths = committed_data_paths(output_dir, as_of)
    if not paths:
        return None
    _, schema_json = committed_layout(output_dir)
    reader = spark.read
    if schema_json is not None:
        # the written schema pins partition-column types: without it,
        # hive partition inference turns a string '001' into int 1
        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
    return reader.parquet(*paths)


def committed_urls(spark: SparkSession, output_dir: str) -> Optional[DataFrame]:
    df = committed_results(spark, output_dir)
    return None if df is None else df.select("url")


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    cfg: Optional[ExtractConfig] = None,
    input_snapshot_id: str = "input-0",
    resume: bool = True,
    partition_by: Optional[tuple] = None,
) -> Snapshot:
    """One committed extraction run over ``pages``; returns the snapshot.

    Idempotent under crash/retry: re-running after a failure re-extracts
    only urls not in a *committed* snapshot.

    ``partition_by``: optional output partition columns (e.g.
    ``("lang",)``) — hive-style directory partitioning inside the
    snapshot, so downstream readers that filter on those columns get
    partition PRUNING instead of a full-snapshot scan (at 100 TB a
    per-language consumer reads only its directories; the same option
    becomes Iceberg partition specs when the catalog jar is present).
    Low-cardinality columns only — partitioning by a high-cardinality
    key would explode file counts.
    """
    cfg = cfg or ExtractConfig()
    os.makedirs(output_dir, exist_ok=True)
    partition_by = tuple(partition_by) if partition_by else None

    # layout must match every committed snapshot: parquet cannot read
    # partitioned and unpartitioned snapshot dirs together
    # (CONFLICTING_DIRECTORY_STRUCTURES), so fail fast, before the
    # expensive extraction stage
    prior_pb, _ = committed_layout(output_dir)
    if read_manifest(output_dir) and prior_pb != partition_by:
        raise ValueError(
            f"output dir has committed snapshots partitioned by "
            f"{prior_pb}; this run requested {partition_by} — one "
            "layout per output dir (expire all snapshots to change it)"
        )

    if resume:
        done = committed_urls(spark, output_dir)
        if done is not None:
            pages = pages.join(done, "url", "left_anti")

    snapshot_id = uuid.uuid4().hex[:12]
    lineage = spark.sparkContext.accumulator({}, LineageParam())
    results = extract_pages(pages, cfg, lineage).withColumn(
        "partition_id", F.spark_partition_id()
    )
    schema_json = results.schema.json()

    data_path = os.path.join(output_dir, "data", f"snapshot={snapshot_id}")
    writer = results.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_path)  # the run's only SQL execution

    # Lineage rows come from the kernel tasks' tallies, merged on the
    # driver when the write's result stage finished: the metrics table
    # is written here and the totals are summed from the same rows.
    rows = sorted(lineage.value.items())
    counts = [[c[k] for _, c in rows] for k in range(len(LINEAGE_COUNTS))]
    metrics = pa.Table.from_arrays(
        [
            [pid for pid, _ in rows],
            [input_snapshot_id] * len(rows),
            *counts,
            [snapshot_id] * len(rows),
        ],
        schema=METRICS_SCHEMA,
    )
    metrics_path = os.path.join(output_dir, "metrics", f"snapshot={snapshot_id}")
    os.makedirs(metrics_path, exist_ok=True)
    pq.write_table(metrics, os.path.join(metrics_path, "part-00000.parquet"))
    # clean_orphans gives a tree without _SUCCESS the in-flight grace
    open(os.path.join(metrics_path, "_SUCCESS"), "w").close()

    snap = Snapshot(
        snapshot_id=snapshot_id,
        committed_at=time.strftime("%Y-%m-%dT%H:%M:%S"),
        doc_count=sum(counts[0]),
        failure_count=sum(counts[1]),
        partition_by=list(partition_by) if partition_by else None,
        schema_json=schema_json,
    )
    _append_snapshot(output_dir, snap.__dict__)
    return snap

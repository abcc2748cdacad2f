"""Snapshot commits, lineage metrics, checkpoint resume semantics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from deepseek_ocr_2_spark.operators.extract import ExtractConfig
from deepseek_ocr_2_spark.plans import pipeline as P
from deepseek_ocr_2_spark.sources import corpus as C

from .conftest import SF_TINY

CFG = ExtractConfig(num_buckets=8, hot_host_threshold=5)


def test_run_commit_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY)
    n_total = pages.count()

    snap1 = P.run_extraction(spark, pages, out, CFG, input_snapshot_id="in-1")
    assert snap1.doc_count == n_total
    assert snap1.failure_count > 0  # fixture corpus exercises failures
    assert P.read_manifest(out)[0]["snapshot_id"] == snap1.snapshot_id

    # Resume: everything committed -> second run extracts nothing new.
    snap2 = P.run_extraction(spark, pages, out, CFG, input_snapshot_id="in-1")
    assert snap2.doc_count == 0

    # Committed view still sees exactly one result per url.
    res = P.committed_results(spark, out)
    assert res.count() == n_total
    assert res.select("url").distinct().count() == n_total


def test_uncommitted_snapshot_is_invisible(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY).limit(50)
    P.run_extraction(spark, pages, out, CFG)

    # Simulate a crashed run: snapshot dir exists, manifest never updated.
    orphan = os.path.join(out, "data", "snapshot=deadbeef0000")
    pages.limit(5).write.mode("overwrite").parquet(orphan)
    res = P.committed_results(spark, out)
    assert res.count() == 50  # orphan rows invisible


def test_metrics_lineage_rows(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY)
    snap = P.run_extraction(spark, pages, out, CFG, input_snapshot_id="in-7")

    metrics = spark.read.parquet(
        os.path.join(out, "metrics", f"snapshot={snap.snapshot_id}")
    )
    cols = set(metrics.columns)
    assert {
        "input_snapshot_id", "partition_id", "doc_count",
        "extraction_failure_count", "failed_page_count", "page_count",
        "est_visual_tokens", "snapshot_id",
    } <= cols
    rows = metrics.collect()
    assert len(rows) > 1  # genuinely per-partition
    assert sum(r.doc_count for r in rows) == snap.doc_count
    assert all(r.input_snapshot_id == "in-7" for r in rows)


def _metrics(spark, out, snap):
    return spark.read.parquet(
        os.path.join(out, "metrics", f"snapshot={snap.snapshot_id}")
    )


@pytest.mark.parametrize("partition_by", [None, ("lang",)])
def test_metrics_rows_equal_snapshot_groupby(spark, tmp_path, partition_by):
    """The kernel-tallied lineage rows equal a groupBy over the written
    snapshot, all five counts; a resumed run with nothing new still
    leaves a readable 0-row metrics table with the same schema."""
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY)
    snap = P.run_extraction(
        spark, pages, out, CFG, input_snapshot_id="in-3",
        partition_by=partition_by,
    )
    counts = ("doc_count", "extraction_failure_count", "failed_page_count",
              "page_count", "est_visual_tokens")
    expected = (
        P.committed_results(spark, out)
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)),
            F.sum("failed_pages"),
            F.sum("total_pages"),
            F.sum("est_visual_tokens"),
        )
        .collect()
    )
    metrics = _metrics(spark, out, snap)
    rows = metrics.collect()
    assert sorted(tuple(r) for r in expected) == sorted(
        (r.partition_id,) + tuple(r[c] for c in counts) for r in rows
    )
    assert {(r.input_snapshot_id, r.snapshot_id) for r in rows} == {
        ("in-3", snap.snapshot_id)
    }
    assert snap.doc_count == sum(r.doc_count for r in rows) > 0
    assert snap.failure_count == sum(r.extraction_failure_count for r in rows)

    resumed = P.run_extraction(
        spark, pages, out, CFG, input_snapshot_id="in-3",
        partition_by=partition_by,
    )
    assert resumed.doc_count == resumed.failure_count == 0
    empty = _metrics(spark, out, resumed)
    assert empty.schema == metrics.schema
    assert empty.count() == 0


def test_run_extraction_is_one_sql_execution(spark, tmp_path):
    """Lineage rides on the data write: a run, fresh or resumed, makes
    exactly one SQL execution (the count ``perfbench/trace.py`` reads
    from the SQL status store)."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions() -> int:
        bus.waitUntilEmpty()  # the status store is filled by a listener
        return store.executionsList().size()

    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY)
    for _ in range(2):  # fresh, then resumed (anti-join against commits)
        before = executions()
        P.run_extraction(spark, pages, out, CFG)
        assert executions() - before == 1


def test_snapshot_time_travel(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY)
    snap1 = P.run_extraction(spark, pages.limit(40), out, CFG)
    # second commit adds more urls
    P.run_extraction(spark, pages.limit(90), out, CFG)

    assert P.committed_results(spark, out).count() == 90
    assert P.committed_results(spark, out, as_of=snap1.snapshot_id).count() == 40
    import pytest as _pytest

    with _pytest.raises(ValueError):
        P.committed_data_paths(out, as_of="nope")


def test_expire_snapshots_retention(spark, tmp_path):
    """C5 analog: keep newest N snapshots; expired data leaves the
    committed set atomically and the files are swept."""
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY)
    s1 = P.run_extraction(spark, pages.limit(30), out, CFG)
    s2 = P.run_extraction(spark, pages.limit(60), out, CFG)
    s3 = P.run_extraction(spark, pages.limit(90), out, CFG)
    assert [s["snapshot_id"] for s in P.read_manifest(out)] == [
        s1.snapshot_id, s2.snapshot_id, s3.snapshot_id,
    ]

    expired = P.expire_snapshots(out, keep_n=2)
    assert expired == [s1.snapshot_id]
    assert [s["snapshot_id"] for s in P.read_manifest(out)] == [
        s2.snapshot_id, s3.snapshot_id,
    ]
    # expired files swept; kept snapshots intact
    assert not os.path.exists(
        os.path.join(out, "data", f"snapshot={s1.snapshot_id}")
    )
    assert os.path.exists(
        os.path.join(out, "data", f"snapshot={s3.snapshot_id}")
    )
    # committed view only reads surviving snapshots
    urls = {r.url for r in P.committed_results(spark, out).collect()}
    assert len(urls) == 60  # s2's 30 resumed + s3's 30 resumed
    # no-op when already within budget; lock released both times
    assert P.expire_snapshots(out, keep_n=5) == []
    assert not os.path.exists(os.path.join(out, "MANIFEST.lock"))


def test_expire_all_snapshots_resets_resume(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY).limit(20)
    P.run_extraction(spark, pages, out, CFG)
    P.expire_snapshots(out, keep_n=0)
    assert P.read_manifest(out) == []
    assert P.committed_results(spark, out) is None
    # resume now re-extracts everything — the retention contract
    snap = P.run_extraction(spark, pages, out, CFG)
    assert snap.doc_count == 20


def test_partitioned_snapshot_output_prunes(spark, tmp_path):
    """partition_by=('lang',) writes hive-style partition dirs and a
    lang filter on the committed view reaches the scan as a partition
    filter (pruning, not a full-snapshot scan)."""
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY).limit(60)
    snap = P.run_extraction(spark, pages, out, CFG, partition_by=("lang",))
    data = os.path.join(out, "data", f"snapshot={snap.snapshot_id}")
    langs = [d for d in os.listdir(data) if d.startswith("lang=")]
    assert len(langs) >= 2  # hive-style directories exist

    from .conftest import formatted_plan

    df = P.committed_results(spark, out).filter("lang = 'en'")
    plan = formatted_plan(df)
    assert "PartitionFilters: [isnotnull(lang" in plan, plan
    rows = df.collect()
    assert rows and all(r.lang == "en" for r in rows)
    # unpartitioned resume semantics unchanged: all urls committed
    assert snap.doc_count == 60


def test_clean_orphans_sweeps_only_unreferenced(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY).limit(40)
    snap = P.run_extraction(spark, pages, out, CFG)
    # crashed run: data written, manifest never committed
    orphan = os.path.join(out, "data", "snapshot=deadbeef0000")
    pages.limit(5).write.mode("overwrite").parquet(orphan)

    removed = P.clean_orphans(out, older_than_s=0)
    assert removed == [orphan]
    assert not os.path.exists(orphan)
    # the committed snapshot is untouched and still readable
    assert os.path.exists(
        os.path.join(out, "data", f"snapshot={snap.snapshot_id}")
    )
    assert P.committed_results(spark, out).count() == 40
    # idempotent; lock released
    assert P.clean_orphans(out, older_than_s=0) == []
    assert not os.path.exists(os.path.join(out, "MANIFEST.lock"))


def test_partition_layout_is_locked_per_output_dir(spark, tmp_path):
    """Mixing partitioned and unpartitioned snapshots in one output dir
    is unreadable (CONFLICTING_DIRECTORY_STRUCTURES) — the second run
    must fail fast, BEFORE extraction, and the manifest records the
    layout + written schema so readers pin partition-column types."""
    import pytest as _pytest

    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY).limit(20)
    P.run_extraction(spark, pages, out, CFG, partition_by=("lang",))
    pb, schema_json = P.committed_layout(out)
    assert pb == ("lang",) and schema_json is not None

    with _pytest.raises(ValueError, match="one layout per output dir"):
        P.run_extraction(spark, pages, out, CFG)  # unpartitioned: reject
    with _pytest.raises(ValueError, match="one layout per output dir"):
        P.run_extraction(
            spark, pages, out, CFG, partition_by=("payload_type",)
        )
    # same layout resumes fine, and the read-back schema keeps the
    # written types (incl. the partition column)
    P.run_extraction(spark, pages, out, CFG, partition_by=("lang",))
    res = P.committed_results(spark, out)
    assert dict(res.dtypes)["lang"] == "string"
    assert res.count() == 20


def test_clean_orphans_age_guard(spark, tmp_path):
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY).limit(10)
    P.run_extraction(spark, pages, out, CFG)
    orphan = os.path.join(out, "data", "snapshot=freshorphan0")
    pages.limit(2).write.mode("overwrite").parquet(orphan)
    # a just-written dir is spared by the age guard (possibly mid-commit)
    assert P.clean_orphans(out, older_than_s=3600) == []
    assert os.path.exists(orphan)
    assert P.clean_orphans(out, older_than_s=0) == [orphan]  # no guard: swept


def test_commit_time_layout_validation_under_lock(spark, tmp_path):
    """The authoritative layout/schema check happens inside
    _append_snapshot under the manifest lock (the run_extraction
    fail-fast is check-then-act and two concurrent first runs could
    both pass it)."""
    import pytest as _pytest

    out = str(tmp_path / "out")
    os.makedirs(out, exist_ok=True)
    base = {"snapshot_id": "aaa", "committed_at": "t", "doc_count": 1,
            "failure_count": 0, "partition_by": ["lang"],
            "schema_json": '{"type":"struct","fields":[]}'}
    P._append_snapshot(out, base)
    # conflicting layout rejected at commit time
    bad = dict(base, snapshot_id="bbb", partition_by=None)
    with _pytest.raises(ValueError, match="mixed layouts"):
        P._append_snapshot(out, bad)
    # conflicting schema rejected at commit time
    bad2 = dict(base, snapshot_id="ccc",
                schema_json='{"type":"struct","fields":[1]}')
    with _pytest.raises(ValueError, match="schema differs"):
        P._append_snapshot(out, bad2)
    # matching layout+schema commits; lock always released
    P._append_snapshot(out, dict(base, snapshot_id="ddd"))
    assert [s["snapshot_id"] for s in P.read_manifest(out)] == ["aaa", "ddd"]
    assert not os.path.exists(os.path.join(out, "MANIFEST.lock"))


def _age_tree(path, seconds):
    """Set every mtime under ``path`` (and the dir itself) into the past."""
    import time

    t = time.time() - seconds
    for root, dirs, files in os.walk(path, topdown=False):
        for n in files + dirs:
            os.utime(os.path.join(root, n), (t, t))
    os.utime(path, (t, t))


def test_clean_orphans_age_guard_sees_whole_tree(spark, tmp_path):
    """A long-running write keeps touching task FILES while the
    top-level snapshot dir's mtime goes stale — the age guard must read
    the newest mtime anywhere in the tree, or it trashes a directory a
    writer touched seconds ago (ADVICE r02)."""
    import glob

    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY).limit(10)
    P.run_extraction(spark, pages, out, CFG)
    orphan = os.path.join(out, "data", "snapshot=longwriter00")
    pages.limit(2).write.mode("overwrite").parquet(orphan)

    _age_tree(orphan, 7200)
    # ...but one task file was written moments ago (the writer is live)
    part = glob.glob(os.path.join(orphan, "*.parquet"))[0]
    os.utime(part, None)
    assert P.clean_orphans(out, older_than_s=3600) == []
    assert os.path.exists(orphan)
    # once the WHOLE tree is stale, it is reclaimed
    _age_tree(orphan, 7200)
    assert P.clean_orphans(out, older_than_s=3600) == [orphan]


def test_clean_orphans_inflight_markers_get_grace_window(spark, tmp_path):
    """A tree that looks in-flight (_temporary present / _SUCCESS
    absent) gets 4x the age guard: a live writer stalled between file
    touches is spared, a crashed mid-write orphan is still reclaimed
    once the grace window passes."""
    out = str(tmp_path / "out")
    pages = C.build_corpus(spark, SF_TINY).limit(10)
    P.run_extraction(spark, pages, out, CFG)
    orphan = os.path.join(out, "data", "snapshot=midwrite0000")
    pages.limit(2).write.mode("overwrite").parquet(orphan)
    os.makedirs(os.path.join(orphan, "_temporary"))
    _age_tree(orphan, 7200)

    # stale past older_than_s but inside the 4x grace: spared
    assert P.clean_orphans(out, older_than_s=3600) == []
    assert os.path.exists(orphan)
    # grace window passed (4 * 1000 < 7200): reclaimed
    assert P.clean_orphans(out, older_than_s=1000) == [orphan]
    # maintenance-window full sweep semantics survive: 0 reclaims all
    orphan2 = os.path.join(out, "data", "snapshot=midwrite0001")
    pages.limit(2).write.mode("overwrite").parquet(orphan2)
    os.makedirs(os.path.join(orphan2, "_temporary"))
    assert P.clean_orphans(out, older_than_s=0) == [orphan2]

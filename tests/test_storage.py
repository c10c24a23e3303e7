"""SnapshotStore unit tests: concurrent same-table appends, snapshot GC,
time-travel error semantics, job-free metadata and driver-written rows."""

from concurrent.futures import ThreadPoolExecutor

import pytest

from anycrawl_spark.schemas import PROGRESS, WEBHOOK_EVENTS
from anycrawl_spark.storage import ROWS_PER_FILE, SnapshotStore, driver_rows, files_for


def test_concurrent_appends_same_table(spark, tmp_path):
    """Two threads appending to the SAME table must not clobber each other
    (append() reserves the seq slot under the lock before the write)."""
    store = SnapshotStore(str(tmp_path / "s"), spark)

    def do_append(i):
        df = spark.range(10).selectExpr("id", f"{i} AS src")
        store.append("t", df)

    with ThreadPoolExecutor(max_workers=4) as ex:
        list(ex.map(do_append, range(4)))

    out = store.read_appends("t")
    assert out.count() == 40
    srcs = {r.src for r in out.select("src").distinct().collect()}
    assert srcs == {0, 1, 2, 3}


def test_snapshot_gc_expired_read_raises(spark, tmp_path):
    """write() keeps the last 4 snapshots; reading an expired one must raise
    a descriptive KeyError, not a raw parquet path error."""
    store = SnapshotStore(str(tmp_path / "s"), spark)
    for i in range(7):
        store.write("t", spark.range(5).selectExpr("id", f"{i} AS v"))
        store.commit_round(i)
    # latest still readable
    assert store.read("t").count() == 5
    # time-travel to a round whose snapshot was GC'd
    with pytest.raises(KeyError, match="snapshot expired"):
        store.read_at_round("t", 0)
    # recent rounds survive
    assert store.read_at_round("t", 6).count() == 5


def test_commit_round_drops_dangling_append_slots(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "s"), spark)
    store.append("t", spark.range(3))
    # simulate a reserved-but-failed append (slot in manifest, no dir)
    store.manifest["appends"]["t"].append(str(tmp_path / "s" / "t" / "append-000099"))
    store.commit_round(0)
    committed = store.manifest["history"][-1]["appends"]["t"]
    assert len(committed) == 1
    assert store.read_appends("t").count() == 3


def test_lineage_per_partition_stats(spark, tmp_path):
    """North-rule 'per-partition lineage + metrics': every append records one
    entry per parquet part file with footer-true row counts, stamped with
    the producing round; metrics aggregate across live appends; pruned with
    GC'd data at commit."""
    store = SnapshotStore(str(tmp_path / "s"), spark)
    store.append("t", spark.range(100).repartition(4), round_no=0)
    store.append("t", spark.range(30).repartition(2), round_no=1)
    lin = store.lineage("t")
    assert [e["round"] for e in lin] == [0, 1]
    assert [e["rows"] for e in lin] == [100, 30]
    assert len(lin[0]["files"]) == 4 and len(lin[1]["files"]) == 2
    assert sum(f["rows"] for f in lin[0]["files"]) == 100
    assert all(f["bytes"] > 0 for e in lin for f in e["files"])
    m = store.table_metrics()["t"]
    assert m["rows"] == 130 and m["appends"] == 2 and m["bytes"] > 0

    # snapshot writes are lineage-tracked too, and GC prunes entries
    for i in range(6):
        store.write("snap", spark.range(10))
    store.commit_round(2)
    live = [d for d in store.manifest["lineage"] if "snap-" in d]
    assert len(live) <= 4  # keep-last-4 GC pruned the rest

    # a reserved-but-failed append never shows lineage
    store.manifest["appends"]["t"].append(str(tmp_path / "s" / "t" / "append-000099"))
    assert [e["rows"] for e in store.lineage("t")] == [100, 30]


def test_lineage_survives_manifest_reload(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "s"), spark)
    store.append("t", spark.range(7), round_no=3)
    store.commit_round(3)
    re = SnapshotStore(str(tmp_path / "s"), spark)
    assert [(e["round"], e["rows"]) for e in re.lineage("t")] == [(3, 7)]


# -- metadata without Spark jobs ------------------------------------------

def _jobs_launched(spark, fn):
    """Spark jobs ``fn`` launches, counted from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    out = fn()
    return len(set(tracker.getJobIdsForGroup()) - before), out


def test_reads_and_driver_appends_launch_no_jobs(spark, tmp_path):
    """Schemas are recorded at write time, so building a read needs no
    footer-inference job; driver rows are written with pyarrow."""
    store = SnapshotStore(str(tmp_path / "s"), spark)
    store.write("snap", spark.range(5).selectExpr("id", "id * 2 AS v"))
    store.append("t", spark.range(4).selectExpr("id", "'x' AS s"), round_no=0)
    store.append("t", spark.range(3).selectExpr("id", "'y' AS s"), round_no=1)

    n, snap = _jobs_launched(spark, lambda: store.read("snap"))
    assert n == 0
    n, t = _jobs_launched(spark, lambda: store.read_appends("t"))
    assert n == 0
    n, _ = _jobs_launched(
        spark, lambda: store.append("progress", driver_rows(_progress_rows(), PROGRESS), 0)
    )
    assert n == 0
    n, _ = _jobs_launched(
        spark, lambda: store.write("progress_snap", driver_rows(_progress_rows(), PROGRESS))
    )
    assert n == 0
    with pytest.raises(ValueError):
        store.write("progress_snap", driver_rows(_progress_rows(), PROGRESS), ["job_id"])
    assert snap.count() == 5 and t.count() == 7

    # the recorded schema is the one Spark would infer from the footers
    store.commit_round(0)
    reread = SnapshotStore(str(tmp_path / "s"), spark)  # from the manifest
    for df, d in ((reread.read("snap"), reread._snap_dir("snap", 0)),
                  (reread.read_appends("t"), reread.manifest["appends"]["t"][0]),
                  (reread.read("progress_snap"), reread._snap_dir("progress_snap", 0))):
        assert df.schema == spark.read.parquet(d).schema
    assert sorted(reread.read("progress_snap").toJSON().collect()) == sorted(
        reread.read_appends("progress").toJSON().collect()
    )


def _progress_rows():
    return [("j0", 0, 3, 2, 1, 1, False, 3), ("j1", 0, 1, 1, 1, 0, True, 1),
            ("j2", 0, 0, 0, 0, 0, False, None)]


def test_driver_rows_match_spark_written(spark, tmp_path):
    """progress and webhook_events rows written from the driver read back
    with the rows and Spark types of a Spark-written append — alone and
    mixed with Spark-written appends in one table."""
    store = SnapshotStore(str(tmp_path / "s"), spark)
    cases = {
        "progress": (_progress_rows(), PROGRESS),
        "webhook_events": ([("j0", "crawl.started", -1), ("j1", "crawl.failed", 4),
                            ("j2", None, 2)], WEBHOOK_EVENTS),
    }
    for table, (rows, schema) in cases.items():
        store.append(f"{table}_spark", spark.createDataFrame(rows, schema), 0)
        store.append(f"{table}_driver", driver_rows(rows, schema), 0)
        store.append(f"{table}_mixed", driver_rows(rows[:1], schema), 0)
        store.append(f"{table}_mixed", spark.createDataFrame(rows[1:], schema), 1)
        want = store.read_appends(f"{table}_spark")
        for kind in ("driver", "mixed"):
            got = store.read_appends(f"{table}_{kind}")
            assert got.schema == want.schema, (table, kind)
            assert sorted(got.toJSON().collect()) == sorted(want.toJSON().collect())
        # an inferring reader sees the same types in the driver-written file
        d = store.manifest["appends"][f"{table}_driver"][0]
        assert spark.read.parquet(d).schema == want.schema
    assert [e["rows"] for e in store.lineage("progress_driver")] == [3]


def test_files_for_sizes_to_rows():
    assert files_for(0) == 1
    assert files_for(1) == 1
    assert files_for(ROWS_PER_FILE) == 1
    assert files_for(ROWS_PER_FILE + 1) == 2

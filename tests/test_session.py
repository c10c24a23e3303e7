"""session.get_spark: its memory default, the driver JVM's flags and the
warm worker daemon it installs (``worker_daemon``)."""

import importlib
import os
import sys
import zipfile
import zipimport

from anycrawl_spark import worker_daemon
from anycrawl_spark.session import (
    C2_THRESHOLD_DEFAULTS,
    C2_THRESHOLD_SCALE,
    default_cores,
    default_driver_memory,
)

GiB = 1 << 30


def test_default_driver_memory_is_half_of_physical():
    assert default_driver_memory(16 * GiB) == "8192m"
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(128 * GiB) == "65536m"


def test_default_driver_memory_floor():
    assert default_driver_memory(512 << 20) == "1024m"


def test_default_driver_memory_reads_this_machine():
    got = default_driver_memory()
    assert got.endswith("m") and int(got[:-1]) >= 1024


def test_default_cores_follow_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert default_cores() == 3


def test_default_cores_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert default_cores() == 6


def test_driver_jvm_runs_with_engine_flags(spark):
    """The live driver JVM has the raised C2 thresholds, keeps C2 (tier 4:
    C1-only doubles a large pass's CPU, docs/SCALE.md "JIT tier") and runs
    the throughput GC."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))

    def flag(name):
        return bean.getVMOption(name).getValue()

    assert C2_THRESHOLD_SCALE > 1
    for name, default in C2_THRESHOLD_DEFAULTS.items():
        assert int(flag(name)) == default * C2_THRESHOLD_SCALE, name
    assert flag("TieredStopAtLevel") == "4"
    assert flag("UseParallelGC") == "true"


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("wdpkg/__init__.py", "")
        for name in modules:
            zf.writestr(f"wdpkg/{name}.py", f"NAME = {name!r}\n")


def test_zip_archive_reread_only_when_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "wd.zip")
    _write_archive(archive, ["mod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("wdpkg", "wdpkg.mod_a", "wdpkg.mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("wdpkg.mod_a").NAME == "mod_a"
    # two importers over the archive: its root and the wdpkg package path
    importers = [f for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter) and f.archive == archive]
    assert len(importers) == 2

    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    importlib.invalidate_caches()
    assert len(reads) == 2  # unpatched: every importer re-parses the archive

    worker_daemon.install()
    reads.clear()
    importlib.invalidate_caches()  # primes: one read records the stamp
    assert len(reads) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1  # unchanged archive: never re-parsed

    _write_archive(archive, ["mod_a", "mod_b"])
    importlib.invalidate_caches()
    assert len(reads) == 2  # rewritten: re-read once, shared by both importers
    assert importlib.import_module("wdpkg.mod_b").NAME == "mod_b"
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_workers_fork_from_warm_daemon(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def worker_state(x):
        main = sys.modules["__main__"]
        got = ",".join([
            main.__spec__.name if main.__spec__ else "",
            str("pandas" in sys.modules),
            str("anycrawl_spark.operators.seen" in sys.modules),
        ])
        return x.map(lambda _: got)

    rows = spark.range(8, numPartitions=4).select(
        worker_state(F.col("id").cast("string")).alias("s")).collect()
    assert {r.s for r in rows} == {"anycrawl_spark.worker_daemon,True,True"}


def test_query_rows_unchanged_after_add_py_file(spark):
    from anycrawl_spark.functions.urls import canonicalize_url, canonicalize_url_udf
    from anycrawl_spark.queries import ensure_dist

    urls = ["HTTP://Example.COM:80/a/../b?x=1#frag", "https://b.org/%7Euser/",
            "http://c.net", None, "not a url"]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "id int, url string")

    def rows():
        return sorted(df.select("id", canonicalize_url_udf("url").alias("c")).collect())

    before = rows()
    ensure_dist(spark)
    after = rows()
    assert before == after
    assert [r.c for r in after] == [canonicalize_url(u) if u is not None else None for u in urls]

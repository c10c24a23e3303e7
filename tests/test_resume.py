"""Checkpoint/resume (north_rule: resumable from snapshot with per-partition
lineage): kill after round k, resume in a NEW engine, final state identical —
including the adversarial MID-ROUND kill (after the documents append, before
the seen merge commits)."""

import os
import shutil

import pytest

from anycrawl_spark import synth
from anycrawl_spark.crawl.params import CrawlParams
from anycrawl_spark.crawl import superstep
from anycrawl_spark.crawl.superstep import CrawlEngine


def test_resume_identical_final_state(spark, tmp_path):
    jobs = [dict(j, limit=30) for j in synth.seed_jobs(2)]
    robots = synth.robots_rules()
    params = CrawlParams(max_rounds=40)

    # full uninterrupted run
    wd_full = str(tmp_path / "full")
    full = CrawlEngine(spark, wd_full, jobs, robots, params, num_buckets=8)
    full.init_state()
    full.run()

    # interrupted run: stop after 3 rounds, resume with a fresh engine object
    wd_part = str(tmp_path / "part")
    part = CrawlEngine(spark, wd_part, jobs, robots, params, num_buckets=8)
    part.init_state()
    part.run(max_rounds=3)
    assert part.store.last_round == 2
    del part

    resumed = CrawlEngine(spark, wd_part, jobs, robots, params, num_buckets=8)
    next_round = resumed.resume()
    assert next_round == 3
    resumed.run()

    assert resumed.seen_sets() == full.seen_sets()
    assert resumed.discovery() == full.discovery()
    assert resumed.terminal_status() == full.terminal_status()
    assert resumed.done == full.done
    assert resumed.enqueued == full.enqueued

    shutil.rmtree(wd_full, ignore_errors=True)
    shutil.rmtree(wd_part, ignore_errors=True)


def test_resume_releases_loaded_shard_state(spark, tmp_path, monkeypatch):
    """resume() decides the shard regime on the bytes it loaded. Under the
    broadcast cap the driver map is the state and resume caches nothing;
    past it resume persists the loaded state, and once the next round's
    merge is checkpointed that copy is unread and leaves the CacheManager."""
    from pyspark.storagelevel import StorageLevel

    jobs = [dict(synth.seed_jobs(1)[0], limit=10)]
    robots = synth.robots_rules()
    wd = str(tmp_path / "wd")
    eng = CrawlEngine(spark, wd, jobs, robots, CrawlParams(), num_buckets=4)
    eng.init_state()
    eng.run(max_rounds=2)
    del eng

    loads = []
    real_load = CrawlEngine._load_shard_state

    def load(self):
        loads.append(real_load(self))
        return loads[-1]

    monkeypatch.setattr(CrawlEngine, "_load_shard_state", load)
    resumed = CrawlEngine(spark, wd, jobs, robots, CrawlParams(), num_buckets=4)
    resumed.resume()
    assert resumed._shard_bc is not None and resumed._shards is None
    assert loads[-1].storageLevel == StorageLevel.NONE

    # the same store past a cap below its shard bytes: the Spark regime
    monkeypatch.setattr(superstep, "BROADCAST_SHARDS_MAX_BYTES", 0)
    resumed = CrawlEngine(spark, wd, jobs, robots, CrawlParams(), num_buckets=4)
    nxt = resumed.resume()
    loaded = resumed._shards
    assert resumed._shard_bc is None and loaded is loads[-1]
    assert loaded.storageLevel != StorageLevel.NONE
    resumed.run_round(nxt)
    assert loaded.storageLevel == StorageLevel.NONE
    shutil.rmtree(wd, ignore_errors=True)


def test_shard_handoff_past_cap(spark, tmp_path, monkeypatch):
    """A broadcast cap above the probe's old seen-count estimate but below
    the shard map's real bytes: the engine hands its shard state to Spark
    once (before round 1 here) and probes by cogroup from then on, never
    re-collecting the state with broadcast_shards. The crawl matches the
    reference simulator, and a crawl stopped after the hand-off resumes to
    byte-identical tables, the bloom shard log included."""
    from anycrawl_spark.crawl.simulator import ReferenceSimulator
    from anycrawl_spark.operators import seen as seen_mod

    cap = 512  # seed state <= 2 x 128 B; round 0 dirties most of 8 buckets

    def no_collect(shards):
        raise AssertionError("shard state re-collected for a broadcast")

    monkeypatch.setattr(superstep, "BROADCAST_SHARDS_MAX_BYTES", cap)
    monkeypatch.setattr(seen_mod, "BROADCAST_SHARDS_MAX_BYTES", cap)
    monkeypatch.setattr(seen_mod, "broadcast_shards", no_collect)
    jobs = [dict(j, limit=12) for j in synth.seed_jobs(2)]
    robots = synth.robots_rules()
    params = CrawlParams(max_rounds=40)
    tables = ("documents", "frontier_log", "progress", "seen", "bloom_shards")

    full = CrawlEngine(spark, str(tmp_path / "full"), jobs, robots, params, num_buckets=8)
    full.init_state()
    full.run_round(0)
    # round 0 takes the state past the cap; round 1 runs in the Spark regime
    assert full._shard_bc is not None and full._shard_bc.nbytes > cap
    full.run_round(1)
    assert full._shard_bc is None and full._shards is not None
    # the seen-count estimate the probe once used stays inside the cap
    assert sum(full.enqueued.values()) * seen_mod.BITS_PER_KEY // 8 <= cap
    full.run()
    sim = ReferenceSimulator(jobs, robots, params)
    sim.run()
    assert full.seen_sets() == sim.seen_sets()
    assert full.discovery() == sim.discovery()
    assert full.terminal_status() == sim.terminal_status()

    wd = str(tmp_path / "part")
    part = CrawlEngine(spark, wd, jobs, robots, params, num_buckets=8)
    part.init_state()
    part.run(max_rounds=2)
    del part
    resumed = CrawlEngine(spark, wd, jobs, robots, params, num_buckets=8)
    assert resumed.resume() == 2
    assert resumed._shard_bc is None
    resumed.run()
    assert resumed.done == full.done and resumed.enqueued == full.enqueued
    for table in tables:
        assert _table_rows(resumed, table) == _table_rows(full, table), table


def test_shard_handoff_past_round_keys(spark, tmp_path, monkeypatch):
    """A round whose fresh-key bound passes DRIVER_MERGE_MAX_KEYS hands the
    shard state to Spark before it runs, however small the state, so its
    keys never reach the driver. The crawl matches the reference simulator
    and writes the bloom shard log of a crawl that merges every round on the
    driver; a crawl resumed under the bound merges on the driver again until
    a round passes it, and ends byte-identical."""
    from anycrawl_spark.crawl.simulator import ReferenceSimulator

    jobs = [dict(j, limit=12) for j in synth.seed_jobs(2)]
    robots = synth.robots_rules()
    params = CrawlParams(max_rounds=40)
    tables = ("documents", "frontier_log", "progress", "seen", "bloom_shards")

    driver_only = CrawlEngine(
        spark, str(tmp_path / "driver"), jobs, robots, params, num_buckets=8
    )
    driver_only.init_state()
    driver_only.run()
    assert driver_only._shard_bc is not None

    # round 0 fetches one seed page per job; round 1 more
    monkeypatch.setattr(
        superstep, "DRIVER_MERGE_MAX_KEYS", len(jobs) * synth.MAX_PAGE_HREFS
    )
    merged_on_driver = []
    real_merge = CrawlEngine._merge_on_driver

    def merge(self, dedup_hash, rnd):
        merged_on_driver.append(rnd)
        return real_merge(self, dedup_hash, rnd)

    monkeypatch.setattr(CrawlEngine, "_merge_on_driver", merge)
    full = CrawlEngine(spark, str(tmp_path / "full"), jobs, robots, params, num_buckets=8)
    full.init_state()
    full.run_round(0)
    assert full._shard_bc is not None
    assert full.round_fresh_bound() > superstep.DRIVER_MERGE_MAX_KEYS
    full.run()
    assert full._shard_bc is None
    assert merged_on_driver == [-1, 0]
    sim = ReferenceSimulator(jobs, robots, params)
    sim.run()
    assert full.seen_sets() == sim.seen_sets()
    assert full.discovery() == sim.discovery()
    assert full.terminal_status() == sim.terminal_status()
    for table in tables:
        assert _table_rows(full, table) == _table_rows(driver_only, table), table

    wd = str(tmp_path / "part")
    part = CrawlEngine(spark, wd, jobs, robots, params, num_buckets=8)
    part.init_state()
    part.run(max_rounds=2)
    del part
    resumed = CrawlEngine(spark, wd, jobs, robots, params, num_buckets=8)
    assert resumed.resume() == 2
    assert resumed._shard_bc is not None
    resumed.run()
    assert resumed._shard_bc is None
    for table in tables:
        assert _table_rows(resumed, table) == _table_rows(full, table), table


class _InjectedCrash(RuntimeError):
    pass


def _table_rows(eng, table):
    df = eng.store.read_appends(table)
    return sorted(df.toJSON().collect()) if df is not None else []


def test_mid_round_crash_replay_identical(spark, tmp_path):
    """Kill the engine BETWEEN stages of a round — after the documents append
    has landed on disk, before the seen merge / frontier write commit — then
    resume in a fresh engine. The round replay must be idempotent: the
    crashed attempt's orphan append dirs are invisible to readers (the
    manifest only lists committed dirs) and the replay MERGEs over them
    slot-for-slot, so the final state is identical to an uninterrupted run,
    with no duplicated or ghost (job_id, url_hash, round) rows."""
    jobs = [dict(j, limit=25) for j in synth.seed_jobs(2)]
    robots = synth.robots_rules()
    params = CrawlParams(max_rounds=40)

    wd_full = str(tmp_path / "full")
    full = CrawlEngine(spark, wd_full, jobs, robots, params, num_buckets=8)
    full.init_state()
    full.run()

    wd = str(tmp_path / "crash")
    eng = CrawlEngine(spark, wd, jobs, robots, params, num_buckets=8)
    eng.init_state()
    eng.run(max_rounds=2)
    assert eng.store.last_round == 1

    # fault injection: the 'seen' append dies AFTER documents (mid-round
    # append) and metrics/frontier_log have landed; frontier/progress run
    # concurrently in the same pool, so an arbitrary subset of the round's
    # final writes may also have completed — the dirtiest crash point.
    real_append = eng.store.append
    appended_before_crash = []

    def bomb(table, df, round_no=None):
        if table == "seen":
            raise _InjectedCrash("killed between docs append and seen merge")
        real_append(table, df, round_no)
        appended_before_crash.append(table)

    eng.store.append = bomb
    with pytest.raises(_InjectedCrash):
        eng.run_round(2)
    assert "documents" in appended_before_crash  # crash came after the append
    # the crashed round left orphan data on disk but no commit
    docs_dirs = os.listdir(os.path.join(wd, "documents"))
    committed = eng.store.manifest["history"][-1]["appends"].get("documents", [])
    assert len(docs_dirs) > len(committed)
    del eng

    # process death: fresh engine, manifest re-read from disk
    resumed = CrawlEngine(spark, wd, jobs, robots, params, num_buckets=8)
    assert resumed.resume() == 2  # the crashed round replays
    resumed.run()

    assert resumed.seen_sets() == full.seen_sets()
    assert resumed.discovery() == full.discovery()
    assert resumed.terminal_status() == full.terminal_status()
    assert resumed.done == full.done
    assert resumed.enqueued == full.enqueued
    # row-identical tables, not just summaries: documents (the crashed
    # append's slot was replayed over), terminal log, progress, seen
    for table in ("documents", "frontier_log", "progress", "seen"):
        assert _table_rows(resumed, table) == _table_rows(full, table), table

    shutil.rmtree(wd_full, ignore_errors=True)
    shutil.rmtree(wd, ignore_errors=True)


def test_documents_spans_shape(spark, tmp_path):
    """Documents table carries the input_hint spans payload with dense offsets."""
    jobs = synth.seed_jobs(1)
    params = CrawlParams(max_rounds=3)
    wd = str(tmp_path / "docs")
    eng = CrawlEngine(spark, wd, jobs, [], params, num_buckets=8)
    eng.init_state()
    eng.run(max_rounds=3)
    docs = eng.store.read_appends("documents")
    rows = docs.collect()
    assert rows
    for r in rows:
        kinds = {s.kind for s in r.spans}
        assert kinds <= {"text", "media"}
        assert [s.offset for s in r.spans] == list(range(len(r.spans)))
        for s in r.spans:
            if s.kind == "media":
                assert s.media_ref and s.media_ref.startswith("http")
            else:
                assert s.text
    # at least one doc interleaves text and media
    assert any({s.kind for s in r.spans} == {"text", "media"} for r in rows)


# ---------------------------------------------------------------------------
# Crash-replay MATRIX (VERDICT r4 #4): one injection point per stage boundary
# of run_round. Every point must replay to a byte-identical final state —
# the slot-reservation overwrite design makes the round idempotent no matter
# which subset of the round's writes landed before the crash.

_MATRIX_JOBS = None


@pytest.fixture(scope="module")
def crash_baseline(spark, tmp_path_factory):
    """One uninterrupted run shared by every matrix point."""
    jobs = [dict(j, limit=25) for j in synth.seed_jobs(2)]
    robots = synth.robots_rules()
    params = CrawlParams(max_rounds=40)
    wd = str(tmp_path_factory.mktemp("crash_full"))
    full = CrawlEngine(spark, wd, jobs, robots, params, num_buckets=8)
    full.init_state()
    full.run()
    tables = {
        t: _table_rows(full, t)
        for t in ("documents", "frontier_log", "progress", "seen", "bloom_shards")
    }
    return {
        "jobs": jobs, "robots": robots, "params": params,
        "seen_sets": full.seen_sets(), "discovery": full.discovery(),
        "terminal": full.terminal_status(), "done": dict(full.done),
        "enqueued": dict(full.enqueued), "tables": tables,
    }


# (name, kind, target): kind 'append' bombs store.append on that table,
# 'write' bombs store.write (a snapshot table), 'flush' bombs the
# manifest rename — i.e. a death DURING the snapshot commit itself, after
# every table write of the round has landed. The crashed round 2 also
# writes the full bloom shard snapshot (shard_refresh_rounds=3).
_CRASH_POINTS = [
    ("documents_append", "append", "documents"),   # round start, nothing landed
    ("seen_shard_delta", "append", "bloom_shards"),  # after the shard merge ran
    ("shard_state_write", "write", "bloom_shards_state"),  # shard snapshot dies
    ("frontier_write", "write", "frontier"),       # frontier snapshot dies
    ("before_progress", "append", "progress"),     # progress write dies
    ("during_commit", "flush", None),              # manifest rename dies
]
_MATRIX_REFRESH_ROUNDS = 3


@pytest.mark.parametrize("name,kind,target", _CRASH_POINTS, ids=[p[0] for p in _CRASH_POINTS])
def test_crash_replay_matrix(spark, tmp_path, crash_baseline, name, kind, target):
    _crash_replay(spark, str(tmp_path / name), crash_baseline, name, kind, target, True)


@pytest.mark.parametrize("name,kind,target", _CRASH_POINTS, ids=[p[0] for p in _CRASH_POINTS])
def test_crash_replay_matrix_spark_regime(
    spark, tmp_path, crash_baseline, monkeypatch, name, kind, target
):
    """The same crash points with the shard state handed to Spark before
    round 0 (a zero broadcast cap): the Spark merge, its checkpoint, log
    append and snapshot replay to the same tables, bloom_shards included."""
    monkeypatch.setattr(superstep, "BROADCAST_SHARDS_MAX_BYTES", 0)
    _crash_replay(spark, str(tmp_path / name), crash_baseline, name, kind, target, False)


def _crash_replay(spark, wd, b, name, kind, target, driver_shards):
    eng = CrawlEngine(
        spark, wd, b["jobs"], b["robots"], b["params"], num_buckets=8,
        shard_refresh_rounds=_MATRIX_REFRESH_ROUNDS,
    )
    eng.init_state()
    eng.run(max_rounds=2)
    assert eng.store.last_round == 1
    assert (eng._shard_bc is not None) == driver_shards

    if kind == "append":
        real = eng.store.append

        def bomb(table, df, round_no=None):
            if table == target:
                raise _InjectedCrash(f"killed at {name}")
            real(table, df, round_no)

        eng.store.append = bomb
    elif kind == "write":
        real_w = eng.store.write

        def bomb_w(table, df, partition_by=None):
            if table == target:
                raise _InjectedCrash(f"killed at {name}")
            real_w(table, df, partition_by)

        eng.store.write = bomb_w
    else:  # flush: every write of round 2 landed, the commit rename dies
        def bomb_f():
            raise _InjectedCrash(f"killed at {name}")

        eng.store._flush_manifest = bomb_f

    with pytest.raises(_InjectedCrash):
        eng.run_round(2)
    # whatever landed, the on-disk manifest still points at round 1
    del eng

    resumed = CrawlEngine(
        spark, wd, b["jobs"], b["robots"], b["params"], num_buckets=8,
        shard_refresh_rounds=_MATRIX_REFRESH_ROUNDS,
    )
    assert resumed.resume() == 2  # the crashed round replays
    assert (resumed._shard_bc is not None) == driver_shards
    resumed.run()

    assert resumed.seen_sets() == b["seen_sets"], name
    assert resumed.discovery() == b["discovery"], name
    assert resumed.terminal_status() == b["terminal"], name
    assert resumed.done == b["done"], name
    assert resumed.enqueued == b["enqueued"], name
    for table, rows in b["tables"].items():
        assert _table_rows(resumed, table) == rows, (name, table)
    shutil.rmtree(wd, ignore_errors=True)

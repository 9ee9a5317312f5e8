"""Regression tests for the round-2 correctness fixes (ADVICE.md):

1. commit rebase re-validates input files after losing the O_EXCL race;
2. compact resume wipes stale staging output (no duplicate promotion);
3. orphan GC never deletes promoted-but-uncommitted files of in-flight
   jobs, and prunes lineage checkpoints of committed jobs;
4. MERGE rejects duplicate source keys, supports conditional matched
   clauses and NOT MATCHED BY SOURCE;
5. NULL manifest stats are treated as unbounded (scan_pruned + MERGE
   pruning), and compaction recomputes them from its output file.
"""

from __future__ import annotations

import os
import shutil

import pytest

from fupi_spark import meta
from fupi_spark.compact import compact
from fupi_spark.expire import expire_snapshots, gc_orphans
from fupi_spark.merge import merge_into
from fupi_spark.synth import synth_clips

from .test_meta_compact import clip_multiset, make_table


def test_commit_rebase_revalidates_inputs_after_lost_race(spark, tmp_table_dir, monkeypatch):
    """Loser of the snapshot race whose inputs were removed by the winner
    must get CommitConflict — not silently commit stale rows (the
    round-1 rebase skipped validation by fast-forwarding base)."""
    t = make_table(spark, tmp_table_dir, n=60, parts=3)
    base = t.current_snapshot()  # v2 (append)
    victim = t.live_files()[0]

    # winner: removes `victim` from the live set (v3)
    t.commit("merge", meta._empty_manifest(t.stats_spec), removed_paths={victim})
    assert t.current_snapshot().snapshot_id == 3

    # loser planned against v2 with `victim` as an input; make its first
    # loop-top read see the stale v2 so the race surfaces only at O_EXCL
    real = meta.Table.current_snapshot
    calls = {"n": 0}

    def stale_once(self):
        calls["n"] += 1
        if calls["n"] == 1:
            return base
        return real(self)

    monkeypatch.setattr(meta.Table, "current_snapshot", stale_once)
    with pytest.raises(meta.CommitConflict):
        t.commit(
            "compact",
            meta._empty_manifest(t.stats_spec),
            removed_paths={victim},
            base=base,
            input_paths={victim},
        )
    monkeypatch.setattr(meta.Table, "current_snapshot", real)
    assert t.snapshot_ids() == [1, 2, 3]  # nothing stale was committed


def test_compact_resume_wipes_stale_staging(spark, tmp_table_dir):
    """A crash between the wave write and the promote loop leaves staged
    part files; the re-run must not promote them alongside its own
    output (round-1 used mode('append') over dirty staging)."""
    t = make_table(spark, tmp_table_dir, n=120, parts=6)
    before = clip_multiset(t.scan())

    job = "c-crashy"
    staging = t.stage_dir(job)
    os.makedirs(f"{staging}/_bin=0", exist_ok=True)
    # stale leftovers: a full copy of a real data file = duplicate rows
    a_file = t.live_files()[0]
    shutil.copy(f"{t.root}/{a_file}", f"{staging}/_bin=0/part-stale-attempt.parquet")

    snap = compact(t, target_bytes=1 << 30, job_id=job)
    assert snap is not None
    assert t.scan().count() == 120
    assert clip_multiset(t.scan()) == before


def test_gc_protects_inflight_jobs_and_prunes_committed_lineage(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=80, parts=4)

    # simulate a writer that promoted a file but has not committed yet
    t.mark_job_active("inflight")
    a_file = t.live_files()[0]
    promoted = f"{t.data_dir}/inflight-00000.parquet"
    shutil.copy(f"{t.root}/{a_file}", promoted)

    deleted = gc_orphans(t)
    assert "data/inflight-00000.parquet" not in deleted
    assert os.path.exists(promoted)

    # the job is abandoned (lineage dir removed) → its output is orphan
    shutil.rmtree(f"{t.root}/_lineage/inflight")
    deleted = gc_orphans(t)
    assert "data/inflight-00000.parquet" in deleted
    assert not os.path.exists(promoted)

    # committed jobs' lineage checkpoints are pruned by expiry
    compact(t, target_bytes=1 << 30, job_id="c-done")
    assert os.path.isdir(f"{t.root}/_lineage/c-done")
    report = expire_snapshots(t, retain_last=1)
    assert "c-done" in report["pruned_lineage_jobs"]
    assert not os.path.isdir(f"{t.root}/_lineage/c-done")


def test_gc_age_cutoff_protects_recent_files(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=40, parts=2)
    stray = f"{t.data_dir}/no-lineage-job-00000.parquet"
    shutil.copy(f"{t.root}/{t.live_files()[0]}", stray)
    # freshly written → protected by the age gate
    assert gc_orphans(t, older_than_s=3600) == []
    assert os.path.exists(stray)
    # age gate off → collected
    assert gc_orphans(t) == ["data/no-lineage-job-00000.parquet"]


def test_merge_duplicate_source_keys_rejected(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=50, parts=2)
    src = t.scan().limit(10)
    dup = src.unionByName(src.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        merge_into(t, dup)


def test_merge_matched_condition(spark, tmp_table_dir):
    from pyspark.sql import functions as F

    t = make_table(spark, tmp_table_dir, n=100, parts=5)
    src = (
        t.scan()
        .orderBy("clip_id")
        .limit(30)
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
        .cache()
    )
    src.count()
    expected = {
        r.clip_id
        for r in src.filter(F.col("dur_ms") % 2 == 0).select("clip_id").collect()
    }
    # only even-duration targets take the update; the rest carry forward
    merge_into(t, src, matched_condition="dur_ms % 2 = 0", when_not_matched="ignore")
    updated = {
        r.clip_id
        for r in t.scan().filter(F.col("transcript").like("% v2")).select("clip_id").collect()
    }
    assert updated == expected
    assert t.scan().count() == 100


def test_merge_not_matched_by_source_delete(spark, tmp_table_dir):
    from pyspark.sql import functions as F

    t = make_table(spark, tmp_table_dir, n=60, parts=3)
    keep = (
        t.scan()
        .orderBy("clip_id")
        .limit(15)
        .withColumn("transcript", F.lit("kept"))
        .cache()
    )
    keep.count()
    keep_ids = {r.clip_id for r in keep.select("clip_id").collect()}
    merge_into(t, keep, not_matched_by_source="delete")
    rows = t.scan().select("clip_id", "transcript").collect()
    assert {r.clip_id for r in rows} == keep_ids
    assert all(r.transcript == "kept" for r in rows)


def test_merge_insert_ignore(spark, tmp_table_dir):
    from pyspark.sql import functions as F

    t = make_table(spark, tmp_table_dir, n=40, parts=2)
    ins = synth_clips(spark, 10, seed=5, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("clip_zz_"), F.col("clip_id"))
    )
    merge_into(t, ins, when_not_matched="ignore")
    assert t.scan().count() == 40  # inserts suppressed


def test_null_stats_are_unbounded(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=60, parts=3)
    # blank one file's dur_ms stats (simulates stats column absent at
    # write time)
    entries = t.manifest_entries().to_pylist()
    entries[0]["min_dur_ms"] = None
    entries[0]["max_dur_ms"] = None
    t.commit(
        "rewrite-stats",
        meta.entries_to_arrow(entries, t.stats_spec),
        removed_paths=set(t.live_files()),
    )

    # scan_pruned must keep the NULL-stats file, not raise TypeError
    df, files_read, files_total = t.scan_pruned("dur_ms", 0, 1)
    assert files_total == 3
    assert files_read >= 1  # the unbounded file is always read
    df.count()

    # merge's pruning treats the NULL-range file as always-touched
    from fupi_spark.merge import plan_touched_files

    null_file = t.manifest_entries().to_pylist()[0]["file_path"]
    src = t.scan().limit(5)
    touched = plan_touched_files(t, src, t.current_snapshot())
    assert null_file in {e["file_path"] for e in touched}

    # compaction over a NULL-stats input reads its output's stats from
    # the file as written: the range is known again
    snap = compact(t, target_bytes=1 << 30, job_id="c-null")
    assert snap is not None
    out = t.manifest_entries().to_pylist()
    assert len(out) == 1
    durs = [r.dur_ms for r in t.scan().select("dur_ms").collect()]
    assert (out[0]["min_dur_ms"], out[0]["max_dur_ms"]) == (min(durs), max(durs))
    assert out[0]["min_clip_id"] is not None
    assert t.scan().count() == 60


def test_rollback_restores_previous_state(spark, tmp_table_dir):
    from pyspark.sql import functions as F

    t = make_table(spark, tmp_table_dir, n=80, parts=4)
    before = clip_multiset(t.scan())
    target = t.current_snapshot().snapshot_id

    upd = (
        t.scan()
        .orderBy("clip_id")
        .limit(10)
        .withColumn("transcript", F.lit("mutated"))
        .cache()
    )
    upd.count()
    merge_into(t, upd, job_id="m-bad")
    assert clip_multiset(t.scan()) != before

    snap = meta.rollback(t, target)
    assert snap.operation == "rollback"
    assert clip_multiset(t.scan()) == before
    # history intact: the merge snapshot is still time-travelable
    ops = [s["operation"] for s in t.lineage_chain()]
    assert ops == ["create", "append", "merge", "rollback"]


def test_expire_cleans_committed_jobs_stale_staging(spark, tmp_table_dir):
    import os

    t = make_table(spark, tmp_table_dir, n=40, parts=2)
    # committed job "seed" left stale staging (simulated crash leftovers)
    stale = f"{t.root}/_staging/seed/part-junk.parquet"
    os.makedirs(os.path.dirname(stale), exist_ok=True)
    with open(stale, "wb") as f:
        f.write(b"junk")
    # in-flight job staging must be preserved
    live = f"{t.root}/_staging/inflight-job/part-live.parquet"
    os.makedirs(os.path.dirname(live), exist_ok=True)
    with open(live, "wb") as f:
        f.write(b"live")
    t.mark_job_active("inflight-job")

    expire_snapshots(t, retain_last=2)
    assert not os.path.exists(stale)
    assert os.path.exists(live)

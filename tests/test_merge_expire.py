"""MERGE INTO (CoW) vs pandas oracle, snapshot isolation under
concurrent MERGE + compaction, snapshot expiry + orphan GC safety."""

from __future__ import annotations

import os

import pytest

from fupi_spark import meta, refimpl
from fupi_spark.compact import compact
from fupi_spark.expire import expire_snapshots, gc_orphans
from fupi_spark.merge import merge_into, plan_touched_files
from fupi_spark.synth import synth_clips, synth_clips_pandas

from .test_meta_compact import clip_multiset, make_table


def _source(spark, table, n_updates=30, n_inserts=15):
    """Update rows reuse existing clip_ids with modified columns; insert
    rows use ids beyond every file range."""
    from pyspark.sql import functions as F

    upd = (
        table.scan()
        .orderBy("clip_id")
        .limit(n_updates)
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" updated")))
        .withColumn("sr_hz", F.lit(16000))
    )
    ins = synth_clips(spark, n_inserts, seed=7, dur_range_ms=(50, 120))
    ins = ins.withColumn("clip_id", F.concat(F.lit("clip_zz_"), F.col("clip_id")))
    return upd.unionByName(ins.select(*upd.columns))


def test_merge_upsert_matches_pandas_oracle(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=300, parts=15)
    before_pdf = (
        t.scan().select("clip_id", "sr_hz", "dur_ms", "codec", "transcript").toPandas()
    )
    src = _source(spark, t).cache()
    src.count()  # materialize before the table mutates
    src_pdf = src.select("clip_id", "sr_hz", "dur_ms", "codec", "transcript").toPandas()

    n_files_before = len(t.live_files())
    touched = plan_touched_files(t, src, t.current_snapshot())
    snap = merge_into(t, src, job_id="m1")
    assert snap.operation == "merge"

    after = (
        t.scan()
        .select("clip_id", "sr_hz", "dur_ms", "codec", "transcript")
        .toPandas()
        .sort_values("clip_id")
        .reset_index(drop=True)
    )
    expected = refimpl.merge_upsert(before_pdf, src_pdf)
    import pandas as pd

    pd.testing.assert_frame_equal(
        after[["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]].astype(
            {"sr_hz": "int64", "dur_ms": "int64"}
        ),
        expected[["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]].astype(
            {"sr_hz": "int64", "dur_ms": "int64"}
        ),
    )
    # copy-on-write: only touched files were replaced
    assert 0 < len(touched) <= n_files_before
    untouched = set(t.live_files()) & {
        e["file_path"] for e in t.manifest_entries(t.snapshot(2)).to_pylist()
    }
    assert len(untouched) == n_files_before - len(touched)


def test_merge_delete_on_match(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=200, parts=10)
    victims = t.scan().select("clip_id").orderBy("clip_id").limit(20)
    src = t.scan().join(victims, "clip_id", "left_semi")
    before_ids = {r.clip_id for r in t.scan().select("clip_id").collect()}
    victim_ids = {r.clip_id for r in victims.collect()}

    merge_into(t, src, when_matched="delete")
    after_ids = {r.clip_id for r in t.scan().select("clip_id").collect()}
    assert after_ids == before_ids - victim_ids


def test_merge_insert_only_touches_no_files(spark, tmp_table_dir):
    from pyspark.sql import functions as F

    t = make_table(spark, tmp_table_dir, n=150, parts=8)
    files_before = set(t.live_files())
    ins = synth_clips(spark, 10, seed=5, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("clip_zz_"), F.col("clip_id"))
    )
    assert plan_touched_files(t, ins, t.current_snapshot()) == []
    merge_into(t, ins)
    assert files_before < set(t.live_files())  # strictly additive
    assert t.scan().count() == 160


def test_concurrent_merge_and_compact_disjoint_both_commit(spark, tmp_table_dir, monkeypatch):
    """Insert-only MERGE commits while compaction is mid-flight: the
    compact commit must rebase on top of it; lineage shows both."""
    from pyspark.sql import functions as F

    t = make_table(spark, tmp_table_dir, n=200, parts=20)
    real_commit = meta.Table.commit
    state = {"merged": False}

    def racing_commit(self, *a, **kw):
        if not state["merged"] and kw.get("summary", {}).get("job_id", "").startswith("c-"):
            state["merged"] = True
            monkeypatch.setattr(meta.Table, "commit", real_commit)
            ins = synth_clips(spark, 12, seed=3, dur_range_ms=(50, 90)).withColumn(
                "clip_id", F.concat(F.lit("clip_zz_"), F.col("clip_id"))
            )
            merge_into(t, ins, job_id="m-race")
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(meta.Table, "commit", racing_commit)
    snap = compact(t, target_bytes=1 << 30, job_id="c-1")
    assert snap is not None

    ops = [s["operation"] for s in t.lineage_chain()]
    assert ops == ["create", "append", "merge", "compact"]
    assert t.scan().count() == 212  # both effects present
    ids = {r.clip_id for r in t.scan().select("clip_id").collect()}
    assert sum(1 for i in ids if i.startswith("clip_zz_")) == 12


def test_concurrent_merge_conflicts_with_compact_on_same_files(spark, tmp_table_dir, monkeypatch):
    """An update-MERGE that lands first invalidates the compaction's
    inputs → CommitConflict; a re-run then succeeds."""
    t = make_table(spark, tmp_table_dir, n=200, parts=20)
    upd = t.scan().limit(40).cache()
    upd.count()
    real_commit = meta.Table.commit
    state = {"merged": False}

    def racing_commit(self, *a, **kw):
        if not state["merged"] and kw.get("summary", {}).get("job_id", "").startswith("c-"):
            state["merged"] = True
            monkeypatch.setattr(meta.Table, "commit", real_commit)
            merge_into(t, upd, job_id="m-race2")
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(meta.Table, "commit", racing_commit)
    with pytest.raises(meta.CommitConflict):
        compact(t, target_bytes=1 << 30, job_id="c-2")

    # loser retries against the new snapshot and succeeds
    snap = compact(t, target_bytes=1 << 30, job_id="c-3")
    assert snap is not None
    ops = [s["operation"] for s in t.lineage_chain()]
    assert ops == ["create", "append", "merge", "compact"]
    assert t.scan().count() == 200


def test_expire_and_orphan_gc(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=200, parts=20)
    before = clip_multiset(t.scan())
    compact(t, target_bytes=1 << 30)
    old_files = set(os.listdir(t.data_dir))

    report = expire_snapshots(t, retain_last=1)
    assert report["expired_snapshots"] == [1, 2]
    # all retained-referenced files still exist (GC safety)
    for p in t.live_files():
        assert os.path.exists(f"{t.root}/{p}")
    # pre-compact small files are gone
    assert {f"data/{f}" for f in old_files} - {
        f"data/{f}" for f in os.listdir(t.data_dir)
    }, "expected some orphaned pre-compact files to be deleted"
    assert clip_multiset(t.scan()) == before  # table content intact


def test_gc_collects_crashed_job_output_only(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=100, parts=5)
    stray = f"{t.data_dir}/crashed-job-00000.parquet"
    with open(stray, "wb") as f:
        f.write(b"not really parquet")
    deleted = gc_orphans(t)
    assert deleted == ["data/crashed-job-00000.parquet"]
    assert not os.path.exists(stray)
    # every snapshot still fully readable
    for sid in t.snapshot_ids():
        for p in t.live_files(t.snapshot(sid)):
            assert os.path.exists(f"{t.root}/{p}")


def test_gc_never_deletes_referenced_property(spark, tmp_table_dir):
    """Property sweep: after any op sequence + expiry, referenced files
    all exist (FIXTURES.md §4.6)."""
    t = make_table(spark, tmp_table_dir, n=150, parts=10)
    compact(t, target_bytes=1 << 18)
    from fupi_spark.cluster import cluster

    cluster(t, curve="zorder", target_bytes=1 << 18)
    expire_snapshots(t, retain_last=2)
    for sid in t.snapshot_ids():
        for p in t.live_files(t.snapshot(sid)):
            assert os.path.exists(f"{t.root}/{p}"), f"referenced file missing: {p}"
    assert t.scan().count() == 150


def test_plan_touched_driver_path_matches_distributed(spark, tmp_table_dir, monkeypatch):
    """The small-source driver-side prune (meta.stats_keep_mask, no
    Spark job) and the distributed equi-join — bins from the codegen
    fold, and from the searchsorted UDF past BUCKET_FOLD_MAX (forced
    by a cap of 0) — touch identical file sets on a linear-clustered
    table, where a key set touches fewer files than exist: one key, a
    contiguous key range, keys scattered over the table, and the
    first and last key."""
    import importlib

    from fupi_spark import meta
    from fupi_spark.merge import plan_touched_files
    from fupi_spark.synth import synth_clips

    C = importlib.import_module("fupi_spark.cluster")  # the package exports cluster()
    t = meta.create_table(spark, tmp_table_dir)
    meta.append(t, synth_clips(spark, 300, dur_range_ms=(50, 80)), job_id="seed", parts=12)
    C.cluster(t, curve="linear", target_bytes=1 << 16)
    base = t.current_snapshot()
    n_files = len(t.data_entries(base))
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    key_sets = [ids[150:151], ids[40:90], ids[::37], [ids[0], ids[-1]]]
    touched = []
    for keys in key_sets:
        src = spark.createDataFrame([(k,) for k in keys], "clip_id string")
        sides = [plan_touched_files(t, src, base, n_keys=len(keys))]
        sides.append(plan_touched_files(t, src, base, n_keys=None))
        with monkeypatch.context() as m:
            m.setattr(C, "BUCKET_FOLD_MAX", 0)
            sides.append(plan_touched_files(t, src, base, n_keys=None))
        paths = [[e["file_path"] for e in side] for side in sides]
        assert paths[0] == paths[1] == paths[2]
        touched.append(len(paths[0]))
    assert n_files > 8 and all(0 < n < n_files for n in touched), (n_files, touched)


def test_committed_job_resubmission_is_noop(spark, tmp_path):
    """Retrying a job whose commit already landed (orchestrator timeout
    pattern) must return the SAME snapshot and create no new one — for
    every op on the rewrite skeleton: append, compaction (which returns
    None on a re-submission), cluster, merge, delete, MOR delete,
    delete consolidation, payload transform and incremental cluster."""
    from pyspark.sql import functions as F

    from fupi_spark.cluster import cluster, cluster_incremental
    from fupi_spark.merge import consolidate_deletes, delete_keys_mor, delete_where
    from fupi_spark.transform import transform_payloads

    # a re-submitted append adds no rows and no snapshot
    a = meta.create_table(spark, str(tmp_path / "a"))
    batch = synth_clips(spark, 50, seed=4, dur_range_ms=(50, 90)).cache()
    s_a = meta.append(a, batch, job_id="job-A")
    assert meta.append(a, batch, job_id="job-A").snapshot_id == s_a.snapshot_id
    assert a.scan().count() == 50
    assert a.snapshot_ids() == [1, 2]

    t = make_table(spark, str(tmp_path / "t"), n=200, parts=6)
    assert compact(t, target_bytes=1 << 30, job_id="j-c") is not None
    assert compact(t, target_bytes=1 << 30, job_id="j-c") is None

    s1 = cluster(t, curve="linear", target_bytes=1 << 18, job_id="j-cl")
    assert cluster(t, curve="linear", target_bytes=1 << 18, job_id="j-cl").snapshot_id == s1.snapshot_id

    upd = (
        t.scan().orderBy("clip_id").limit(5)
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
        .cache()
    )
    upd.count()
    s2 = merge_into(t, upd, job_id="j-m")
    assert merge_into(t, upd, job_id="j-m").snapshot_id == s2.snapshot_id

    s3 = delete_where(t, "dur_ms % 9 = 0", job_id="j-d")
    assert delete_where(t, "dur_ms % 9 = 0", job_id="j-d").snapshot_id == s3.snapshot_id

    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    keys = spark.createDataFrame([(k,) for k in ids[:3]], "clip_id string")
    s4 = delete_keys_mor(t, keys, job_id="j-dm")
    assert delete_keys_mor(t, keys, job_id="j-dm").snapshot_id == s4.snapshot_id
    delete_keys_mor(t, spark.createDataFrame([(ids[5],)], "clip_id string"), job_id="j-dm2")
    s5 = consolidate_deletes(t, job_id="j-cd")
    assert consolidate_deletes(t, job_id="j-cd").snapshot_id == s5.snapshot_id

    def shout(df):
        return df.withColumn("transcript", F.upper("transcript"))

    s6 = transform_payloads(t, shout, job_id="j-t")
    assert transform_payloads(t, shout, job_id="j-t").snapshot_id == s6.snapshot_id
    assert t.scan().count() == len(ids) - 4

    extra = synth_clips(spark, 40, seed=6, dur_range_ms=(50, 90)).withColumn(
        "clip_id", F.concat(F.lit("zz_"), F.col("clip_id"))
    )
    meta.append(t, extra, job_id="churn")
    s7 = cluster_incremental(t, curve="linear", target_bytes=1 << 18, job_id="j-inc")
    assert cluster_incremental(
        t, curve="linear", target_bytes=1 << 18, job_id="j-inc"
    ).snapshot_id == s7.snapshot_id

    # exactly: create + seed-append + compact + cluster + merge + delete
    # + two delete-mor + consolidate + transform + churn-append +
    # inc-cluster — and nothing from the re-submissions
    assert [s["operation"] for s in t.lineage_chain()] == [
        "create", "append", "compact", "cluster", "merge", "delete", "delete-mor",
        "delete-mor", "consolidate-deletes", "transform", "append", "cluster",
    ]


@pytest.mark.parametrize("mor_delete", [False, True])
def test_merge_reads_base_manifest_once(spark, tmp_table_dir, monkeypatch, mor_delete):
    """A 10-key MERGE loads its base snapshot's manifest file once, with
    or without an outstanding MOR delete: planning, the delete-aware
    read and the commit share one load (manifests are immutable)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fupi_spark.merge import delete_keys_mor

    t = make_table(spark, tmp_table_dir, n=120, parts=6)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    if mor_delete:
        delete_keys_mor(t, spark.createDataFrame([(k,) for k in ids[-3:]], "clip_id string"))
    upd = (
        t.scan().filter(F.col("clip_id").isin(ids[:10]))
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
        .cache()
    )
    upd.count()
    cold = meta.load_table(spark, t.root)  # a handle that has loaded no manifest
    base_manifest = cold.current_snapshot().manifests[0]
    reads = []
    real_read = pq.read_table

    def counting(source, *a, **kw):
        reads.append(str(source))
        return real_read(source, *a, **kw)

    monkeypatch.setattr(pq, "read_table", counting)
    merge_into(cold, upd, job_id="m-10")
    assert sum(r.endswith(base_manifest) for r in reads) == 1
    assert cold.scan().filter(F.col("transcript").like("% v2")).count() == 10

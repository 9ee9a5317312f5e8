"""Merge-on-read equality deletes (delete files + sequence numbers):
visibility, re-insert semantics, and the interplay with every rewrite
op (compaction applicability grouping, cluster materialization,
incremental cluster, MERGE, GC)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from fupi_spark import meta
from fupi_spark.merge import delete_keys_mor
from fupi_spark.synth import synth_clips

from .test_meta_compact import make_table


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "clip_id string")


def test_mor_delete_reinsert_and_gc(spark, tmp_path):
    """Deleted keys disappear with NO data file rewritten; re-inserting
    a deleted key (higher sequence) is visible while old copies stay
    dead; the delete file is GC-protected while referenced."""
    from fupi_spark.expire import expire_snapshots

    t = make_table(spark, str(tmp_path / "t"), n=200, parts=4)
    data_before = set(e["file_path"] for e in t.data_entries())
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    victims = ids[:30]

    snap = delete_keys_mor(t, _keys_df(spark, victims), job_id="dm")
    assert snap.operation == "delete-mor"
    assert snap.summary["deleted_keys"] == 30
    # zero write amplification: every data file untouched
    assert set(e["file_path"] for e in t.data_entries()) == data_before
    assert t.scan().count() == 170
    assert t.scan().filter(F.col("clip_id").isin(victims)).count() == 0
    # idempotent re-submission
    assert delete_keys_mor(t, _keys_df(spark, victims), job_id="dm").snapshot_id == snap.snapshot_id

    # re-insert 5 victims: new sequence -> visible again
    reins = t.scan(snapshot_id=2).filter(F.col("clip_id").isin(victims[:5]))
    meta.append(t, reins, job_id="re")
    assert t.scan().count() == 175
    assert t.scan().filter(F.col("clip_id").isin(victims[:5])).count() == 5

    # the delete file is reachable -> survives GC
    report = expire_snapshots(t, retain_last=1)
    assert len(t.delete_entries()) == 1
    del_path = t.delete_entries()[0]["file_path"]
    assert os.path.exists(f"{t.root}/{del_path}")
    assert t.scan().count() == 175


def test_mor_compact_applicability_grouping(spark, tmp_path):
    """Compaction never packs files with different delete-applicability
    sets: batch A (pre-delete) and batch B (post-delete, re-inserting
    victim keys) stay in separate bins, so A's victims remain dead and
    B's re-inserts remain alive through the byte-stream rewrite."""
    from fupi_spark.compact import compact

    t = make_table(spark, str(tmp_path / "t"), n=200, parts=4)  # batch A
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    victims = ids[:40]
    delete_keys_mor(t, _keys_df(spark, victims), job_id="dm")
    # batch B re-inserts 10 victims AFTER the delete (higher sequence)
    reins = t.scan(snapshot_id=2).filter(F.col("clip_id").isin(victims[:10]))
    meta.append(t, reins, job_id="re", parts=2)
    before = t.scan().count()
    assert before == 170

    snap = compact(t, target_bytes=1 << 30, job_id="c1")
    assert snap is not None
    # A-files and B-files cannot share a bin -> at least 2 outputs
    assert len(t.data_entries()) >= 2
    assert t.scan().count() == before
    assert t.scan().filter(F.col("clip_id").isin(victims[10:])).count() == 0
    assert t.scan().filter(F.col("clip_id").isin(victims[:10])).count() == 10
    # outputs inherited input sequences (not the compact snapshot's)
    assert all(
        (e.get("sequence") or 0) < snap.snapshot_id for e in t.data_entries()
    )


def test_mor_cluster_materializes_deletes(spark, tmp_path):
    """A full cluster() rewrite reads through the delete filter and
    removes the delete files: post-cluster the table has zero
    outstanding deletes and identical content."""
    import importlib

    C = importlib.import_module("fupi_spark.cluster")

    t = make_table(spark, str(tmp_path / "t"), n=300, parts=6)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    victims = ids[100:150]
    delete_keys_mor(t, _keys_df(spark, victims), job_id="dm")
    expected = sorted(set(ids) - set(victims))

    snap = C.cluster(t, curve="linear", target_bytes=1 << 18, job_id="cl")
    assert snap.summary["deletes_materialized"] == 1
    assert t.delete_entries() == []
    got = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    assert got == expected


def test_mor_incremental_cluster_and_merge(spark, tmp_path):
    """Incremental cluster rewrites only churn (deletes applied to the
    rewritten files; the delete file stays outstanding for the bulk);
    MERGE's touched-file read also applies deletes."""
    import importlib

    C = importlib.import_module("fupi_spark.cluster")
    from fupi_spark.merge import merge_into

    t = make_table(spark, str(tmp_path / "t"), n=300, parts=6)
    C.cluster(t, curve="linear", target_bytes=1 << 18, job_id="full")
    bulk = set(t.live_files())

    churn = synth_clips(spark, 80, seed=7, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("zz_"), F.col("clip_id"))
    )
    meta.append(t, churn, job_id="churn", parts=2)
    churn_ids = sorted(
        r.clip_id
        for r in t.scan().filter(F.col("clip_id").startswith("zz_")).select("clip_id").collect()
    )
    delete_keys_mor(t, _keys_df(spark, churn_ids[:20]), job_id="dmc")

    snap = C.cluster_incremental(t, curve="linear", target_bytes=1 << 18, job_id="inc")
    assert snap.summary["mode"] == "incremental"
    assert bulk <= set(t.live_files())  # bulk untouched
    assert len(t.delete_entries()) == 1  # still outstanding (for the bulk)
    assert t.scan().count() == 300 + 80 - 20
    assert t.scan().filter(F.col("clip_id").isin(churn_ids[:20])).count() == 0

    # MERGE on surviving churn rows: touched-file reads apply deletes
    upd = (
        t.scan()
        .filter(F.col("clip_id").isin(churn_ids[20:25]))
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
        .cache()
    )
    upd.count()
    m = merge_into(t, upd, job_id="m1")
    assert m.summary["matched_rows"] == 5
    assert t.scan().count() == 360
    assert t.scan().filter(F.col("transcript").endswith(" v2")).count() == 5
    assert t.scan().filter(F.col("clip_id").isin(churn_ids[:20])).count() == 0


def test_mor_lifecycle_on_object_store_without_rename(spark, tmp_path, monkeypatch):
    """The whole MOR lifecycle (delete file write → sequence-aware scan
    → cluster materialization) runs on the S3-semantics storage with
    os.rename forbidden — nothing in the path assumes POSIX rename."""
    from fupi_spark.storage import ObjectStoreStorage

    root = str(tmp_path / "obj")
    st = ObjectStoreStorage(root)
    t = meta.create_table(spark, root, storage=st)
    meta.append(t, synth_clips(spark, 120, dur_range_ms=(50, 90), parts=3), job_id="s")
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())

    real_rename = os.rename

    def forbidden(*a, **kw):
        raise AssertionError(f"os.rename called on object-store table: {a}")

    try:
        monkeypatch.setattr(os, "rename", forbidden)
        delete_keys_mor(t, _keys_df(spark, ids[:25]), job_id="dm")
        assert t.scan().count() == 95
        import importlib

        C = importlib.import_module("fupi_spark.cluster")
        C.cluster(t, curve="linear", target_bytes=1 << 18, job_id="cl")
    finally:
        monkeypatch.setattr(os, "rename", real_rename)
    assert t.delete_entries() == []
    assert t.scan().count() == 95
    assert t.scan().filter(F.col("clip_id").isin(ids[:25])).count() == 0


def test_mor_scan_plan_stays_map_side(spark, tmp_path):
    """Deletes under DELETE_DRIVER_MAX_KEYS are planned on the driver:
    the scan is a key filter over the file read, with no join, no
    exchange and no ``_metadata`` column."""
    t = make_table(spark, str(tmp_path / "t"), n=150, parts=3)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    delete_keys_mor(t, _keys_df(spark, ids[:20]), job_id="dm")
    plan = t.scan()._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert "_metadata" not in plan
    assert t.scan().count() == 130


def test_mor_delete_racing_compaction_stays_applied(spark, tmp_path, monkeypatch):
    """A delete-mor that commits BETWEEN compaction's write and its
    commit must still apply to the compacted output: compaction rebases
    (no input overlap) and its outputs inherit the minimum input
    sequence, which is strictly below the concurrent delete's — so the
    deleted keys stay dead in the merged file."""
    from fupi_spark.compact import compact

    t = make_table(spark, str(tmp_path / "t"), n=200, parts=4)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    victims = ids[:25]
    t2 = meta.load_table(spark, t.root)  # the concurrent writer's handle

    orig_commit = meta.Table.commit
    state = {"injected": False}

    def inject(self, operation, *a, **k):
        if operation == "compact" and not state["injected"]:
            state["injected"] = True
            delete_keys_mor(t2, _keys_df(spark, victims), job_id="race-dm")
        return orig_commit(self, operation, *a, **k)

    monkeypatch.setattr(meta.Table, "commit", inject)
    snap = compact(t, target_bytes=1 << 30, job_id="race-c")
    monkeypatch.setattr(meta.Table, "commit", orig_commit)
    assert state["injected"] and snap is not None

    # the compact rebased over the delete; the delete still applies
    del_seq = t.delete_entries()[0]["sequence"]
    assert all((e.get("sequence") or 0) <= del_seq for e in t.data_entries())
    assert t.scan().count() == 175
    assert t.scan().filter(F.col("clip_id").isin(victims)).count() == 0


def test_mor_scan_plan_one_read_per_delete_group(spark, tmp_path):
    """N outstanding same-key delete files add no parquet scan to the
    plan: their keys are read on the driver, so the plan scans the data
    files alone, as it does with no delete outstanding."""
    t = make_table(spark, str(tmp_path / "t"), n=150, parts=3)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    n_plain = t.scan()._jdf.queryExecution().executedPlan().toString().count("Scan parquet")
    for i in range(3):
        delete_keys_mor(
            t, _keys_df(spark, ids[i * 10 : (i + 1) * 10]), job_id=f"d{i}"
        )
    assert len(t.delete_entries()) == 3
    plan = t.scan()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == n_plain == 1
    assert t.scan().count() == 120


def _rows(t):
    return sorted((tuple(r) for r in t.scan().drop("bytes").collect()), key=repr)


def test_driver_planned_deletes_match_the_anti_join(spark, tmp_path, monkeypatch):
    """The driver-planned key filter and the anti-join (the path above
    DELETE_DRIVER_MAX_KEYS, forced by a cap of 0) give identical row
    multisets through a plain delete, several delete sequences with a
    re-insert, NULL keys in data and delete files, a composite key and
    a consolidated keyed file, on a table with a renamed non-key
    column."""
    from fupi_spark.evolve import rename_column
    from fupi_spark.merge import consolidate_deletes

    t = make_table(spark, str(tmp_path / "t"), n=150, parts=3)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    nulls = synth_clips(spark, 5, seed=9, dur_range_ms=(50, 90)).withColumn(
        "clip_id", F.lit(None).cast("string")
    )
    meta.append(t, nulls, job_id="nulls", parts=1)
    rename_column(t, "transcript", "text")

    def same_on_both_paths():
        assert "Join" not in t.scan()._jdf.queryExecution().executedPlan().toString()
        driver = _rows(t)
        with monkeypatch.context() as m:
            m.setattr(meta.Table, "DELETE_DRIVER_MAX_KEYS", 0)
            assert "Join" in t.scan()._jdf.queryExecution().executedPlan().toString()
            assert _rows(t) == driver
        return driver

    delete_keys_mor(t, _keys_df(spark, ids[:10]), job_id="plain")
    assert len(same_on_both_paths()) == 145
    # a NULL key deletes nothing, and NULL-keyed data rows survive
    delete_keys_mor(t, _keys_df(spark, [ids[10], None]), job_id="nullkey")
    rows = same_on_both_paths()
    assert len(rows) == 144 and sum(r[0] is None for r in rows) == 5
    # re-insert 5 deleted keys, then delete 2 of them again
    old = t.scan(snapshot_id=2).filter(F.col("clip_id").isin(ids[:5]))
    meta.append(t, old.withColumnRenamed("transcript", "text"), job_id="re", parts=1)
    delete_keys_mor(t, _keys_df(spark, ids[3:5] + ids[20:25]), job_id="again")
    assert len(same_on_both_paths()) == 142
    # composite key: 4 matching (clip_id, codec) pairs, a pair with a
    # wrong codec and a pair with a NULL field delete exactly 4 rows
    codec = {r.clip_id: r.codec for r in t.scan().collect() if r.clip_id}
    pairs = [(k, codec[k]) for k in ids[30:34]] + [(ids[40], "nope"), (None, codec[ids[41]])]
    delete_keys_mor(
        t,
        spark.createDataFrame(pairs, "clip_id string, codec string"),
        job_id="pairs",
        key=["clip_id", "codec"],
    )
    assert len(same_on_both_paths()) == 138
    consolidate_deletes(t, job_id="consol")
    assert any(s["keyed_seq"] for s in t.delete_key_specs())
    assert len(same_on_both_paths()) == 138


def test_outstanding_deletes_launch_no_extra_spark_job(spark, tmp_path):
    """``scan().count()`` and ``point_lookup`` launch as many Spark jobs
    with small deletes outstanding as with none: one plain delete file,
    then three delete files over two key sets, one consolidated."""
    from fupi_spark.bloom import point_lookup
    from fupi_spark.merge import consolidate_deletes

    from .test_meta_compact import jobs_launched

    t = make_table(spark, str(tmp_path / "t"), n=150, parts=3)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())

    def jobs():
        return (
            jobs_launched(spark, lambda: t.scan().count()),
            jobs_launched(spark, lambda: point_lookup(t, "clip_id", ids[-1])[0].collect()),
        )

    none_outstanding = jobs()
    delete_keys_mor(t, _keys_df(spark, ids[:3]), job_id="d1")
    assert len(t.delete_entries()) == 1
    assert jobs() == none_outstanding
    delete_keys_mor(t, _keys_df(spark, ids[3:6]), job_id="d2")
    consolidate_deletes(t, job_id="c")
    # a file between delete sequences puts the read in two cohorts
    meta.append(t, synth_clips(spark, 10, seed=5, dur_range_ms=(50, 90)), job_id="a", parts=1)
    delete_keys_mor(t, _keys_df(spark, ids[6:9]), job_id="d3")
    pairs = [(ids[10], "flac")]
    delete_keys_mor(
        t,
        spark.createDataFrame(pairs, "clip_id string, codec string"),
        job_id="d4",
        key=["clip_id", "codec"],
    )
    specs = t.delete_key_specs()
    assert len(specs) == 3 and len({s["key_cols"] for s in specs}) == 2
    assert sum(s["keyed_seq"] for s in specs) == 1
    assert jobs() == none_outstanding


def test_many_small_delete_files_stay_on_the_driver_path(spark, tmp_path):
    """The driver path is gated on keys, not bytes: 15 outstanding
    3-key delete files (45 keys, ~8.5 KB of parquet) add no Spark job
    to ``scan().count()``."""
    from .test_meta_compact import jobs_launched

    t = make_table(spark, str(tmp_path / "t"), n=150, parts=3)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    none_outstanding = jobs_launched(spark, lambda: t.scan().count())
    for i in range(15):
        delete_keys_mor(t, _keys_df(spark, ids[3 * i : 3 * i + 3]), job_id=f"d{i}")
    dels = t.delete_entries()
    assert len(dels) == 15 and sum(e["byte_size"] for e in dels) > 8 << 10
    assert jobs_launched(spark, lambda: t.scan().count()) == none_outstanding
    assert t.scan().count() == 105


def test_consolidation_on_object_store_without_rename(spark, tmp_path, monkeypatch):
    """Delete-file consolidation + GC of the folded files on the
    S3-semantics storage with os.rename forbidden."""
    from fupi_spark.expire import expire_snapshots
    from fupi_spark.merge import consolidate_deletes
    from fupi_spark.storage import ObjectStoreStorage

    root = str(tmp_path / "obj")
    st = ObjectStoreStorage(root)
    t = meta.create_table(spark, root, storage=st)
    meta.append(t, synth_clips(spark, 120, dur_range_ms=(50, 90), parts=3), job_id="s")
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())

    real_rename = os.rename

    def forbidden(*a, **kw):
        raise AssertionError(f"os.rename called on object-store table: {a}")

    try:
        monkeypatch.setattr(os, "rename", forbidden)
        delete_keys_mor(t, _keys_df(spark, ids[:10]), job_id="a")
        delete_keys_mor(t, _keys_df(spark, ids[10:20]), job_id="b")
        old_delete_paths = [e["file_path"] for e in t.delete_entries()]
        consolidate_deletes(t, job_id="c")
        assert len(t.delete_entries()) == 1
        assert t.scan().count() == 100
        expire_snapshots(t, retain_last=1)
    finally:
        monkeypatch.setattr(os, "rename", real_rename)
    # the folded delete files are orphans -> GC'd; the survivor lives
    for p in old_delete_paths:
        assert not os.path.exists(f"{root}/{p}")
    assert os.path.exists(f"{root}/{t.delete_entries()[0]['file_path']}")
    assert t.scan().count() == 100


def test_scan_in_manifest_order_with_deletes_in_two_cohorts(spark, tmp_path, monkeypatch):
    """scan_in_manifest_order gives every row its file's ordinal while
    MOR deletes are outstanding: two deletes around an append split the
    driver-planned read into two sequence cohorts, whose union hides
    ``_metadata``; above DELETE_DRIVER_MAX_KEYS (forced by a cap of 0)
    the anti-join's joins hide it too."""
    import pyarrow.parquet as pq

    t = make_table(spark, str(tmp_path / "t"), n=60, parts=3)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    delete_keys_mor(t, _keys_df(spark, ids[:3]), job_id="d1")
    meta.append(t, synth_clips(spark, 10, seed=5, dur_range_ms=(50, 90)), job_id="a", parts=1)
    delete_keys_mor(t, _keys_df(spark, ids[3:6]), job_id="d2")
    files = sorted(e["file_path"] for e in t.data_entries())
    want = sorted(
        (k, i)
        for i, f in enumerate(files)
        for k in pq.read_table(f"{t.root}/{f}", columns=["clip_id"])["clip_id"].to_pylist()
        if k not in ids[:6]
    )
    assert len(files) == 4 and len(want) == 64

    df = t.scan_in_manifest_order().select("clip_id", "_file_ord")
    assert sorted((r.clip_id, r._file_ord) for r in df.collect()) == want
    monkeypatch.setattr(meta.Table, "DELETE_DRIVER_MAX_KEYS", 0)
    df = t.scan_in_manifest_order()
    assert "_fseq" not in df.columns
    assert sorted((r.clip_id, r._file_ord) for r in df.select("clip_id", "_file_ord").collect()) == want


def test_object_store_root_reads_deletes_without_inference(spark, tmp_path, monkeypatch):
    """Under an object-store root the reader takes each data file's
    schema from Spark's inference; a small delete file's column names
    come from the pyarrow read of its keys through ``storage`` instead,
    so a read after delete_keys_mor infers nothing. Writing the delete
    file infers nothing either: its stats come from the Spark
    aggregation, which reads it with the schema the write seeded. That
    cached schema is dropped before the read, so the read cannot lean
    on it."""
    t = make_table(spark, str(tmp_path / "t"), n=60, parts=3)
    t._local = False  # read as under an s3a:// root
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())

    inferred = []
    real_infer = meta.Table._infer_schema
    monkeypatch.setattr(
        meta.Table, "_infer_schema", lambda self, p: inferred.append(p) or real_infer(self, p)
    )
    delete_keys_mor(t, _keys_df(spark, ids[:3]), job_id="d1")
    delete_file = f"{t.root}/{t.delete_entries()[0]['file_path']}"
    assert inferred == []
    del t._schema_cache[delete_file]
    assert t.scan().count() == 57
    assert [s["key_cols"] for s in t.delete_key_specs()] == [("clip_id",)]
    assert inferred == []


def test_written_schema_seeds_the_footer_schema(spark, tmp_path):
    """The schema a write seeds for its new files is the one their
    footers hold: for an append, a zorder cluster and a MOR delete, a
    fresh handle (empty cache) reads each file's footer schema and gets
    the seeded one."""
    from fupi_spark.cluster import cluster

    t = make_table(spark, str(tmp_path / "t"), n=60, parts=3)
    cluster(t, curve="zorder", target_bytes=1 << 14)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    delete_keys_mor(t, _keys_df(spark, ids[:3]), job_id="d1")

    fresh = meta.load_table(spark, t.root)
    ops = {s.operation for s in map(t.snapshot, t.snapshot_ids())}
    assert ops == {"create", "append", "cluster", "delete-mor"}
    written = sorted(f"{t.data_dir}/{f}" for f in os.listdir(t.data_dir))
    assert len(written) > 3 + 1
    for p in written:
        assert t._schema_cache[p] == fresh.file_schema(p), p

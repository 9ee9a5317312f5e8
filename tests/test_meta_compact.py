"""Metadata layer + compaction: the reference's create→add→compact arc
(/root/reference/fupi/embedders.py:119-128) as snapshot lineage
v1(create) → v2(append) → v3(compact), plus FFD invariants and resume."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fupi_spark import meta
from fupi_spark.compact import Bin, compact, ffd_pack
from fupi_spark.synth import synth_clips


def make_table(spark, root, n=400, parts=40, **synth_kw):
    t = meta.create_table(spark, root)
    clips = synth_clips(spark, n, dur_range_ms=(50, 150), **synth_kw)
    meta.append(t, clips, job_id="seed", parts=parts)
    return t


def clip_multiset(df):
    return sorted((r.clip_id, r.transcript, bytes(r.bytes)) for r in df.collect())


def assert_summary_sums_lineage(t, snap) -> None:
    """A compaction's summary totals equal the sums over its lineage
    unit records as written to storage."""
    from fupi_spark.lineage import LineageLog

    recs = LineageLog(t, snap.summary["job_id"]).records()
    want = {
        "units": len(recs),
        "bytes_in": sum(r["bytes_in"] for r in recs),
        "bytes_out": sum(r["bytes_out"] for r in recs),
        "rows": sum(r["rows"] for r in recs),
    }
    assert {k: snap.summary[k] for k in want} == want
    assert want["units"] > 0


def _jobs_of(spark, fn) -> list[int]:
    """The ids of the Spark jobs ``fn`` launches, from the status
    tracker under a private job group (after draining the listener
    bus)."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group, False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches."""
    return len(_jobs_of(spark, fn))


def write_tasks_launched(spark, fn) -> int:
    """Tasks ``fn`` runs in stages that write output files, from the
    status store."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    stages = {sid for jid in _jobs_of(spark, fn) for sid in tracker.getJobInfo(jid).stageIds}
    attempts = [store.lastStageAttempt(sid) for sid in sorted(stages)]
    return sum(a.numCompleteTasks() for a in attempts if a.outputBytes() > 0)


# -- FFD packer unit/property tests ------------------------------------------


def test_ffd_invariants():
    import random

    rng = random.Random(7)
    entries = [
        {"file_path": f"data/f{i:03d}.parquet", "byte_size": rng.randint(1, 120), "row_count": 1}
        for i in range(200)
    ]
    target = 128
    bins = ffd_pack(entries, target)
    # every candidate in exactly one bin
    packed = [e["file_path"] for b in bins for e in b.files]
    assert sorted(packed) == sorted(e["file_path"] for e in entries)
    # no bin exceeds target (all candidates < target here)
    assert all(b.byte_size <= target for b in bins)
    # deterministic
    bins2 = ffd_pack(list(reversed(entries)), target)
    assert [(b.bin_id, [f["file_path"] for f in b.files]) for b in bins] == [
        (b.bin_id, [f["file_path"] for f in b.files]) for b in bins2
    ]


def test_ffd_oversized_files_left_alone():
    entries = [
        {"file_path": "data/big.parquet", "byte_size": 1000, "row_count": 1},
        {"file_path": "data/s1.parquet", "byte_size": 10, "row_count": 1},
        {"file_path": "data/s2.parquet", "byte_size": 10, "row_count": 1},
    ]
    bins = ffd_pack(entries, target_bytes=100)
    assert all("big" not in e["file_path"] for b in bins for e in b.files)


def test_ffd_hypothesis_property():
    hypothesis = pytest.importorskip("hypothesis")
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        sizes=st.lists(st.integers(min_value=1, max_value=500), min_size=0, max_size=60),
        target=st.integers(min_value=10, max_value=600),
    )
    def prop(sizes, target):
        entries = [
            {"file_path": f"data/f{i:03d}", "byte_size": s, "row_count": 1}
            for i, s in enumerate(sizes)
        ]
        bins = ffd_pack(entries, target)
        packed = sorted(e["file_path"] for b in bins for e in b.files)
        assert packed == sorted(e["file_path"] for e in entries if e["byte_size"] < target)
        for b in bins:
            assert b.byte_size <= target or len(b.files) == 1

    prop()


# -- snapshot lineage + compaction ------------------------------------------


def test_create_append_compact_lineage(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=300, parts=30)
    before = clip_multiset(t.scan())
    n_files_before = len(t.live_files())
    assert n_files_before == 30

    snap = compact(t, target_bytes=1 << 30)  # everything into as few bins as possible
    assert snap is not None
    assert_summary_sums_lineage(t, snap)
    assert snap.summary["rows"] == 300
    after = clip_multiset(t.scan())
    assert after == before  # row-multiset preservation (FIXTURES.md §4.3)
    assert len(t.live_files()) < n_files_before

    ops = [s["operation"] for s in t.lineage_chain()]
    assert ops == ["create", "append", "compact"]
    parents = [s["parent_id"] for s in t.lineage_chain()]
    assert parents == [None, 1, 2]

    # time travel still sees the pre-compact state
    assert clip_multiset(t.scan(snapshot_id=2)) == before


def test_append_parts_of_no_rows_commits_one_empty_file(spark, tmp_table_dir):
    """An append of an empty frame with ``parts`` commits one empty file
    that carries the schema, so the table reads as empty, not missing."""
    t = meta.create_table(spark, tmp_table_dir)
    clips = synth_clips(spark, 10, dur_range_ms=(50, 60))
    meta.append(t, clips.limit(0), job_id="empty", parts=4)
    assert [e["row_count"] for e in t.manifest_entries().to_pylist()] == [0]
    assert t.scan().count() == 0
    assert t.scan().columns == clips.columns


def test_write_tasks_sums_leaf_sizes_not_join_products(spark, tmp_table_dir):
    """A write of a joined frame gets tasks for the bytes it reads:
    Spark's size-only estimate of a join is the product of its sides,
    so a broadcast join over a small table read as far more than
    maxPartitionBytes (and a tag map of unknown size as the cap). A
    leaf of unknown size still keeps the cap."""
    from pyspark.sql import DataFrame

    from fupi_spark.compact import bins_scan

    t = make_table(spark, tmp_table_dir, n=120, parts=12)
    small = t.scan()
    par = spark.sparkContext.defaultParallelism
    ids = spark.range(4000).select(F.format_string("c%d", "id").alias("k"))
    joined = small.join(F.broadcast(ids), small.clip_id == ids.k)
    assert meta.write_tasks(joined) == par
    bins = ffd_pack(t.manifest_entries().to_pylist(), 1 << 30)
    assert meta.write_tasks(bins_scan(t, bins)) == par
    # an RDD-backed frame (built in the JVM: no Python worker) has no size
    rdd_df = DataFrame(spark._jsparkSession.createDataFrame(small._jdf.rdd(), small._jdf.schema()), spark)
    assert meta.write_tasks(rdd_df) == 2**31 - 1


def test_writes_leave_no_hadoop_side_files(spark, tmp_path):
    """The session writes local files through RawLocalFileSystem and
    marks no successful job: a parquet write leaves its part files and
    nothing else — no ``.crc`` sidecars, no ``_SUCCESS``."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"
    d = str(tmp_path / "out")
    spark.range(3).write.parquet(d)
    names = sorted(os.listdir(d))
    assert names and all(n.startswith("part-") and n.endswith(".parquet") for n in names), names


def test_compact_respects_target_size(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=400, parts=40)
    entries = t.manifest_entries().to_pylist()
    sizes = [e["byte_size"] for e in entries]
    target = int(sum(sizes) / 4)
    compact(t, target_bytes=target)
    new_entries = t.manifest_entries().to_pylist()
    tol = max(s for s in sizes)  # parquet re-encoding can shift sizes a bit
    assert all(e["byte_size"] <= target + tol for e in new_entries)
    assert len(new_entries) < len(entries)


def test_compact_noop_when_already_packed(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=100, parts=2)
    compact(t, target_bytes=1 << 30)
    v = t.current_snapshot().snapshot_id
    # second run: every candidate already in a single-file bin → no-op
    assert compact(t, target_bytes=1) is None
    assert t.current_snapshot().snapshot_id == v


def test_compact_resume_skips_completed_bins(spark, tmp_table_dir, monkeypatch):
    t = make_table(spark, tmp_table_dir, n=300, parts=30)
    before = clip_multiset(t.scan())
    entries = t.manifest_entries().to_pylist()
    target = int(sum(e["byte_size"] for e in entries) / 3)

    # run 1: crash after unit checkpointing, before commit
    from fupi_spark.lineage import LineageLog

    real_commit = meta.Table.commit

    def boom(*a, **kw):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(meta.Table, "commit", boom)
    with pytest.raises(RuntimeError):
        compact(t, target_bytes=target, job_id="job-x")
    monkeypatch.setattr(meta.Table, "commit", real_commit)

    # table unchanged (manifest-driven visibility)
    assert clip_multiset(t.scan()) == before
    lineage_dir = f"{t.root}/_lineage/job-x"
    n_units = len(os.listdir(lineage_dir))
    assert n_units > 0

    # run 2 (resume): must not rewrite any completed unit
    calls = {"n": 0}
    orig_write = LineageLog.complete_unit

    def counting(self, *a, **kw):
        calls["n"] += 1
        return orig_write(self, *a, **kw)

    monkeypatch.setattr(LineageLog, "complete_unit", counting)
    snap = compact(t, target_bytes=target, job_id="job-x")
    assert snap is not None
    assert calls["n"] == 0  # all units were already checkpointed
    assert_summary_sums_lineage(t, snap)
    assert clip_multiset(t.scan()) == before
    assert [s["operation"] for s in t.lineage_chain()][-1] == "compact"


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


def test_compact_aborts_when_staged_rows_fall_short(spark, tmp_table_dir, monkeypatch):
    """A rewrite that loses rows (here: a file→bin attach that drops bin
    0) fails the per-bin footer row check before that bin's lineage
    unit is written and before any commit."""
    import importlib

    C = importlib.import_module("fupi_spark.compact")  # the package re-exports compact()
    t = make_table(spark, tmp_table_dir, n=120, parts=6)
    head = t.current_snapshot().snapshot_id
    real_scan = C.bins_scan
    monkeypatch.setattr(
        C, "bins_scan", lambda table, bins: real_scan(table, bins).filter(F.col("_bin") != 0)
    )
    with pytest.raises(AssertionError, match="bin 0: staged 0 rows"):
        compact(t, target_bytes=1 << 30, job_id="c-short")
    assert t.current_snapshot().snapshot_id == head
    assert t.storage.list("_lineage/c-short") == ["_lineage/c-short/.job"]  # no unit record


def test_stats_recomputed_after_compact(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=200, parts=20)
    compact(t, target_bytes=1 << 30)
    rows = t.scan().collect()
    for e in t.manifest_entries().to_pylist():
        in_file = [r for r in rows]  # stats are per file; check global bounds hold
        assert e["min_clip_id"] >= min(r.clip_id for r in in_file)
        assert e["max_clip_id"] <= max(r.clip_id for r in in_file)
        assert e["row_count"] > 0 and e["byte_size"] > 0
    total = sum(e["row_count"] for e in t.manifest_entries().to_pylist())
    assert total == 200


def test_footer_stats_match_spark_agg(spark, tmp_path, monkeypatch):
    """The footer path and the Spark-agg fallback must produce
    identical manifest entries (stats exactness is what scan_pruned
    and MERGE pruning rely on); past FOOTER_DRIVER_MAX files (forced by
    a cap of 0) the stats come from the aggregation, which must agree
    too. A partitioned staging
    layout promotes in partition-value order with the same parity, and
    on the footer path its promotion and entries launch no Spark job
    and read the schema id at most once."""
    t1 = meta.create_table(spark, str(tmp_path / "t1"))
    t2 = meta.create_table(spark, str(tmp_path / "t2"))
    t3 = meta.create_table(spark, str(tmp_path / "t3"))
    clips = synth_clips(spark, 150, dur_range_ms=(50, 150), parts=5)

    meta.append(t1, clips, job_id="seed")  # footer path (default)
    with monkeypatch.context() as mp:
        mp.setattr(meta.Table, "footer_file_stats", lambda self, paths: None)
        meta.append(t2, clips, job_id="seed")
    aggregated = []
    real_agg = meta.Table._file_stats_df
    with monkeypatch.context() as mp:
        mp.setattr(meta.Table, "FOOTER_DRIVER_MAX", 0)
        mp.setattr(
            meta.Table, "_file_stats_df", lambda self, df: aggregated.append(1) or real_agg(self, df)
        )
        meta.append(t3, clips, job_id="seed")
    assert aggregated == [1]

    def canon(entries):  # names differ by nonce
        return [tuple(e[k] for k in sorted(e) if k != "file_path") for e in entries]

    assert (
        sorted(canon(t1.manifest_entries().to_pylist()))
        == sorted(canon(t2.manifest_entries().to_pylist()))
        == sorted(canon(t3.manifest_entries().to_pylist()))
    )
    # and the stats actually work: pruned scan agrees with full scan
    lo = sorted(r.clip_id for r in t1.scan().select("clip_id").collect())[10]
    df, _read, _tot = t1.scan_pruned("clip_id", lo, "zzzz")
    assert df.count() == t1.scan().filter(F.col("clip_id") >= lo).count()

    # partitioned staging: _k = dur_ms // 10 spans one- and two-digit
    # values, so directory-name order ("_k=10" < "_k=5") differs from
    # partition-value order
    d1 = t1.stage_dir("part")
    (
        t1.scan(include_internal=True)
        .withColumn("_k", (F.col("dur_ms") / 10).cast("int"))
        .repartition(2, "_k")
        .write.mode("overwrite")
        .partitionBy("_k")
        .parquet(d1)
    )
    shutil.copytree(d1, t2.stage_dir("part"), dirs_exist_ok=True)

    schema_reads = []
    real_schema_id = meta.Table.current_schema_id
    monkeypatch.setattr(
        meta.Table,
        "current_schema_id",
        lambda self: schema_reads.append(1) or real_schema_id(self),
    )
    promoted = []
    assert (
        jobs_launched(spark, lambda: promoted.append(t1.file_entries(t1._promote(d1, "part"))))
        == 0
    )
    part1 = promoted[0].to_pylist()
    assert len(schema_reads) <= 1
    with monkeypatch.context() as mp:
        mp.setattr(meta.Table, "footer_file_stats", lambda self, paths: None)
        part2 = t2.file_entries(t2._promote(t2.stage_dir("part"), "part")).to_pylist()

    names = [e["file_path"] for e in part1]
    assert names == sorted(names) and all(n.startswith("data/part-") for n in names)
    ks = [e["min_dur_ms"] // 10 for e in part1]
    assert ks == sorted(ks) and len(set(ks)) > 1
    assert all(e["max_dur_ms"] // 10 == k for e, k in zip(part1, ks))
    assert sum(e["row_count"] for e in part1) == 150
    assert canon(part1) == canon(part2)


def test_object_store_root_takes_stats_from_the_aggregation(spark, tmp_path, monkeypatch):
    """A root that is not file-local never opens a footer on the driver
    for stats: an append and a delete-everything rewrite through such a
    handle, with every ``pq.ParquetFile`` open failing, get their
    entries from the Spark aggregation, equal to the footer path's."""
    from fupi_spark.merge import delete_where

    def canon(t):  # names differ by nonce
        return sorted(
            tuple(e[k] for k in sorted(e) if k != "file_path")
            for e in t.manifest_entries().to_pylist()
        )

    # an append, then a rewrite that keeps no row and so writes one
    # empty file: the aggregation has no group for it, and its entry
    # must still match its footer's
    def steps(t):
        meta.append(t, clips, job_id="seed")
        appended = canon(t)
        delete_where(t, "true", job_id="all")
        return appended, canon(t)

    clips = synth_clips(spark, 150, dur_range_ms=(50, 150), parts=5)
    footer = steps(meta.create_table(spark, str(tmp_path / "local")))
    assert [len(entries) for entries in footer] == [5, 1]
    remote = meta.create_table(spark, str(tmp_path / "remote"))
    remote._local = False  # read as under an s3a:// root

    def no_footer(*_a, **_k):
        raise AssertionError("opened a footer on the driver")

    monkeypatch.setattr(meta.pq, "ParquetFile", no_footer)
    assert steps(remote) == footer
    assert [e["row_count"] for e in remote.manifest_entries().to_pylist()] == [0]


def test_scan_pruned_skips_files_after_clustering(spark, tmp_table_dir):
    """Stats-based file skipping: clustering tightens per-file clip_id
    ranges, so a narrow range scan reads a small fraction of files and
    returns exactly the right rows."""
    from fupi_spark.cluster import cluster

    t = make_table(spark, tmp_table_dir, n=600, parts=12)
    all_ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    lo, hi = all_ids[50], all_ids[99]
    expected = {c for c in all_ids if lo <= c <= hi}

    # random layout: nearly every file intersects the range
    _, read_before, total_before = t.scan_pruned("clip_id", lo, hi)

    cluster(t, curve="zorder", target_bytes=1 << 18)
    df, read_after, total_after = t.scan_pruned("clip_id", lo, hi)
    got = {r.clip_id for r in df.select("clip_id").collect()}
    assert got == expected  # correctness regardless of skipping
    assert read_before == total_before  # random layout: no skipping possible
    assert read_after < total_after  # clustered layout: files skipped


def test_scan_pruned_counts_data_files_only(spark, tmp_path):
    """Range and point-set pruned scans return exactly the matching
    rows and skip files on a clustered table; files_total counts data
    files only, so an outstanding MOR delete file changes neither it
    nor files_read."""
    from fupi_spark.cluster import cluster
    from fupi_spark.merge import delete_keys_mor

    t = make_table(spark, str(tmp_path / "t"), n=400, parts=16)
    cluster(t, curve="linear", target_bytes=1 << 18)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    lo, hi = ids[50], ids[120]
    probes = [ids[10], ids[200], ids[399]]

    def pruned():
        df, read, total = t.scan_pruned("clip_id", lo, hi)
        dfp, read_in, total_in = t.scan_pruned_in("clip_id", probes)
        rows = sorted(r.clip_id for r in df.select("clip_id").collect())
        rows_in = sorted(r.clip_id for r in dfp.select("clip_id").collect())
        return (rows, rows_in), (read, total, read_in, total_in)

    rows, counts = pruned()
    read, total, read_in, total_in = counts
    assert rows == (ids[50:121], sorted(probes))
    assert read < total and read_in < total_in
    assert total == total_in == len(t.data_entries())

    gone = [ids[60], ids[200]]
    delete_keys_mor(t, spark.createDataFrame([(k,) for k in gone], ["clip_id"]))
    assert len(t.delete_entries()) == 1
    rows, counts_after = pruned()
    assert rows == ([c for c in ids[50:121] if c not in gone], [ids[10], ids[399]])
    assert counts_after == counts
    assert counts_after[1] == len(t.data_entries())


def _bruteforce_keep(mins, maxs, intervals):
    return [
        lo is None or hi is None or any(s <= hi and lo <= e for s, e in intervals)
        for lo, hi in zip(mins, maxs)
    ]


@pytest.mark.parametrize("kind", ["int", "str"])
def test_stats_keep_mask_matches_bruteforce(kind):
    """The vectorized file-skip decision equals the per-entry predicate
    on a random 200,000-entry manifest with NULL mins and maxes, over
    ranges, key sets and an empty probe set."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(7)
    if kind == "int":
        domain, typ = list(range(-1000, 1000)), pa.int64()
    else:
        # every word of length 1-4 over "abc", so prefixes are in play
        words = [""]
        for _ in range(4):
            words = sorted({w + c for w in words for c in "abc"} | set(words))
        domain, typ = words[1:], pa.string()
    n = 200_000
    a = rng.integers(0, len(domain), n)
    b = np.minimum(a + rng.integers(0, 30, n), len(domain) - 1)
    mins = [None if r < 0.05 else domain[i] for i, r in zip(a, rng.random(n))]
    maxs = [None if r < 0.03 else domain[i] for i, r in zip(b, rng.random(n))]
    for k, points in [(0, False), (1, False), (4, False), (1, True), (12, True)]:
        idx = np.sort(rng.choice(len(domain), k if points else 2 * k, replace=False))
        vals = [domain[i] for i in idx]
        intervals = (
            [(v, v) for v in vals] if points else list(zip(vals[::2], vals[1::2]))
        )
        got = meta.stats_keep_mask(
            pa.array(mins, typ),
            pa.array(maxs, typ),
            [s for s, _ in intervals],
            [e for _, e in intervals],
        )
        assert got.tolist() == _bruteforce_keep(mins, maxs, intervals)


def test_group_aware_compaction_preserves_ranges(spark, tmp_table_dir):
    """group_fn compaction: bins never mix groups, per-file stat ranges
    stay within their group, and content survives."""
    from fupi_spark.synth import synth_clips

    t = meta.create_table(spark, tmp_table_dir)
    # two disjoint sr_hz groups, several small files each
    a = synth_clips(spark, 120, dur_range_ms=(50, 80)).withColumn(
        "sr_hz", F_lit_int(8000)
    )
    b = synth_clips(spark, 120, seed=9, dur_range_ms=(50, 80)).withColumn(
        "sr_hz", F_lit_int(48000)
    )
    meta.append(t, a, job_id="a", parts=6)
    meta.append(t, b, job_id="b", parts=6)
    before = clip_multiset(t.scan())
    assert len(t.live_files()) == 12

    snap = compact(
        t, target_bytes=1 << 30, job_id="c-grp", group_fn=lambda e: e["min_sr_hz"]
    )
    assert snap is not None
    entries = t.manifest_entries().to_pylist()
    assert len(entries) == 2  # one bin per group, never merged across
    for e in entries:
        assert e["min_sr_hz"] == e["max_sr_hz"]  # ranges stay group-pure
    assert clip_multiset(t.scan()) == before


def F_lit_int(v):
    return F.lit(v).cast("int")


def test_incremental_scan_append_only(spark, tmp_table_dir):
    from fupi_spark.synth import synth_clips

    t = meta.create_table(spark, tmp_table_dir)
    meta.append(t, synth_clips(spark, 100, seed=1, dur_range_ms=(50, 70)), job_id="b1", parts=2)
    base = t.current_snapshot().snapshot_id
    meta.append(t, synth_clips(spark, 60, seed=2, dur_range_ms=(50, 70)), job_id="b2", parts=2)
    inc = t.incremental_scan(base)
    assert inc.count() == 60
    # exactly the second batch
    got = {r.clip_id for r in inc.select("clip_id").collect()}
    want = {r.clip_id for r in synth_clips(spark, 60, seed=2, dur_range_ms=(50, 70)).select("clip_id").collect()}
    assert got == want
    # empty window
    head = t.current_snapshot().snapshot_id
    assert t.incremental_scan(head).count() == 0
    # a replacing snapshot in the range is refused
    compact(t, target_bytes=1 << 30, job_id="c-x")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="re-baseline"):
        t.incremental_scan(base)


# -- the manifest-driven reader ------------------------------------------------


def _rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_reads_launch_no_spark_job(spark, tmp_path):
    """Building a scan, a pruned scan, compaction's bin scan, the
    manifest frame and a schema-only frame over 64 data files plus an
    outstanding MOR delete file launches no Spark job: paths come from
    the manifest and the schema from one footer, so Spark neither lists
    nor infers — in a fresh table handle, schema cache cold."""
    from fupi_spark.compact import bins_scan
    from fupi_spark.merge import delete_keys_mor

    t0 = make_table(spark, str(tmp_path / "t"), n=240, parts=80)
    ids = sorted(r.clip_id for r in t0.scan().select("clip_id").collect())
    keys = spark.createDataFrame([(k,) for k in ids[:3]], "clip_id string")
    delete_keys_mor(t0, keys, job_id="dm")
    t = meta.load_table(spark, t0.root)
    entries = t.data_entries()
    assert len(entries) >= 64

    def build():
        t.scan()
        t.scan_pruned("clip_id", ids[0], ids[-1])
        bins_scan(t, [Bin(0, entries)])
        t.manifest_df()
        t.empty_scan()

    assert jobs_launched(spark, build) == 0
    df, files_read, _total = t.scan_pruned("clip_id", ids[0], ids[-1])
    assert files_read == len(entries) and df.count() == 237


def test_reader_matches_spark_inference(spark, tmp_path):
    """read_parquet gives the schema and row multiset of Spark's own
    inferring read on: Spark-written data files; a file rewritten by
    another writer (no Spark schema key → one-file inference), first in
    the path list or not; an evolved table whose files span two schema
    generations (add + rename + widen; mergeSchema, then the op
    replay); and plain plus keyed MOR delete files. empty_scan carries
    scan()'s exact schema."""
    from fupi_spark.evolve import add_column, apply_schema_ops, rename_column, widen_column
    from fupi_spark.integrity import corrupt_file_on_disk
    from fupi_spark.merge import consolidate_deletes, delete_keys_mor

    def same(got, want):
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)

    t = make_table(spark, str(tmp_path / "t"), n=60, parts=4)
    paths = [f"{t.root}/{p}" for p in t.live_files()]
    same(t.read_parquet(paths), spark.read.parquet(*paths))
    # Spark infers from the smallest path: make that the rewritten file,
    # then read it alone-first and behind a Spark-written file
    paths.sort()
    corrupt_file_on_disk(paths[0])
    t = meta.load_table(spark, t.root)  # the rewrite broke immutability
    for ps in (paths, paths[1:], paths[::-1]):
        same(t.read_parquet(ps), spark.read.parquet(*ps))

    e = make_table(spark, str(tmp_path / "e"), n=40, parts=2)
    add_column(e, "lang", "string", default="en")
    rename_column(e, "transcript", "text")
    widen_column(e, "sr_hz", "bigint")
    gen2 = (
        synth_clips(spark, 20, seed=5, dur_range_ms=(50, 100))
        .withColumnRenamed("transcript", "text")
        .withColumn("lang", F.lit("bg"))
    )
    meta.append(e, gen2, job_id="gen2", parts=2)
    snap = e.current_snapshot()
    assert {x["schema_id"] for x in e.data_entries()} == {0, 3}
    paths = [f"{e.root}/{p}" for p in e.live_files()]
    for ps in (paths, paths[::-1]):
        want = apply_schema_ops(
            spark.read.option("mergeSchema", "true").parquet(*ps), e.schema_ops(snap)
        )
        same(e.read_parquet(ps, snap), want)
    assert dict(e.scan().dtypes)["sr_hz"] == "bigint"
    assert e.empty_scan().schema == e.scan().schema

    d = make_table(spark, str(tmp_path / "d"), n=60, parts=3)
    ids = sorted(r.clip_id for r in d.scan().select("clip_id").collect())

    def keys(ks):
        return spark.createDataFrame([(k,) for k in ks], "clip_id string")

    delete_keys_mor(d, keys(ids[:5]), job_id="d1")
    delete_keys_mor(d, keys(ids[5:10]), job_id="d2")
    consolidate_deletes(d, job_id="c1")
    delete_keys_mor(d, keys(ids[10:15]), job_id="d3")
    # a delete keyed on a non-leading column: its anti-join must not
    # move that column to the front of the read
    tr = d.scan().filter(F.col("clip_id") == ids[20]).first().transcript
    n_tr = d.scan().filter(F.col("transcript") == tr).count()
    trs = spark.createDataFrame([(tr,)], "transcript string")
    delete_keys_mor(d, trs, job_id="d4", key="transcript")
    groups: dict = {}
    for s in d.delete_key_specs():
        groups.setdefault((s["key_cols"], s["keyed_seq"]), []).append(
            f"{d.root}/{s['file_path']}"
        )
    assert sorted(groups) == [(("clip_id",), False), (("clip_id",), True), (("transcript",), False)]
    for ps in groups.values():
        same(d.read_parquet(ps), spark.read.parquet(*ps))
    assert d.scan().count() == 45 - n_tr
    assert d.empty_scan().schema == d.scan().schema


def test_object_store_root_never_opens_a_local_footer(spark, monkeypatch):
    """Under a non-file: root the reader takes each file's schema from
    Spark's inference over that one file (cached by path) and never
    opens a footer on the driver."""
    inferred = []
    schema = T.StructType([T.StructField("clip_id", T.StringType())])

    def no_footer(*_a, **_k):
        raise AssertionError("opened a local footer")

    monkeypatch.setattr(meta.pq, "read_metadata", no_footer)
    monkeypatch.setattr(
        meta.Table, "_infer_schema", lambda self, p: inferred.append(p) or schema
    )
    t = meta.Table(spark, "s3a://bucket/t", meta.CLIPS_STATS)
    paths = [f"s3a://bucket/t/data/f{i}.parquet" for i in range(3)]
    assert t.physical_schema(paths) == schema
    assert t.physical_schema(paths[:1]) == schema
    assert t.file_schema(paths[2]) == schema
    assert inferred == [paths[0], paths[2]]


def test_manifest_df_reads_older_manifests_as_null(spark, tmp_table_dir):
    """manifest_df reads with the declared manifest schema: a column an
    older manifest predates reads as NULL, exactly as
    pad_cast_manifest pads it for the Arrow path. The old-format
    manifest is written under a new path, so no cached manifest can
    answer for it."""
    import dataclasses

    import pyarrow.parquet as pq

    t = make_table(spark, tmp_table_dir, n=40, parts=2)
    snap = t.current_snapshot()
    old = pq.read_table(f"{t.root}/{snap.manifests[0]}")
    rel = "metadata/manifests/older-format.parquet"
    pq.write_table(old.drop_columns(["content", "sequence", "min_codec"]), f"{t.root}/{rel}")
    older = dataclasses.replace(snap, manifests=[rel])
    got = sorted(t.manifest_df(older).collect(), key=lambda r: r.file_path)
    want = sorted(t.manifest_entries(older).to_pylist(), key=lambda e: e["file_path"])
    assert [r.asDict() for r in got] == want
    assert len(got) == 2
    assert all(r.content is None and r.min_codec is None for r in got)

"""Structured-Streaming incremental ingest: micro-batch appends through
the metadata layer, idempotent re-delivery, resume after new arrivals."""

from __future__ import annotations

from fupi_spark import meta
from fupi_spark.streaming import stream_clips_into_table
from fupi_spark.synth import synth_clips


def test_streaming_incremental_append(spark, tmp_path):
    src = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    root = str(tmp_path / "table")

    synth_clips(spark, 100, dur_range_ms=(50, 100), parts=4).write.parquet(src)
    t = meta.create_table(spark, root)
    stream_clips_into_table(spark, src, t, ckpt, max_files_per_trigger=2)

    assert t.scan().count() == 100
    ops = [s["operation"] for s in t.lineage_chain()]
    assert ops[0] == "create"
    assert ops.count("append") >= 2  # several micro-batches

    # second availableNow run with no new files: no new snapshots
    v = t.current_snapshot().snapshot_id
    stream_clips_into_table(spark, src, t, ckpt, max_files_per_trigger=2)
    assert t.current_snapshot().snapshot_id == v

    # new files arrive → stream resumes from checkpoint, appends only new
    synth_clips(spark, 30, seed=77, dur_range_ms=(50, 100), parts=1).write.mode(
        "append"
    ).parquet(src)
    stream_clips_into_table(spark, src, t, ckpt, max_files_per_trigger=2)
    assert t.scan().count() == 130


def test_stateful_quality_monitor(spark, tmp_path):
    """applyInPandasWithState: per-codec running quality totals across
    micro-batches must equal the batch-computed ground truth."""
    from fupi_spark.streaming import stream_quality_monitor

    src = str(tmp_path / "landing2")
    synth_clips(spark, 120, dur_range_ms=(50, 90), parts=6).write.parquet(src)
    stream_quality_monitor(
        spark, src, str(tmp_path / "ckpt2"), query_name="qmon_test"
    )
    # memory sink in update mode: the LAST row per codec is the final state
    rows = spark.sql("SELECT * FROM qmon_test").collect()
    final = {}
    for r in rows:  # updates arrive in batch order; later overwrites earlier
        prev = final.get(r.codec)
        if prev is None or r.n_clips >= prev.n_clips:
            final[r.codec] = r

    truth = (
        synth_clips(spark, 120, dur_range_ms=(50, 90), parts=6)
        .groupBy("codec")
        .count()
        .collect()
    )
    want = {r["codec"]: r["count"] for r in truth}
    assert {c: r.n_clips for c, r in final.items()} == want
    assert all(r.n_bad == 0 for r in final.values())
    assert all(r.min_snr_db >= 30.0 for r in final.values())


def test_streaming_into_maintenance_e2e(spark, tmp_path):
    """Streaming commits join the maintenance cadence (VERDICT r3 #8):
    micro-batch ingest → full cluster → more streamed arrivals →
    cluster_incremental (streamed files are the churn) → MERGE →
    expire. Snapshot lineage and final content are checked against a
    pandas model of the same sequence."""
    import importlib

    import pandas as pd
    from pyspark.sql import functions as F

    from fupi_spark.expire import expire_snapshots
    from fupi_spark.merge import merge_into

    C = importlib.import_module("fupi_spark.cluster")

    src = str(tmp_path / "landing3")
    ckpt = str(tmp_path / "ckpt3")
    root = str(tmp_path / "table3")

    wave1 = synth_clips(spark, 120, seed=1, dur_range_ms=(50, 120), parts=4)
    wave1.write.parquet(src)
    t = meta.create_table(spark, root)
    stream_clips_into_table(spark, src, t, ckpt, max_files_per_trigger=2)
    assert t.scan().count() == 120

    C.cluster(t, curve="linear", target_bytes=1 << 18, job_id="full")
    bulk = set(t.live_files())

    # second wave lands; the stream resumes from its checkpoint and
    # appends ONLY the new files (exactly-once against re-delivery)
    wave2 = synth_clips(spark, 60, seed=2, dur_range_ms=(50, 120)).withColumn(
        "clip_id", F.concat(F.lit("w2_"), F.col("clip_id"))
    )
    wave2.repartition(2).write.mode("append").parquet(src)
    stream_clips_into_table(spark, src, t, ckpt, max_files_per_trigger=2)
    assert t.scan().count() == 180

    # streamed appends are the churn: incremental cluster must rewrite
    # them without touching the clustered bulk
    snap = C.cluster_incremental(t, curve="linear", target_bytes=1 << 18)
    assert snap.summary.get("mode") == "incremental"
    assert bulk <= set(t.live_files())

    # MERGE an update against streamed rows, then expire
    upd = (
        t.scan()
        .filter(F.col("clip_id").startswith("w2_"))
        .orderBy("clip_id")
        .limit(5)
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
        .cache()
    )
    upd.count()
    m = merge_into(t, upd, job_id="m-stream")
    assert m.summary["matched_rows"] == 5
    report = expire_snapshots(t, retain_last=2)
    assert report["deleted_files"]

    # lineage: streamed micro-batch appends, both cluster generations,
    # the merge — in order
    ops_all = [s["operation"] for s in t.lineage_chain()]
    assert ops_all[-1] == "merge"
    assert "cluster" in ops_all  # pinned cluster snapshot survived expiry

    # content vs the pandas model of the same op sequence
    w1 = wave1.select("clip_id", "transcript").toPandas()
    w2 = wave2.select("clip_id", "transcript").toPandas()
    model = pd.concat([w1, w2], ignore_index=True)
    upd_pdf = upd.select("clip_id", "transcript").toPandas()
    model = model.set_index("clip_id")
    model.loc[upd_pdf["clip_id"].tolist(), "transcript"] = upd_pdf.set_index(
        "clip_id"
    )["transcript"]
    got = (
        t.scan()
        .select("clip_id", "transcript")
        .orderBy("clip_id")
        .toPandas()
    )
    expected = model.reset_index().sort_values("clip_id").reset_index(drop=True)
    assert got["clip_id"].tolist() == expected["clip_id"].tolist()
    assert got["transcript"].tolist() == expected["transcript"].tolist()


def test_streaming_wap_audited_ingest(spark, tmp_path):
    """Streaming + Write-Audit-Publish (r5): each micro-batch is
    audited before the publish tag advances — a corrupted batch in the
    middle of the stream is rejected (its files surgically removed)
    while the batches around it publish; consumers through the tag
    never see a bad row; an availableNow re-run replays nothing."""
    import numpy as np

    from fupi_spark.synth import with_clip_prefix
    from fupi_spark.wap import published_scan, snr_audit

    src = str(tmp_path / "landing3")
    ckpt = str(tmp_path / "ckpt3")
    t = meta.create_table(spark, str(tmp_path / "table3"))

    g1 = with_clip_prefix(synth_clips(spark, 40, seed=1, dur_range_ms=(50, 90)), "g1_")
    g2 = with_clip_prefix(synth_clips(spark, 30, seed=2, dur_range_ms=(50, 90)), "g2_")
    bad_src = with_clip_prefix(synth_clips(spark, 20, seed=3, dur_range_ms=(50, 90)), "bb_")

    def corrupt_all(it):
        for pdf in it:
            bufs = []
            for b in pdf["bytes"]:
                arr = bytearray(b)
                body = np.frombuffer(arr, dtype=np.uint8, offset=44).copy()
                arr[44:] = (body ^ 0x55).tobytes()
                bufs.append(bytes(arr))
            pdf = pdf.copy()
            pdf["bytes"] = bufs
            yield pdf

    bad = bad_src.mapInPandas(corrupt_all, schema=bad_src.schema)
    g1.coalesce(1).write.parquet(f"{src}/f1")
    bad.coalesce(1).write.parquet(f"{src}/f2")
    g2.coalesce(1).write.parquet(f"{src}/f3")

    stream_clips_into_table(
        spark,
        f"{src}/*",
        t,
        ckpt,
        max_files_per_trigger=1,
        audit_fn=snr_audit(),
    )

    from pyspark.sql import functions as F

    pub = published_scan(t)
    assert pub.filter(F.col("clip_id").like("bb_%")).count() == 0
    assert pub.filter(F.col("clip_id").like("g1_%")).count() == 40
    assert pub.filter(F.col("clip_id").like("g2_%")).count() == 30
    # the rejected rows are gone from the HEAD too (files removed)
    assert t.scan().filter(F.col("clip_id").like("bb_%")).count() == 0
    # replay: no new snapshots on a no-new-files re-run
    v = t.current_snapshot().snapshot_id
    stream_clips_into_table(
        spark, f"{src}/*", t, ckpt, max_files_per_trigger=1, audit_fn=snr_audit()
    )
    assert t.current_snapshot().snapshot_id == v


def test_streaming_wap_runs_the_job_guard_once_per_batch(spark, tmp_path, monkeypatch):
    """With an audit, each fresh micro-batch runs the job-id guard
    (committed_snapshot_for_job, which reads every snapshot JSON) once:
    in its append, not again in the sink."""
    src = str(tmp_path / "landing")
    for i in range(2):
        synth_clips(spark, 10, seed=i, dur_range_ms=(50, 90)).coalesce(1).write.parquet(
            f"{src}/f{i}"
        )
    t = meta.create_table(spark, str(tmp_path / "table"))
    calls = []
    real = meta.Table.committed_snapshot_for_job

    def counting(self, job_id):
        calls.append(job_id)
        return real(self, job_id)

    monkeypatch.setattr(meta.Table, "committed_snapshot_for_job", counting)
    stream_clips_into_table(
        spark,
        f"{src}/*",
        t,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        audit_fn=lambda rows: None,
    )
    assert calls == ["stream-b00000000", "stream-b00000001"]
    assert t.scan(tag="published").count() == 20

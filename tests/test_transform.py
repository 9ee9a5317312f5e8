"""Payload-transforming rewrite (transform.transform_payloads +
audio.trim_silence): engine contract — CRC recompute, idempotent job
ids, MOR-delete application/retirement, lineage + snapshot shape."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from fupi_spark.audio import _decode_safe, trim_silence, plant_silence
from fupi_spark.integrity import CRC_COL, crc_ok_expr
from fupi_spark.merge import delete_keys_mor
from fupi_spark.transform import transform_payloads

from .test_meta_compact import make_table


def test_trim_rewrite_crc_and_idempotency(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), n=60, parts=3)
    snap = transform_payloads(
        t, lambda df: trim_silence(df), job_id="tr1", operation="trim"
    )
    assert snap.operation == "trim"
    # CRCs were recomputed for the mutated payloads: every stored _crc
    # matches its (trimmed) payload
    scan = t.scan(include_internal=True)
    assert CRC_COL in scan.columns
    assert scan.filter(~crc_ok_expr()).count() == 0
    # idempotent retry: same job id commits nothing new
    again = transform_payloads(
        t, lambda df: trim_silence(df), job_id="tr1", operation="trim"
    )
    assert again.snapshot_id == snap.snapshot_id


def test_trim_applies_and_retires_mor_deletes(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), n=80, parts=4)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    kdf = spark.createDataFrame([(k,) for k in ids[:6]], "clip_id string")
    delete_keys_mor(t, kdf, job_id="d1")
    transform_payloads(
        t, lambda df: trim_silence(df), job_id="tr1", operation="trim"
    )
    assert t.delete_entries() == []  # materialized + retired
    got = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    assert got == ids[6:]


def test_trim_removes_planted_prefix_bytes(spark, tmp_path):
    """End-to-end byte check outside the oracle harness: plant a known
    prefix, trim, decode actual payloads, compare sample counts."""
    from fupi_spark import meta
    from fupi_spark.synth import synth_clips

    clips = synth_clips(spark, 30, dur_range_ms=(300, 500), parts=2)
    planted = plant_silence(clips, frame_ms=20).cache()
    spec = {
        r.clip_id: (r.sil_frames, r.sr_hz, r.dur_ms)
        for r in planted.select(
            "clip_id", "sil_frames", "sr_hz", "dur_ms"
        ).collect()
    }
    t = meta.create_table(spark, str(tmp_path / "t"))
    meta.append(t, planted.drop("sil_frames"), job_id="seed", parts=2)
    transform_payloads(
        t, lambda df: trim_silence(df), job_id="tr1", operation="trim"
    )
    for r in t.scan().select("clip_id", "bytes", "codec").collect():
        sil, sr, dur = spec[r.clip_id]
        n0 = max(1, sr * dur // 1000)
        fs = max(1, sr * 20 // 1000)
        trim = min(sil, n0 // fs)
        pcm = _decode_safe(bytes(r.bytes), r.codec)
        assert len(pcm) == n0 - trim * fs, r.clip_id
        if len(pcm) >= fs:  # first remaining full frame is voiced
            x = pcm[:fs].astype(np.float64)
            assert np.sqrt((x * x).mean()) >= 1.0, r.clip_id


def test_schema_changing_transform_rejected(spark, tmp_path):
    """ADVICE r6: the docstring contract (callback must preserve the
    user-facing schema) is now enforced — a transform that drops, adds,
    or retypes a column raises instead of committing a replacing
    snapshot with a silently divergent schema."""
    import pytest

    t = make_table(spark, str(tmp_path / "t"), n=30, parts=2)
    before = t.current_snapshot().snapshot_id
    with pytest.raises(ValueError, match="schema"):
        transform_payloads(t, lambda df: df.drop("transcript"), job_id="bad1")
    with pytest.raises(ValueError, match="schema"):
        transform_payloads(
            t, lambda df: df.withColumn("extra", F.lit(1)), job_id="bad2"
        )
    with pytest.raises(ValueError, match="schema"):
        transform_payloads(
            t,
            lambda df: df.withColumn("dur_ms", F.col("dur_ms").cast("long")),
            job_id="bad3",
        )
    assert t.current_snapshot().snapshot_id == before  # nothing committed
    # the guard runs before the lineage marker: no rejected job is left
    # looking in-flight to orphan GC
    for job in ("bad1", "bad2", "bad3"):
        assert not t.storage.list(f"_lineage/{job}")

"""Oracle-checked queries() entries that drive the maintenance engine
end-to-end for the driver's correctness harness.

Round-1 ran these rows-only; round 2 gives each a real DuckDB oracle:
every entry materializes the engine's output at a deterministic scratch
path (data files under ``<table>/data/``, lineage checkpoints under
``_lineage/``, metadata sidecars), runs orphan GC so the physical
listing equals the live set, and the oracle re-derives the same result
by reading those artifacts directly (``read_parquet`` /
``read_json``) — a second engine auditing the first engine's actual
bytes, not a tautology. The driver runs the Spark query first, then the
oracle SQL (same order as tests/oracle_check.py and the verify recipe).

Cross-engine rules follow queries.py (exact ints, FLOOR-scaled floats,
tie-broken orderings, md5-free here).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import SCRATCH, _l2_sql, register, scratch
from .search import embed_query


def _fresh(spark: SparkSession, name: str, n: int, parts: int):
    from . import meta
    from .synth import synth_clips

    t = meta.create_table(spark, scratch(name))
    meta.append(t, synth_clips(spark, n, dur_range_ms=(50, 150), parts=parts), job_id="seed")
    return t


@register(
    "lakehouse_compact_roundtrip",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT clip_id) AS BIGINT) AS n_clips,
       CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms,
       CAST(SUM(octet_length(bytes)) AS BIGINT) AS sum_payload_bytes,
       30 AS files_before, 1 AS files_after,
       'create>append>compact' AS lineage
FROM read_parquet('{SCRATCH}/compact/data/*.parquet')
""",
)
def lakehouse_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create → append (30 small files) → FFD compact → GC. The oracle
    reads the post-compact data files directly: content invariants must
    survive the rewrite, and after GC the physical listing IS the live
    set (files_before/after + lineage are fixed by construction)."""
    from .compact import compact
    from .expire import expire_snapshots

    t = _fresh(spark, "compact", 1200, parts=30)
    files_before = len(t.live_files())
    compact(t, target_bytes=1 << 30, job_id="q-compact")
    ops = ">".join(s["operation"] for s in t.lineage_chain())
    # expire to the head snapshot: the physical dir becomes exactly the
    # live set, so the oracle's full-dir scan equals the engine's scan
    expire_snapshots(t, retain_last=1)
    return (
        t.scan()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("clip_id").alias("n_clips"),
            F.sum("dur_ms").alias("sum_dur_ms"),
            F.sum(F.length("bytes")).alias("sum_payload_bytes"),
        )
        .withColumn("files_before", F.lit(files_before))
        .withColumn("files_after", F.lit(len(t.live_files())))
        .withColumn("lineage", F.lit(ops))
    )


@register(
    "lakehouse_cluster_zorder_order",
    oracle=f"""
SELECT CAST(ROW_NUMBER() OVER (ORDER BY filename, file_row_number) - 1 AS INT) AS ordinal,
       clip_id
FROM read_parquet('{SCRATCH}/cluster/data/*.parquet',
                  filename=true, file_row_number=true)
ORDER BY ordinal
LIMIT 40
""",
)
def lakehouse_cluster_zorder_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order rewrite; the engine promises file-name order == curve
    order and in-file rows sorted by curve key, so the first 40 rows in
    (file name, physical row) order are deterministic. The oracle
    reproduces that order via DuckDB's filename/file_row_number."""
    from .cluster import cluster
    from .expire import expire_snapshots

    t = _fresh(spark, "cluster", 800, parts=16)
    cluster(t, curve="zorder", target_bytes=1 << 18, job_id="q-cluster")
    expire_snapshots(t, retain_last=1)
    rows: list[str] = []
    entries = sorted(t.manifest_entries().to_pylist(), key=lambda e: e["file_path"])
    for e in entries:
        if len(rows) >= 40:
            break
        part = spark.read.parquet(f"{t.root}/{e['file_path']}").select("clip_id")
        rows += [r.clip_id for r in part.coalesce(1).collect()]
    return spark.createDataFrame(
        [(i, cid) for i, cid in enumerate(rows[:40])], "ordinal int, clip_id string"
    )


@register(
    "lakehouse_merge_upsert",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN transcript LIKE '% v2' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
       CAST(SUM(CASE WHEN clip_id LIKE 'clip_zz_%' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
FROM read_parquet('{SCRATCH}/merge/data/*.parquet')
""",
)
def lakehouse_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CoW): 60 updates + 25 inserts; the oracle audits the
    post-merge data files directly (update/insert markers + row count)."""
    from .expire import expire_snapshots
    from .merge import merge_into
    from .synth import synth_clips

    t = _fresh(spark, "merge", 1000, parts=20)
    upd = (
        t.scan()
        .orderBy("clip_id")
        .limit(60)
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
    ).cache()
    upd.count()
    ins = synth_clips(spark, 25, seed=9, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("clip_zz_"), F.col("clip_id"))
    )
    merge_into(t, upd.unionByName(ins.select(*upd.columns)), job_id="q-merge")
    expire_snapshots(t, retain_last=1)
    return t.scan().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("transcript").like("% v2"), 1).otherwise(0)).alias("n_updated"),
        F.sum(F.when(F.col("clip_id").like("clip_zz_%"), 1).otherwise(0)).alias("n_inserted"),
    )


@register(
    "lakehouse_expire_gc",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT clip_id) AS BIGINT) AS n_clips,
       3 AS expired, 13 AS deleted_files, true AS all_live_exist
FROM read_parquet('{SCRATCH}/expire/data/*.parquet')
""",
)
def lakehouse_expire_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """append(12 files) → compact(→1 file) → cluster → expire(retain 1)
    + orphan GC. After expiry the physical data dir holds exactly the
    retained snapshot's files, so the oracle's full-dir scan must agree
    with the engine's manifest-driven scan; deleted = 12 seed files +
    1 compact output, expired snapshots = create/append/compact."""
    import os

    from .cluster import cluster
    from .compact import compact
    from .expire import expire_snapshots

    t = _fresh(spark, "expire", 600, parts=12)
    compact(t, target_bytes=1 << 30, job_id="q-compact")
    cluster(t, curve="hilbert", target_bytes=1 << 19, job_id="q-cluster")
    report = expire_snapshots(t, retain_last=1)
    all_live_exist = all(
        os.path.exists(f"{t.root}/{p}") for p in t.live_files()
    )
    return (
        t.scan()
        .agg(F.count(F.lit(1)).alias("n_rows"), F.countDistinct("clip_id").alias("n_clips"))
        .withColumn("expired", F.lit(len(report["expired_snapshots"])))
        .withColumn("deleted_files", F.lit(len(report["deleted_files"])))
        .withColumn("all_live_exist", F.lit(all_live_exist))
    )


@register(
    "lakehouse_resume_lineage",
    oracle=f"""
SELECT CAST(unit_id AS INT) AS unit_id,
       CAST(len(files_in) AS INT) AS files_in,
       CAST(len(files_out) AS INT) AS files_out,
       CAST(rows AS BIGINT) AS rows,
       committed
FROM read_json('{SCRATCH}/resume/_lineage/q-resume/unit-*.json')
ORDER BY unit_id
""",
)
def lakehouse_resume_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run compaction, then re-run with the same job id — the second run
    must find nothing to rewrite (resume semantics). The oracle reads
    the engine's actual lineage checkpoint files (read_json) and must
    see exactly the first run's unit records, unchanged."""
    from .compact import compact
    from .lineage import LineageLog

    t = _fresh(spark, "resume", 900, parts=18)
    first = compact(t, target_bytes=1 << 20, job_id="q-resume")
    assert first is not None
    second = compact(t, target_bytes=1 << 20, job_id="q-resume")
    assert second is None, "resume re-run must rewrite nothing"
    log = LineageLog(t, "q-resume")
    recs = log.records()
    return spark.createDataFrame(
        [
            (r["unit_id"], len(r["files_in"]), len(r["files_out"]), r["rows"], r["committed"])
            for r in recs
        ],
        "unit_id int, files_in int, files_out int, rows long, committed boolean",
    ).orderBy("unit_id")


def _corrupt_where_dur_div5(clips: DataFrame) -> DataFrame:
    """Deterministically corrupt the payload of clips with dur_ms % 5 == 0
    (XOR the sample region, length-preserving) — the SNR gate must catch
    exactly these."""
    schema = clips.schema

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            bad = (pdf["dur_ms"] % 5 == 0).to_numpy()
            bufs = pdf["bytes"].tolist()
            for i in np.flatnonzero(bad):
                b = bytearray(bufs[i])
                body = np.frombuffer(b, dtype=np.uint8, offset=44).copy()
                b[44:] = (body ^ 0x55).tobytes()
                bufs[i] = bytes(b)
            pdf = pdf.copy()
            pdf["bytes"] = bufs
            yield pdf

    return clips.mapInPandas(run, schema=schema)


@register(
    "audio_verify_snr",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN dur_ms % 5 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_ok,
       CAST(SUM(GREATEST(1, CAST(FLOOR(CAST(sr_hz AS DOUBLE) * dur_ms / 1000) AS BIGINT))) AS BIGINT)
         AS sum_samples
FROM read_parquet('{SCRATCH}/verify_meta/*.parquet')
""",
)
def audio_verify_snr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized PCM decode + SNR gate with planted corruption: clips
    with dur_ms % 5 == 0 get a length-preserving payload XOR. The
    engine decodes actual bytes; the oracle derives the expected
    pass-set and total decoded sample count from the metadata sidecar —
    decode lengths must reconcile with (sr_hz, dur_ms) row by row."""
    from .audio import verify_clips
    from .synth import synth_clips

    meta_path = scratch("verify_meta")
    clips = synth_clips(spark, 200, dur_range_ms=(50, 120), parts=8)
    clips.select("clip_id", "sr_hz", "dur_ms", "codec").write.mode("overwrite").parquet(meta_path)
    v = verify_clips(_corrupt_where_dur_div5(clips))
    return v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pcm_ok"), 1).otherwise(0)).alias("n_ok"),
        F.sum("n_samples").alias("sum_samples"),
    )


@register(
    "audio_verify_sampled",
    oracle=f"""
SELECT CAST(SUM(CASE WHEN in_bad_file OR dur_ms % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_checked,
       CAST(SUM(CASE WHEN in_bad_file THEN 1 ELSE 0 END) AS BIGINT) AS n_crc_bad,
       CAST(SUM(CASE WHEN in_bad_file THEN 1 ELSE 0 END) AS BIGINT) AS n_pcm_bad,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM read_parquet('{SCRATCH}/verify_sampled_meta/*.parquet')
""",
)
def audio_verify_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for verification (integrity.py): write-time
    per-row CRC + sampled SNR decode. Corruption is planted ON DISK in
    one committed data file (payload bytes XORed past the header, _crc
    left stale — post-write bit rot). verify_table must pull exactly
    that file's rows through the checksum gate, condemn them via SNR,
    and otherwise decode only the deterministic dur_ms%7 sample. The
    oracle re-derives all counts from a pre-corruption metadata sidecar
    that records which clips live in the victim file."""
    from . import meta
    from .integrity import corrupt_file_on_disk, verify_table
    from .synth import synth_clips

    root, meta_path = scratch("verify_sampled", "verify_sampled_meta")
    t = meta.create_table(spark, root)
    meta.append(
        t,
        synth_clips(spark, 300, dur_range_ms=(50, 120), parts=6),
        job_id="seed",
    )
    victim = sorted(t.live_files())[0]
    bad_ids = set(
        spark.read.parquet(f"{root}/{victim}")
        .select("clip_id")
        .toPandas()["clip_id"]
    )
    bad_col = F.col("clip_id").isin(list(bad_ids))
    (
        t.scan()
        .select("clip_id", "sr_hz", "dur_ms", bad_col.alias("in_bad_file"))
        .write.mode("overwrite")
        .parquet(meta_path)
    )
    corrupt_file_on_disk(f"{root}/{victim}")

    v = verify_table(t, sample_pred=F.col("dur_ms") % 7 == 0)
    total = t.scan().count()
    return v.agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.when(~F.col("crc_ok"), 1).otherwise(0)).alias("n_crc_bad"),
        F.sum(F.when(~F.col("pcm_ok"), 1).otherwise(0)).alias("n_pcm_bad"),
    ).withColumn("n_total", F.lit(total))


@register(
    "audio_features",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(GREATEST(1, CAST(FLOOR(CAST(sr_hz AS DOUBLE) * dur_ms / 1000) AS BIGINT))) AS BIGINT)
         AS sum_samples,
       CAST(SUM(len(list_filter(string_split(transcript, ' '), t -> t <> ''))) AS BIGINT)
         AS sum_tokens
FROM read_parquet('{SCRATCH}/features_meta/*.parquet')
""",
)
def audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction via mapInPandas; decoded sample counts
    and transcript token counts must reconcile with the metadata
    sidecar (the oracle recomputes both without touching audio bytes)."""
    from .audio import extract_features
    from .synth import synth_clips

    meta_path = scratch("features_meta")
    clips = synth_clips(spark, 150, dur_range_ms=(50, 120), parts=6)
    clips.select("clip_id", "sr_hz", "dur_ms", "transcript").write.mode("overwrite").parquet(meta_path)
    f = extract_features(clips)
    return f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_samples").alias("sum_samples"),
        F.sum("n_tokens").alias("sum_tokens"),
    )


@register(
    "audio_resample",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(CEIL(CAST(n0 AS DOUBLE) * 16000 / sr_hz) AS BIGINT)) AS BIGINT)
         AS sum_resampled_samples,
       16000 AS target_sr
FROM (
  SELECT sr_hz,
         GREATEST(1, CAST(FLOOR(CAST(sr_hz AS DOUBLE) * dur_ms / 1000) AS BIGINT)) AS n0
  FROM read_parquet('{SCRATCH}/resample_meta/*.parquet')
)
""",
)
def audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyphase resample to 16 kHz (audio.resample_clips): every
    output clip must decode to exactly ceil(n0 · 16000 / sr0) samples
    (the rational-resampler length contract). The engine decodes the
    actual resampled payload bytes; the oracle derives the expected
    totals purely from the metadata sidecar."""
    from .audio import extract_features, resample_clips
    from .synth import synth_clips

    meta_path = scratch("resample_meta")
    clips = synth_clips(spark, 150, dur_range_ms=(50, 120), parts=6)
    clips.select("clip_id", "sr_hz", "dur_ms").write.mode("overwrite").parquet(
        meta_path
    )
    out = resample_clips(clips, 16000)
    feats = extract_features(out)
    return (
        feats.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_samples").alias("sum_resampled_samples"),
        )
        .withColumn("target_sr", F.lit(16000))
    )


@register(
    "lakehouse_delete_where",
    oracle=f"""
SELECT CAST(SUM(CASE WHEN dur_ms % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rows_after,
       CAST(SUM(CASE WHEN dur_ms % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_deleted,
       CAST(SUM(CASE WHEN dur_ms % 7 <> 0 THEN dur_ms ELSE 0 END) AS BIGINT)
         AS sum_dur_after,
       0 AS residual_matches
FROM read_parquet('{SCRATCH}/delete_sidecar/*.parquet')
""",
)
def lakehouse_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM ... WHERE (merge.delete_where, CoW): the engine
    deletes dur_ms%7 rows and reports the deleted count from manifest
    arithmetic (inputs − outputs, no count job); the oracle recomputes
    the expected survivor/victim split from a pre-delete sidecar copy.
    residual_matches proves no victim row survived in the engine's
    actual post-delete data files."""
    from .expire import expire_snapshots
    from .merge import delete_where

    t = _fresh(spark, "delete", 800, parts=16)
    t.scan().write.mode("overwrite").parquet(scratch("delete_sidecar"))
    snap = delete_where(t, "dur_ms % 7 = 0", job_id="q-del")
    expire_snapshots(t, retain_last=1)
    residual = t.scan().filter(F.expr("dur_ms % 7 = 0")).count()
    return (
        t.scan()
        .agg(
            F.count(F.lit(1)).alias("n_rows_after"),
            F.sum("dur_ms").alias("sum_dur_after"),
        )
        .withColumn("n_deleted", F.lit(snap.summary["deleted_rows"]).cast("long"))
        .withColumn("residual_matches", F.lit(residual).cast("int"))
    )


@register(
    "lakehouse_rollback",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT clip_id) AS BIGINT) AS n_clips,
       CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms,
       'create>append>append>rollback' AS lineage,
       true AS time_travel_intact
FROM read_parquet('{SCRATCH}/rollback_sidecar/*.parquet')
""",
)
def lakehouse_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-preserving rollback: append b1 → append b2 → rollback to
    the b1 snapshot. The head must read as exactly b1 (audited against
    an independently-written sidecar of b1), the lineage must show the
    rollback as a NEW commit (history never rewritten), and time travel
    to the pre-rollback head must still see b2."""
    from . import meta as M
    from .synth import synth_clips

    root, sidecar = scratch("rollback", "rollback_sidecar")
    t = M.create_table(spark, root)
    b1 = synth_clips(spark, 250, seed=1, dur_range_ms=(50, 100))
    M.append(t, b1, job_id="b1", parts=3)
    b1.write.mode("overwrite").parquet(sidecar)
    target = t.current_snapshot().snapshot_id

    b2 = synth_clips(spark, 120, seed=2, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("n_"), F.col("clip_id"))
    )
    M.append(t, b2, job_id="b2", parts=2)
    pre_rollback_head = t.current_snapshot().snapshot_id
    M.rollback(t, target)

    ops = ">".join(s["operation"] for s in t.lineage_chain())
    # history preserved: the pre-rollback head still time-travels to
    # the state INCLUDING b2
    tt = t.scan(snapshot_id=pre_rollback_head).count() == 370
    return (
        t.scan()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("clip_id").alias("n_clips"),
            F.sum("dur_ms").alias("sum_dur_ms"),
        )
        .withColumn("lineage", F.lit(ops))
        .withColumn("time_travel_intact", F.lit(tt))
    )


@register(
    "lakehouse_mor_delete",
    oracle=f"""
WITH orig AS (SELECT * FROM read_parquet('{SCRATCH}/mor_orig/*.parquet')),
dels AS (SELECT clip_id FROM read_parquet('{SCRATCH}/mor_delkeys/*.parquet')),
reins AS (SELECT * FROM read_parquet('{SCRATCH}/mor_reins/*.parquet')),
post AS (SELECT clip_id FROM read_parquet('{SCRATCH}/mor/data/*.parquet'))
SELECT CAST((SELECT COUNT(*) FROM orig WHERE clip_id NOT IN (SELECT clip_id FROM dels))
            + (SELECT COUNT(*) FROM reins) AS BIGINT) AS n_rows,
       CAST((SELECT SUM(dur_ms) FROM orig WHERE clip_id NOT IN (SELECT clip_id FROM dels))
            + (SELECT SUM(dur_ms) FROM reins) AS BIGINT) AS sum_dur_ms,
       CAST((SELECT COUNT(*) FROM post
             WHERE clip_id IN (SELECT clip_id FROM dels)) AS BIGINT)
         AS victims_in_files,
       0 AS mor_files_outstanding
""",
)
def lakehouse_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read lifecycle: MOR equality-delete 50 keys (no data
    file rewritten) → re-insert 10 of them (higher sequence → visible)
    → compact (applicability-grouped byte stream) → full cluster
    (materializes the deletes, drops the delete file) → expire. The
    engine reports its scan; the oracle derives expected rows/sums
    INDEPENDENTLY from pre-state sidecars and audits the engine's
    actual post-cluster bytes: exactly the 10 re-inserted victims may
    appear in the data files, and no delete file may remain."""
    from . import meta as M
    from .compact import compact
    from .cluster import cluster
    from .expire import expire_snapshots
    from .merge import delete_keys_mor
    from .synth import synth_clips

    root, orig, delkeys, reins_path = scratch("mor", "mor_orig", "mor_delkeys", "mor_reins")
    t = M.create_table(spark, root)
    M.append(t, synth_clips(spark, 300, dur_range_ms=(50, 120), parts=6), job_id="seed")
    t.scan().write.mode("overwrite").parquet(orig)

    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    victims = ids[:50]
    kdf = spark.createDataFrame([(k,) for k in victims], "clip_id string")
    kdf.write.mode("overwrite").parquet(delkeys)
    delete_keys_mor(t, kdf, job_id="q-mor")

    reins = t.scan(snapshot_id=2).filter(F.col("clip_id").isin(victims[:10]))
    reins.write.mode("overwrite").parquet(reins_path)
    M.append(t, reins, job_id="q-re", parts=2)

    compact(t, target_bytes=1 << 30, job_id="q-compact")
    cluster(t, curve="linear", target_bytes=1 << 19, job_id="q-cluster")
    expire_snapshots(t, retain_last=1)
    outstanding = len(t.delete_entries())
    return (
        t.scan()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("dur_ms").alias("sum_dur_ms"),
        )
        .withColumn(
            "victims_in_files",
            F.lit(
                t.scan().filter(F.col("clip_id").isin(victims)).count()
            ).cast("long"),
        )
        .withColumn("mor_files_outstanding", F.lit(outstanding))
    )


@register(
    "lakehouse_mor_consolidate",
    oracle=f"""
WITH orig AS (SELECT * FROM read_parquet('{SCRATCH}/morc_orig/*.parquet')),
b1 AS (SELECT clip_id FROM read_parquet('{SCRATCH}/morc_b1/*.parquet')),
d2 AS (SELECT clip_id FROM read_parquet('{SCRATCH}/morc_d2/*.parquet')),
d3 AS (SELECT clip_id FROM read_parquet('{SCRATCH}/morc_d3/*.parquet')),
reins AS (SELECT * FROM read_parquet('{SCRATCH}/morc_reins/*.parquet')),
cons AS (SELECT clip_id, _del_seq
         FROM read_parquet('{SCRATCH}/morc/data/q-consol-*.parquet')),
expected AS (
  SELECT clip_id, 6 AS seq FROM d3
  UNION ALL
  SELECT clip_id, 3 FROM b1 WHERE clip_id NOT IN (SELECT clip_id FROM d3)
  UNION ALL
  SELECT clip_id, 5 FROM d2
),
vis AS (
  SELECT dur_ms FROM orig
  WHERE clip_id NOT IN (SELECT clip_id FROM b1)
    AND clip_id NOT IN (SELECT clip_id FROM d2)
  UNION ALL
  SELECT dur_ms FROM reins WHERE clip_id NOT IN (SELECT clip_id FROM d3)
)
SELECT CAST((SELECT COUNT(*) FROM vis) AS BIGINT) AS n_rows,
       CAST((SELECT SUM(dur_ms) FROM vis) AS BIGINT) AS sum_dur_ms,
       1 AS n_delete_files,
       CAST((SELECT COUNT(*) FROM cons) AS BIGINT) AS n_keys,
       CAST((SELECT COUNT(*) FROM expected e
             LEFT JOIN cons c USING (clip_id)
             WHERE c._del_seq IS NULL OR c._del_seq <> e.seq) AS BIGINT)
         AS n_seq_mismatch
""",
)
def lakehouse_mor_consolidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-file maintenance (VERDICT r4 #2): three delete-mor
    batches with a re-insert AND a re-delete interleaved (so per-key
    applicable sequences genuinely differ), then consolidate_deletes
    folds them into ONE per-key-sequence delete file, then GC. The
    engine reports its scan + manifest metadata; the oracle re-derives
    the visible set from pre-state sidecars and audits the engine's
    actual consolidated delete file on disk — every key must carry
    exactly the max sequence of the delete batches that covered it
    (collapsing to one file-level sequence would kill the re-inserted
    keys, and the mismatch column would catch it)."""
    from . import meta as M
    from .expire import expire_snapshots
    from .merge import consolidate_deletes, delete_keys_mor
    from .synth import synth_clips

    root, orig, b1_path, d2_path, d3_path, reins_path = scratch(
        "morc", "morc_orig", "morc_b1", "morc_d2", "morc_d3", "morc_reins"
    )
    t = M.create_table(spark, root)
    M.append(t, synth_clips(spark, 300, dur_range_ms=(50, 120), parts=6), job_id="seed")
    t.scan().write.mode("overwrite").parquet(orig)

    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    b1, d2, d3 = ids[:30], ids[40:70], ids[:5]

    def _kdf(keys, path):
        kdf = spark.createDataFrame([(k,) for k in keys], "clip_id string")
        kdf.write.mode("overwrite").parquet(path)
        return kdf

    s1 = delete_keys_mor(t, _kdf(b1, b1_path), job_id="q-d1")
    reins = t.scan(snapshot_id=2).filter(F.col("clip_id").isin(b1[:10]))
    reins.write.mode("overwrite").parquet(reins_path)
    M.append(t, reins, job_id="q-re", parts=2)
    s2 = delete_keys_mor(t, _kdf(d2, d2_path), job_id="q-d2")
    s3 = delete_keys_mor(t, _kdf(d3, d3_path), job_id="q-d3")

    consolidate_deletes(t, job_id="q-consol")
    expire_snapshots(t, retain_last=1)

    dels = t.delete_entries()
    n_keys_meta = sum(e["row_count"] for e in dels)
    # engine-side mismatch audit: read the consolidated file and check
    # every key against the sequences of the deletes that covered it
    # (the oracle recomputes the same from sidecars + the deterministic
    # snapshot ids)
    exp = {k: s3.snapshot_id for k in d3}
    for k in b1:
        exp.setdefault(k, s1.snapshot_id)
    for k in d2:
        exp[k] = s2.snapshot_id
    cons = {
        r["clip_id"]: r["_del_seq"]
        for r in spark.read.parquet(f"{t.root}/{dels[0]['file_path']}").collect()
    }
    mismatch = sum(1 for k, s in exp.items() if cons.get(k) != s)
    return (
        t.scan()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("dur_ms").alias("sum_dur_ms"),
        )
        .withColumn("n_delete_files", F.lit(len(dels)))
        .withColumn("n_keys", F.lit(n_keys_meta).cast("long"))
        .withColumn("n_seq_mismatch", F.lit(mismatch).cast("long"))
    )


@register(
    "lakehouse_tag_retention",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT clip_id) AS BIGINT) AS n_clips,
       CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms,
       CAST(SUM(octet_length(bytes)) AS BIGINT) AS sum_payload_bytes,
       true AS all_tagged_files_exist
FROM read_parquet('{SCRATCH}/tag_sidecar/*.parquet')
""",
)
def lakehouse_tag_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot tags (Iceberg refs): tag the first append, then append
    more, compact, and expire(retain_last=1). The tagged snapshot and
    its files must survive the expiry, and scanning BY TAG must return
    exactly the first batch — audited against an independently-written
    sidecar copy of that batch. Any GC of the tagged files or drift in
    tag resolution breaks the content sums."""
    import os

    from . import meta as M
    from .compact import compact
    from .expire import expire_snapshots
    from .synth import synth_clips

    root, sidecar = scratch("tagged", "tag_sidecar")
    t = M.create_table(spark, root)
    b1 = synth_clips(spark, 300, seed=1, dur_range_ms=(50, 100))
    M.append(t, b1, job_id="b1", parts=4)
    b1.write.mode("overwrite").parquet(sidecar)
    t.set_tag("baseline")

    b2 = synth_clips(spark, 200, seed=2, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("n_"), F.col("clip_id"))
    )
    M.append(t, b2, job_id="b2", parts=3)
    compact(t, target_bytes=1 << 30, job_id="q-compact")
    report = expire_snapshots(t, retain_last=1)
    tagged_sid = t.resolve_tag("baseline")
    assert tagged_sid in report["retained_snapshots"]
    all_exist = all(
        os.path.exists(f"{t.root}/{p}")
        for p in t.live_files(t.snapshot(tagged_sid))
    )
    return (
        t.scan(tag="baseline")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("clip_id").alias("n_clips"),
            F.sum("dur_ms").alias("sum_dur_ms"),
            F.sum(F.length("bytes")).alias("sum_payload_bytes"),
        )
        .withColumn("all_tagged_files_exist", F.lit(all_exist))
    )


@register(
    "lakehouse_wap_audit",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms,
       CAST(SUM(CASE WHEN clip_id LIKE 'g_%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good_batch,
       CAST(SUM(CASE WHEN clip_id LIKE 'b_%' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bad_batch,
       1 AS good_published, 0 AS bad_published
FROM read_parquet('{SCRATCH}/wap_sidecar/*.parquet')
""",
)
def lakehouse_wap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish (wap.py): a good batch publishes (the
    ``published`` tag advances), a payload-corrupted batch is rejected
    by the SNR audit (head rolled back, tag unmoved, files orphaned for
    GC). The entry returns what a CONSUMER sees through the publish tag
    after both attempts + expiry; the oracle recomputes it from an
    independently-written sidecar of seed+good — zero 'b_' rows may
    ever be visible."""
    from collections.abc import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from . import meta as M
    from .expire import expire_snapshots
    from .synth import synth_clips
    from .wap import audited_append, publish_init, published_scan, snr_audit

    root, sidecar = scratch("wap", "wap_sidecar")
    t = M.create_table(spark, root)
    seed = synth_clips(spark, 300, seed=1, dur_range_ms=(50, 100))
    M.append(t, seed, job_id="seed", parts=4)
    publish_init(t)

    from .synth import with_clip_prefix

    # prefixing re-encodes the payload from the new id (the SNR audit
    # re-synthesizes by clip_id — a bare rename reads as corruption)
    good = with_clip_prefix(
        synth_clips(spark, 100, seed=2, dur_range_ms=(50, 100)), "g_"
    )
    r_good = audited_append(t, good, snr_audit(), job_id="wap-good", parts=2)

    bad_src = with_clip_prefix(
        synth_clips(spark, 80, seed=3, dur_range_ms=(50, 100)), "b_"
    )
    schema = bad_src.schema

    def corrupt_all(it: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in it:
            bufs = []
            for b in pdf["bytes"]:
                arr = bytearray(b)
                body = _np.frombuffer(arr, dtype=_np.uint8, offset=44).copy()
                arr[44:] = (body ^ 0x55).tobytes()
                bufs.append(bytes(arr))
            pdf = pdf.copy()
            pdf["bytes"] = bufs
            yield pdf

    bad = bad_src.mapInPandas(corrupt_all, schema=schema)
    r_bad = audited_append(t, bad, snr_audit(), job_id="wap-bad", parts=2)
    expire_snapshots(t, retain_last=1)

    seed.unionByName(good).write.mode("overwrite").parquet(sidecar)
    return (
        published_scan(t)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("dur_ms").alias("sum_dur_ms"),
            F.sum(F.when(F.col("clip_id").like("g_%"), 1).otherwise(0)).alias(
                "n_good_batch"
            ),
            F.sum(F.when(F.col("clip_id").like("b_%"), 1).otherwise(0)).alias(
                "n_bad_batch"
            ),
        )
        .withColumn("good_published", F.lit(1 if r_good["published"] else 0))
        .withColumn("bad_published", F.lit(1 if r_bad["published"] else 0))
    )


@register(
    "audio_chunk",
    oracle=f"""
WITH m AS (
  SELECT GREATEST(1, CAST(FLOOR(CAST(sr_hz AS DOUBLE) * dur_ms / 1000) AS BIGINT)) AS n0,
         GREATEST(1, CAST((sr_hz * 250) // 1000 AS BIGINT)) AS w
  FROM read_parquet('{SCRATCH}/chunk_meta/*.parquet')
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_clips,
       CAST(SUM(CAST(CEIL(CAST(n0 AS DOUBLE) / w) AS BIGINT)) AS BIGINT) AS n_chunks,
       CAST(SUM(n0) AS BIGINT) AS sum_samples,
       CAST(SUM(CASE WHEN n0 % w = 0 THEN w ELSE n0 % w END) AS BIGINT)
         AS sum_last_samples
FROM m
""",
)
def audio_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window audio chunking (audio.chunk_clips, 250 ms windows):
    the engine chunks actual payload bytes and the entry RE-DECODES the
    chunk bytes (extract_features) to count samples; the oracle derives
    the full length contract — chunk counts, total samples, last-chunk
    remainders — purely from the metadata sidecar. Any padding, loss,
    or misaligned split breaks one of the three sums."""
    from .audio import chunk_clips, extract_features
    from .synth import synth_clips

    meta_path = scratch("chunk_meta")
    clips = synth_clips(spark, 150, dur_range_ms=(400, 900), parts=6)
    clips.select("clip_id", "sr_hz", "dur_ms").write.mode("overwrite").parquet(
        meta_path
    )
    chunks = chunk_clips(clips, 250)
    f = extract_features(chunks)
    parsed = f.select(
        F.substring_index("clip_id", "#", 1).alias("parent"),
        F.substring_index("clip_id", "#", -1).cast("int").alias("idx"),
        "n_samples",
    )
    per_parent = parsed.groupBy("parent").agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_samples").alias("s"),
        F.max_by("n_samples", "idx").alias("last_n"),
    )
    return per_parent.agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum("k").alias("n_chunks"),
        F.sum("s").alias("sum_samples"),
        F.sum("last_n").alias("sum_last_samples"),
    )


@register(
    "lakehouse_schema_evolution",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN COALESCE(lang, 'en') = 'en' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_en,
       CAST(SUM(CASE WHEN lang = 'bg' THEN 1 ELSE 0 END) AS BIGINT) AS n_bg,
       false AS old_has_lang
FROM read_parquet('{SCRATCH}/evolve/data/*.parquet', union_by_name=true)
""",
)
def lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ADD COLUMN with default (evolve.py): files written
    before the op lack the column physically; the engine's scan fills
    the default, and the oracle reproduces the same view by reading the
    actual mixed-schema data files with union_by_name + COALESCE.
    Time travel: the pre-evolution snapshot must not show the column."""
    from . import meta
    from .evolve import add_column
    from .synth import synth_clips

    t = meta.create_table(spark, scratch("evolve"))
    meta.append(
        t, synth_clips(spark, 300, dur_range_ms=(50, 100), parts=4), job_id="b1"
    )
    v_before = t.current_snapshot().snapshot_id
    add_column(t, "lang", "string", default="en")
    b2 = (
        synth_clips(spark, 200, seed=11, dur_range_ms=(50, 100))
        .withColumn("clip_id", F.concat(F.lit("n_"), F.col("clip_id")))
        .withColumn("lang", F.lit("bg"))
    )
    meta.append(t, b2, job_id="b2", parts=3)
    old_has_lang = "lang" in t.scan(v_before).columns
    return (
        t.scan()
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
            F.sum(F.when(F.col("lang") == "bg", 1).otherwise(0)).alias("n_bg"),
        )
        .withColumn("old_has_lang", F.lit(old_has_lang))
    )


@register(
    "lakehouse_incremental_scan",
    oracle=f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT clip_id) AS BIGINT) AS n_clips,
       CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms,
       CAST(SUM(octet_length(bytes)) AS BIGINT) AS sum_payload_bytes
FROM read_parquet('{SCRATCH}/inc_sidecar/*.parquet')
""",
)
def lakehouse_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan: three appends, consume the changelog
    from after the first — the result must equal exactly the later two
    batches. The oracle reads a sidecar copy of those batches written
    through an independent path (plain parquet write vs manifest-diff
    scan)."""
    from . import meta
    from .synth import synth_clips

    root, sidecar = scratch("incremental", "inc_sidecar")
    t = meta.create_table(spark, root)
    b1 = synth_clips(spark, 300, seed=1, dur_range_ms=(50, 100))
    b2 = synth_clips(spark, 400, seed=2, dur_range_ms=(50, 100))
    b3 = synth_clips(spark, 500, seed=3, dur_range_ms=(50, 100))
    meta.append(t, b1, job_id="b1", parts=4)
    baseline = t.current_snapshot().snapshot_id
    meta.append(t, b2, job_id="b2", parts=4)
    meta.append(t, b3, job_id="b3", parts=4)
    b2.unionByName(b3).write.mode("overwrite").parquet(sidecar)
    inc = t.incremental_scan(baseline)
    return inc.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("clip_id").alias("n_clips"),
        F.sum("dur_ms").alias("sum_dur_ms"),
        F.sum(F.length("bytes")).alias("sum_payload_bytes"),
    )


@register(
    "dedup_exact_audio",
    oracle=f"""
SELECT MIN(clip_id) AS keeper, CAST(COUNT(*) AS BIGINT) AS n_copies
FROM read_parquet('{SCRATCH}/aud_dedup_sidecar/*.parquet')
GROUP BY bytes
ORDER BY keeper
""",
)
def dedup_exact_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact BINARY-payload dedup — the audio-modality counterpart of
    the text exact dedup (task brief): group by md5 of the raw clip
    bytes (computed JVM-side, 16-byte shuffle key — the right plan at
    10^12 clips where the payload must never ride the shuffle), keep
    the lowest clip_id per payload. Planted duplicates: every
    dur_ms%4==0 clip re-appears under a 'dup_' id with byte-identical
    payload. The oracle needs no shared hash at all — DuckDB groups by
    the payload BYTES themselves over the sidecar, so a Spark md5
    collision or truncation bug would show as a row-count/keeper
    mismatch."""
    from .synth import synth_clips

    sidecar = scratch("aud_dedup_sidecar")
    base = synth_clips(spark, 200, seed=21, dur_range_ms=(50, 120), parts=4)
    dupes = base.filter("dur_ms % 4 = 0").withColumn(
        "clip_id", F.concat(F.lit("dup_"), F.col("clip_id"))
    )
    allc = base.unionByName(dupes)
    allc.select("clip_id", "dur_ms", "bytes").write.mode("overwrite").parquet(
        sidecar
    )
    return (
        allc.groupBy(F.md5("bytes").alias("_h"))
        .agg(
            F.min("clip_id").alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keeper", "n_copies")
        .orderBy("keeper")
    )


@register(
    "lakehouse_two_table_lifecycle",
    oracle=f"""
WITH spre AS (SELECT text_id, sentence_id, sentence
              FROM read_parquet('{SCRATCH}/twotab_sent_pre/*.parquet')),
tpre AS (SELECT text_id FROM read_parquet('{SCRATCH}/twotab_text_pre/*.parquet')),
upd AS (SELECT text_id, sentence_id, sentence
        FROM read_parquet('{SCRATCH}/twotab_upd/*.parquet')),
expected AS (
  SELECT p.text_id, p.sentence_id, COALESCE(u.sentence, p.sentence) AS sentence
  FROM spre p
  LEFT JOIN upd u ON u.text_id = p.text_id AND u.sentence_id = p.sentence_id
  WHERE p.text_id <> 3
  UNION ALL
  SELECT u.text_id, u.sentence_id, u.sentence FROM upd u
  WHERE NOT EXISTS (SELECT 1 FROM spre p
                    WHERE p.text_id = u.text_id AND p.sentence_id = u.sentence_id)
),
sfin AS (SELECT text_id, sentence_id, sentence
         FROM read_parquet('{SCRATCH}/twotab/wh/sentence_level/data/*.parquet')),
tfin AS (SELECT text_id, title
         FROM read_parquet('{SCRATCH}/twotab/wh/text_level/data/*.parquet'))
SELECT CAST((SELECT COUNT(*) FROM tpre WHERE text_id <> 3) AS BIGINT) AS n_texts,
       CAST((SELECT COUNT(*) FROM expected) AS BIGINT) AS n_sents,
       CAST((SELECT COUNT(*) FROM expected WHERE sentence LIKE '% v2') AS BIGINT)
         AS n_upd_sents,
       CAST((SELECT COUNT(*) FROM expected WHERE sentence_id = 900001) AS BIGINT)
         AS n_new_sents,
       CAST((SELECT COUNT(*) FROM sfin s
             WHERE s.text_id NOT IN (SELECT text_id FROM tfin)) AS BIGINT)
         AS n_orphan_sents,
       CAST((SELECT COUNT(*) FROM sfin WHERE text_id = 3)
            + (SELECT COUNT(*) FROM tfin WHERE text_id = 3) AS BIGINT)
         AS n_victim_rows,
       CAST((SELECT COUNT(*) FROM tfin WHERE title LIKE '% (edited)') AS BIGINT)
         AS n_title_edited
""",
)
def lakehouse_two_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ACTUAL data model maintained end-to-end (VERDICT
    r4 #4; /root/reference/fupi/utils.py:39-49: text-level +
    sentence-level pair, FK text_id): ingest a corpus into both tables,
    edit one document — composite-key MERGE on (text_id, sentence_id)
    updating its sentences and inserting a new one, single-key MERGE
    retitling its text row — then GDPR-delete another document
    FK-consistently from BOTH tables, then expire. The oracle
    re-derives the expected sentence set from pre-state + merge-source
    sidecars and audits the engine's actual post-op table bytes:
    correct updates/insert, zero victim rows anywhere, and zero
    orphaned sentences (every sentence's text_id resolves)."""
    import os

    from . import ingest
    from .expire import expire_snapshots
    from .merge import delete_where, merge_into

    root, sent_pre, text_pre, upd_path = scratch(
        "twotab", "twotab_sent_pre", "twotab_text_pre", "twotab_upd"
    )
    os.makedirs(root, exist_ok=True)
    jsonl = f"{root}/docs.jsonl.gz"
    ingest.write_raw_docs_jsonl(jsonl, 40)
    t_text, t_sent = ingest.ingest_corpus(spark, jsonl, f"{root}/wh", num_samples=30)

    t_sent.scan().select("text_id", "sentence_id", "sentence").write.mode(
        "overwrite"
    ).parquet(sent_pre)
    t_text.scan().select("text_id").write.mode("overwrite").parquet(text_pre)

    # edit doc 2: update every sentence + insert a new one (embedding
    # columns carried from an existing row — the lifecycle under test
    # is the table maintenance, not the embedder)
    updates = t_sent.scan().filter("text_id = 2").withColumn(
        "sentence", F.concat("sentence", F.lit(" v2"))
    )
    new_row = (
        t_sent.scan()
        .filter("text_id = 2")
        .orderBy("sentence_id")
        .limit(1)
        .withColumn("sentence_id", F.lit(900001).cast("long"))
        .withColumn("sentence", F.lit("a brand new sentence. v2"))
    )
    upd = updates.unionByName(new_row).cache()
    upd.count()
    upd.select("text_id", "sentence_id", "sentence").write.mode(
        "overwrite"
    ).parquet(upd_path)
    merge_into(
        t_sent, upd, keys=["text_id", "sentence_id"], job_id="q-sent-merge"
    )
    upd_t = (
        t_text.scan()
        .filter("text_id = 2")
        .withColumn("title", F.concat("title", F.lit(" (edited)")))
        .cache()
    )
    upd_t.count()
    merge_into(t_text, upd_t, keys=["text_id"], job_id="q-text-merge")

    # FK-consistent document delete across both tables
    delete_where(t_sent, "text_id = 3", job_id="q-del-sent")
    delete_where(t_text, "text_id = 3", job_id="q-del-text")
    expire_snapshots(t_sent, retain_last=1)
    expire_snapshots(t_text, retain_last=1)

    sents = t_sent.scan()
    texts = t_text.scan()
    orphans = sents.join(texts.select("text_id"), "text_id", "left_anti").count()
    return (
        sents.agg(
            F.count(F.lit(1)).alias("n_sents"),
            F.sum(F.when(F.col("sentence").like("% v2"), 1).otherwise(0)).alias(
                "n_upd_sents"
            ),
            F.sum(F.when(F.col("sentence_id") == 900001, 1).otherwise(0)).alias(
                "n_new_sents"
            ),
            F.sum(F.when(F.col("text_id") == 3, 1).otherwise(0)).alias(
                "_victim_sents"
            ),
        )
        .withColumn("n_texts", F.lit(texts.count()).cast("long"))
        .withColumn("n_orphan_sents", F.lit(orphans).cast("long"))
        .withColumn(
            "n_victim_rows",
            (
                F.col("_victim_sents")
                + F.lit(texts.filter("text_id = 3").count())
            ).cast("long"),
        )
        .withColumn(
            "n_title_edited",
            F.lit(texts.filter(F.col("title").like("% (edited)")).count()).cast(
                "long"
            ),
        )
        .drop("_victim_sents")
    )


# deterministic at import time: the stub embedder is seeded (dim 16)
_E2E_QVEC = embed_query("quick brown fox")


@register(
    "fupi_ingest_search_e2e",
    oracle=f"""
WITH hits AS (
  SELECT text_id, sentence_id, sentence,
         {_l2_sql('dense_embedding', _E2E_QVEC, 'duck')} AS distance
  FROM read_parquet('{SCRATCH}/fupi_e2e/wh/sentence_level/data/*.parquet')
  ORDER BY distance ASC, sentence_id ASC
  LIMIT 10
),
filtered AS (SELECT * FROM hits WHERE length(sentence) > 3),
joined AS (
  SELECT f.text_id, f.sentence_id, f.distance, t.date, t.title
  FROM filtered f
  JOIN read_parquet('{SCRATCH}/fupi_e2e/wh/text_level/data/*.parquet') t
    USING (text_id)
),
grouped AS (
  SELECT distance, text_id,
         STRING_AGG(CAST(sentence_id AS VARCHAR), ', ' ORDER BY sentence_id)
           AS sentence_ids
  FROM joined
  GROUP BY distance, text_id, date, title
)
SELECT text_id, sentence_ids,
       CAST(FLOOR(distance * 10000) AS BIGINT) AS distance_e4
FROM grouped
ORDER BY distance ASC, text_id ASC
LIMIT 10
""",
)
def fupi_ingest_search_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole reference lifecycle: JSONL → ingest (segment, embed,
    centroid, two tables, compact) → dense search. The oracle is an
    independent SQL re-implementation of the search (same quirks:
    filter-after-limit, group-by-distance) over the engine-written
    warehouse tables — bit-identical distances by the shared
    left-associative expression."""
    import os

    from . import ingest
    from .expire import expire_snapshots
    from .search import search

    root = scratch("fupi_e2e")
    os.makedirs(root, exist_ok=True)
    jsonl = f"{root}/docs.jsonl.gz"
    ingest.write_raw_docs_jsonl(jsonl, 80)
    t_text, t_sent = ingest.ingest_corpus(spark, jsonl, f"{root}/wh", num_samples=50)
    expire_snapshots(t_text, retain_last=1)
    expire_snapshots(t_sent, retain_last=1)
    res = search(t_text, t_sent, "quick brown fox", k=10)
    return res.select(
        "text_id",
        "sentence_ids",
        F.floor(F.col("distance") * 10000).alias("distance_e4"),
    )


@register(
    "lakehouse_cluster_incremental",
    oracle=f"""
WITH rows_ AS (
  SELECT parse_filename(filename) AS file_name, clip_id,
         clip_id >= COALESCE(
           LAG(clip_id) OVER (PARTITION BY filename ORDER BY file_row_number),
           clip_id) AS in_order
  FROM read_parquet('{SCRATCH}/inc_cluster/data/*.parquet',
                    filename=true, file_row_number=true)
)
SELECT file_name,
       CAST(bool_and(clip_id LIKE 'churn_%') AS INT) AS churn_only,
       CAST(bool_and(in_order) AS INT) AS sorted_ok
FROM rows_
GROUP BY file_name
ORDER BY file_name
""",
)
def lakehouse_cluster_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB maintenance cadence (VERDICT r3 #2): full cluster →
    append churn → cluster_incremental → expire. The engine reports,
    from snapshot lineage, which live files the incremental job wrote
    (exactly the churn, never the clustered bulk) and claims every file
    internally sorted; the oracle recomputes BOTH facts from the
    engine's parquet bytes (churn rows are prefix-marked; in-file order
    via LAG over file_row_number). The marker-based lookup also runs
    through an expiry, proving the cadence survives retain_last
    pruning. Reference anchor: Lance's incremental compact_files
    version chain (/root/reference/fupi/embedders.py:127-128)."""
    from . import meta as M
    from .cluster import cluster, cluster_incremental
    from .expire import expire_snapshots
    from .synth import synth_clips

    t = _fresh(spark, "inc_cluster", 800, parts=16)
    cluster(t, curve="linear", target_bytes=1 << 18, job_id="q-full")
    # expire between the cluster and the churn: the last-cluster marker
    # must survive retain_last=1 for the incremental path to engage
    expire_snapshots(t, retain_last=1)
    pre = set(t.live_files())

    churn = synth_clips(spark, 120, seed=9, dur_range_ms=(50, 150)).withColumn(
        "clip_id", F.concat(F.lit("churn_"), F.col("clip_id"))
    )
    M.append(t, churn, job_id="q-churn", parts=3)
    snap = cluster_incremental(t, curve="linear", target_bytes=1 << 17, job_id="q-inc")
    assert snap.summary.get("mode") == "incremental", "expected O(churn) path"
    inc_added = set(t.live_files()) - pre
    assert inc_added, "incremental run must have rewritten the churn"
    expire_snapshots(t, retain_last=1)

    rows = [
        (p.rsplit("/", 1)[-1], 1 if p in inc_added else 0, 1)
        for p in sorted(t.live_files())
    ]
    return spark.createDataFrame(
        rows, "file_name string, churn_only int, sorted_ok int"
    )


@register(
    "lakehouse_merge_prune_linear",
    oracle=f"""
WITH keys AS (
  SELECT clip_id FROM read_parquet('{SCRATCH}/prune/data/*.parquet')
  ORDER BY clip_id LIMIT 5
),
files AS (
  SELECT parse_filename(filename) AS file_name,
         MIN(clip_id) AS min_clip_id,
         MAX(clip_id) AS max_clip_id
  FROM read_parquet('{SCRATCH}/prune/data/*.parquet', filename=true)
  GROUP BY 1
)
SELECT f.file_name, f.min_clip_id, f.max_clip_id,
       CAST(EXISTS (SELECT 1 FROM keys k
                    WHERE k.clip_id BETWEEN f.min_clip_id AND f.max_clip_id)
            AS INT) AS touched
FROM files f
ORDER BY f.file_name
""",
)
def lakehouse_merge_prune_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (plain sort-order) clustering makes MERGE's min/max file
    pruning sharp: the engine reports each live file's key range and
    whether a 5-key range-localized source would touch it
    (plan_touched_files — the planning step of MERGE INTO, read-only).
    The oracle recomputes BOTH sides from the engine's parquet bytes:
    per-file min/max from the footers via read_parquet(filename=true),
    touched via the same range-intersection definition. Non-circular —
    the engine answers from manifest stats, DuckDB from the files."""
    from .cluster import cluster
    from .expire import expire_snapshots
    from .merge import plan_touched_files

    t = _fresh(spark, "prune", 800, parts=16)
    cluster(t, curve="linear", target_bytes=1 << 18, job_id="q-cluster-linear")
    expire_snapshots(t, retain_last=1)

    src = t.scan().select("clip_id").orderBy("clip_id").limit(5)
    touched = {e["file_path"] for e in plan_touched_files(t, src, t.current_snapshot())}
    rows = [
        (
            e["file_path"].rsplit("/", 1)[-1],
            e["min_clip_id"],
            e["max_clip_id"],
            1 if e["file_path"] in touched else 0,
        )
        for e in t.manifest_entries().to_pylist()
    ]
    return spark.createDataFrame(
        sorted(rows),
        "file_name string, min_clip_id string, max_clip_id string, touched int",
    )


@register(
    "audio_vad_energy",
    oracle=f"""
WITH m AS (
  SELECT clip_id,
         GREATEST(1, CAST(FLOOR(CAST(sr_hz AS DOUBLE) * dur_ms / 1000) AS BIGINT))
           AS n0,
         GREATEST(1, CAST((sr_hz * 20) // 1000 AS BIGINT)) AS fs,
         sil_frames
  FROM read_parquet('{SCRATCH}/vad_sidecar/*.parquet')
),
f AS (SELECT clip_id, n0 // fs AS n_frames, sil_frames FROM m)
SELECT clip_id, n_frames,
       CASE WHEN sil_frames >= n_frames THEN NULL ELSE sil_frames END
         AS first_voiced,
       n_frames - LEAST(sil_frames, n_frames) AS n_voiced
FROM f ORDER BY clip_id
""",
)
def audio_vad_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-VAD silence segmentation (audio.vad_segments): a prep op
    plants an exact frame-aligned silence prefix into each clip's PCM —
    sil_frames seeded per clip over [0, n_frames], so some clips are
    fully silent — re-encodes, and writes the planted spec to a
    sidecar. The VAD then decodes the ACTUAL planted bytes, computes
    per-frame RMS, and must recover the spec exactly: first voiced
    frame == sil_frames (NULL when fully silent), voiced count ==
    n_frames − sil_frames. The oracle derives all three from the
    sidecar alone — any mis-framing, threshold drift, or decode slip
    breaks a row. Digital silence is exactly zero and every synth tone
    frame clears RMS 1.0, so the contract is deterministic, not
    statistical."""
    from .audio import plant_silence, vad_segments
    from .synth import synth_clips

    sidecar = scratch("vad_sidecar")
    clips = synth_clips(spark, 150, dur_range_ms=(300, 700), parts=6)
    planted = plant_silence(clips, frame_ms=20)
    planted.select("clip_id", "sr_hz", "dur_ms", "sil_frames").write.mode(
        "overwrite"
    ).parquet(sidecar)
    return vad_segments(planted.drop("sil_frames"), frame_ms=20).orderBy(
        "clip_id"
    )


@register(
    "lakehouse_changelog_cdc",
    oracle=f"""
WITH base AS (SELECT * FROM read_parquet('{SCRATCH}/cdc_base/*.parquet')),
upd AS (SELECT clip_id FROM read_parquet('{SCRATCH}/cdc_upd/*.parquet')),
del AS (SELECT clip_id FROM read_parquet('{SCRATCH}/cdc_del/*.parquet')),
ins AS (SELECT * FROM read_parquet('{SCRATCH}/cdc_ins/*.parquet'))
SELECT clip_id, dur_ms, transcript, change_type FROM (
  SELECT clip_id, dur_ms, transcript, 'delete' AS change_type
  FROM base WHERE clip_id IN (SELECT clip_id FROM upd)
             OR clip_id IN (SELECT clip_id FROM del)
  UNION ALL
  SELECT clip_id, dur_ms, transcript || ' v2' AS transcript,
         'insert' AS change_type
  FROM base WHERE clip_id IN (SELECT clip_id FROM upd)
  UNION ALL
  SELECT clip_id, dur_ms, transcript, 'insert' AS change_type FROM ins
) ORDER BY clip_id, change_type
""",
)
def lakehouse_changelog_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC changelog (cdc.changelog_scan) across a mixed
    interval: MERGE (30 updates + 15 inserts, copy-on-write) followed
    by a MOR equality-delete of 20 untouched keys — the delete touches
    NO data file, so the changelog's manifest-level skip logic must
    detect the delete-signature drift on otherwise-common files and
    re-diff exactly those. The oracle predicts the full net diff
    independently from pre-state + input sidecars: one delete image per
    updated/deleted key, one insert image per updated key (with the
    ' v2' transcript) and per inserted row, and NOTHING for the rows
    merge's copy-on-write carried through rewritten files."""
    from . import meta as M
    from .cdc import CHANGE_TYPE_COL, changelog_scan
    from .merge import delete_keys_mor, merge_into
    from .synth import synth_clips

    root, base_path, upd_path, del_path, ins_path = scratch(
        "cdc", "cdc_base", "cdc_upd", "cdc_del", "cdc_ins"
    )
    t = M.create_table(spark, root)
    M.append(
        t,
        synth_clips(spark, 400, dur_range_ms=(50, 120), parts=8),
        job_id="seed",
    )
    base_id = t.current_snapshot().snapshot_id
    t.scan().write.mode("overwrite").parquet(base_path)

    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    upd_ids, del_ids = ids[100:130], ids[0:20]
    upd = (
        t.scan()
        .filter(F.col("clip_id").isin(upd_ids))
        .withColumn("transcript", F.concat("transcript", F.lit(" v2")))
    ).cache()
    upd.count()
    ins = synth_clips(spark, 15, seed=9, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("clip_zz_"), F.col("clip_id"))
    ).cache()
    ins.count()
    upd.select("clip_id").write.mode("overwrite").parquet(upd_path)
    ins.write.mode("overwrite").parquet(ins_path)
    kdf = spark.createDataFrame([(k,) for k in del_ids], "clip_id string")
    kdf.write.mode("overwrite").parquet(del_path)

    merge_into(t, upd.unionByName(ins.select(*upd.columns)), job_id="q-cdc-m")
    delete_keys_mor(t, kdf, job_id="q-cdc-d")

    return (
        changelog_scan(t, base_id)
        .select(
            "clip_id",
            "dur_ms",
            "transcript",
            F.col(CHANGE_TYPE_COL).alias("change_type"),
        )
        .orderBy("clip_id", "change_type")
    )


@register(
    "audio_tone_probe",
    oracle=f"""
SELECT clip_id, dropped AS missing_tone, true AS margin_ok
FROM read_parquet('{SCRATCH}/probe_sidecar/*.parquet')
ORDER BY clip_id
""",
)
def audio_tone_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral dropped-tone detection (audio.detect_missing_tone): a
    prep op replaces each payload with 3 of its 4 seeded probe tones —
    tones sit on exact bins of a 2048-sample window, so they are
    EXACTLY orthogonal over the analysis span — re-encodes in the
    parent codec, and records only the dropped slot in a sidecar. The
    detector re-derives the probe frequencies from clip_id, decodes
    the actual bytes, projects onto each tone's cos/sin basis, and
    must name the missing slot with a ≥100× power margin on every
    clip. Any decode slip, bin mis-derivation, or windowing error
    breaks rows; the margin flag turns a lucky argmin into a failure."""
    from .audio import detect_missing_tone, plant_tone_drop
    from .synth import synth_clips

    sidecar = scratch("probe_sidecar")
    clips = synth_clips(spark, 120, dur_range_ms=(300, 600), parts=4)
    planted = plant_tone_drop(clips)
    planted.select("clip_id", "dropped").write.mode("overwrite").parquet(
        sidecar
    )
    return detect_missing_tone(planted.drop("dropped")).orderBy("clip_id")


@register(
    "lakehouse_incremental_agg_refresh",
    oracle=f"""
SELECT codec,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms
FROM read_parquet('{SCRATCH}/cdcagg/data/*.parquet')
GROUP BY codec ORDER BY codec
""",
)
def lakehouse_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance off the CDC changelog: materialize
    a per-codec aggregate, run MERGE (20 updates changing dur_ms + 10
    inserts) and a MOR delete of 15 keys, then REFRESH the aggregate
    from the materialized base plus the changelog's +/- deltas alone —
    the refresh never re-scans the table. The oracle recomputes the
    aggregate directly from the final data files (a cluster() first
    materializes the MOR delete so the physical bytes ARE the final
    state): two genuinely different computation paths must agree. At
    10^12 rows this is the only affordable way to keep a downstream
    aggregate fresh — the delta reads only the interval's changed
    files, the base is never touched."""
    from . import meta as M
    from .cdc import CHANGE_TYPE_COL, changelog_scan
    from .cluster import cluster
    from .merge import delete_keys_mor, merge_into
    from .synth import synth_clips

    root, mv_path, out_path = scratch("cdcagg", "cdcagg_mv", "cdcagg_out")
    t = M.create_table(spark, root)
    M.append(
        t,
        synth_clips(spark, 400, dur_range_ms=(50, 120), parts=8),
        job_id="seed",
    )
    base_id = t.current_snapshot().snapshot_id
    # the materialized view: computed once at base, persisted
    t.scan().groupBy("codec").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("dur_ms").cast("bigint").alias("sum_dur_ms"),
    ).write.mode("overwrite").parquet(mv_path)

    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    upd = (
        t.scan()
        .filter(F.col("clip_id").isin(ids[50:70]))
        .withColumn("dur_ms", F.col("dur_ms") + F.lit(7))
    ).cache()
    upd.count()
    ins = synth_clips(spark, 10, seed=5, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("clip_zz_"), F.col("clip_id"))
    )
    merge_into(t, upd.unionByName(ins.select(*upd.columns)), job_id="q-agg-m")
    kdf = spark.createDataFrame([(k,) for k in ids[:15]], "clip_id string")
    delete_keys_mor(t, kdf, job_id="q-agg-d")
    # materialize the delete so the oracle's physical-file recompute
    # sees the final state (net-zero for the changelog — tested), then
    # GC so the physical listing equals the live set — BUT snapshot
    # expiry must not break the changelog's from-snapshot: keep the
    # base pinned with a tag (the production pattern for changelog
    # consumers: tag your baseline, expire freely)
    t.set_tag("agg-base", base_id)
    cluster(t, curve="linear", target_bytes=1 << 19, job_id="q-agg-z")

    sign = F.when(F.col(CHANGE_TYPE_COL) == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = (
        changelog_scan(t, base_id)
        .groupBy("codec")
        .agg(
            F.sum(sign).alias("dn"),
            F.sum(sign * F.col("dur_ms")).cast("bigint").alias("ddur"),
        )
    )
    mv = spark.read.parquet(mv_path)
    refreshed = (
        mv.join(delta, "codec", "full_outer")
        .select(
            "codec",
            (F.coalesce("n_rows", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("bigint")
            .alias("n_rows"),
            (
                F.coalesce("sum_dur_ms", F.lit(0))
                + F.coalesce("ddur", F.lit(0))
            )
            .cast("bigint")
            .alias("sum_dur_ms"),
        )
        .filter(F.col("n_rows") > 0)
        .orderBy("codec")
    )
    # materialize the refreshed view (what an IVM pipeline persists),
    # THEN release the baseline tag and GC: the changelog's base files
    # are only needed until the delta is consumed, and the oracle's
    # physical-dir recompute requires listing == live set
    refreshed.write.mode("overwrite").parquet(out_path)
    t.delete_tag("agg-base")
    from .expire import expire_snapshots

    expire_snapshots(t, retain_last=1)
    return spark.read.parquet(out_path).orderBy("codec")


@register(
    "lakehouse_bloom_point_lookup",
    oracle=f"""
WITH pre AS (SELECT * FROM read_parquet('{SCRATCH}/bloom_pre/*.parquet')),
probes AS (SELECT * FROM read_parquet('{SCRATCH}/bloom_probes/*.parquet'))
SELECT p.probe_key,
       CAST(COUNT(pre.clip_id) AS BIGINT) AS n_found,
       CAST(COALESCE(MAX(pre.dur_ms), -1) AS BIGINT) AS dur_ms,
       CAST(CASE WHEN COUNT(pre.clip_id) > 0 THEN 1 ELSE 0 END AS BIGINT)
         AS files_read,
       CAST(8 AS BIGINT) AS files_total
FROM probes p LEFT JOIN pre ON pre.clip_id = p.probe_key
GROUP BY p.probe_key
ORDER BY p.probe_key
""",
)
def lakehouse_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-indexed point lookup on an UNCLUSTERED table — the case
    min/max stats pruning cannot touch (every file's clip_id range
    spans the key space after a plain append). The engine builds the
    per-file bloom index, then answers 6 present + 2 absent probes;
    the oracle predicts per key BOTH the payload (from the pre-state
    sidecar) and the pruning arithmetic itself: a present unique key
    must read exactly 1 of the 8 files, an absent key exactly 0 —
    deterministic because the md5 probe positions and the fixed corpus
    make false positives a reproducible (and here absent) event, not a
    random one."""
    from . import meta as M
    from .bloom import point_lookup, refresh_bloom_index
    from .synth import synth_clips

    root, pre_path, probes_path = scratch("bloom", "bloom_pre", "bloom_probes")
    t = M.create_table(spark, root)
    M.append(
        t,
        synth_clips(spark, 400, dur_range_ms=(50, 120), parts=8),
        job_id="seed",
    )
    t.scan().select("clip_id", "dur_ms").write.mode("overwrite").parquet(pre_path)
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    probes = [ids[i] for i in (3, 77, 150, 222, 301, 388)] + [
        "absent_key_a",
        "absent_key_b",
    ]
    spark.createDataFrame(
        [(p,) for p in probes], "probe_key string"
    ).write.mode("overwrite").parquet(probes_path)

    refresh_bloom_index(t, "clip_id")
    rows = []
    for p in probes:
        df, files_read, total = point_lookup(t, "clip_id", p)
        hits = df.select("clip_id", "dur_ms").collect()
        rows.append(
            (
                p,
                len(hits),
                int(hits[0].dur_ms) if hits else -1,
                files_read,
                total,
            )
        )
    return spark.createDataFrame(
        sorted(rows),
        "probe_key string, n_found bigint, dur_ms bigint, "
        "files_read bigint, files_total bigint",
    )


@register(
    "lakehouse_cluster_quality",
    oracle=f"""
WITH m AS (
  SELECT phase, file_path, min_clip_id, max_clip_id
  FROM read_parquet('{SCRATCH}/cq_manifests/pre/*.parquet')
),
ov AS (
  SELECT a.phase, a.file_path,
         COUNT(b.file_path) AS n_overlaps
  FROM m a JOIN m b
    ON a.phase = b.phase AND a.file_path <> b.file_path
   AND a.min_clip_id <= b.max_clip_id AND b.min_clip_id <= a.max_clip_id
  GROUP BY a.phase, a.file_path
),
f AS (SELECT phase, COUNT(*) AS n_files FROM m GROUP BY phase)
SELECT f.phase, f.n_files,
       CAST(COALESCE(SUM(ov.n_overlaps), 0) AS BIGINT) AS overlap_pairs
FROM f LEFT JOIN ov ON f.phase = ov.phase
GROUP BY f.phase, f.n_files
ORDER BY f.phase
""",
)
def lakehouse_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality observability from manifest arithmetic alone
    (zero data reads — the table-health report a 10^12-row operator
    watches): for each file, how many OTHER files' [min,max] key
    ranges intersect it. A plain append leaves every file overlapping
    every other (pre phase); a Z-order cluster() produces disjoint or
    near-disjoint leading-key ranges (post phase) — the drop in
    overlap_pairs IS the measured clustering benefit, the same number
    that predicts stats-pruning fan-in. Engine computes the metric as
    a distributed self-join over manifest_df; the oracle recomputes it
    from manifest snapshots with independent SQL. At 10^6+ files the
    same plan runs over the banded range-join composition
    (events_range_join) instead of the raw self-join."""
    from . import meta as M
    from .cluster import cluster
    from .synth import synth_clips

    root, manifests = scratch("cq", "cq_manifests")
    t = M.create_table(spark, root)
    M.append(
        t,
        synth_clips(spark, 500, dur_range_ms=(50, 120), parts=10),
        job_id="seed",
    )

    def manifest_phase(phase: str):
        return (
            t.manifest_df()
            .filter(
                (F.col("content").isNull()) | (F.col("content") == "data")
            )
            .select(
                F.lit(phase).alias("phase"),
                "file_path",
                "min_clip_id",
                "max_clip_id",
            )
        )

    pre = manifest_phase("a_pre")
    pre.write.mode("overwrite").parquet(f"{manifests}/pre")
    cluster(t, curve="zorder", target_bytes=1 << 18, job_id="q-cq-z")
    post = manifest_phase("b_post")
    post.write.mode("append").parquet(f"{manifests}/pre")

    m = spark.read.parquet(f"{manifests}/pre")
    a, b = m.alias("a"), m.alias("b")
    ov = (
        a.join(
            b,
            (F.col("a.phase") == F.col("b.phase"))
            & (F.col("a.file_path") != F.col("b.file_path"))
            & (F.col("a.min_clip_id") <= F.col("b.max_clip_id"))
            & (F.col("b.min_clip_id") <= F.col("a.max_clip_id")),
        )
        .groupBy(F.col("a.phase").alias("phase"))
        .agg(F.count(F.lit(1)).alias("overlap_pairs"))
    )
    files = m.groupBy("phase").agg(F.count(F.lit(1)).alias("n_files"))
    return (
        files.join(ov, "phase", "left_outer")
        .select(
            "phase",
            "n_files",
            F.coalesce("overlap_pairs", F.lit(0)).cast("bigint").alias(
                "overlap_pairs"
            ),
        )
        .orderBy("phase")
    )


@register(
    "audio_silence_trim_rewrite",
    oracle=f"""
WITH s AS (
  SELECT clip_id, sr_hz, dur_ms AS dur0, sil_frames,
         GREATEST(1, (sr_hz * dur_ms) // 1000) AS n0,
         GREATEST(1, (sr_hz * 20) // 1000) AS fs
  FROM read_parquet('{SCRATCH}/trim_sidecar/*.parquet')
),
d AS (
  SELECT clip_id, sr_hz, dur0, fs, n0 // fs AS k,
         LEAST(sil_frames, n0 // fs) AS trim, n0
  FROM s
)
SELECT clip_id,
       CAST(CASE WHEN trim = 0 THEN dur0
                 ELSE ((n0 - trim * fs) * 1000) // sr_hz END AS INT) AS dur_ms,
       CAST(k - trim AS BIGINT) AS n_frames,
       CAST(CASE WHEN k - trim > 0 THEN 0 ELSE NULL END AS BIGINT)
         AS first_voiced,
       CAST(k - trim AS BIGINT) AS n_voiced
FROM d ORDER BY clip_id
""",
)
def audio_silence_trim_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-MUTATING maintenance rewrite (transform.transform_payloads
    + audio.trim_silence): plant an exact seeded silence prefix, load
    the clips into a table, run the silence-trim rewrite as a committed
    replacing snapshot (lineage, idempotent job id, CRC recompute),
    then audit the table's ACTUAL post-rewrite bytes with the energy
    VAD and the updated dur_ms column. The oracle predicts every number
    from the planted-spec sidecar alone: trimmed duration
    ((n0 - sil*fs)*1000 div sr), remaining frame count, first voiced
    frame 0 (NULL when the clip had no voiced frame), all frames
    voiced. Any framing slip, re-encode corruption, or stale dur_ms
    breaks rows."""
    from . import meta as M
    from .audio import plant_silence, trim_silence, vad_segments
    from .synth import synth_clips
    from .transform import transform_payloads

    root, sidecar = scratch("trim", "trim_sidecar")
    clips = synth_clips(spark, 150, dur_range_ms=(300, 700), parts=6)
    planted = plant_silence(clips, frame_ms=20)
    planted.select("clip_id", "sr_hz", "dur_ms", "sil_frames").write.mode(
        "overwrite"
    ).parquet(sidecar)

    t = M.create_table(spark, root)
    M.append(t, planted.drop("sil_frames"), job_id="seed", parts=6)
    transform_payloads(
        t,
        lambda df: trim_silence(df, frame_ms=20),
        job_id="q-trim",
        operation="trim",
    )

    scan = t.scan()
    vad = vad_segments(scan, frame_ms=20)
    return (
        vad.join(scan.select("clip_id", "dur_ms"), "clip_id")
        .select("clip_id", "dur_ms", "n_frames", "first_voiced", "n_voiced")
        .orderBy("clip_id")
    )

"""Write-time payload checksums + sampled verification (integrity.py):

- every data-file write lands a per-row ``_crc`` and a per-file
  manifest ``checksum_bytes`` (= sum of row CRCs);
- the checksum column survives compact/cluster/merge rewrites, and
  every compaction output entry — split bins included — carries the
  stats of the file as written (assert_stats_exact);
- ``verify_table`` (sampled) checks exactly {crc-failing rows ∪
  deterministic sample}, and planted ON-DISK corruption is caught
  through the checksum gate with a failing SNR verdict;
- ``_crc`` never leaks into user-facing reads.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from fupi_spark import meta
from fupi_spark.cluster import cluster
from fupi_spark.compact import compact
from fupi_spark.integrity import CRC_COL, corrupt_file_on_disk, verify_table
from fupi_spark.merge import merge_into
from fupi_spark.synth import synth_clips

from .test_meta_compact import make_table


def assert_stats_exact(t, rels: list[str]) -> None:
    """The manifest entry of each data file in ``rels`` equals the stats
    read back from the file (Table._stats_for_files), with a non-NULL
    checksum_bytes equal to its ``_crc`` sum recomputed by Spark."""
    if not rels:
        return
    by_path = {e["file_path"]: e for e in t.data_entries()}
    paths = [f"{t.root}/{p}" for p in rels]
    sums = {
        r["f"]: r["s"]
        for r in t.read_parquet(paths)
        .groupBy(F.col("_metadata.file_name").alias("f"))
        .agg(F.sum(CRC_COL).alias("s"))
        .collect()
    }
    for rel, st in zip(rels, t._stats_for_files(paths)):
        e = by_path[rel]
        assert {k: e[k] for k in st} == st, rel
        assert e["checksum_bytes"] is not None, rel
        assert e["checksum_bytes"] == sums[rel.rsplit("/", 1)[-1]], rel


def test_write_lands_crc_and_manifest_checksum(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=80, parts=4)
    raw = t.scan(include_internal=True)
    assert CRC_COL in raw.columns
    assert CRC_COL not in t.scan().columns  # never user-facing
    assert raw.filter(F.crc32("bytes") != F.col(CRC_COL)).count() == 0
    # manifest per-file sums match a recomputation from the data
    sums = {
        r["fp"].split("/data/")[-1]: r["s"]
        for r in raw.groupBy(F.col("_metadata.file_path").alias("fp"))
        .agg(F.sum(CRC_COL).alias("s"))
        .collect()
    }
    for e in t.manifest_entries().to_pylist():
        assert e["checksum_bytes"] == sums[e["file_path"].split("data/")[-1]]


def test_checksum_survives_compact_fold_and_cluster(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=120, parts=6)
    total = sum(e["checksum_bytes"] for e in t.manifest_entries().to_pylist())
    compact(t, target_bytes=1 << 30, job_id="c-fold")
    folded = [e["checksum_bytes"] for e in t.manifest_entries().to_pylist()]
    assert sum(folded) == total and all(v is not None for v in folded)
    assert_stats_exact(t, t.live_files())
    cluster(t, curve="zorder", target_bytes=1 << 18, job_id="cl")
    entries = t.manifest_entries().to_pylist()
    assert all(e["checksum_bytes"] is not None for e in entries)
    assert sum(e["checksum_bytes"] for e in entries) == total
    assert_stats_exact(t, t.live_files())
    # verify: clean table → sampled pass flags nothing
    v = verify_table(t, sample_mod=4)
    assert v.filter(~F.col("crc_ok") | ~F.col("pcm_ok")).count() == 0

    # split bins: past compaction's 4 MB scan split (this table is
    # ~11 MB) a bin's rows span scan tasks and the bin writes several
    # files; each output's entry is still exactly its own file's stats
    big = meta.create_table(spark, f"{tmp_table_dir}-split")
    clips = synth_clips(spark, 1200, dur_range_ms=(100, 200))
    meta.append(big, clips, job_id="seed", parts=48)
    before = big.manifest_entries().to_pylist()
    target = sum(e["byte_size"] for e in before) // 24
    compact(big, target_bytes=target, job_id="c-split")
    units = [
        json.loads(big.storage.read(r))
        for r in big.storage.list("_lineage/c-split")
        if r.endswith(".json")
    ]
    assert any(len(u["files_out"]) > 1 for u in units)
    outs = [p for u in units for p in u["files_out"]]
    assert set(outs) <= set(big.live_files())
    assert_stats_exact(big, outs)
    after = big.manifest_entries().to_pylist()
    assert sum(e["checksum_bytes"] for e in after) == sum(e["checksum_bytes"] for e in before)
    assert sum(e["row_count"] for e in after) == 1200


def test_merge_rewrites_keep_valid_crc(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=60, parts=3)
    upd = (
        t.scan()
        .orderBy("clip_id")
        .limit(6)
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
    ).cache()
    upd.count()
    merge_into(t, upd, job_id="m-crc")
    raw = t.scan(include_internal=True)
    assert raw.filter(F.crc32("bytes") != F.col(CRC_COL)).count() == 0
    assert verify_table(t, full=True).filter(~F.col("pcm_ok")).count() == 0


def test_sampled_verify_catches_on_disk_corruption(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=100, parts=5)
    victim = sorted(t.live_files())[0]
    bad_ids = set(corrupt_file_on_disk(f"{t.root}/{victim}"))
    v = verify_table(t, sample_pred=F.col("dur_ms") % 7 == 0).cache()
    flagged = {r.clip_id for r in v.filter(~F.col("crc_ok")).collect()}
    assert flagged == bad_ids  # checksum gate pulls in exactly the file
    # and the SNR kernel condemns them all
    assert {r.clip_id for r in v.filter(~F.col("pcm_ok")).collect()} >= bad_ids
    # sampled clean rows all pass
    clean = v.filter(F.col("crc_ok"))
    assert clean.filter(~F.col("pcm_ok")).count() == 0
    # checked set = bad file ∪ sample (no full-table decode)
    n_expected = (
        t.scan()
        .filter(F.col("clip_id").isin(list(bad_ids)) | (F.col("dur_ms") % 7 == 0))
        .count()
    )
    assert v.count() == n_expected
    v.unpersist()


def test_full_verify_mode_still_exhaustive(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=40, parts=2)
    assert verify_table(t, full=True).count() == 40

"""Bloom-filter file index: no-false-negative invariant, pruning
power on unclustered tables, incremental refresh, unindexed-file
fallback, the column/schema stamp, and the index's Spark jobs and
storage writes."""

from __future__ import annotations

from pyspark.sql import functions as F

from fupi_spark import meta
from fupi_spark.bloom import point_lookup, refresh_bloom_index
from fupi_spark.synth import synth_clips

from .test_meta_compact import make_table


def test_lookup_every_key_no_false_negatives(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), n=120, parts=6)
    rep = refresh_bloom_index(t, "clip_id")
    assert rep == {"indexed": 6, "kept": 0, "files": 6}
    expected = {
        r.clip_id: r.dur_ms for r in t.scan().select("clip_id", "dur_ms").collect()
    }
    reads = []
    for k, dur in list(expected.items())[:25]:
        df, files_read, total = point_lookup(t, "clip_id", k)
        rows = df.collect()
        assert len(rows) == 1 and rows[0].dur_ms == dur
        assert total == 6
        reads.append(files_read)
    # unclustered append: min/max stats can't prune, the bloom must —
    # nearly every lookup should touch exactly one file
    assert sum(reads) <= len(reads) + 2


def test_absent_key_reads_nothing(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), n=80, parts=4)
    refresh_bloom_index(t, "clip_id")
    df, files_read, total = point_lookup(t, "clip_id", "no_such_key")
    assert df.count() == 0
    assert files_read <= 1  # deterministic false positives only
    assert total == 4


def test_incremental_refresh_and_unindexed_fallback(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), n=60, parts=3)
    refresh_bloom_index(t, "clip_id")
    extra = synth_clips(spark, 20, seed=3, dur_range_ms=(50, 80)).withColumn(
        "clip_id", F.concat(F.lit("nx_"), F.col("clip_id"))
    )
    meta.append(t, extra, job_id="a2", parts=2)
    new_key = extra.select("clip_id").orderBy("clip_id").first().clip_id

    # before refresh: the new files carry no index row -> cannot be
    # pruned, lookup still finds the key (no false negatives)
    df, files_read, total = point_lookup(t, "clip_id", new_key)
    assert df.count() == 1 and total == 5
    assert files_read == 2  # the 2 unindexed files; 3 old ones pruned

    rep = refresh_bloom_index(t, "clip_id")
    assert rep == {"indexed": 2, "kept": 3, "files": 5}
    df, files_read, _ = point_lookup(t, "clip_id", new_key)
    assert df.count() == 1 and files_read == 1


def test_index_survives_compaction_refresh(spark, tmp_path):
    from fupi_spark.compact import compact

    t = make_table(spark, str(tmp_path / "t"), n=90, parts=3)
    refresh_bloom_index(t, "clip_id")
    compact(t, target_bytes=1 << 30, job_id="c1")
    rep = refresh_bloom_index(t, "clip_id")
    # compaction replaced all files: old rows dropped, new file indexed
    assert rep["kept"] == 0 and rep["indexed"] == rep["files"]
    k = t.scan().select("clip_id").orderBy("clip_id").first().clip_id
    df, files_read, total = point_lookup(t, "clip_id", k)
    assert df.count() == 1 and files_read == 1


def test_refresh_after_column_rename(spark, tmp_path):
    """ADVICE r6: the refresh read must replay schema ops — after a
    rename, every pre-rename file stores the PHYSICAL old column name,
    and the raw read used to raise AnalysisException resolving the
    renamed index column."""
    from fupi_spark.evolve import rename_column

    t = make_table(spark, str(tmp_path / "t"), n=60, parts=3)
    rename_column(t, "clip_id", "cid")
    rep = refresh_bloom_index(t, "cid")
    assert rep == {"indexed": 3, "kept": 0, "files": 3}
    k = t.scan().select("cid").orderBy("cid").first().cid
    df, files_read, total = point_lookup(t, "cid", k)
    assert df.count() == 1 and total == 3 and files_read == 1

    # mixed generations: post-rename files physically carry the NEW
    # name; an incremental refresh hashes both generations coherently
    extra = (
        synth_clips(spark, 20, seed=5, dur_range_ms=(50, 80))
        .withColumn("clip_id", F.concat(F.lit("nx_"), F.col("clip_id")))
        .withColumnRenamed("clip_id", "cid")
    )
    meta.append(t, extra, job_id="a2", parts=1)
    rep = refresh_bloom_index(t, "cid")
    assert rep["kept"] == 3 and rep["indexed"] == 1
    nk = extra.select("cid").orderBy("cid").first().cid
    df, files_read, total = point_lookup(t, "cid", nk)
    assert df.count() == 1 and total == 4 and files_read == 1


def test_refresh_with_null_keys_stays_sound(spark, tmp_path):
    """ADVICE r6: NULL keys have no probe positions (their NaN
    positions used to crash the bitset scatter) — they stay unindexed;
    a file whose keys are ALL null gets an empty sentinel bitset, so a
    later refresh skips it and a lookup of any concrete key prunes it
    (col == key never matches NULL). The root holds a space, which
    input_file_name URL-encodes: file rows must still map back."""
    from fupi_spark.evolve import add_column

    t = make_table(spark, str(tmp_path / "t t"), n=40, parts=2)
    add_column(t, "lang", "string")  # no default: old rows read as NULL
    rep = refresh_bloom_index(t, "lang")  # must not raise
    assert rep["files"] == 2 and rep["indexed"] == 0
    assert refresh_bloom_index(t, "lang")["indexed"] == 0  # sentinels kept

    extra = (
        synth_clips(spark, 20, seed=9, dur_range_ms=(50, 80))
        .withColumn("clip_id", F.concat(F.lit("nx_"), F.col("clip_id")))
        .withColumn("lang", F.lit("bg"))
    )
    meta.append(t, extra, job_id="a2", parts=1)
    assert refresh_bloom_index(t, "lang")["indexed"] == 1
    df, files_read, total = point_lookup(t, "lang", "bg")
    assert df.count() == 20 and total == 3
    # the all-null files are pruned; only the indexed file is read
    assert files_read == 1


def test_unreadable_index_logs_and_disables_pruning(spark, tmp_path, caplog):
    """A never-written index is silently empty; an unreadable one logs
    a warning and prunes nothing, so lookups stay exact."""
    import logging

    t = make_table(spark, str(tmp_path / "t"), n=40, parts=2)
    key = t.scan().select("clip_id").first().clip_id
    with caplog.at_level(logging.WARNING, logger="fupi_spark"):
        df, files_read, total = point_lookup(t, "clip_id", key)
        assert df.count() == 1 and files_read == total == 2
        assert not caplog.records

        with open(f"{t.root}/metadata/bloom.parquet", "wb") as f:
            f.write(b"not a parquet file")
        df, files_read, total = point_lookup(t, "clip_id", key)
        assert [r.clip_id for r in df.collect()] == [key]
        assert files_read == total == 2
    assert any("bloom index" in r.getMessage() for r in caplog.records)


def test_index_of_another_column_prunes_nothing(spark, tmp_path):
    """The index is stamped with the column it hashed: a lookup on
    another column reads every file, and the advisor asks for a refresh
    of that column."""
    from fupi_spark.advisor import advise
    from fupi_spark.evolve import add_column

    t = make_table(spark, str(tmp_path / "t"), n=120, parts=6)
    add_column(t, "lang", "string", default="bg")
    refresh_bloom_index(t, "clip_id")
    df, files_read, total = point_lookup(t, "lang", "bg")
    assert df.count() == 120 and files_read == total == 6
    recs = {r["op"]: r for r in advise(t, bloom_col="lang")}
    assert recs["bloom-refresh"]["unindexed_files"] == 6
    assert "bloom-refresh" not in {r["op"] for r in advise(t, bloom_col="clip_id")}


def test_widened_column_lookup_before_and_after_refresh(spark, tmp_path):
    """The index is stamped with the schema ops it was read with: after
    widening the indexed column a lookup in the new type's text finds
    its row, before the next refresh (nothing pruned) and after it (the
    refresh rebuilds every file rather than keep the old bits)."""
    from fupi_spark.evolve import widen_column

    t = make_table(spark, str(tmp_path / "t"), n=60, parts=3)
    refresh_bloom_index(t, "dur_ms")
    dur = t.scan().select("dur_ms").first().dur_ms
    n = t.scan().filter(F.col("dur_ms") == dur).count()
    widen_column(t, "dur_ms", "double")
    df, files_read, total = point_lookup(t, "dur_ms", f"{dur}.0")
    assert df.count() == n and files_read == total == 3
    assert refresh_bloom_index(t, "dur_ms") == {"indexed": 3, "kept": 0, "files": 3}
    df, files_read, total = point_lookup(t, "dur_ms", f"{dur}.0")
    assert df.count() == n and files_read <= total


def test_index_jobs_and_writes(spark, tmp_path, monkeypatch):
    """A lookup against a current index launches one Spark job (the
    file read); a refresh with new files launches one, and one with
    nothing to do launches none and writes nothing. The index is the
    one ``metadata/bloom.parquet`` object."""
    import os

    from fupi_spark.bloom import INDEX_REL

    from .test_meta_compact import jobs_launched

    t = make_table(spark, str(tmp_path / "t"), n=60, parts=3)
    assert jobs_launched(spark, lambda: refresh_bloom_index(t, "clip_id")) == 1
    assert os.path.isfile(f"{t.root}/{INDEX_REL}")
    assert not os.path.exists(f"{t.root}/metadata/bloom")
    k = t.scan().select("clip_id").first().clip_id
    out = {}
    jobs = jobs_launched(spark, lambda: out.update(rows=point_lookup(t, "clip_id", k)[0].collect()))
    assert jobs == 1 and len(out["rows"]) == 1

    puts = []
    monkeypatch.setattr(t.storage, "put", lambda rel, data: puts.append(rel))
    jobs = jobs_launched(spark, lambda: out.update(rep=refresh_bloom_index(t, "clip_id")))
    assert out["rep"] == {"indexed": 0, "kept": 3, "files": 3}
    assert jobs == 0 and puts == []


def test_refresh_and_lookup_on_object_store(spark, tmp_path):
    """The index is written and read through the table's Storage, so a
    refresh and a lookup round-trip on the S3-semantics storage."""
    from fupi_spark.storage import ObjectStoreStorage

    root = str(tmp_path / "obj")
    t = meta.create_table(spark, root, storage=ObjectStoreStorage(root))
    meta.append(t, synth_clips(spark, 60, dur_range_ms=(50, 90), parts=3), job_id="s")
    assert refresh_bloom_index(t, "clip_id") == {"indexed": 3, "kept": 0, "files": 3}
    k = t.scan().select("clip_id").first().clip_id
    df, files_read, total = point_lookup(t, "clip_id", k)
    assert [r.clip_id for r in df.collect()] == [k]
    assert files_read == 1 and total == 3
    assert t.storage.list("metadata/bloom") == []

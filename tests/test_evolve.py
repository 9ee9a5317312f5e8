"""Schema evolution (evolve.py): metadata-only add/widen/rename, scans
materialize the declared schema over mixed-generation files, time
travel replays the ops a snapshot knew, and compaction never packs
files of different physical schemas into one bin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fupi_spark import meta
from fupi_spark.compact import compact
from fupi_spark.evolve import add_column, rename_column, widen_column
from fupi_spark.synth import synth_clips

from .test_meta_compact import make_table


def test_add_column_with_default_and_time_travel(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=60, parts=3)
    v_before = t.current_snapshot().snapshot_id
    add_column(t, "lang", "string", default="en")
    b2 = synth_clips(spark, 40, seed=7, dur_range_ms=(50, 120)).withColumn(
        "lang", F.lit("bg")
    )
    meta.append(t, b2, job_id="b2", parts=2)

    got = t.scan()
    assert "lang" in got.columns
    assert got.count() == 100
    assert got.filter(F.col("lang") == "en").count() == 60  # old rows → default
    assert got.filter(F.col("lang") == "bg").count() == 40
    # time travel: the pre-evolution snapshot never heard of the column
    assert "lang" not in t.scan(v_before).columns


def test_add_duplicate_or_reserved_rejected(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=20, parts=1)
    with pytest.raises(ValueError, match="already exists"):
        add_column(t, "codec", "string")
    with pytest.raises(ValueError, match="reserved"):
        add_column(t, "_crc", "bigint")


def test_widen_column(spark, tmp_table_dir):
    from fupi_spark.merge import merge_into

    t = make_table(spark, tmp_table_dir, n=30, parts=2)
    # a second, disjoint key range, so a MERGE on it rewrites only its file
    late = synth_clips(spark, 10, seed=3, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("zz_"), F.col("clip_id"))
    )
    meta.append(t, late, job_id="late", parts=1)
    before = {r.clip_id: r.dur_ms for r in t.scan().collect()}
    widen_column(t, "dur_ms", "bigint")
    got = t.scan()
    assert dict(got.dtypes)["dur_ms"] == "bigint"
    assert {r.clip_id: r.dur_ms for r in got.collect()} == before
    with pytest.raises(ValueError, match="lossless"):
        widen_column(t, "clip_id", "int")

    # a partial rewrite after the widen leaves int and bigint files live
    upd = (
        t.scan().filter(F.col("clip_id").startswith("zz_")).orderBy("clip_id").limit(3)
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
        .cache()
    )
    upd.count()
    merge_into(t, upd, job_id="m-wide")
    ops = [s["operation"] for s in t.lineage_chain()]
    assert ops == ["create", "append", "append", "evolve", "merge"]
    assert {e["schema_id"] or 0 for e in t.data_entries()} == {0, 1}
    got = t.scan()
    assert dict(got.dtypes)["dur_ms"] == "bigint"
    assert {r.clip_id: r.dur_ms for r in got.collect()} == before
    assert got.filter(F.col("transcript").like("% v2")).count() == 3


def test_widen_pairs_merge_to_the_wider_type(spark, tmp_path):
    """Every lossless widening folds to the wider type in either order,
    and Spark's parquet reader, vectorized or not, reads a file of the
    narrower type under it; unrelated types still fail to merge."""
    from fupi_spark.evolve import _WIDEN_OK
    from fupi_spark.meta import _merge_schemas
    from fupi_spark.session import session_conf

    for i, (narrow, wide) in enumerate(sorted(_WIDEN_OK)):
        paths = [str(tmp_path / f"{i}-{k}") for k in ("narrow", "wide")]
        for path, typ in zip(paths, (narrow, wide)):
            spark.range(3).selectExpr(f"CAST(id AS {typ}) AS x").write.parquet(path)
        n_schema, w_schema = (spark.read.parquet(p).schema for p in paths)
        assert _merge_schemas(n_schema, w_schema) == w_schema, (narrow, wide)
        assert _merge_schemas(w_schema, n_schema) == w_schema, (narrow, wide)
        for vectorized in ("true", "false"):
            conf = {"spark.sql.parquet.enableVectorizedReader": vectorized}
            with session_conf(spark, conf):
                rows = spark.read.schema(w_schema).parquet(*paths).collect()
            assert sorted(float(r.x) for r in rows) == [0, 0, 1, 1, 2, 2], (narrow, wide)
    ints, strings = (
        spark.range(1).selectExpr(f"CAST(id AS {typ}) AS x").schema for typ in ("int", "string")
    )
    with pytest.raises(ValueError, match="cannot merge x"):
        _merge_schemas(ints, strings)


def test_rename_column_across_generations(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=40, parts=2)
    before = {r.clip_id: r.transcript for r in t.scan().collect()}
    rename_column(t, "transcript", "text")
    # new-generation append already uses the new name
    b2 = (
        synth_clips(spark, 20, seed=3, dur_range_ms=(50, 100))
        .withColumnRenamed("transcript", "text")
        .withColumn("clip_id", F.concat(F.lit("n_"), F.col("clip_id")))
    )
    meta.append(t, b2, job_id="b2", parts=1)
    got = t.scan()
    assert "text" in got.columns and "transcript" not in got.columns
    vals = {r.clip_id: r.text for r in got.collect()}
    for cid, tr in before.items():
        assert vals[cid] == tr
    assert len(vals) == 60


def test_compact_never_mixes_schema_generations(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, n=60, parts=6)  # gen 0: 6 files
    add_column(t, "lang", "string", default="en")
    b2 = synth_clips(spark, 40, seed=7, dur_range_ms=(50, 120)).withColumn(
        "lang", F.lit("bg")
    )
    meta.append(t, b2, job_id="b2", parts=4)  # gen 1: 4 files

    snap = compact(t, target_bytes=1 << 30, job_id="c-mixed")
    assert snap is not None
    entries = t.manifest_entries().to_pylist()
    # one bin per generation → exactly two output files, sid-pure
    sids = sorted((e.get("schema_id") or 0) for e in entries)
    assert len(entries) == 2 and sids == [0, 1]
    got = t.scan()
    assert got.count() == 100
    assert got.filter(F.col("lang") == "en").count() == 60
    assert got.filter(F.col("lang") == "bg").count() == 40


def test_merge_into_evolved_table(spark, tmp_table_dir):
    """MERGE over a table whose touched files predate an ADD COLUMN:
    the rewrite must read old files with the declared schema (default
    filled), update matched rows, and land evolved-schema output."""
    from fupi_spark.merge import merge_into

    t = make_table(spark, tmp_table_dir, n=50, parts=2)
    add_column(t, "lang", "string", default="en")
    upd = (
        t.scan()
        .orderBy("clip_id")
        .limit(5)
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
        .withColumn("lang", F.lit("bg"))
    ).cache()
    upd.count()
    merge_into(t, upd, job_id="m-evolved")
    got = t.scan()
    assert got.count() == 50
    assert got.filter(F.col("lang") == "bg").count() == 5
    assert got.filter(F.col("lang") == "en").count() == 45
    assert got.filter(F.col("transcript").like("% v2")).count() == 5


def test_cluster_materializes_evolved_schema_and_verify_green(spark, tmp_table_dir):
    from fupi_spark.cluster import cluster
    from fupi_spark.integrity import verify_table

    t = make_table(spark, tmp_table_dir, n=60, parts=3)
    add_column(t, "lang", "string", default="en")
    cluster(t, curve="zorder", target_bytes=1 << 19, job_id="cl")
    # the rewrite physically lands the evolved column...
    entries = t.manifest_entries().to_pylist()
    assert all((e.get("schema_id") or 0) == 1 for e in entries)
    assert t.scan().filter(F.col("lang") == "en").count() == 60
    # ...and payload integrity survives (bytes untouched)
    v = verify_table(t, sample_mod=3)
    assert v.filter(~F.col("crc_ok") | ~F.col("pcm_ok")).count() == 0

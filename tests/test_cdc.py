"""Row-level changelog (cdc.changelog_scan) edge cases the oracle
entry can't cover: maintenance-rewrite net-zero, the append-only
fast path's plan shape, MOR-only intervals, and schema-drift
alignment."""

from __future__ import annotations

from pyspark.sql import functions as F

from fupi_spark import meta
from fupi_spark.cdc import CHANGE_TYPE_COL, changelog_scan
from fupi_spark.cluster import cluster
from fupi_spark.compact import compact
from fupi_spark.merge import delete_keys_mor, merge_into
from fupi_spark.synth import synth_clips

from .test_meta_compact import make_table


def _changes(t, from_id, to_id=None):
    return sorted(
        (r.clip_id, r[CHANGE_TYPE_COL])
        for r in changelog_scan(t, from_id, to_id)
        .select("clip_id", CHANGE_TYPE_COL)
        .collect()
    )


def test_compact_and_cluster_are_net_zero(spark, tmp_path):
    """Maintenance rewrites move bytes, not rows: a compact-then-
    cluster interval must produce an EMPTY changelog even though every
    data file was replaced."""
    t = make_table(spark, str(tmp_path / "t"), n=150, parts=6)
    base = t.current_snapshot().snapshot_id
    compact(t, target_bytes=1 << 30, job_id="c1")
    cluster(t, curve="zorder", target_bytes=1 << 19, job_id="z1")
    assert _changes(t, base) == []


def test_append_only_interval_skips_exceptall(spark, tmp_path):
    """Append-only interval: inserts == the appended rows, and the
    plan contains no exceptAll (no shuffle diff) — the manifest proves
    the old side is empty."""
    t = make_table(spark, str(tmp_path / "t"), n=80, parts=2)
    base = t.current_snapshot().snapshot_id
    extra = synth_clips(spark, 30, seed=7, dur_range_ms=(50, 80)).withColumn(
        "clip_id", F.concat(F.lit("x_"), F.col("clip_id"))
    )
    meta.append(t, extra, job_id="a2", parts=2)
    log = changelog_scan(t, base)
    assert "Except" not in log._jdf.queryExecution().toString()
    rows = _changes(t, base)
    assert len(rows) == 30
    assert all(ct == "insert" and c.startswith("x_") for c, ct in rows)


def test_mor_delete_only_interval(spark, tmp_path):
    """A delete-mor snapshot adds no data file; the changelog must
    still emit the victims as deletes via the delete-signature drift
    on common files."""
    t = make_table(spark, str(tmp_path / "t"), n=100, parts=4)
    base = t.current_snapshot().snapshot_id
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    victims = ids[:7]
    kdf = spark.createDataFrame([(k,) for k in victims], "clip_id string")
    delete_keys_mor(t, kdf, job_id="d1")
    rows = _changes(t, base)
    assert rows == [(c, "delete") for c in victims]


def test_update_emits_delete_insert_pair(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), n=60, parts=3)
    base = t.current_snapshot().snapshot_id
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    upd = (
        t.scan()
        .filter(F.col("clip_id").isin(ids[:5]))
        .withColumn("transcript", F.concat("transcript", F.lit(" v2")))
    )
    merge_into(t, upd, job_id="m1")
    rows = sorted(
        (r.clip_id, r[CHANGE_TYPE_COL], r.transcript.endswith(" v2"))
        for r in changelog_scan(t, base)
        .select("clip_id", CHANGE_TYPE_COL, "transcript")
        .collect()
    )
    assert rows == sorted(
        [(c, "delete", False) for c in ids[:5]]
        + [(c, "insert", True) for c in ids[:5]]
    )


def test_changelog_after_delete_materialization(spark, tmp_path):
    """delete-mor then cluster (which materializes the delete and
    retires the delete file): the interval's net change is still just
    the deleted rows — the rewrite's carried rows cancel."""
    t = make_table(spark, str(tmp_path / "t"), n=90, parts=3)
    base = t.current_snapshot().snapshot_id
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    kdf = spark.createDataFrame([(k,) for k in ids[:4]], "clip_id string")
    delete_keys_mor(t, kdf, job_id="d1")
    cluster(t, curve="linear", target_bytes=1 << 19, job_id="z1")
    assert t.delete_entries() == []
    assert _changes(t, base) == [(c, "delete") for c in ids[:4]]


def test_empty_interval(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), n=40, parts=2)
    base = t.current_snapshot().snapshot_id
    assert _changes(t, base, base) == []


def test_schema_drift_rename_only_nets_zero(spark, tmp_path):
    """A rename-only interval changes no row VALUES: the changelog
    replays the schema-op suffix over old images (ops are inherited
    append-only), so the diff cancels exactly — no churn from a
    metadata-only evolution."""
    from fupi_spark.evolve import rename_column

    t = make_table(spark, str(tmp_path / "t"), n=50, parts=2)
    base = t.current_snapshot().snapshot_id
    rename_column(t, "transcript", "text")
    assert _changes(t, base) == []


def test_schema_drift_add_column_with_update(spark, tmp_path):
    """add-column (default) plus one real update: the changelog emits
    ONLY the updated row's pair, expressed in the NEW schema — old
    images carry the declared default for the added column."""
    from fupi_spark.evolve import add_column

    t = make_table(spark, str(tmp_path / "t"), n=40, parts=2)
    base = t.current_snapshot().snapshot_id
    add_column(t, "lang", "string", default="en")
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    upd = (
        t.scan()
        .filter(F.col("clip_id") == ids[0])
        .withColumn("transcript", F.concat("transcript", F.lit(" v2")))
    )
    merge_into(t, upd, job_id="m1")
    log = changelog_scan(t, base)
    assert "lang" in log.columns
    rows = sorted(
        (r.clip_id, r[CHANGE_TYPE_COL], r.lang) for r in log.collect()
    )
    assert rows == [(ids[0], "delete", "en"), (ids[0], "insert", "en")]


def test_payload_transform_is_visible_change(spark, tmp_path):
    """Unlike compact/cluster (net zero), a payload-MUTATING rewrite
    (trim_silence) changes row images: the changelog emits a
    delete+insert pair per clip whose bytes/dur actually changed."""
    from fupi_spark.audio import plant_silence
    from fupi_spark.transform import transform_payloads
    from fupi_spark.audio import trim_silence
    from fupi_spark.synth import synth_clips

    clips = synth_clips(spark, 20, dur_range_ms=(300, 400), parts=2)
    planted = plant_silence(clips, frame_ms=20).cache()
    changed = {
        r.clip_id for r in planted.filter(F.col("sil_frames") > 0)
        .select("clip_id").collect()
    }
    t = meta.create_table(spark, str(tmp_path / "t"))
    meta.append(t, planted.drop("sil_frames"), job_id="seed", parts=2)
    base = t.current_snapshot().snapshot_id
    transform_payloads(t, lambda df: trim_silence(df), job_id="tr", operation="trim")
    rows = _changes(t, base)
    # exactly the clips with a nonzero planted prefix changed
    assert {c for c, _ in rows} == changed
    from collections import Counter
    per = Counter(ct for _, ct in rows)
    assert per["delete"] == len(changed) and per["insert"] == len(changed)


def test_changelog_interval_ending_in_full_deletion(spark, tmp_path):
    """ADVICE r6: a changelog over an interval whose END snapshot has
    zero data files (here: rollback to the empty create snapshot) must
    return all-delete rows, not raise scan()'s 'empty table' — the
    output schema is derived without reading data files."""
    t = make_table(spark, str(tmp_path / "t"), n=40, parts=2)
    seeded = t.current_snapshot().snapshot_id
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    create_id = min(t.snapshot_ids())  # the file-free "create" snapshot
    meta.rollback(t, create_id)
    assert t.data_entries() == []  # precondition: file-free endpoint
    assert _changes(t, seeded) == [(c, "delete") for c in ids]
    # degenerate empty interval over the file-free endpoint also works
    wiped = t.current_snapshot().snapshot_id
    assert _changes(t, wiped, wiped) == []


def test_file_free_endpoint_ignores_later_rename(spark, tmp_path):
    """The changelog schema at a file-free endpoint is that snapshot's:
    a rename_column committed after it stays out, also once the earlier
    file-bearing snapshots have expired and only later ones, the
    pre-rename append among them, can supply a schema."""
    from fupi_spark.evolve import rename_column
    from fupi_spark.expire import expire_snapshots

    t = make_table(spark, str(tmp_path / "t"), n=30, parts=2)
    seeded = t.current_snapshot().snapshot_id
    wiped = meta.rollback(t, min(t.snapshot_ids())).snapshot_id
    meta.append(t, synth_clips(spark, 10, seed=5, dur_range_ms=(50, 80)), parts=1)
    rename_column(t, "codec", "fmt")

    cl = changelog_scan(t, seeded, wiped)
    assert "codec" in cl.columns and "fmt" not in cl.columns
    assert {r[CHANGE_TYPE_COL] for r in cl.collect()} == {"delete"}

    t.set_tag("wiped", wiped)
    expire_snapshots(t, retain_last=2)
    assert min(t.snapshot_ids()) == wiped
    cols = changelog_scan(t, wiped, wiped).columns
    assert "codec" in cols and "fmt" not in cols

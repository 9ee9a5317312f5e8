"""Round-4 regression tests (VERDICT.md r3 'Next round' + ADVICE.md):
compaction path-canonicalization / row-conservation, metadata-only
cluster planning, cluster-marker survival across snapshot expiry,
composite MERGE keys, keys-only dense_ids checkpoint, ONNX feed dict,
S3 error classification, evolve rebase race."""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fupi_spark import meta
from fupi_spark.synth import synth_clips

from .test_meta_compact import make_table


# ---------------------------------------------------------------------------
# ADVICE low #3: evolve-vs-evolve rebase race is a conflict, not a
# lost update
# ---------------------------------------------------------------------------


def test_evolve_race_raises_commit_conflict(spark, tmp_path):
    """A commit carrying precomputed schema_ops planned against a base
    whose ops changed concurrently must raise CommitConflict — silently
    rebasing would overwrite the winner's evolution op."""
    from fupi_spark.evolve import add_column
    from fupi_spark.meta import CommitConflict, _empty_manifest

    t = make_table(spark, str(tmp_path / "t"), n=100, parts=4)
    stale_base = t.current_snapshot()
    stale_prior = t.schema_ops(stale_base)

    add_column(t, "lang", "string", default="en")  # the winner

    loser_op = {"op": "add", "name": "region", "type": "string", "default": None}
    with pytest.raises(CommitConflict, match="schema evolution"):
        t.commit(
            "evolve",
            _empty_manifest(t.stats_spec),
            base=stale_base,
            summary={"schema_ops": stale_prior + [loser_op], "evolved": loser_op},
            expected_schema_ops=stale_prior,
        )
    # the winner's op is intact and a fresh re-plan composes both
    assert [o["name"] for o in t.schema_ops()] == ["lang"]
    add_column(t, "region", "string")
    assert [o["name"] for o in t.schema_ops()] == ["lang", "region"]


def test_evolve_rebases_cleanly_over_append(spark, tmp_path):
    """A concurrent APPEND (schema_ops unchanged) must not conflict an
    in-flight evolve — the guard fires only on ops drift."""
    from fupi_spark.evolve import _commit_op

    t = make_table(spark, str(tmp_path / "t"), n=100, parts=4)
    # plan an evolve, then let an append land before its commit by
    # driving the internals the way a slow evolver would
    stale_base = t.current_snapshot()
    prior = t.schema_ops(stale_base)
    extra = synth_clips(spark, 30, seed=5, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("zz_"), F.col("clip_id"))
    )
    meta.append(t, extra, job_id="mid")
    op = {"op": "add", "name": "lang", "type": "string", "default": "en"}
    snap = t.commit(
        "evolve",
        __import__("fupi_spark.meta", fromlist=["_empty_manifest"])._empty_manifest(
            t.stats_spec
        ),
        base=stale_base,
        summary={"schema_ops": prior + [op], "evolved": op},
        expected_schema_ops=prior,
    )
    assert [o["name"] for o in snap.summary["schema_ops"]] == ["lang"]
    assert t.scan().count() == 130  # the append survived the rebase


# ---------------------------------------------------------------------------
# ADVICE (medium): compact must survive a symlinked/aliased table root
# ---------------------------------------------------------------------------


def test_compact_via_symlinked_root_preserves_rows(spark, tmp_path):
    """The file→bin attach keys on _metadata.file_name, not on a
    reconstructed absolute path — under a symlinked table root a
    full-path string join silently drops every row of a candidate file
    while still removing the file at commit (data loss)."""
    from fupi_spark.compact import compact

    real = tmp_path / "real_tbl"
    make_table(spark, str(real), n=300, parts=10)
    link = tmp_path / "link_tbl"
    os.symlink(real, link)

    t2 = meta.load_table(spark, str(link))
    before = t2.scan().count()
    sum_dur = t2.scan().agg(F.sum("dur_ms")).collect()[0][0]
    snap = compact(t2, target_bytes=1 << 30, job_id="c-symlink")
    assert snap is not None
    assert t2.scan().count() == before
    assert t2.scan().agg(F.sum("dur_ms")).collect()[0][0] == sum_dur


# ---------------------------------------------------------------------------
# VERDICT r3 #1: cluster planning is metadata-only and single-scan
# ---------------------------------------------------------------------------


def test_dimension_bounds_is_metadata_only(spark, tmp_path):
    """dimension_bounds must never scan data files — planning at 10^12
    rows is an O(files) manifest fold (the codec rank dictionary folds
    from per-file extremum stats)."""
    from fupi_spark.cluster import dimension_bounds

    t = make_table(spark, str(tmp_path / "t"), n=300, parts=10)
    codecs_truth = sorted(
        r[0] for r in t.scan().select("codec").distinct().collect()
    )

    def boom(*a, **k):
        raise AssertionError("dimension_bounds scanned the data")

    t.scan = boom
    b = dimension_bounds(t)
    # the dictionary folds from per-file extremum stats: a subset of
    # the true codec set that always includes the global extremes (a
    # hidden middle value ranks deterministically via searchsorted)
    assert set(b["codec_ranks"]) <= set(codecs_truth)
    assert b["codec_ranks"][0] == codecs_truth[0]
    assert b["codec_ranks"][-1] == codecs_truth[-1]
    assert b["clip_id_lo"] < b["clip_id_hi"]


def test_linear_distributed_boundaries_path(spark, tmp_path, monkeypatch):
    """Forcing DRIVER_SAMPLE_MAX=0 exercises the hierarchical boundary
    pick (repartitionByRange + per-range min — the >10^5-output-files
    path); the global sort-order contract must hold unchanged."""
    import pyarrow.parquet as pq

    import importlib

    C = importlib.import_module("fupi_spark.cluster")

    monkeypatch.setattr(C, "DRIVER_SAMPLE_MAX", 0)
    t = make_table(spark, str(tmp_path / "t"), n=400, parts=16)
    ids_before = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    C.cluster(t, curve="linear", target_bytes=1 << 18)
    engine_order = []
    entries = sorted(t.manifest_entries().to_pylist(), key=lambda e: e["file_path"])
    assert len(entries) > 1, "fixture must produce a multi-file layout"
    for e in entries:
        engine_order += pq.read_table(
            f"{t.root}/{e['file_path']}", columns=["clip_id"]
        )["clip_id"].to_pylist()
    assert engine_order == ids_before


def test_bucket_searchsorted_path_matches_oracle(spark, tmp_path, monkeypatch):
    """Forcing BUCKET_FOLD_MAX=0 routes bucket assignment through the
    vectorized searchsorted UDF (the >512-boundary path); the global
    curve order must equal the pandas oracle."""
    import pyarrow.parquet as pq

    import importlib

    C = importlib.import_module("fupi_spark.cluster")
    from fupi_spark import refimpl

    monkeypatch.setattr(C, "BUCKET_FOLD_MAX", 0)
    t = make_table(spark, str(tmp_path / "t"), n=300, parts=10)
    pdf_before = t.scan().select(
        "clip_id", "sr_hz", "dur_ms", "codec"
    ).toPandas()
    bounds = C.dimension_bounds(t)
    C.cluster(t, curve="zorder", target_bytes=1 << 18)
    engine_order = []
    for e in sorted(t.manifest_entries().to_pylist(), key=lambda e: e["file_path"]):
        engine_order += pq.read_table(
            f"{t.root}/{e['file_path']}", columns=["clip_id"]
        )["clip_id"].to_pylist()
    expected = refimpl.cluster_order(pdf_before, bounds, "zorder")["clip_id"].tolist()
    assert engine_order == expected


def test_curve_udf_full_data_single_pass(spark, tmp_path, monkeypatch):
    """The curve UDF evaluates the FULL data exactly once (the rewrite);
    the boundary pass only sees the ~200·n_buckets sample. Counted via
    a wrapper UDF that journals per-task row counts to disk."""
    import importlib

    C = importlib.import_module("fupi_spark.cluster")

    cdir = tmp_path / "udf_counts"
    cdir.mkdir()
    cpath = str(cdir)

    def counting_factory(bounds, curve="zorder"):
        from pyspark.sql import types as _T

        from fupi_spark import zorder as _z
        from fupi_spark.cluster import codec_rank_array as _cra

        codecs = bounds.get("codec_ranks") or sorted(bounds["codec_rank"])

        @F.pandas_udf(_T.LongType())
        def key(it: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
            import uuid as _uuid

            total = 0
            for cid, sr, dur, codec in it:
                total += len(cid)
                d0 = _z.normalize_to_grid(
                    _z.string_to_u64(cid.to_numpy()),
                    bounds["clip_id_lo"], bounds["clip_id_hi"],
                )
                d1 = _z.normalize_to_grid(sr.to_numpy(), bounds["sr_lo"], bounds["sr_hi"])
                d2 = _z.normalize_to_grid(dur.to_numpy(), bounds["dur_lo"], bounds["dur_hi"])
                d3 = _z.normalize_to_grid(_cra(codec, codecs), 0, bounds["codec_hi"])
                yield pd.Series(_z.morton4(d0, d1, d2, d3))
            with open(f"{cpath}/{_uuid.uuid4().hex}", "w") as f:
                f.write(str(total))

        return key

    monkeypatch.setattr(C, "curve_key_udf", counting_factory)
    # r6: zorder normally compiles to the pure-JVM key expression (no
    # UDF at all); force the UDF fallback so this test keeps pinning
    # the single-full-evaluation property of that path (hilbert, or
    # past-long clip_id ranges).
    monkeypatch.setattr(C, "curve_key_expr", lambda bounds, curve: None)
    n = 2000
    t = make_table(spark, str(tmp_path / "t"), n=n, parts=8)
    total_bytes = sum(e["byte_size"] for e in t.manifest_entries().to_pylist())
    C.cluster(t, curve="zorder", target_bytes=total_bytes // 2 + 1)  # n_out == 2
    counted = sum(int(open(f"{cdir}/{f}").read()) for f in os.listdir(cdir))
    # rewrite pass = n rows exactly; boundary pass = ~0.2·n sample
    assert n <= counted <= int(1.5 * n), counted
    assert t.scan().count() == n


# ---------------------------------------------------------------------------
# VERDICT r3 #3: configurable / composite MERGE keys
# ---------------------------------------------------------------------------


def _sentence_table(spark, root: str):
    import pyarrow as pa

    stats = [("text_id", pa.int64()), ("sentence_id", pa.int64())]
    t = meta.create_table(spark, root, stats_spec=stats)
    rows = [(i // 5, i, f"sentence {i}") for i in range(100)]
    df = spark.createDataFrame(
        rows, "text_id long, sentence_id long, sentence string"
    )
    meta.append(t, df, job_id="seed", parts=4, sort_within=["text_id", "sentence_id"])
    return t, rows


def test_merge_composite_keys_matches_pandas_model(spark, tmp_path):
    """merge_into(keys=["text_id","sentence_id"]) on the sentence-level
    table: joins on both columns, prunes on the leading key's stats,
    validates composite uniqueness — result equals the pandas model."""
    from fupi_spark.merge import merge_into

    t, rows = _sentence_table(spark, str(tmp_path / "sent"))
    upd = [(i // 5, i, f"sentence {i} v2") for i in range(0, 35, 5)]
    ins = [(40, 1000 + j, f"new {j}") for j in range(3)]  # same text_id: not dups
    src = spark.createDataFrame(
        upd + ins, "text_id long, sentence_id long, sentence string"
    )
    snap = merge_into(t, src, job_id="m-comp", keys=["text_id", "sentence_id"])
    assert snap.summary["keys"] == ["text_id", "sentence_id"]
    assert snap.summary["matched_rows"] == 7
    assert snap.summary["inserted_rows"] == 3

    target_pdf = pd.DataFrame(rows, columns=["text_id", "sentence_id", "sentence"])
    src_pdf = pd.DataFrame(upd + ins, columns=["text_id", "sentence_id", "sentence"])
    model = target_pdf.set_index(["text_id", "sentence_id"])
    s = src_pdf.set_index(["text_id", "sentence_id"])
    model = s.combine_first(model)
    model.loc[s.index] = s
    expected = (
        model.reset_index()
        .sort_values(["text_id", "sentence_id"])
        .reset_index(drop=True)
    )
    got = (
        t.scan()
        .orderBy("text_id", "sentence_id")
        .toPandas()[["text_id", "sentence_id", "sentence"]]
    )
    assert got.values.tolist() == expected.values.tolist()


def test_merge_composite_keys_delete_and_dup_validation(spark, tmp_path):
    """Composite-key DELETE clause (classification join on both
    columns) + duplicate-pair rejection."""
    from fupi_spark.merge import merge_into

    t, _rows = _sentence_table(spark, str(tmp_path / "sent2"))
    victims = [(0, 0, "x"), (1, 7, "x")]
    src = spark.createDataFrame(
        victims, "text_id long, sentence_id long, sentence string"
    )
    snap = merge_into(
        t, src, job_id="m-del", keys=["text_id", "sentence_id"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert snap.summary["matched_rows"] == 2
    assert t.scan().count() == 98
    assert (
        t.scan()
        .filter((F.col("text_id") == 0) & (F.col("sentence_id") == 0))
        .count()
        == 0
    )

    dup = spark.createDataFrame(
        [(2, 10, "a"), (2, 10, "b")],
        "text_id long, sentence_id long, sentence string",
    )
    with pytest.raises(ValueError, match="duplicate"):
        merge_into(t, dup, job_id="m-dup", keys=["text_id", "sentence_id"])


# ---------------------------------------------------------------------------
# ADVICE low #4: the last-cluster marker must survive snapshot expiry
# ---------------------------------------------------------------------------


def test_cluster_marker_survives_expiry(spark, tmp_path):
    """expire(retain_last=1) between a cluster and the next incremental
    run must NOT degrade cluster_incremental to a full recluster: the
    marker is carried in every summary and expire pins the marked
    snapshot, so the O(churn) cadence holds at steady state."""
    import importlib

    C = importlib.import_module("fupi_spark.cluster")
    from fupi_spark.expire import expire_snapshots

    t = make_table(spark, str(tmp_path / "t"), n=300, parts=10)
    C.cluster(t, curve="linear", target_bytes=1 << 18, job_id="full")
    clustered = set(t.live_files())

    extra = synth_clips(spark, 60, seed=7, dur_range_ms=(50, 150), parts=2)
    extra = extra.withColumn("clip_id", F.concat(F.lit("zz_"), F.col("clip_id")))
    meta.append(t, extra, job_id="churn")

    # the append snapshot (head) inherits the marker; expiry pins the
    # cluster snapshot even though retain_last=1 would prune it
    report = expire_snapshots(t, retain_last=1)
    cluster_sid = t.current_snapshot().summary["last_cluster_snapshot_id"]
    assert cluster_sid in report["retained_snapshots"]

    snap = C.cluster_incremental(t, curve="linear", target_bytes=1 << 18)
    assert snap.summary.get("mode") == "incremental", (
        "marker lost: incremental degraded to a full recluster"
    )
    # the previously clustered bulk was not rewritten
    assert clustered <= set(t.live_files())
    assert t.scan().count() == 360


# ---------------------------------------------------------------------------
# VERDICT r3 #6: dense_ids spills keys, not payloads
# ---------------------------------------------------------------------------


def test_dense_ids_keys_only_checkpoint(spark):
    """Name-keyed orderings checkpoint only (keys, _mid) — the payload
    column must be absent from the materialized RDD scan node — and the
    ids still exactly match the single-reducer window."""
    import contextlib
    import io

    from pyspark.sql.window import Window as W

    from fupi_spark.ids import dense_ids

    df = spark.range(500).select(
        (F.col("id") * 7919 % 1000).alias("k"),
        F.col("id").alias("tie"),
        F.repeat(F.lit("x"), 2000).alias("payload"),
    )
    out = dense_ids(df, ["k", "tie"], "rid", num_parts=8)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    rdd_nodes = [
        ln for ln in buf.getvalue().splitlines() if "ExistingRDD" in ln
    ]
    assert rdd_nodes, "expected a checkpointed RDD scan in the plan"
    assert all("payload" not in ln for ln in rdd_nodes), (
        "payload column leaked into the dense_ids checkpoint"
    )

    win = W.orderBy("k", "tie")
    expected = {
        (r["k"], r["tie"]): r["rid"]
        for r in df.withColumn("rid", F.row_number().over(win)).collect()
    }
    got = {(r["k"], r["tie"]): r["rid"] for r in out.collect()}
    assert got == expected
    assert set(out.columns) == {"k", "tie", "payload", "rid"}


def test_compact_conf_restored_on_failure(spark, tmp_path):
    """Session conf mutations (maxPartitionBytes etc.) are restored even
    when the rewrite loop raises mid-flight (ADVICE low #2)."""
    from fupi_spark import compact as C

    t = make_table(spark, str(tmp_path / "t"), n=200, parts=8)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")

    # break the write mid-loop by removing a candidate file from disk
    victim = t.live_files()[0]
    os.remove(f"{t.root}/{victim}")
    with pytest.raises(Exception):
        C.compact(t, target_bytes=1 << 30, job_id="c-fail")
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == old_mpb
    assert spark.conf.get("spark.sql.files.openCostInBytes") == old_oc


# ---------------------------------------------------------------------------
# snapshot tags (Iceberg refs): named retention + tag time travel
# ---------------------------------------------------------------------------


def test_tags_pin_snapshots_until_deleted(spark, tmp_path):
    from fupi_spark.expire import expire_snapshots

    t = make_table(spark, str(tmp_path / "t"), n=200, parts=6)
    base_files = set(t.live_files())
    t.set_tag("audit")
    tagged_sid = t.resolve_tag("audit")

    extra = synth_clips(spark, 50, seed=3, dur_range_ms=(50, 100)).withColumn(
        "clip_id", F.concat(F.lit("zz_"), F.col("clip_id"))
    )
    meta.append(t, extra, job_id="more")
    report = expire_snapshots(t, retain_last=1)
    # tagged snapshot retained, its files alive, tag scan exact
    assert tagged_sid in report["retained_snapshots"]
    assert base_files <= set(os.listdir(f"{t.root}/data") and {
        p for p in t.live_files(t.snapshot(tagged_sid))
    })
    assert t.scan(tag="audit").count() == 200
    assert t.scan().count() == 250

    # deleting the tag releases the pin: next expiry collects it
    t.delete_tag("audit")
    report2 = expire_snapshots(t, retain_last=1)
    assert tagged_sid not in report2["retained_snapshots"]
    import pytest as _pytest

    with _pytest.raises(KeyError):
        t.resolve_tag("audit")


def test_tag_validation_and_overwrite(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), n=50, parts=2)
    with pytest.raises(ValueError):
        t.set_tag("bad/name")
    with pytest.raises(ValueError):
        t.set_tag("ghost", snapshot_id=999)
    t.set_tag("v")
    sid1 = t.resolve_tag("v")
    extra = synth_clips(spark, 10, seed=4, dur_range_ms=(50, 80)).withColumn(
        "clip_id", F.concat(F.lit("zz_"), F.col("clip_id"))
    )
    meta.append(t, extra, job_id="m2")
    t.set_tag("v")  # re-point
    assert t.resolve_tag("v") == t.current_snapshot().snapshot_id != sid1


# ---------------------------------------------------------------------------
# Write-Audit-Publish (wap.py)
# ---------------------------------------------------------------------------


def test_wap_publish_and_reject(spark, tmp_path):
    """Good batch: audit passes, publish tag advances. Corrupted batch:
    SNR audit rejects, head rolls back, consumers (published scan)
    never see a bad row, expiry reclaims the rejected files."""
    import numpy as np

    from fupi_spark.expire import expire_snapshots
    from fupi_spark.synth import with_clip_prefix
    from fupi_spark.wap import (
        audited_append,
        publish_init,
        published_scan,
        snr_audit,
    )

    t = make_table(spark, str(tmp_path / "t"), n=200, parts=6)
    publish_init(t)

    good = with_clip_prefix(
        synth_clips(spark, 50, seed=2, dur_range_ms=(50, 100)), "g_"
    )
    r = audited_append(t, good, snr_audit(), job_id="w-good", parts=2)
    assert r["published"] and r["rows_in_batch"] == 50
    assert published_scan(t).count() == 250

    bad_src = with_clip_prefix(
        synth_clips(spark, 30, seed=3, dur_range_ms=(50, 100)), "b_"
    )
    schema = bad_src.schema

    def corrupt(it):
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

    r2 = audited_append(
        t, bad_src.mapInPandas(corrupt, schema), snr_audit(), job_id="w-bad", parts=1
    )
    assert not r2["published"] and "audit failed" in r2["audit_error"]
    assert published_scan(t).count() == 250
    assert t.scan().count() == 250  # head rolled back too
    assert t.scan().filter(F.col("clip_id").startswith("b_")).count() == 0

    rep = expire_snapshots(t, retain_last=1)
    assert rep["deleted_files"]  # rejected batch reclaimed
    assert published_scan(t).count() == 250  # publish tag pinned through expiry


# ---------------------------------------------------------------------------
# DELETE FROM ... WHERE (merge.delete_where)
# ---------------------------------------------------------------------------


def test_delete_where_matches_pandas_and_prunes(spark, tmp_path):
    """Predicate delete equals the pandas model; with prune on a
    linear-clustered table a key-range delete rewrites only the files
    whose range intersects (O(selectivity), not O(table))."""
    import importlib

    C = importlib.import_module("fupi_spark.cluster")
    from fupi_spark.merge import delete_where

    t = make_table(spark, str(tmp_path / "t"), n=400, parts=16)
    C.cluster(t, curve="linear", target_bytes=1 << 18)
    n_files = len(t.live_files())
    assert n_files >= 4

    pdf = t.scan().select("clip_id", "dur_ms").toPandas()
    snap = delete_where(t, "dur_ms % 5 = 0", job_id="d1")
    expected_deleted = int((pdf["dur_ms"] % 5 == 0).sum())
    assert snap.summary["deleted_rows"] == expected_deleted
    assert t.scan().count() == 400 - expected_deleted
    assert t.scan().filter(F.expr("dur_ms % 5 = 0")).count() == 0

    # pruned key-range delete: pick one file's range; only intersecting
    # files may be rewritten
    entries = sorted(t.manifest_entries().to_pylist(), key=lambda e: e["file_path"])
    mid = entries[len(entries) // 2]
    lo, hi = mid["min_clip_id"], mid["max_clip_id"]
    victims = t.scan().filter(
        (F.col("clip_id") >= lo) & (F.col("clip_id") <= hi)
    ).count()
    snap2 = delete_where(
        t,
        f"clip_id >= '{lo}' AND clip_id <= '{hi}'",
        job_id="d2",
        prune=("clip_id", lo, hi),
    )
    assert snap2.summary["deleted_rows"] == victims
    assert snap2.summary["touched_files"] < len(entries)
    assert (
        t.scan()
        .filter((F.col("clip_id") >= lo) & (F.col("clip_id") <= hi))
        .count()
        == 0
    )

"""Clustering: vectorized curve keys vs scalar oracle; scan-order
equality vs the pandas reference (FIXTURES.md §4.4); curve locality."""

from __future__ import annotations

import numpy as np
import pytest

from fupi_spark import meta, refimpl, zorder
from fupi_spark.cluster import cluster, dimension_bounds
from fupi_spark.compact import ffd_pack
from fupi_spark.meta import create_table
from fupi_spark.synth import synth_clips

from .test_meta_compact import make_table, write_tasks_launched


def test_morton_matches_scalar_oracle():
    rng = np.random.default_rng(3)
    d = rng.integers(0, 1 << 15, size=(500, 4)).astype(np.uint64)
    fast = zorder.morton4(d[:, 0], d[:, 1], d[:, 2], d[:, 3])
    slow = [refimpl.morton4_scalar(*map(int, row)) for row in d]
    assert fast.tolist() == slow


def test_hilbert_matches_scalar_oracle():
    rng = np.random.default_rng(4)
    d = rng.integers(0, 1 << 15, size=(300, 4)).astype(np.uint64)
    fast = zorder.hilbert4(d)
    slow = [refimpl.hilbert4_scalar(list(map(int, row))) for row in d]
    assert fast.tolist() == slow


def test_hilbert_is_bijective_small():
    """Hilbert index over a full 2-bit 4-D cube hits every cell once."""
    coords = np.array(
        [[a, b, c, d] for a in range(4) for b in range(4) for c in range(4) for d in range(4)],
        dtype=np.uint64,
    )
    idx = zorder.hilbert4(coords, bits=2)
    assert sorted(idx.tolist()) == list(range(256))


def test_hilbert_locality_adjacent_cells():
    """Consecutive Hilbert indices differ by exactly one unit step in
    one dimension (the defining property of the curve)."""
    coords = np.array(
        [[a, b, c, d] for a in range(4) for b in range(4) for c in range(4) for d in range(4)],
        dtype=np.uint64,
    )
    idx = zorder.hilbert4(coords, bits=2)
    by_idx = {int(i): tuple(map(int, c)) for i, c in zip(idx, coords)}
    for k in range(255):
        a, b = np.array(by_idx[k]), np.array(by_idx[k + 1])
        assert np.abs(a - b).sum() == 1


def test_zorder_monotone_per_dimension():
    """Z-value is monotone in each dimension when the others are fixed."""
    base = np.array([100, 200, 300, 400], dtype=np.uint64)
    for dim in range(4):
        vals = []
        for v in range(0, 32768, 1000):
            c = base.copy()
            c[dim] = v
            vals.append(int(zorder.morton4(*(np.array([x]) for x in c))[0]))
        assert vals == sorted(vals)


def test_ffd_matches_independent_oracle():
    import random

    rng = random.Random(11)
    entries = [
        {"file_path": f"f{i:03d}", "byte_size": rng.randint(1, 90), "row_count": 1}
        for i in range(100)
    ]
    bins = ffd_pack(entries, 128)
    oracle = refimpl.ffd_pack_oracle([(e["file_path"], e["byte_size"]) for e in entries], 128)
    assert [[f["file_path"] for f in b.files] for b in bins] == oracle


@pytest.mark.parametrize("curve", ["zorder", "hilbert"])
def test_cluster_scan_order_matches_pandas_oracle(spark, tmp_table_dir, curve):
    t = make_table(spark, tmp_table_dir, n=400, parts=20)
    pdf_before = t.scan().select("clip_id", "sr_hz", "dur_ms", "codec", "transcript").toPandas()
    bounds = dimension_bounds(t)

    snap = cluster(t, curve=curve, target_bytes=1 << 18)
    assert snap.operation == "cluster"

    # engine order: files in name order (range-partition order), rows
    # in file order
    got = (
        t.scan_in_manifest_order()
        .orderBy("_file_ord")
        .select("clip_id")
        .toPandas()["clip_id"]
    )
    # within-file order must be checked per file to avoid relying on
    # cross-file read order: reconstruct explicitly
    import pyarrow.parquet as pq

    engine_order = []
    for e in sorted(t.manifest_entries().to_pylist(), key=lambda e: e["file_path"]):
        engine_order += pq.read_table(f"{t.root}/{e['file_path']}", columns=["clip_id"])[
            "clip_id"
        ].to_pylist()

    expected = refimpl.cluster_order(pdf_before, bounds, curve)["clip_id"].tolist()
    assert engine_order == expected
    assert sorted(engine_order) == sorted(got.tolist())

    # schema purity: no helper columns leak into data files
    assert set(t.scan().columns) == {"clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"}

    # row multiset preserved
    assert sorted(engine_order) == sorted(pdf_before["clip_id"].tolist())


def test_cluster_linear_order_is_sorted(spark, tmp_table_dir):
    """linear = Iceberg plain sort order by clip_id: concatenating the
    output files in name order must reproduce the lexicographic sort
    (the 63-bit u64 prefix key is order-equivalent to the string on
    ASCII ids, with clip_id itself as the in-partition tie-break)."""
    import pyarrow.parquet as pq

    t = make_table(spark, tmp_table_dir, n=400, parts=20)
    ids_before = sorted(r.clip_id for r in t.scan().select("clip_id").collect())

    snap = cluster(t, curve="linear", target_bytes=1 << 18)
    assert snap.operation == "cluster"

    engine_order = []
    for e in sorted(t.manifest_entries().to_pylist(), key=lambda e: e["file_path"]):
        engine_order += pq.read_table(f"{t.root}/{e['file_path']}", columns=["clip_id"])[
            "clip_id"
        ].to_pylist()
    assert engine_order == ids_before
    assert set(t.scan().columns) == {"clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"}


def test_linear_layout_bounds_merge_pruning(spark, tmp_table_dir):
    """The layout/workload trade, measured: after linear clustering the
    per-file clip_id ranges are disjoint, so a MERGE whose source keys
    all fall inside ONE file's range rewrites only that file — the
    copy-on-write cost is O(source locality), not O(table)."""
    from pyspark.sql import functions as F

    from fupi_spark.merge import merge_into

    t = make_table(spark, tmp_table_dir, n=400, parts=20)
    cluster(t, curve="linear", target_bytes=1 << 18)
    entries = sorted(t.manifest_entries().to_pylist(), key=lambda e: e["file_path"])
    n_files = len(entries)
    assert n_files >= 4, "fixture must produce a multi-file layout"

    # source keys: 5 consecutive ids from the middle file's range
    mid = entries[n_files // 2]
    keys = (
        spark.read.parquet(f"{t.root}/{mid['file_path']}")
        .select("clip_id")
        .orderBy("clip_id")
        .limit(5)
    )
    src = (
        t.scan()
        .join(keys, "clip_id")
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
    )
    snap = merge_into(t, src, job_id="m-local")
    assert snap.summary["touched_files"] == 1
    assert snap.summary["matched_rows"] == 5
    # the rewrite is audited too: updated rows present, total preserved
    assert t.scan().filter(F.col("transcript").endswith(" v2")).count() == 5
    assert t.scan().count() == 400


def test_cluster_incremental_rewrites_only_churn(spark, tmp_table_dir):
    """Incremental clustering = the 100 TB cadence: after a full
    cluster, an append's new files are reclustered WITHOUT touching the
    already-clustered bulk — rewrite cost O(churn), not O(table)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fupi_spark import meta
    from fupi_spark.cluster import cluster_incremental

    t = make_table(spark, tmp_table_dir, n=400, parts=20)

    # never clustered → falls back to a full cluster
    snap = cluster_incremental(t, curve="zorder", target_bytes=1 << 18)
    assert snap.operation == "cluster" and "mode" not in snap.summary
    clustered = set(t.live_files())

    # churn: append 100 new rows (distinct id space) as 4 small files
    extra = synth_clips(spark, 100, seed=7, dur_range_ms=(50, 150), parts=4)
    extra = extra.withColumn("clip_id", F.concat(F.lit("zz_"), F.col("clip_id")))
    meta.append(t, extra, job_id="churn")

    snap2 = cluster_incremental(t, curve="zorder", target_bytes=1 << 18)
    assert snap2.summary["mode"] == "incremental"
    live = set(t.live_files())
    # the previously clustered files are untouched; only churn rewritten
    assert clustered <= live
    new_files = live - clustered
    assert new_files and snap2.summary["removed_files"] == 4

    # every new file is internally curve-sorted (pruning quality holds)
    bounds = dimension_bounds(t)
    for p in new_files:
        pdf = pq.read_table(
            f"{t.root}/{p}", columns=["clip_id", "sr_hz", "dur_ms", "codec"]
        ).to_pandas()
        expected = refimpl.cluster_order(pdf, bounds, "zorder")["clip_id"].tolist()
        assert pdf["clip_id"].tolist() == expected

    # row multiset intact; a second incremental run is a no-op
    assert t.scan().count() == 500
    snap3 = cluster_incremental(t, curve="zorder", target_bytes=1 << 18)
    assert snap3.snapshot_id == snap2.snapshot_id


def test_cluster_incremental_after_merge_linear(spark, tmp_table_dir):
    """MERGE's copy-on-write output counts as churn: the next
    incremental cluster (linear layout here) re-sorts exactly the
    merge-written files and restores disjoint per-file key ranges."""
    from pyspark.sql import functions as F

    from fupi_spark.cluster import cluster_incremental
    from fupi_spark.merge import merge_into

    t = make_table(spark, tmp_table_dir, n=300, parts=15)
    cluster_incremental(t, curve="linear", target_bytes=1 << 17)  # full (first)
    before = set(t.live_files())

    keys = t.scan().select("clip_id").orderBy("clip_id").limit(4)
    src = (
        t.scan()
        .join(keys, "clip_id")
        .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" v2")))
    )
    merge_into(t, src, job_id="m-inc")
    pre_inc = set(t.live_files())
    merged_new = pre_inc - before

    snap = cluster_incremental(t, curve="linear", target_bytes=1 << 17)
    assert snap.summary["mode"] == "incremental"
    live = set(t.live_files())
    # bulk untouched by the merge survives; merge-written files were
    # reclustered (removed and replaced by sorted output)
    assert (pre_inc - merged_new) <= live
    assert not (merged_new & live)
    # reclustered output is internally sorted → ranges disjoint again
    import pyarrow.parquet as pq

    for p in live - pre_inc:
        ids = pq.read_table(f"{t.root}/{p}", columns=["clip_id"])["clip_id"].to_pylist()
        assert ids == sorted(ids)
    assert t.scan().count() == 300
    assert t.scan().filter(F.col("transcript").endswith(" v2")).count() == 4


def test_cluster_improves_pruning_bounds(spark, tmp_table_dir):
    """After Z-ordering, per-file clip_id ranges should be narrower than
    the random layout — that's the point of clustering (file skipping)."""
    t = make_table(spark, tmp_table_dir, n=600, parts=12)

    def avg_span(entries):
        spans = []
        for e in entries:
            lo = refimpl.str_u64_scalar(e["min_clip_id"])
            hi = refimpl.str_u64_scalar(e["max_clip_id"])
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    before = avg_span(t.manifest_entries().to_pylist())
    cluster(t, curve="zorder", target_bytes=1 << 18)
    after = avg_span(t.manifest_entries().to_pylist())
    assert after < before


def test_curve_key_expr_matches_udf(spark, tmp_table_dir):
    """r6: the pure-JVM zorder key expression is bit-identical to the
    numpy pandas-UDF path (which is itself oracle-tested), including
    short clip_ids and codecs absent from the rank dictionary."""
    from pyspark.sql import functions as F

    from fupi_spark.cluster import (
        CLUSTER_DIMS,
        curve_key_expr,
        curve_key_udf,
    )

    t = create_table(spark, tmp_table_dir)
    from fupi_spark import meta

    meta.append(t, synth_clips(spark, 400, dur_range_ms=(50, 120)), job_id="seed", parts=8)
    bounds = dimension_bounds(t)
    expr = curve_key_expr(bounds, "zorder")
    assert expr is not None
    udf = curve_key_udf(bounds, "zorder")
    df = t.scan().select(*CLUSTER_DIMS)
    extra = spark.createDataFrame(
        [("", 8000, 50, "zzzz"), ("a", 48000, 120, "aaaa"), ("clip_", 22050, 77, "flac")],
        df.schema,
    )
    df = df.unionByName(extra)
    both = df.withColumn("_e", expr).withColumn(
        "_u", udf(*[F.col(c) for c in CLUSTER_DIMS])
    )
    assert both.filter(F.col("_e") != F.col("_u")).count() == 0
    # hilbert stays on the UDF path
    assert curve_key_expr(bounds, "hilbert") is None


def test_curve_key_expr_declines_past_long_range(spark, tmp_table_dir):
    """clip_id bounds whose u64 rank exceeds signed-long must fall back
    to the UDF (conv() would overflow)."""
    from fupi_spark.cluster import curve_key_expr

    t = create_table(spark, tmp_table_dir)
    from fupi_spark import meta

    meta.append(t, synth_clips(spark, 50, dur_range_ms=(50, 80)), job_id="seed", parts=2)
    b = dimension_bounds(t)
    b["clip_id_hi"] = 1 << 63
    assert curve_key_expr(b, "zorder") is None


def test_codec_rank_dictionary_survives_extremum_hiding(spark, tmp_table_dir):
    """r6: once a codec value is ranked by a cluster job it must stay
    in the dictionary even when a later layout no longer exposes it as
    any file's min/max stat — otherwise recomputed bounds would shift
    ranks and disagree with the order the data was clustered under."""
    from fupi_spark import meta
    from fupi_spark.cluster import cluster, dimension_bounds

    t = create_table(spark, tmp_table_dir)
    meta.append(t, synth_clips(spark, 200, dur_range_ms=(50, 100)), job_id="seed", parts=8)
    pre = dimension_bounds(t)["codec_ranks"]
    cluster(t, curve="zorder", target_bytes=1 << 30)  # one big file
    post = dimension_bounds(t)["codec_ranks"]
    # a single-file layout exposes only (global min, global max) as
    # extremum stats, yet every previously ranked codec must survive
    assert set(pre) <= set(post)


def test_cluster_ignores_append_committed_while_planning(spark, tmp_table_dir, monkeypatch):
    """cluster() pins its base snapshot: an append that commits while
    the layout is planned must stay out of the plan and the rewrite.
    The commit removes only the base's files, so rewriting the appended
    rows too would leave them live twice."""
    import importlib

    from pyspark.sql import functions as F

    from fupi_spark import meta

    C = importlib.import_module("fupi_spark.cluster")  # the package re-exports cluster()

    t = make_table(spark, tmp_table_dir, n=120, parts=6)
    late = synth_clips(spark, 10, seed=99, dur_range_ms=(50, 80)).withColumn(
        "clip_id", F.concat(F.lit("late_"), F.col("clip_id"))
    )
    real_plan = C._plan_layout

    def plan_during_append(*a, **kw):
        meta.append(t, late, job_id="late", parts=1)
        return real_plan(*a, **kw)

    monkeypatch.setattr(C, "_plan_layout", plan_during_append)
    cluster(t, curve="zorder", target_bytes=1 << 18, job_id="cl-race")
    ids = [r.clip_id for r in t.scan().select("clip_id").collect()]
    assert len(ids) == 130
    assert len(set(ids)) == 130
    assert t.current_snapshot().operation == "cluster"


def test_multi_file_write_runs_one_task_per_core(spark, tmp_path, monkeypatch):
    """``append(parts=32)``, a ``transform_payloads`` of the 32-file
    table and a zorder ``cluster()`` on a small table each write their
    files in at most defaultParallelism tasks, and their manifest
    entries (row_count, checksum_bytes, min/max, byte_size), file by
    file in name order, equal those of the same ops run with
    ``spark.sql.files.maxPartitionBytes=1`` for the task count, which
    gives each file its own task."""
    from pyspark.sql import functions as F

    from fupi_spark.session import session_conf
    from fupi_spark.transform import transform_payloads

    src = str(tmp_path / "src")
    synth_clips(spark, 400, dur_range_ms=(50, 150)).coalesce(1).write.parquet(src)
    cores = spark.sparkContext.defaultParallelism

    def canon(t):
        return [
            tuple(e[k] for k in sorted(e) if k != "file_path")
            for e in sorted(t.manifest_entries().to_pylist(), key=lambda e: e["file_path"])
        ]

    def upper(df):
        return df.withColumn("transcript", F.upper("transcript"))

    def run(root):
        t = create_table(spark, root)
        tasks = [
            write_tasks_launched(
                spark, lambda: meta.append(t, spark.read.parquet(src), job_id="a", parts=32)
            )
        ]
        appended = canon(t)
        tasks.append(write_tasks_launched(spark, lambda: transform_payloads(t, upper)))
        transformed = canon(t)
        tasks.append(
            write_tasks_launched(spark, lambda: cluster(t, curve="zorder", target_bytes=1 << 16))
        )
        return tasks, appended, transformed, canon(t)

    tasks, appended, transformed, clustered = run(str(tmp_path / "packed"))
    assert len(appended) == len(transformed) == 32 and len(clustered) > cores
    assert max(tasks) <= cores, tasks

    real = meta.write_tasks

    def one_task_per_file(df):
        with session_conf(spark, {"spark.sql.files.maxPartitionBytes": "1"}):
            return real(df)

    monkeypatch.setattr(meta, "write_tasks", one_task_per_file)
    per_file = run(str(tmp_path / "per_file"))
    assert per_file[0][:2] == [32, 32] and per_file[0][2] >= len(clustered)
    assert per_file[1:] == (appended, transformed, clustered)

"""Physical-plan audits (.explain discipline): filters reach the
parquet scan, projections prune columns, small joins broadcast, top-k
avoids global sorts, and maintenance jobs contain no surprise shuffles."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from fupi_spark import queries as Q


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = Q.QUERIES["ingest_scan_filter"](spark, sf_dir)
    s = formatted(df)
    assert "PushedFilters:" in s
    # the numeric predicate must be pushed into the parquet reader
    assert "GreaterThan(n_chars,100)" in s, s


def test_projection_pruning_reaches_scan(spark, sf_dir):
    df = Q.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    s = formatted(df)
    assert "ReadSchema" in s
    read_schema = [ln for ln in s.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_flagship_join_is_broadcast(spark, sf_dir):
    df = Q.QUERIES["flagship_search"](spark, sf_dir)
    assert "BroadcastHashJoin" in plan_of(df)


def test_pricing_summary_has_partial_aggregation(spark, sf_dir):
    df = Q.QUERIES["tpch_pricing_summary"](spark, sf_dir)
    p = plan_of(df)
    # partial (map-side) + final agg around one exchange
    assert p.count("HashAggregate") >= 2, p


def test_compact_plan_has_no_shuffle(spark, tmp_table_dir):
    """The compaction rewrite must be shuffle-free: one task per bin,
    sequential read → sequential write."""
    from fupi_spark import meta
    from fupi_spark.compact import bins_scan, ffd_pack
    from fupi_spark.synth import synth_clips

    t = meta.create_table(spark, tmp_table_dir)
    meta.append(t, synth_clips(spark, 120, dur_range_ms=(50, 80)), job_id="seed", parts=12)
    entries = t.manifest_entries().to_pylist()
    bins = ffd_pack(entries, 1 << 30)
    # compact's own rewrite input (engine reader + broadcast file→bin
    # map): the payload must cross NO shuffle (broadcast of the tiny
    # map is the only exchange) and the plan is O(1) in bin count
    p = plan_of(bins_scan(t, bins))
    assert "Exchange hashpartitioning" not in p, p
    assert "SinglePartition" not in p, p
    assert "BroadcastHashJoin" in p, p


def write_plans(spark, fn) -> list[str]:
    """The formatted final physical plan of each file write ``fn``
    runs, from the SQL status store (what ``.explain("formatted")``
    prints for the write command once it has run)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans = [
        e.physicalPlanDescription()
        for e in executions()
        if e.executionId() > seen
        and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
    ]
    # keep the final plan's tree (the only tree of a plan without an
    # exchange, which adaptive execution leaves alone) and the details
    # of its nodes
    out = []
    for d in plans:
        if "== Final Plan ==" in d:
            tree = d.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
        else:
            tree = d.split("\n\n", 1)[0]
        ids = set(re.findall(r"\((\d+)\)", tree))
        details = [
            b for b in d.split("\n\n") if (m := re.match(r"\((\d+)\)", b)) and m.group(1) in ids
        ]
        out.append("\n\n".join([tree, *details]))
    return out


def assert_multi_file_write(plan: str, file_col: str, exchanges: int | None = 1) -> None:
    """``exchanges`` shuffles (any number for None), one coalesce and
    one sort whose keys lead with the file column: the writer adds no
    sort of its own."""
    tree = plan.split("\n\n(", 1)[0]
    nodes = re.findall(r"^\s*(?:\+- )?\*?\s*([A-Za-z][\w ]*?) \(\d+\)", tree, re.M)
    if exchanges is not None:
        assert nodes.count("Exchange") == exchanges, plan
    assert nodes.count("Coalesce") == 1, plan
    assert nodes.count("Sort") == 1, plan
    sort = re.search(r"^\(\d+\) Sort.*\nInput.*\nArguments: \[(\w+)#", plan, re.M)
    assert sort and sort.group(1) == file_col, plan


def test_multi_file_write_plan(spark, tmp_table_dir):
    """Every write of table files runs one coalesce into write tasks and
    one in-task sort led by the file column — no second
    (writer-inserted) sort: append(parts) and cluster() behind their one
    shuffle, a MERGE, and the shuffle-free delete_where and compaction."""
    from fupi_spark import meta
    from fupi_spark.cluster import cluster
    from fupi_spark.compact import compact
    from fupi_spark.merge import delete_where, merge_into
    from fupi_spark.synth import synth_clips

    t = meta.create_table(spark, tmp_table_dir)
    clips = synth_clips(spark, 200, dur_range_ms=(50, 80))
    [append] = write_plans(spark, lambda: meta.append(t, clips, job_id="seed", parts=32))
    assert_multi_file_write(append, meta.FILE_COL)
    [clustered] = write_plans(spark, lambda: cluster(t, curve="zorder", target_bytes=1 << 14))
    assert_multi_file_write(clustered, "_bucket")
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())
    src = t.scan().filter(F.col("clip_id").isin(ids[::50])).withColumn("transcript", F.lit("u"))
    [merged] = write_plans(spark, lambda: merge_into(t, src))
    assert_multi_file_write(merged, meta.FILE_COL, exchanges=None)
    [deleted] = write_plans(spark, lambda: delete_where(t, f"clip_id < '{ids[20]}'"))
    assert_multi_file_write(deleted, meta.FILE_COL, exchanges=0)
    [compacted] = write_plans(spark, lambda: compact(t, target_bytes=1 << 30))
    assert_multi_file_write(compacted, "_bin", exchanges=0)


def test_merge_prune_join_is_metadata_only(spark, tmp_table_dir):
    """MERGE file pruning joins the manifest (file entries), not data."""
    from fupi_spark import meta
    from fupi_spark.merge import plan_touched_files
    from fupi_spark.synth import synth_clips

    t = meta.create_table(spark, tmp_table_dir)
    meta.append(t, synth_clips(spark, 200, dur_range_ms=(50, 80)), job_id="seed", parts=10)
    src = t.scan().select("clip_id").limit(5)
    touched = plan_touched_files(t, src, t.current_snapshot())
    assert 0 < len(touched) <= 10
    # every touched entry is a manifest row (stats present), no payload
    assert all("min_clip_id" in e and "bytes" not in e for e in touched)


def test_dense_ids_no_single_reducer(spark, sf_dir):
    """Sequence-id assignment must not compile to Exchange
    SinglePartition (the round-1 global-window plan)."""
    for name in ("ids_rownumber", "segment_explode"):
        p = plan_of(Q.QUERIES[name](spark, sf_dir))
        assert "SinglePartition" not in p, f"{name} funnels through one reducer"


def test_segment_explode_single_generate(spark, sf_dir):
    """r6: keys_join=False — the split+posexplode is evaluated exactly
    once, upstream of the dense_ids checkpoint (the keys-only path
    re-evaluated it for a join-back and ran an extra uniqueness job).
    The final plan therefore reads the checkpointed rows and contains
    NO join and at most the checkpoint's own Generate."""
    p = plan_of(Q.QUERIES["segment_explode"](spark, sf_dir))
    assert "Join" not in p, p
    assert p.count("Generate") <= 1, p


def test_dedup_exact_is_partial_agg_not_window(spark, sf_dir):
    """r6: keep-first == min(doc_id) per fingerprint — a map-side
    combinable groupBy, not a row_number window (which shuffled and
    sorted every (doc_id, fingerprint, text) row)."""
    p = plan_of(Q.QUERIES["dedup_exact"](spark, sf_dir))
    assert "Window" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_dense_ids_matches_global_window(spark, sf_dir):
    """dense_ids == ROW_NUMBER() OVER (ORDER BY ...) row for row."""
    from pyspark.sql.window import Window as W

    from fupi_spark.ids import dense_ids

    docs = Q.load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    order = [F.col("n_chars").desc(), F.col("doc_id").asc()]
    got = {
        r.doc_id: r.text_id
        for r in dense_ids(docs, order, "text_id").collect()
    }
    w = W.orderBy(*order)
    want = {
        r.doc_id: r.text_id
        for r in docs.select(
            "doc_id", F.row_number().over(w).cast("long").alias("text_id")
        ).collect()
    }
    assert got == want


def test_join_orders_customer_preaggregates_fact_side(spark, sf_dir):
    """r6: the fact side is aggregated BELOW the broadcast join (the
    join and shuffle carry per-custkey partials, not raw order rows)."""
    p = plan_of(Q.QUERIES["join_orders_customer"](spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert p.index("BroadcastHashJoin") < p.index("HashAggregate"), p

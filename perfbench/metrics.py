"""The benchmark's metric catalogue: every metric it prints, its unit,
which direction is better, and (per-layer metrics) the end-to-end metric
and workload it should move. ``BENCHMARK.json`` lists the same names;
``selfcheck.py`` verifies the two agree."""

from __future__ import annotations

from tracing import SPARK_FIELDS, STORAGE_PRIMS

# (name, unit, better, bound): printed by every untraced run, on every
# workload. ``throughput_per_s`` is clips/s through the six-step cycle on
# bulk_cycle, operations/s (maintenance included) on trickle_ops and
# queries/s on search_queries; ``op_p50_ms`` is the median latency of one
# cycle step, one foreground write or lookup, or one query.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.15),
    ("throughput_per_s", "1/s", "higher", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
]

HEADLINE = [
    "flagship_search",
    "ann_topk_dot",
    "dedup_exact",
    "centroid_by_label",
    "segment_explode",
    "tpch_pricing_summary",
    "join_orders_customer",
    "events_running_window",
]

# timed operations that carry Spark job metrics (<op>.<field>)
SPARK_OPS = [
    "meta.append",
    "compact",
    "cluster",
    "merge",
    "merge.delete_mor",
    "integrity.verify",
    "expire",
    "bloom.refresh",
    "bloom.lookup",
    "queries",
]

_T = "trickle_ops"
_B = "bulk_cycle"
_S = "search_queries"

# (name, unit, better, moves: "<end-to-end metric> on <workload>")
PER_LAYER = [
    ("meta.commit_s", "s", "lower", f"op_p50_ms, throughput_per_s on {_T}"),
    ("meta.commit_n", "count", "lower", f"op_p50_ms, throughput_per_s on {_T}"),
    ("meta.commit_retries", "count", "lower", f"op_p50_ms on {_T}"),
    ("meta.manifest_bytes_written", "bytes", "lower", f"op_p50_ms, throughput_per_s on {_T}"),
    ("meta.footer_stats_s", "s", "lower", f"op_p50_ms on {_T}"),
    ("meta.append_s", "s", "lower", f"op_p50_ms on {_T}; throughput_per_s on {_B}"),
    ("meta.scan_plan_s", "s", "lower", f"op_p50_ms on {_T}"),
]
PER_LAYER += [
    (f"storage.{p}_n", "count", "lower", f"op_p50_ms on {_T}") for p in STORAGE_PRIMS
]
PER_LAYER += [
    ("storage.busy_s", "s", "lower", f"op_p50_ms on {_T}"),
    ("lineage.units_n", "count", "lower", f"op_p50_ms on {_T}"),
    ("compact.s", "s", "lower", f"throughput_per_s on {_B}"),
    ("compact.files_in", "count", "lower", f"throughput_per_s on {_B}"),
    ("compact.files_out", "count", "lower", f"throughput_per_s on {_B}"),
    ("compact.bytes_rewritten", "bytes", "lower", f"throughput_per_s on {_B}"),
    ("cluster.s", "s", "lower", f"throughput_per_s on {_B}"),
    ("cluster.files_per_range_probe", "count", "lower", f"op_p50_ms on {_T}"),
    ("merge.s", "s", "lower", f"throughput_per_s on {_B}; op_p50_ms on {_T}"),
    ("merge.files_touched", "count", "lower", f"throughput_per_s on {_B}; op_p50_ms on {_T}"),
    (
        "merge.rows_rewritten_per_row_changed",
        "ratio",
        "lower",
        f"throughput_per_s on {_B}; op_p50_ms on {_T}",
    ),
    ("integrity.verify_s", "s", "lower", f"throughput_per_s on {_B}"),
    ("integrity.rows_decoded", "count", "lower", f"throughput_per_s on {_B}"),
    ("expire.s", "s", "lower", f"expire.space_amp on {_B} and {_T}"),
    ("expire.files_deleted", "count", "lower", f"expire.space_amp on {_B} and {_T}"),
    ("expire.snapshots_expired", "count", "lower", f"expire.space_amp on {_B} and {_T}"),
    ("expire.space_amp", "ratio", "lower", f"peak disk use on {_B} and {_T}"),
    ("bloom.refresh_s", "s", "lower", f"op_p50_ms on {_T}"),
    ("bloom.files_read_per_lookup", "count", "lower", f"op_p50_ms on {_T}"),
]
PER_LAYER += [
    (f"queries.{q}_ms", "ms", "lower", f"throughput_per_s, op_p50_ms on {_S}") for q in HEADLINE
]
PER_LAYER += [
    ("queries.plan_s", "s", "lower", f"throughput_per_s, op_p50_ms on {_S}"),
    ("queries.exec_s", "s", "lower", f"throughput_per_s, op_p50_ms on {_S}"),
]
_SPARK_UNITS = {"tasks": "count", "task_failures": "count"}
for _op in SPARK_OPS:
    _moves = {
        "queries": f"throughput_per_s on {_S}",
        "bloom.lookup": f"op_p50_ms on {_T}",
        "bloom.refresh": f"throughput_per_s on {_T}",
        "merge.delete_mor": f"op_p50_ms on {_T}",
    }.get(_op, f"throughput_per_s on {_B} and {_T}")
    for _f in SPARK_FIELDS:
        PER_LAYER.append(
            (
                f"{_op}.{_f}",
                _SPARK_UNITS.get(_f, _f.rsplit("_", 1)[-1].replace("mb", "MB")),
                "lower",
                _moves,
            )
        )
PER_LAYER += [
    ("ctl.read_noop_s", "s", "lower", f"ceiling for meta.append_s on {_B}"),
    ("ctl.crc_noop_s", "s", "lower", f"ceiling for meta.append_s on {_B}"),
    ("ctl.write_s", "s", "lower", f"ceiling for meta.append_s on {_B}"),
    ("ctl.bare_io_s", "s", "lower", f"ceiling for compact.s and cluster.s on {_B}"),
    ("trace.overhead_pct", "%", "lower", "none: traced vs untraced wall time of the same work"),
]

"""Maintenance advisor: turn manifest/metadata arithmetic into an
ordered list of recommended maintenance ops.

A 10^12-row table is kept healthy by a scheduler that decides WHEN to
run compact / cluster / consolidate-deletes / bloom-refresh / expire;
those triggers are pure metadata reads (file counts, byte histograms,
range overlaps, delete-file counts, snapshot counts), so the advisor
runs in milliseconds with ZERO data scans and can be polled every few
minutes by an orchestrator. Each recommendation carries the measured
evidence that fired it, so the decision is auditable.

Thresholds are explicit keyword parameters, not config magic — the
orchestrator owns the policy; this module owns the measurement.
"""

from __future__ import annotations

from .bloom import read_index


def advise(
    table,
    target_bytes: int = 128 * 1024 * 1024,
    small_file_ratio: float = 0.5,
    max_delete_files: int = 1,
    max_overlap_ratio: float = 0.2,
    max_snapshots: int = 20,
    bloom_col: str | None = None,
) -> list[dict]:
    """Return ordered recommendations: [{'op', 'reason', ...evidence}].

    - ``compact``  when > ``small_file_ratio`` of data files are under
      half the target size (FFD bins would merge them);
    - ``consolidate-deletes`` when more than ``max_delete_files``
      equality-delete files are outstanding (every scan pays one key
      filter, or past the driver cap one anti-join, per key-spec group
      until then);
    - ``cluster`` when the leading stats column's file ranges overlap
      more than ``max_overlap_ratio`` of all ordered pairs (the same
      number lakehouse_cluster_quality reports — it predicts pruning
      fan-in);
    - ``bloom-refresh`` when live files lack bloom index rows for
      ``bloom_col`` — all of them when the index was built for another
      column or schema (point lookups read those files unconditionally);
    - ``expire`` when the snapshot log exceeds ``max_snapshots``.
    """
    recs: list[dict] = []
    entries = table.data_entries()
    n = len(entries)

    small = [e for e in entries if e["byte_size"] < target_bytes // 2]
    if n > 1 and len(small) / n > small_file_ratio:
        recs.append(
            {
                "op": "compact",
                "reason": f"{len(small)}/{n} files under half target size",
                "small_files": len(small),
                "files": n,
            }
        )

    dels = table.delete_entries()
    if len(dels) > max_delete_files:
        recs.append(
            {
                "op": "consolidate-deletes",
                "reason": f"{len(dels)} outstanding equality-delete files",
                "delete_files": len(dels),
            }
        )

    lead = table.stats_cols[0] if table.stats_cols else None
    if lead and n > 1:
        lo_k, hi_k = f"min_{lead}", f"max_{lead}"
        ranges = [
            (e[lo_k], e[hi_k])
            for e in entries
            if e.get(lo_k) is not None and e.get(hi_k) is not None
        ]
        m = len(ranges)
        if m > 1:
            # O(m log m) sweep, not the O(m^2) pair scan: sort by lo,
            # then for each interval the overlapping later-starters are
            # exactly those whose lo <= its hi (bisect on the sorted
            # lo array) — 10^6 files stays a sub-second driver pass
            from bisect import bisect_right

            ranges.sort()
            los = [r[0] for r in ranges]
            unordered = sum(
                bisect_right(los, hi) - i - 1
                for i, (_lo, hi) in enumerate(ranges)
            )
            overlaps = 2 * unordered
            ratio = overlaps / (m * (m - 1))
            if ratio > max_overlap_ratio:
                recs.append(
                    {
                        "op": "cluster",
                        "reason": (
                            f"{lead} ranges overlap in {overlaps} of "
                            f"{m * (m - 1)} ordered file pairs"
                        ),
                        "overlap_ratio": round(ratio, 4),
                    }
                )

    if bloom_col is not None:
        idx = read_index(table, bloom_col, table.current_snapshot())
        missing = [e["file_path"] for e in entries if e["file_path"] not in idx]
        if missing:
            recs.append(
                {
                    "op": "bloom-refresh",
                    "reason": f"{len(missing)} live files lack bloom rows",
                    "unindexed_files": len(missing),
                }
            )

    snaps = table.snapshot_ids()
    if len(snaps) > max_snapshots:
        recs.append(
            {
                "op": "expire",
                "reason": f"{len(snaps)} snapshots in the log",
                "snapshots": len(snaps),
            }
        )
    return recs

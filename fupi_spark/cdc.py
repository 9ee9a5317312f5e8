"""Row-level change-data-capture between two snapshots.

``incremental_scan`` (meta.py:559) covers the append-only fast path and
refuses to cross replacing operations; this module closes that gap with
the full Iceberg-style changelog: the NET row-level diff between any two
snapshots — inserts and deletes (an update is a delete+insert pair on
the same key), with maintenance rewrites (compact / cluster) correctly
contributing NOTHING because they move bytes, not rows.

Reference anchor: the reference corpus pipeline re-embeds exactly the
sentences that changed between crawls (/root/reference/fupi/utils.py —
the drop/recreate loop); a 10^12-row table can't diff by recreate, it
needs this scan.

Scale shape — the central property is that the diff NEVER reads the
whole table:

- only files added or removed between the snapshots are read; a file
  live in both snapshots with identical applicable-delete state is
  skipped entirely (its rows cancel in the multiset diff by
  construction, so we prove the cancellation from the manifest instead
  of paying two reads + a shuffle for it);
- a compaction/cluster-only interval therefore reads just the rewritten
  files, and an append-only interval degenerates to incremental_scan's
  plan: the added files are emitted as inserts with NO anti-join at
  all (``exceptAll`` is skipped when either side is file-free);
- the general diff is two ``exceptAll``s (Spark's hash-based multiset
  difference) over the changed-file rows only — one shuffle each, keyed
  on the full row, the same cost Iceberg's changelog scan pays for its
  net-changes mode.

MOR awareness: a delete-mor snapshot changes visible rows WITHOUT
touching data files, so "live in both snapshots" is not enough to skip
a file — each common file is skipped only when its applicable
equality-delete set (meta.applicable_deletes: the delete files with
``sequence >= file sequence``) is identical at both endpoints; both
sides read through ``_read_files``, which applies each snapshot's own
delete state. Schema evolution between the endpoints (rename/add ops)
makes visible rows of untouched files differ too, so any schema_ops
drift marks all common files changed; the old side is then aligned to
the NEW snapshot's column set (dropped columns vanish, added columns
read as NULL) — Iceberg likewise emits its changelog in the current
schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .meta import applicable_deletes

CHANGE_TYPE_COL = "_change_type"


def _schema_frame(table, snap) -> DataFrame:
    """Zero-row DataFrame with ``snap``'s user-facing schema
    (Table.empty_scan: the reader's schema, no file scan). For a
    FILE-FREE snapshot (e.g. the end of a delete-everything interval)
    the schema is derived instead from a file-bearing snapshot whose schema ops are a prefix of ``snap``'s,
    nearest earlier one first, replaying the op suffix. Only if none
    qualifies (every such snapshot expired) does the first file-bearing
    candidate's own schema stand in, evolution after ``snap`` included."""
    if table.data_entries(snap):
        return table.empty_scan(snap)
    ops_here = table.schema_ops(snap)
    ids = [s for s in table.snapshot_ids() if s != snap.snapshot_id]
    earlier = [s for s in ids if s < snap.snapshot_id]
    later = [s for s in ids if s > snap.snapshot_id]
    fallback = None
    for sid in list(reversed(earlier)) + later:
        cand = table.snapshot(sid)
        if not table.data_entries(cand):
            continue
        ops_base = table.schema_ops(cand)
        if ops_here[: len(ops_base)] == ops_base:
            from .evolve import apply_schema_ops

            base = table.empty_scan(cand)
            return apply_schema_ops(base, ops_here[len(ops_base):])
        fallback = fallback or sid
    if fallback is None:
        raise ValueError(
            "cannot derive a schema: no snapshot of this table ever had data files"
        )
    return table.empty_scan(table.snapshot(fallback))


def changelog_scan(
    table,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Net row-level changes in ``(from, to]`` as a DataFrame with the
    new snapshot's user-facing columns plus ``_change_type`` in
    ('insert', 'delete'). An updated row appears twice (delete of the
    old image, insert of the new); rows untouched by the interval —
    including rows carried through compact/cluster rewrites — appear
    zero times."""
    old_snap = table.snapshot(from_snapshot_id)
    new_snap = (
        table.snapshot(to_snapshot_id)
        if to_snapshot_id is not None
        else table.current_snapshot()
    )

    old_entries = {e["file_path"]: e for e in table.data_entries(old_snap)}
    new_entries = {e["file_path"]: e for e in table.data_entries(new_snap)}

    old_only = sorted(set(old_entries) - set(new_entries))
    new_only = sorted(set(new_entries) - set(old_entries))
    common = set(old_entries) & set(new_entries)

    # a common file's visible rows changed iff the table's schema replay
    # or the (immutable) delete files that may filter it changed between
    # the endpoints
    schema_drift = table.schema_ops(old_snap) != table.schema_ops(new_snap)
    old_dels = table.delete_entries(old_snap)
    new_dels = table.delete_entries(new_snap)

    def deletes_on(dels: list[dict], entry: dict) -> set[str]:
        return {d["file_path"] for d in applicable_deletes(dels, entry.get("sequence"))}

    changed = sorted(
        p
        for p in common
        if schema_drift
        or deletes_on(old_dels, old_entries[p]) != deletes_on(new_dels, new_entries[p])
    )

    new_side_paths = new_only + changed
    old_side_paths = old_only + changed

    # the output schema is the NEW snapshot's — but scan() needs data
    # files, and an interval ending in full deletion leaves the new
    # snapshot file-free. Derive a zero-row frame carrying that schema
    # from the nearest file-bearing snapshot + the schema-op suffix
    # committed since (advice r6: the changelog over a delete-everything
    # interval must return all-delete rows, not raise 'empty table').
    new_schema_df = _schema_frame(table, new_snap)
    new_cols = new_schema_df.columns
    new_types = dict(new_schema_df.dtypes)
    ops_old = table.schema_ops(old_snap)
    ops_new = table.schema_ops(new_snap)

    def read_side(paths: list[str], snap) -> DataFrame | None:
        if not paths:
            return None
        df = table._drop_internal(
            table._read_files([f"{table.root}/{p}" for p in paths], snap)
        )
        if schema_drift and snap is old_snap:
            if ops_new[: len(ops_old)] == ops_old:
                # ops are inherited append-only, so the old snapshot's
                # replay is a prefix of the new one's: replaying the
                # SUFFIX expresses old row images exactly in the new
                # schema (renames carry values; adds fill their declared
                # default) — a rename-only interval then nets to zero
                from .evolve import apply_schema_ops

                df = apply_schema_ops(df, ops_new[len(ops_old):])
            # else (rollback rewrote history): fall through to the
            # name-based align below — dropped/unmatched columns vanish,
            # new columns surface as NULL in pre-evolution row images
        return df.select(
            *[
                F.col(c) if c in df.columns
                else F.lit(None).cast(new_types[c]).alias(c)
                for c in new_cols
            ]
        )

    old_df = read_side(old_side_paths, old_snap)
    new_df = read_side(new_side_paths, new_snap)

    if old_df is None and new_df is None:
        return new_schema_df.withColumn(CHANGE_TYPE_COL, F.lit("insert")).limit(0)
    if old_df is None:  # append-only interval: no anti-join needed
        return new_df.withColumn(CHANGE_TYPE_COL, F.lit("insert"))
    if new_df is None:  # pure-removal interval
        return old_df.withColumn(CHANGE_TYPE_COL, F.lit("delete"))

    deletes = old_df.exceptAll(new_df).withColumn(
        CHANGE_TYPE_COL, F.lit("delete")
    )
    inserts = new_df.exceptAll(old_df).withColumn(
        CHANGE_TYPE_COL, F.lit("insert")
    )
    return deletes.unionByName(inserts)

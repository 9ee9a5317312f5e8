"""Payload-transforming full-table rewrite — the maintenance class
that MUTATES row payloads instead of moving them: codec migration,
loudness normalization, silence trimming, PII scrubbing.

compact() moves bytes, cluster() reorders rows, MERGE/DELETE change
membership; none of them can change the bytes INSIDE surviving rows.
``transform_payloads`` closes that gap with the same engine contract
as the other rewrites: read every visible row through the delete-aware
scan, apply an Arrow-batched transformation, rewrite the data files,
and commit one replacing snapshot with per-partition lineage,
idempotent job ids, and the delete-set rebase guard (outputs carry a
fresh sequence, so outstanding MOR deletes are applied and retired —
exactly cluster()'s semantics).

Scale shape: one linear pass — scan → mapInPandas transform →
write — with parallelism equal to the output partition count; no
shuffle unless the caller's transform itself needs one. CRCs are
recomputed inline by write_datafiles (the transform changed the
payload, so the old checksums are void by definition).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from .lineage import Rewrite
from .meta import Snapshot, Table


def transform_payloads(
    table: Table,
    transform: Callable[[DataFrame], DataFrame],
    job_id: str | None = None,
    operation: str = "transform",
    parts: int | None = None,
    summary: dict | None = None,
) -> Snapshot:
    """Rewrite every visible row through ``transform`` (a DataFrame →
    DataFrame function that must preserve the table's user-facing
    schema) and commit the result as a replacing snapshot."""
    rw = Rewrite(table, job_id, operation)
    if rw.committed is not None:
        return rw.committed
    entries = table.data_entries(rw.base)
    src = Table._drop_internal(rw.read([e["file_path"] for e in entries]))
    out = transform(src)
    # the docstring contract ("must preserve the table's user-facing
    # schema") was unenforced: a callback that drops, adds, or retypes
    # a column would commit a replacing snapshot with a silently
    # divergent schema (advice r6). Enforce it before any write, and
    # before the lineage marker: a rejected job must leave no in-flight
    # entry for orphan GC to honour. transform() is lazy, so the schema
    # is known without running it.
    got = [(f.name, f.dataType.simpleString()) for f in out.schema.fields]
    want = [(f.name, f.dataType.simpleString()) for f in src.schema.fields]
    if got != want:
        raise ValueError(
            f"transform changed the user-facing schema: expected {want}, got {got}"
        )
    n_parts = parts or max(1, len(entries))
    added = table.write_datafiles(out.repartition(n_parts), rw.job_id)
    # every data file and every applied delete file is replaced
    removed = {e["file_path"] for e in entries} | rw.applied_deletes
    rw.log.record_outputs(added, sorted(removed), sum(e["byte_size"] for e in entries))
    return rw.commit(
        operation,
        added,
        {"input_files": len(entries), "output_files": added.num_rows, **(summary or {})},
    )

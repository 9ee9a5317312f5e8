"""Checkpointed per-partition lineage — every maintenance job records,
per work unit (bin / partition / file-group), the files it consumed and
produced plus bytes/rows metrics, *before* the snapshot commit. A
re-run of the same job_id skips completed units (resume = anti-join of
planned vs completed units), and the final commit removes exactly the
files its units consumed (BASELINE.json north_star: "resumable from a
checkpointed per-partition lineage manifest carrying
files-in/files-out/bytes/rows metrics").

Unit records are single JSON objects written through the storage
interface's atomic whole-object PUT (readers see a full record or
nothing — no torn checkpoints on POSIX or object stores). The data
files a completed unit produced live in ``data/`` but stay invisible
until the job's final snapshot commit (manifest-driven visibility) —
so resume is idempotent and an abandoned job's output is reclaimed by
orphan GC. Promotion registers the job as in-flight before any of its
files lands (``Table.mark_job_active``), which shields them from
concurrent GC.

``Rewrite`` is the one skeleton every data-writing op runs on (Iceberg's
``SnapshotUpdate``/``RewriteFiles`` shape): it owns the job-id guard,
the pinned base, the delete-aware read, the log and the validated
commit; each op only selects its files and builds its DataFrame.
"""

from __future__ import annotations

import json
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame

from .meta import Snapshot, Table


class LineageLog:
    def __init__(self, table: Table, job_id: str):
        self.table = table
        self.job_id = job_id
        self.prefix = f"_lineage/{job_id}"
        #: inputs of every unit this log recorded or resumed — the files
        #: the job's commit replaces
        self.files_in: set[str] = set()
        #: running totals over the units recorded or resumed (metrics)
        self.totals = {"units": 0, "bytes_in": 0, "bytes_out": 0, "rows": 0}
        self._next_unit = 0

    def _count(self, rec: dict) -> None:
        self.files_in.update(rec["files_in"])
        self.totals["units"] += 1
        for k in ("bytes_in", "bytes_out", "rows"):
            self.totals[k] += rec[k]

    def _unit_rel(self, unit_id: int) -> str:
        return f"{self.prefix}/unit-{unit_id:06d}.json"

    def complete_unit(
        self,
        unit_id: int,
        files_in: list[str],
        files_out: list[str],
        bytes_in: int,
        bytes_out: int,
        rows: int,
        extra: dict | None = None,
    ) -> None:
        rec = {
            "job_id": self.job_id,
            "unit_id": unit_id,
            "files_in": files_in,
            "files_out": files_out,
            "bytes_in": bytes_in,
            "bytes_out": bytes_out,
            "rows": rows,
            "committed": True,
            **(extra or {}),
        }
        self.table.storage.put(self._unit_rel(unit_id), json.dumps(rec).encode())
        self._count(rec)

    def record_outputs(self, added: pa.Table, files_in: list[str], bytes_in: int) -> None:
        """Unit records of a one-shot rewrite that wrote the manifest
        entries ``added`` (Arrow): one unit per output file, numbered on
        from this log's earlier units, with the consumed ``files_in``
        (consumed even if no file was written) and ``bytes_in`` on the
        first."""
        self.files_in.update(files_in)
        outs = added.select(["file_path", "byte_size", "row_count"]).to_pylist()
        for i, e in enumerate(outs):
            self.complete_unit(
                self._next_unit,
                files_in=files_in if i == 0 else [],
                files_out=[e["file_path"]],
                bytes_in=bytes_in if i == 0 else 0,
                bytes_out=e["byte_size"],
                rows=e["row_count"],
            )
            self._next_unit += 1

    def resume(self, keep) -> dict[int, dict]:
        """Completed units of an earlier attempt of this job that
        ``keep(unit_id, record)`` accepts; their inputs count as
        consumed by this attempt (compaction's per-bin resume)."""
        done = {u: r for u, r in self.completed_units().items() if keep(u, r)}
        for r in done.values():
            self._count(r)
        return done

    def completed_units(self) -> dict[int, dict]:
        out = {}
        for rel in self.table.storage.list(self.prefix):
            name = rel.rsplit("/", 1)[-1]
            if name.startswith("unit-") and name.endswith(".json"):
                rec = json.loads(self.table.storage.read(rel))
                if rec.get("committed"):
                    out[rec["unit_id"]] = rec
        return out

    def metrics(self) -> dict:
        """Units, bytes in/out and rows of every unit this log recorded
        or resumed, kept in memory: no listing, no record read back."""
        return dict(self.totals)

    def records(self) -> list[dict]:
        return sorted(self.completed_units().values(), key=lambda r: r["unit_id"])


class Rewrite:
    """One committing job on ``table``. ``committed`` is the snapshot a
    caller-named ``job_id`` already committed (the idempotent
    re-submission guard: a retry gets it back instead of a second
    rewrite; an unnamed job reads no snapshot for it), else None.
    ``base`` is the snapshot every read and the commit are pinned to."""

    def __init__(self, table: Table, job_id: str | None, prefix: str):
        self.table = table
        self.committed = table.committed_snapshot_for_job(job_id) if job_id else None
        self.job_id = job_id or f"{prefix}-{uuid.uuid4().hex[:8]}"
        self.base = None if self.committed else table.current_snapshot()
        #: the MOR delete files ``read`` applied: a delete committed
        #: meanwhile makes the commit conflict instead of being
        #: resurrected by fresh-sequence outputs
        self.applied_deletes: set[str] | None = None
        self.log = LineageLog(table, self.job_id)

    def read(self, rels: list[str]) -> DataFrame:
        """Manifest paths ``rels`` read at base with base's schema ops
        replayed and its outstanding MOR deletes applied (internal
        columns kept, so a rewrite carries ``_crc``)."""
        t = self.table
        self.applied_deletes = {e["file_path"] for e in t.delete_entries(self.base)}
        return t._read_files([f"{t.root}/{p}" for p in rels], self.base)

    def commit(self, operation: str, added: pa.Table, summary: dict | None = None) -> Snapshot:
        """Commit ``added`` against base, replacing the files the log's
        units consumed."""
        return self.table.commit(
            operation,
            added,
            removed_paths=set(self.log.files_in),
            base=self.base,
            summary={"job_id": self.job_id, **(summary or {})},
            expected_delete_paths=self.applied_deletes,
        )

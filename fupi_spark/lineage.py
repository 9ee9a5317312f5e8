"""Checkpointed per-partition lineage — every maintenance job records,
per work unit (bin / partition / file-group), the files it consumed and
produced plus bytes/rows metrics, *before* the snapshot commit. A
re-run of the same job_id skips completed units (resume = anti-join of
planned vs completed units), and the final commit assembles its
manifest from unit lineage (BASELINE.json north_star: "resumable from a
checkpointed per-partition lineage manifest carrying
files-in/files-out/bytes/rows metrics").

Unit records are single JSON objects written through the storage
interface's atomic whole-object PUT (readers see a full record or
nothing — no torn checkpoints on POSIX or object stores). The data
files a completed unit produced live in ``data/`` but stay invisible
until the job's final snapshot commit (manifest-driven visibility) —
so resume is idempotent and an abandoned job's output is reclaimed by
orphan GC. Constructing the log also registers the job as in-flight
(``Table.mark_job_active``), which shields its promoted files from
concurrent GC.
"""

from __future__ import annotations

import json

from .meta import Table


class LineageLog:
    def __init__(self, table: Table, job_id: str):
        self.table = table
        self.job_id = job_id
        self.prefix = f"_lineage/{job_id}"
        table.mark_job_active(job_id)

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

    def record_outputs(
        self, added, files_in: list[str], bytes_in: int, unit_id: int = 0
    ) -> int:
        """Unit records of a one-shot rewrite that wrote the manifest
        entries ``added`` (Arrow): one unit per output file, numbered
        from ``unit_id``, with the consumed ``files_in`` and ``bytes_in``
        on the first. Returns the next free unit id (consolidate_deletes
        numbers its key groups in one sequence)."""
        outs = added.select(["file_path", "byte_size", "row_count"]).to_pylist()
        for i, e in enumerate(outs):
            self.complete_unit(
                unit_id + i,
                files_in=files_in if i == 0 else [],
                files_out=[e["file_path"]],
                bytes_in=bytes_in if i == 0 else 0,
                bytes_out=e["byte_size"],
                rows=e["row_count"],
            )
        return unit_id + len(outs)

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
        units = self.completed_units().values()
        return {
            "units": len(list(units)),
            "bytes_in": sum(u["bytes_in"] for u in units),
            "bytes_out": sum(u["bytes_out"] for u in units),
            "rows": sum(u["rows"] for u in units),
        }

    def records(self) -> list[dict]:
        return sorted(self.completed_units().values(), key=lambda r: r["unit_id"])

"""Bin-packing small-file compaction — the north-rule centerpiece.

The reference's one-call ``table.compact_files()``
(/root/reference/fupi/embedders.py:127-128, Lance fragment merge)
becomes an explicit, resumable Spark job:

1. plan   — read per-file stats from the manifest; first-fit-decreasing
            pack undersized files into target-size bins (driver-side:
            the packer sees *files*, not rows — thousands of entries at
            10^12-row scale, safely driver-sized);
2. rewrite— ZERO-shuffle job: compaction is pure concatenation, so no
            row ever needs to change tasks. ONE single-branch scan of
            all candidate files per schema generation; each row's bin
            id attaches via a BroadcastHashJoin on its file name
            (Table.tag_files), and Table.write_datafiles — the one
            writer of table files — writes it with ``_bin`` as its
            file column, so each bin streams into its own file(s). The
            plan is O(1) in bin count — the round-2 union-of-branches
            design paid ~10 s of driver analysis/codegen per 64-bin
            job, a constant that didn't parallelize and capped the
            stage at every core count;
3. record — the writer's entries carry each output file's own stats
            (footer + ``_crc`` column, like every other write) and its
            bin in its name (staged_partition); each bin's footer row
            counts must equal its input rows before its lineage unit
            (files-in/out, bytes, rows) is checkpointed; a resumed job
            re-uses completed bins and reads their entries the same
            way (Table.file_entries);
4. commit — optimistic snapshot commit replacing packed files; outputs
            keep their inputs' schema generation and minimum sequence.

Scale notes: no collect() of row data anywhere and NO shuffle at all —
each task does sequential reads + one sequential write, which is the
I/O floor for compaction; parallelism = scan partitions (small files
packed to maxPartitionBytes), so a 1000-executor cluster saturates
whenever candidate bytes ≫ 1000 × maxPartitionBytes.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame

from .lineage import Rewrite
from .meta import Snapshot, Table, applicable_deletes, staged_partition
from .session import session_conf


@dataclass
class Bin:
    bin_id: int
    files: list[dict]  # manifest entries

    @property
    def byte_size(self) -> int:
        return sum(e["byte_size"] for e in self.files)

    @property
    def row_count(self) -> int:
        return sum(e["row_count"] for e in self.files)


def ffd_pack(entries: list[dict], target_bytes: int, min_file_bytes: int | None = None) -> list[Bin]:
    """First-fit-decreasing: pack files smaller than ``min_file_bytes``
    (default: target) into bins of ≤ ``target_bytes``.

    Invariants (property-tested): every bin ≤ target unless it holds a
    single oversized file; deterministic for a given entry list; every
    candidate appears in exactly one bin.
    """
    min_file_bytes = min_file_bytes if min_file_bytes is not None else target_bytes
    candidates = [e for e in entries if e["byte_size"] < min_file_bytes]
    candidates.sort(key=lambda e: (-e["byte_size"], e["file_path"]))
    bins: list[Bin] = []
    for e in candidates:
        placed = False
        for b in bins:
            if b.byte_size + e["byte_size"] <= target_bytes:
                b.files.append(e)
                placed = True
                break
        if not placed:
            bins.append(Bin(len(bins), [e]))
    return bins


def bins_scan(table, bins: list[Bin]) -> DataFrame:
    """Compaction's rewrite input for one schema generation: ONE scan of
    every bin's files through the engine reader (raw physical read — no
    schema ops, no deletes), each row tagged with its ``_bin`` by
    Table.tag_files (a map-side broadcast join on the file name)."""
    paths = {f"{table.root}/{e['file_path']}": (b.bin_id,) for b in bins for e in b.files}
    return table.tag_files(table.read_parquet(list(paths)), "_bin int", paths)


def compact(
    table: Table,
    target_bytes: int = 128 * 1024 * 1024,
    min_file_bytes: int | None = None,
    job_id: str | None = None,
    sort_within: list[str] | None = None,
    group_fn=None,
) -> Snapshot | None:
    """Run (or resume) a compaction job. Returns the new snapshot, or
    None when nothing needs compacting.

    ``group_fn(entry) -> hashable``: clustering-aware packing — bins
    never mix files from different groups, so a table laid out by a
    clustered column (e.g. the LSH bucket-group index) keeps its
    per-file stat ranges tight through compaction. Size-blind FFD
    would merge arbitrary files and widen every range back out."""
    spark = table.spark
    # idempotent re-submission: a job that already COMMITTED must be a
    # no-op (its own output would otherwise re-qualify as candidates —
    # and a multi-file bin's halves would genuinely re-pack, so the
    # planner cannot distinguish "already done" from "new work" by
    # looking at files alone). Mid-crash resume (no commit yet) still
    # goes through the unit-lineage path below.
    rw = Rewrite(table, job_id, "compact")
    if rw.committed is not None:
        return None
    base = rw.base
    entries = table.data_entries(base)
    dels = table.delete_key_specs(base)
    # bins NEVER mix schema generations (evolve.py): compaction streams
    # files byte-for-byte, so a bin must be physically homogeneous —
    # pre-evolution files (NULL schema_id == gen 0) pack together,
    # post-evolution files pack together. Composes with the caller's
    # clustering-aware group_fn.
    #
    # MOR interplay: compaction applies NO deletes (pure byte
    # concatenation), so an output file must be subject to exactly the
    # deletes its inputs were. An equality delete with sequence s
    # applies to files with sequence <= s, so two inputs with different
    # applicable-delete sets can never share a bin (one merged output
    # sequence cannot represent both); outputs inherit their inputs'
    # (common-applicability) minimum sequence instead of the committing
    # snapshot's.
    # A CONSOLIDATED delete file (per-key _del_seq, consolidate_deletes)
    # straddles data sequences: whether it applies to a given row
    # depends on that key's own sequence, not the file's single manifest
    # sequence. Exact applicability is therefore row-level, so any file
    # a consolidated delete may cover (manifest max-seq >= file seq)
    # only packs with files of the SAME sequence — min-inheritance then
    # changes nothing and per-key semantics survive the byte stream.
    groups: dict = {}
    for e in entries:
        app = applicable_deletes(dels, e.get("sequence"))
        plain = tuple(sorted(d["file_path"] for d in app if not d["keyed_seq"]))
        keyed_covers = any(d["keyed_seq"] for d in app)
        key = (e.get("schema_id") or 0, plain, (e.get("sequence") or 0) if keyed_covers else None)
        if group_fn is not None:
            key = key + (group_fn(e),)
        groups.setdefault(key, []).append(e)
    bins = []
    for g in sorted(groups, key=repr):
        for b in ffd_pack(groups[g], target_bytes, min_file_bytes):
            if len(b.files) > 1:
                bins.append(Bin(len(bins), b.files))
    if not bins:
        return None

    # a unit counts as done only if it covered the same input files —
    # guards against a stale lineage dir from a different table state
    done = rw.log.resume(
        lambda uid, rec: uid < len(bins)
        and sorted(rec["files_in"]) == sorted(e["file_path"] for e in bins[uid].files)
    )
    todo = [b for b in bins if b.bin_id not in done]

    added: list[dict] = []
    if todo:
        # Zero-shuffle rewrite: compaction is pure concatenation, so no
        # data needs to move between tasks. ONE single-branch job per
        # schema generation (bins_scan): scan all candidate files,
        # attach each row's bin id via a BroadcastHashJoin on its file
        # name (map-side, no shuffle), and write it with ``_bin`` as
        # write_datafiles' file column. Round 2 built a union of one
        # branch PER BIN instead — at 64 bins the driver spent ~10 s
        # per compaction analyzing/codegen-ing the 64-branch plan, a
        # constant that didn't parallelize and dominated the stage at
        # every core count (measured: compact ~12 s at local[2] AND
        # local[8] on a 0.35 GB table). The plan here is O(1) in bin
        # count; the file→bin map is a broadcast of O(files) tiny rows,
        # fine at 10^5 bins.
        #
        # Scan partitioning packs small files to maxPartitionBytes, so
        # a bin's rows can span tasks → a bin may emit several files
        # (lineage handles multi-file bins, and each file gets its own
        # exact stats); setting maxPartitionBytes ≈ target keeps it to
        # ~1-2 per bin.
        #
        # one write per schema generation (mixing would pad old files
        # into the new physical schema); bins are generation-pure
        entry_sid = {e["file_path"]: (e.get("schema_id") or 0) for e in entries}
        by_sid: dict = {}
        for b in todo:
            by_sid.setdefault(entry_sid[b.files[0]["file_path"]], []).append(b)
        # bins_scan's file→bin join keys on basenames: unique by
        # construction (data/<job>-<nonce>-... in one namespace);
        # assert it anyway.
        all_names = [e["file_path"].rsplit("/", 1)[-1] for b in todo for e in b.files]
        assert len(set(all_names)) == len(all_names), "duplicate data-file basenames"
        # pack scan partitions to ~the bin target so a bin's rows land
        # in one task → (mostly) one output file per bin. minPartitionNum
        # must drop to 1: its default (defaultParallelism) would split
        # the packed read back into core-count slices regardless of
        # bytes — compaction's parallelism is total bytes / target by
        # design, which exceeds any cluster's core count at real scale.
        #
        # openCost (default 4 MB) padding would force one small file per
        # partition — here packing must be purely byte-bounded. The
        # confs are restored on every path: leaked compaction tuning
        # would skew every later job in the shared session.
        packing = {
            "spark.sql.files.maxPartitionBytes": str(max(target_bytes, 4 << 20)),
            "spark.sql.files.minPartitionNum": "1",
            "spark.sql.files.openCostInBytes": "0",
        }
        with session_conf(spark, packing):
            for sid in sorted(by_sid):
                # bins of no rows write nothing: the writer's empty,
                # schema-carrying file of a rowless write is no bin's
                if any(b.row_count for b in by_sid[sid]):
                    added += table.write_datafiles(
                        bins_scan(table, by_sid[sid]),
                        rw.job_id,
                        sort_within=sort_within,
                        file_col="_bin",
                    ).to_pylist()

        outs: dict[int, list[dict]] = {}
        for e in added:
            outs.setdefault(staged_partition(e["file_path"]), []).append(e)
        # promotion first, THEN per-bin checkpoints — a unit record must
        # never precede its files (crash between them would resume a
        # bin whose output is missing)
        for b in todo:
            got = outs.get(b.bin_id, [])
            # every input row must have reached the staged output — a
            # partially-matched file→bin attach (or any writer fault)
            # must fail HERE, before the bin's unit is checkpointed and
            # before the inputs are removed at commit
            staged_rows = sum(e["row_count"] for e in got)
            assert staged_rows == b.row_count, (
                f"bin {b.bin_id}: staged {staged_rows} rows != "
                f"{b.row_count} input rows — aborting before commit"
            )
            rw.log.complete_unit(
                b.bin_id,
                files_in=[e["file_path"] for e in b.files],
                files_out=[e["file_path"] for e in got],
                bytes_in=b.byte_size,
                bytes_out=sum(e["byte_size"] for e in got),
                rows=b.row_count,
            )

    # every bin is now a fresh or a resumed unit of the log, whose
    # inputs the commit removes; resumed bins' entries come from their
    # files, like fresh ones
    resumed = [p for r in done.values() for p in r["files_out"]]
    if resumed:
        added += table.file_entries(resumed).to_pylist()
    # compaction owns two fields: an output keeps its INPUT generation's
    # physical schema (streamed bytes, never padded — bins are
    # sid-pure) and inherits the (common-applicability) minimum input
    # sequence so outstanding MOR deletes keep applying; its name
    # carries its bin, fresh or resumed
    for e in added:
        ins = bins[staged_partition(e["file_path"])].files
        e["schema_id"] = ins[0].get("schema_id") or 0
        e["sequence"] = min((x.get("sequence") or 0) for x in ins)

    return rw.commit(
        "compact",
        pa.Table.from_pylist(added, schema=table.manifest_schema),
        rw.log.metrics(),
    )

"""Iceberg-style table metadata layer, built from scratch (SURVEY.md §7:
the Iceberg *model* — snapshot → manifest → data files with per-file
column stats — without binding to Iceberg runtime jars; BASELINE.json
"from scratch, NOT a port").

On-disk layout (object-store friendly: immutable objects + one
conditional PUT per commit):

    <root>/
      data/<job>-<nonce>-<k>-<j>.parquet  immutable data files
      metadata/v00001.json ...            snapshot log (conditional-PUT claims)
      metadata/manifests/<id>.parquet     manifest files (file entries + stats)
      _staging/<job>/                     transient local write area
      _lineage/<job>/unit-<k>.json        per-partition lineage checkpoints

Every metadata mutation, promotion, and GC delete goes through the
``storage.py`` interface — primitives every object store offers (the
reference's tables live on S3/MinIO/R2, /root/reference/fupi/utils.py:16,
searcher.py:378-399): atomic whole-object PUT, conditional PUT (the
commit claim; S3 If-None-Match:*), LIST/HEAD/DELETE, and a
copy-or-rename promote. Spark reads/writes data file *content* directly
(on a cluster, via its own s3a layer). The test suite runs the
maintenance ops against both the POSIX fast path and the
no-atomic-rename object-store emulation.

Visibility is manifest-driven: a data file not referenced by the
current snapshot does not exist to readers — which makes failed jobs
harmless: their staging/data output becomes orphan files collected by
expire.gc_orphans once the job ages past ``abandoned_after_s``
(in-flight jobs are protected by their lineage marker; a crashed job's
marker ages out, see expire.py).

Concurrency: optimistic. A committer (lineage.Rewrite, for every op but
the metadata-only ones) computes (removed, added) against its base
snapshot, then claims metadata/v{n+1}.json with a conditional PUT of
the fully-written snapshot (no torn reads, no rename needed). If
another writer won, the committer rebases: reload current live set,
verify none of its input files were removed (no overlap → its rewrite
is still valid), recompute live = current − removed + added, retry.
Overlap → CommitConflict, the job re-runs against the new snapshot.
This serializes concurrent MERGE + compaction exactly like Iceberg's
validation (north rule: "identical snapshot lineage and isolation under
concurrent MERGE + compaction").

The reference's Lance table versioning (every create/add/compact makes
a new version, /root/reference/fupi/utils.py:42,48 +
fupi/embedders.py:124-128) is the seed of this snapshot chain.

Scale notes: manifests are parquet (not driver JSON); file skipping is
one vectorized driver pass over the Arrow manifest (stats_keep_mask —
the same load every commit already makes), not a Spark job; every
write of table files, compaction included, goes through
Table.write_datafiles — one Spark write shape: rows tagged with their
output file, coalesced into write_tasks tasks, sorted by file first,
written with partitionBy and promoted by Table._promote — and becomes
manifest entries through Table.file_entries, whose per-file stats
come from the file as written (Iceberg's data-file metrics): on a
file-local root and up to FOOTER_DRIVER_MAX files, its parquet footer
plus its 8-byte ``_crc`` column, read in a driver loop; otherwise — more files, an object-store
root, or a footer without usable statistics — one distributed
DataFrame aggregation (manifest "rewrite + stats recomputation as
DataFrame aggregations", BASELINE.json north_star); the snapshot JSON itself
holds only manifest *paths* (O(commits), not O(files)). Reads never
list storage and never infer a schema: every read of table files goes
through Table.read_parquet, which takes its paths from the manifest
and hands Spark the physical schema from one cached parquet footer
(one per schema generation on evolved snapshots) — building a scan of
any file count launches no Spark job on a file-local root. Outstanding
MOR equality deletes are planned on the driver the same way (Iceberg's
DeleteFileIndex): up to DELETE_DRIVER_MAX_KEYS keys are read with
pyarrow through ``storage`` and cached per path, the read's files are
split into sequence cohorts, and each cohort gets one pushed-down key
filter — no join and no Spark job; larger delete sets are anti-joined.
A per-file value a read needs on its rows (compaction's bin, the
anti-join's file sequence, a test's file ordinal) is attached by one
broadcast join on ``_metadata.file_name`` (Table.tag_files).
"""

from __future__ import annotations

import json
import operator
import os
import shutil
import time
import uuid
from bisect import bisect_left
from dataclasses import dataclass, field
from functools import reduce
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import session_conf
from .storage import LocalStorage, Storage

#: footer key Spark writes its row schema under — the same key Spark's
#: own parquet schema inference reads before converting the parquet schema
SPARK_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: above this many paths Spark lists files with a Spark job, one task each
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
#: the column Table.write_datafiles tags each row with when the caller
#: names no file column: the row's Spark partition, so each partition
#: becomes one file
FILE_COL = "_file"


def local_path(uri: str) -> str:
    """'file:/p', 'file:///p' or '/p' → '/p'."""
    if uri.startswith("file:"):
        uri = uri[5:]
        while uri.startswith("//"):
            uri = uri[1:]
    return uri


class CommitConflict(Exception):
    """Another writer invalidated this commit's inputs; re-run the job."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    manifests: list[str]
    summary: dict = field(default_factory=dict)

    def to_json(self) -> str:
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "parent_id": self.parent_id,
                "operation": self.operation,
                "manifests": self.manifests,
                "summary": self.summary,
            },
            indent=1,
        )

    @staticmethod
    def from_bytes(data: bytes) -> "Snapshot":
        d = json.loads(data)
        return Snapshot(
            d["snapshot_id"], d["parent_id"], d["operation"], d["manifests"], d["summary"]
        )


# stats tracked per data file: (column, arrow type of its min/max).
# min/max pruning works for strings and ints alike.
CLIPS_STATS: list[tuple[str, pa.DataType]] = [
    ("clip_id", pa.string()),
    ("sr_hz", pa.int64()),
    ("dur_ms", pa.int64()),
    ("codec", pa.string()),
]


class Table:
    """Handle to one lakehouse table rooted at a directory."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        stats_spec: list[tuple[str, pa.DataType]],
        storage: Storage | None = None,
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        # every metadata/promotion/GC mutation goes through the storage
        # interface (object-store compatible primitives, storage.py);
        # Spark itself reads/writes data file CONTENT directly
        self.storage = storage or LocalStorage(self.root)
        self.stats_spec = stats_spec
        self.stats_cols = [c for c, _ in stats_spec]
        self.manifest_schema = pa.schema(_manifest_arrow_fields(stats_spec))
        # only a file-local root opens parquet footers on the driver
        self._local = urlparse(self.root).scheme in ("", "file")
        # physical schema per data/delete file path (files are immutable)
        self._schema_cache: dict[str, T.StructType] = {}
        # Arrow manifest per manifest path (immutable too), newest last
        self._manifest_cache: dict[str, pa.Table] = {}
        # MOR delete files as Arrow per path (immutable too)
        self._delete_key_cache: dict[str, pa.Table] = {}

    # -- paths ------------------------------------------------------------
    @property
    def data_dir(self) -> str:
        return f"{self.root}/data"

    @property
    def meta_dir(self) -> str:
        return f"{self.root}/metadata"

    # -- snapshot log ------------------------------------------------------
    def snapshot_ids(self) -> list[int]:
        out = []
        for p in self.storage.list("metadata"):
            name = p[len("metadata/"):]
            if "/" not in name and name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def current_snapshot(self) -> Snapshot | None:
        ids = self.snapshot_ids()
        if not ids:
            return None
        return self.snapshot(ids[-1])

    def snapshot(self, snapshot_id: int) -> Snapshot:
        return Snapshot.from_bytes(
            self.storage.read(f"metadata/v{snapshot_id:05d}.json")
        )

    def schema_ops(self, snapshot: Snapshot | None = None) -> list[dict]:
        """Ordered schema-evolution ops in force at a snapshot
        (evolve.py); inherited commit-to-commit, so time travel replays
        exactly the ops that snapshot knew."""
        snap = snapshot or self.current_snapshot()
        if snap is None:
            return []
        return snap.summary.get("schema_ops") or []

    def current_schema_id(self) -> int:
        """Monotone schema generation: number of evolution ops applied.
        Stamped per file into the manifest so compaction never packs
        files of different physical schemas into one bin."""
        return len(self.schema_ops())

    def scan_schema_names(self) -> list[str]:
        return self.empty_scan().columns

    def scan_schema_types(self) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in self.empty_scan().schema.fields}

    def committed_snapshot_for_job(self, job_id: str) -> Snapshot | None:
        """The snapshot a job id already committed, if any — the
        idempotent re-submission guard every op shares (lineage.Rewrite):
        an orchestrator retrying a job whose commit actually landed (e.g.
        after a timeout) must be a no-op, not a second full rewrite."""
        for sid in self.snapshot_ids():
            s = self.snapshot(sid)
            if s.summary.get("job_id") == job_id:
                return s
        return None

    # -- tags (Iceberg refs parity) ---------------------------------------
    def set_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Name a snapshot (Iceberg tag): expire_snapshots retains every
        tagged snapshot (and so its files), giving durable named
        baselines — audit points, WAP audit states, model-training
        dataset pins — independent of retain_last. Overwrites an
        existing tag of the same name (atomic whole-object PUT)."""
        if "/" in name or name.startswith("."):
            raise ValueError(f"bad tag name {name!r}")
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot().snapshot_id
        if sid not in self.snapshot_ids():
            raise ValueError(f"no snapshot v{sid}")
        self.storage.put(
            f"metadata/refs/{name}.json", json.dumps({"snapshot_id": sid}).encode()
        )

    def tags(self) -> dict[str, int]:
        out = {}
        for p in self.storage.list("metadata/refs"):
            n = p.rsplit("/", 1)[-1]
            if n.endswith(".json") and not n.startswith("."):
                out[n[:-5]] = json.loads(self.storage.read(p))["snapshot_id"]
        return out

    def delete_tag(self, name: str) -> None:
        self.storage.delete(f"metadata/refs/{name}.json")

    def resolve_tag(self, name: str) -> int:
        t = self.tags()
        if name not in t:
            raise KeyError(f"no tag {name!r}")
        return t[name]

    def snapshot_as_of(self, ts_ms: int) -> int:
        """AS-OF-timestamp time travel (Iceberg ``FOR TIMESTAMP AS OF``):
        the LATEST snapshot whose commit stamp is <= ts_ms. Pre-stamp
        snapshots (written before committed_at_ms existed) are treated
        as infinitely old, so they resolve for any ts."""
        best = None
        for sid in self.snapshot_ids():
            at = self.snapshot(sid).summary.get("committed_at_ms", 0)
            if at <= ts_ms:
                best = sid
        if best is None:
            raise ValueError(f"no snapshot committed at or before {ts_ms}")
        return best

    def lineage_chain(self) -> list[dict]:
        """Snapshot lineage: (id, parent, operation, summary) per commit."""
        return [
            {
                "snapshot_id": s.snapshot_id,
                "parent_id": s.parent_id,
                "operation": s.operation,
                "summary": s.summary,
            }
            for s in (self.snapshot(i) for i in self.snapshot_ids())
        ]

    # -- manifests ---------------------------------------------------------
    def manifest_entries(self, snapshot: Snapshot | None = None) -> pa.Table:
        """All live file entries of a snapshot as one Arrow table."""
        snap = snapshot or self.current_snapshot()
        if snap is None or not snap.manifests:
            return _empty_manifest(self.stats_spec)
        return pa.concat_tables([self._manifest(m) for m in snap.manifests])

    def _manifest(self, rel: str) -> pa.Table:
        """One manifest file as Arrow, cached (the newest four) by its
        never-reused path: an op and its commit load their base
        manifest once."""
        m = self._manifest_cache.pop(rel, None)
        if m is None:
            m = pad_cast_manifest(pq.read_table(f"{self.root}/{rel}"), self.manifest_schema)
        self._manifest_cache[rel] = m
        if len(self._manifest_cache) > 4:
            self._manifest_cache.pop(next(iter(self._manifest_cache)))
        return m

    def manifest_df(self, snapshot: Snapshot | None = None) -> DataFrame:
        """Manifest entries as a Spark DataFrame (scale path: planning
        joins/aggregations over file metadata run distributed)."""
        snap = snapshot or self.current_snapshot()
        schema = _manifest_spark_schema(self.stats_spec)
        if snap is None or not snap.manifests:
            return self.spark.createDataFrame([], schema=schema)
        return self.read_with_schema([f"{self.root}/{m}" for m in snap.manifests], schema)

    def live_files(self, snapshot: Snapshot | None = None) -> list[str]:
        return self.manifest_entries(snapshot).column("file_path").to_pylist()

    def data_manifest(self, snapshot: Snapshot | None = None) -> pa.Table:
        """Row-data file entries as Arrow (excludes MOR equality-delete
        files; NULL content == 'data' for pre-MOR manifests)."""
        m = self.manifest_entries(snapshot)
        return m.filter(pc.fill_null(pc.equal(m["content"], "data"), True))

    def data_entries(self, snapshot: Snapshot | None = None) -> list[dict]:
        return self.data_manifest(snapshot).to_pylist()

    def delete_entries(self, snapshot: Snapshot | None = None) -> list[dict]:
        """Outstanding MOR equality-delete file entries."""
        m = self.manifest_entries(snapshot)
        return m.filter(pc.equal(m["content"], "deletes")).to_pylist()

    def delete_key_specs(self, snapshot: Snapshot | None = None) -> list[dict]:
        """Outstanding delete entries annotated with their key-column
        set and whether they carry PER-KEY sequences (``_del_seq``
        column — written by consolidate_deletes; plain delete files
        apply at their single manifest sequence). A delete file of at
        most DELETE_DRIVER_MAX_KEYS keys takes its column names from the
        pyarrow read of its keys (_delete_file: through ``storage``,
        cached per path — delete files are immutable), so no root runs
        a Spark job for them; a larger one, only ever anti-joined, from
        the reader's per-file schema. Consolidation keeps the
        outstanding count at ~1 per key set."""
        out = []
        for e in self.delete_entries(snapshot):
            if (e["row_count"] or 0) <= self.DELETE_DRIVER_MAX_KEYS:
                names = self._delete_file(e["file_path"]).column_names
            else:
                names = self.file_schema(f"{self.root}/{e['file_path']}").names
            out.append(
                {
                    **e,
                    "key_cols": tuple(c for c in names if not c.startswith("_")),
                    "keyed_seq": "_del_seq" in names,
                }
            )
        return out

    def write_manifest(self, entries: pa.Table) -> str:
        # staged under _staging/ so a crash between write and promote
        # leaves the temp where expire's committed-job sweep and the
        # age-gated '.tmp-*' sweep can reclaim it (a root-level temp
        # would leak forever — no GC path lists the table root)
        rel = f"metadata/manifests/{uuid.uuid4().hex}.parquet"
        tmp_dir = f"{self.root}/_staging/.manifest-tmp"
        os.makedirs(tmp_dir, exist_ok=True)
        tmp = f"{tmp_dir}/.tmp-{uuid.uuid4().hex}.parquet"
        pq.write_table(entries, tmp)
        self.storage.promote(tmp, rel)
        return rel

    # -- reads --------------------------------------------------------------
    @staticmethod
    def _drop_internal(df: DataFrame) -> DataFrame:
        """Strip engine-internal physical columns (today: the per-row
        payload checksum ``_crc``) from user-facing reads."""
        from .integrity import CRC_COL

        return df.drop(CRC_COL) if CRC_COL in df.columns else df

    def scan(
        self,
        snapshot_id: int | None = None,
        include_internal: bool = False,
        tag: str | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot (time travel when id given, or
        by name via ``tag``). ``include_internal`` keeps physical
        columns like ``_crc`` — engine rewrites must carry them;
        queries should not see them.

        Schema evolution (evolve.py): when the snapshot carries
        schema_ops, the read merges parquet footers and replays the
        ops, so the result always has the snapshot's declared schema
        regardless of each file's physical one."""
        if tag is not None:
            snapshot_id = self.resolve_tag(tag)
        if as_of_ms is not None:
            snapshot_id = self.snapshot_as_of(as_of_ms)
        snap = self.snapshot(snapshot_id) if snapshot_id else self.current_snapshot()
        files = [e["file_path"] for e in self.data_entries(snap)]
        if not files:
            raise ValueError("empty table: no committed snapshot with files")
        df = self._read_files([f"{self.root}/{p}" for p in files], snap)
        return df if include_internal else self._drop_internal(df)

    def _read_files(self, paths: list[str], snap: Snapshot | None) -> DataFrame:
        """Evolution-aware, delete-aware file read: read_parquet with
        the snapshot's schema ops replayed, then the snapshot's
        outstanding MOR equality deletes applied (no-op for tables
        without either). Paths come from the manifest and the schema
        from footers, so building the read lists nothing and infers
        nothing. Every consumer — scan, pruned scans, MERGE's
        touched-file read, cluster rewrites, CDC, point lookups — reads
        through here, so merge-on-read semantics hold engine-wide;
        compaction reads read_parquet without a snapshot instead (it
        streams bytes and partitions bins by delete applicability).

        Deletes of at most DELETE_DRIVER_MAX_KEYS keys in all are
        planned on the driver (_read_cohorts: a key filter per sequence
        cohort, no join, no Spark job); larger sets are anti-joined
        (_apply_deletes)."""
        return reduce(DataFrame.union, self._read_parts(paths, snap))

    def _read_parts(
        self, paths: list[str], snap: Snapshot | None, tag: tuple[str, dict] | None = None
    ) -> list[DataFrame]:
        """_read_files as the frames its read is the union of: one per
        sequence cohort, or the one anti-joined read. ``tag`` —
        (schema, {path: values}) as tag_files takes them — is attached
        to each file scan before any delete applies, while
        ``_metadata`` still resolves (a join or a ``Union`` hides it)."""
        from .evolve import apply_schema_ops

        snap = snap or self.current_snapshot()
        dels = self.delete_key_specs(snap)
        schema = self.physical_schema(paths, snap)

        def read(ps: list[str], tags: tuple[str, dict] | None = tag) -> DataFrame:
            df = self.read_with_schema(ps, schema)
            return apply_schema_ops(self.tag_files(df, *tags) if tags else df, self.schema_ops(snap))

        if not dels:
            return [read(paths)]
        m = self.data_manifest(snap)
        seq = dict(zip(m["file_path"].to_pylist(), m["sequence"].to_pylist()))
        seqs = {p: seq.get(p[len(self.root) + 1:]) or 0 for p in paths}
        if sum(e["row_count"] or 0 for e in dels) <= self.DELETE_DRIVER_MAX_KEYS:
            return self._read_cohorts(seqs, dels, read)
        # the anti-join compares each row's file sequence, attached in
        # the same join as the caller's tag
        tag_schema, values = tag or ("", {})
        with_seq = (
            ", ".join(filter(None, ["_fseq long", tag_schema])),
            {p: (s, *values.get(p, ())) for p, s in seqs.items()},
        )
        return [self._apply_deletes(read(paths, with_seq), dels)]

    def read_parquet(self, paths: list[str], snap: Snapshot | None = None) -> DataFrame:
        """The engine's one reader of table files: ``paths`` (taken from
        the manifest) read with physical_schema's known schema, so
        Spark launches no listing job and no inference job. With a
        snapshot, its schema ops are replayed (evolve.py); without one
        the read is the raw physical one (compaction, delete keys, the
        stats aggregation fallback)."""
        from .evolve import apply_schema_ops

        df = self.read_with_schema(paths, self.physical_schema(paths, snap))
        return apply_schema_ops(df, self.schema_ops(snap) if snap is not None else [])

    def read_with_schema(self, paths: list[str], schema: T.StructType) -> DataFrame:
        """``spark.read.schema(schema).parquet(*paths)`` — the one place
        the listing threshold is set. On a file-local root it is raised
        to ``len(paths)`` for this read alone, so Spark stats the
        manifest's files on the driver instead of running a listing job
        with one task per path; the session's own value is restored
        after, whoever built the session. An object-store root keeps
        Spark's parallel listing: there a serial driver listing would be
        one round trip per file."""
        reader = self.spark.read.schema(schema)
        if not self._local:
            return reader.parquet(*paths)
        with session_conf(self.spark, {_LISTING_THRESHOLD: str(len(paths))}):
            return reader.parquet(*paths)

    def physical_schema(self, paths: list[str], snap: Snapshot | None = None) -> T.StructType:
        """The schema Spark's own inference would give ``paths``, from
        footers instead of an inference job. Spark sorts the files by
        path and, without mergeSchema, infers from the first; so without
        schema ops this is the schema of the smallest path. When
        ``snap`` carries schema ops it is the mergeSchema fold, in that
        same path order, over one representative file per
        ``schema_id`` — files of one generation share a physical
        schema, so folding every file would add nothing."""
        ops = self.schema_ops(snap) if snap is not None else []
        if not ops:
            return self.file_schema(min(paths))
        m = self.manifest_entries(snap)
        sid = dict(zip(m["file_path"].to_pylist(), m["schema_id"].to_pylist()))
        reps: dict = {}
        for p in sorted(paths):
            reps.setdefault(sid.get(p[len(self.root) + 1:], p) or 0, p)
        return reduce(_merge_schemas, (self.file_schema(p) for p in reps.values()))

    def file_schema(self, path: str) -> T.StructType:
        """Physical (all-nullable, as Spark reads it) schema of one
        immutable file, cached by path. On a file-local root it is the
        row schema Spark wrote into the footer; a file without that key
        (written by another writer) and every file under an object-store
        root take Spark's inference over that one file instead."""
        s = self._schema_cache.get(path)
        if s is None:
            kv = pq.read_metadata(local_path(path)).metadata if self._local else None
            raw = (kv or {}).get(SPARK_ROW_SCHEMA_KEY)
            s = _as_nullable(
                T.StructType.fromJson(json.loads(raw)) if raw else self._infer_schema(path)
            )
            self._schema_cache[path] = s
        return s

    def _infer_schema(self, path: str) -> T.StructType:
        """Spark's parquet schema inference over one file (one job)."""
        return self.spark.read.parquet(path).schema

    def empty_scan(self, snapshot: Snapshot | None = None) -> DataFrame:
        """Zero-row frame with ``scan(snapshot)``'s columns and types,
        built from the reader's schema with no file scan and no Spark
        job — for callers that need only the schema."""
        snap = snapshot or self.current_snapshot()
        files = [f"{self.root}/{e['file_path']}" for e in self.data_entries(snap)]
        if not files:
            raise ValueError("empty table: no committed snapshot with files")
        from .evolve import apply_schema_ops

        df = self.spark.createDataFrame([], self.physical_schema(files, snap))
        return self._drop_internal(apply_schema_ops(df, self.schema_ops(snap)))

    #: outstanding delete files holding at most this many keys in all
    #: (the sum of their manifest row counts) are read on the driver and
    #: applied as key filters (_read_cohorts); above it the keys are
    #: anti-joined (_apply_deletes), so a 10^8-key GDPR sweep never lands
    #: on the driver. Set at the measured crossover: ``scan().count()``
    #: of a 2,000-clip, 12-file table with one delete file outstanding,
    #: warm median of 5 on a 4-core host, driver path vs anti-join: 10^3
    #: keys 0.63-0.73 vs 0.63-0.88 s; 2x10^3 1.02 vs 0.64 s; 10^4 4.9 vs
    #: 0.71 s; 10^5 57 vs 1.2 s. The driver path pays about 0.5 ms per
    #: key to build its IN list over py4j; the anti-join pays 3 extra
    #: Spark jobs whatever the key count. Counted in keys, not bytes: a
    #: 3-key delete file is ~570 bytes of parquet overhead.
    DELETE_DRIVER_MAX_KEYS = 1000

    def _read_cohorts(self, seqs: dict[str, int], dels: list[dict], read) -> list[DataFrame]:
        """The files of ``seqs`` (path → data sequence) read per cohort
        with the outstanding deletes ``dels`` (delete_key_specs rows)
        planned on the driver, Iceberg DeleteFileIndex-style: a delete
        with sequence d applies to a data file of sequence s iff s <= d,
        so files are split into cohorts by ``bisect_left(sorted delete
        sequences, s)`` — every file of a cohort is subject to the same
        keys. ``read`` scans one cohort with the schema of the whole
        path set (a split never changes a column's type); each cohort is
        filtered by its keys per key-column set (_key_filter), and a
        cohort no delete applies to is read unfiltered. Their union has
        no join and no exchange, and the key read launches no Spark
        job."""
        key_sets = self._delete_key_sets(dels)
        bounds = sorted(
            set().union(*(k["_del_seq_max"].to_pylist() for k in key_sets.values()))
        )
        cohorts: dict[int, list[str]] = {}
        for p, s in seqs.items():
            cohorts.setdefault(bisect_left(bounds, s), []).append(p)
        parts = []
        for i, cohort in sorted(cohorts.items()):
            df = read(cohort)
            if i < len(bounds):
                for key_cols, keys in key_sets.items():
                    live = keys.filter(pc.greater_equal(keys["_del_seq_max"], bounds[i]))
                    if live.num_rows:
                        df = df.filter(_key_filter(df, key_cols, live))
            parts.append(df)
        return parts

    def _delete_key_sets(self, dels: list[dict]) -> dict[tuple, pa.Table]:
        """Per key-column set, its outstanding delete keys folded to
        (key columns…, ``_del_seq_max``): each key's max applicable
        sequence. A key with a NULL field is dropped — a join never
        matches NULL, and a NULL in an ``isin`` list would turn
        ``~isin`` into NULL and drop rows."""
        groups: dict[tuple, list[pa.Table]] = {}
        for e in dels:
            groups.setdefault(e["key_cols"], []).append(self._delete_keys(e))
        return {
            key_cols: pa.concat_tables(tables)
            .drop_null()
            .group_by(list(key_cols))
            .aggregate([("_del_seq", "max")])
            for key_cols, tables in sorted(groups.items())
        }

    def _delete_file(self, rel: str) -> pa.Table:
        """One delete file as Arrow, read on the driver through
        ``storage`` (so on every root, object stores included) and
        cached by path: delete files are immutable."""
        t = self._delete_key_cache.get(rel)
        if t is None:
            t = pq.read_table(pa.BufferReader(self.storage.read(rel)))
            self._delete_key_cache[rel] = t
        return t

    def _delete_keys(self, e: dict) -> pa.Table:
        """One delete file's keys and their ``_del_seq``: a consolidated
        file carries per-key ``_del_seq``; a plain one applies at its
        manifest sequence (which never changes)."""
        t = self._delete_file(e["file_path"])
        if e["keyed_seq"]:
            return t.select([*e["key_cols"], "_del_seq"])
        seq = pa.array([e["sequence"] or 0] * t.num_rows, pa.int64())
        return t.select(list(e["key_cols"])).append_column("_del_seq", seq)

    def _apply_deletes(self, df: DataFrame, dels: list[dict]) -> DataFrame:
        """The anti-join for delete sets above DELETE_DRIVER_MAX_KEYS,
        sequence-aware: a row of ``df`` — tagged with its data file's
        sequence ``_fseq`` (_read_parts) — is removed iff its key
        appears in a delete file d with ``_fseq`` <= sequence(d).
        Re-inserted keys (newer data sequence) survive — Iceberg v2
        equality-delete semantics.

        Plan shape: ONE parquet read per (key-column set × plain/keyed)
        group — never a per-file driver loop — then a union+agg to
        (key, max_sequence); delete files on DIFFERENT key columns get
        one anti-join each. The key set, too large for the driver by
        construction, shuffle-joins. Consolidated delete files carry
        per-key ``_del_seq`` in the file itself; plain files apply at
        their manifest sequence."""
        out = df
        groups: dict[tuple, list[dict]] = {}
        for e in dels:
            groups.setdefault(e["key_cols"], []).append(e)
        for key_cols, entries in sorted(groups.items()):
            del_df = self._delete_keys_df(list(key_cols), entries)
            out = (
                out.join(del_df, list(key_cols), "left")
                .filter(F.col("_del_seq").isNull() | (F.col("_fseq") > F.col("_del_seq")))
                .drop("_del_seq")
            )
        # the key joins lead with their USING columns: restore the
        # read's column order, which then never depends on delete state
        return out.select(*(c for c in df.columns if c != "_fseq"))

    def _delete_keys_df(self, key_cols: list[str], entries: list[dict]) -> DataFrame:
        """(key → max applicable sequence) frame for one key-column
        group of delete entries (delete_key_specs rows). Plain files
        read in one batch with their manifest sequence attached
        (tag_files); keyed (consolidated) files read their in-file
        per-key ``_del_seq``."""
        parts = []
        for keyed in (False, True):
            sub = [e for e in entries if e["keyed_seq"] == keyed]
            if not sub:
                continue
            d = self.read_parquet([f"{self.root}/{e['file_path']}" for e in sub])
            seqs = {e["file_path"]: int(e.get("sequence") or 0) for e in sub}
            if keyed:
                parts.append(d.select(*key_cols, "_del_seq"))
            elif len(set(seqs.values())) == 1:
                # uniform sequence (single file, or one consolidation
                # cohort): a literal needs no join
                seq = F.lit(next(iter(seqs.values()))).cast("long")
                parts.append(d.select(*key_cols, seq.alias("_del_seq")))
            else:
                tagged = self.tag_files(d, "_del_seq long", {p: (s,) for p, s in seqs.items()})
                parts.append(tagged.select(*key_cols, "_del_seq"))
        return (
            reduce(lambda a, b: a.unionByName(b), parts)
            .groupBy(*key_cols)
            .agg(F.max("_del_seq").alias("_del_seq"))
        )

    def scan_pruned(
        self, col: str, lo, hi, snapshot_id: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Range scan with manifest-stats file skipping — the query-side
        payoff of clustering: a file is read only if its [min, max]
        range for ``col`` intersects [lo, hi]. Returns (df, files_read,
        files_total). The residual row filter still reaches the parquet
        reader (row-group pruning), so skipping composes with pushdown."""
        return self._scan_skipping(
            col, [lo], [hi], (F.col(col) >= lo) & (F.col(col) <= hi), snapshot_id
        )

    def _scan_skipping(
        self, col: str, starts, ends, residual, snapshot_id: int | None
    ) -> tuple[DataFrame, int, int]:
        """Read the data files prune_manifest keeps for the probe
        intervals, filtered by ``residual``; files_total counts data
        files only (never MOR delete files)."""
        snap = self.snapshot(snapshot_id) if snapshot_id else self.current_snapshot()
        m = self.data_manifest(snap)
        keep_paths = prune_manifest(m, col, starts, ends)["file_path"].to_pylist()
        if not keep_paths:
            return self.empty_scan(snap), 0, m.num_rows
        df = self._read_files([f"{self.root}/{p}" for p in keep_paths], snap)
        return self._drop_internal(df).filter(residual), len(keep_paths), m.num_rows

    def incremental_scan(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Rows appended between two snapshots (Iceberg-style
        incremental APPEND scan — the changelog-consumption primitive
        for downstream pipelines): the scan covers exactly the data
        files added in (from, to]. Valid across append snapshots and
        metadata-only delete ops (delete-mor / consolidate-deletes
        never move a row between data files): the changelog emits the
        appended rows as visible at ``to`` — the read goes through the
        delete-aware reader, so a row appended then MOR-deleted inside
        the range is not emitted. A replacing operation
        (compact/cluster/merge/delete/rollback) carries old rows into
        new files, so a file-level changelog would double-count —
        raises ValueError, callers re-baseline."""
        to_id = to_snapshot_id or self.current_snapshot().snapshot_id
        for i in self.snapshot_ids():
            if from_snapshot_id < i <= to_id:
                op = self.snapshot(i).operation
                if op not in ("append", "create", "delete-mor", "consolidate-deletes"):
                    raise ValueError(
                        f"incremental scan crosses a '{op}' snapshot (v{i}); "
                        "file-level changelog is append-only — re-baseline"
                    )
        before = set(self.live_files(self.snapshot(from_snapshot_id)))
        added = [
            e["file_path"]
            for e in self.manifest_entries(self.snapshot(to_id)).to_pylist()
            if e["file_path"] not in before
            and (e.get("content") or "data") == "data"
        ]
        if not added:
            return self.empty_scan(self.snapshot(to_id))
        return self._drop_internal(
            self._read_files(
                [f"{self.root}/{p}" for p in added], self.snapshot(to_id)
            )
        )

    def scan_pruned_in(
        self, col: str, values: list, snapshot_id: int | None = None
    ) -> tuple[DataFrame, int, int]:
        """Point-set file skipping: read only files whose [min, max]
        range for ``col`` contains at least one of ``values`` (the
        probe-set analogue of scan_pruned; used by LSH bucket probes).
        The residual isin filter is pushed to the parquet reader, so
        row-group pruning composes with the manifest skip."""
        points = sorted({v for v in values if v is not None})
        return self._scan_skipping(
            col, points, points, F.col(col).isin(list(values)), snapshot_id
        )

    def scan_in_manifest_order(self, snapshot_id: int | None = None) -> DataFrame:
        """Scan with a per-file ordinal so tests can reconstruct the
        exact physical order (file order from the manifest, row order
        within a parquet file is preserved by the reader).

        The ordinal is attached to each file scan by tag_files, before
        any outstanding delete applies (_read_parts) — NOT a union of
        per-file branches, whose plan grows O(files) and whose
        per-branch footer reads serialize on the driver."""
        snap = self.snapshot(snapshot_id) if snapshot_id else self.current_snapshot()
        paths = sorted(f"{self.root}/{e['file_path']}" for e in self.data_entries(snap))
        if not paths:
            raise ValueError("empty table: no files in snapshot")
        ords = ("_file_ord int", {p: (i,) for i, p in enumerate(paths)})
        return self._drop_internal(reduce(DataFrame.union, self._read_parts(paths, snap, ords)))

    def tag_files(self, df: DataFrame, schema: str, values: dict[str, tuple]) -> DataFrame:
        """``df`` — a scan of table files whose ``_metadata`` column
        still resolves — with per-file columns: ``schema`` declares them
        (DDL, e.g. ``"_bin int"``) and ``values`` maps a file's path to
        its row of them. One broadcast join of the (basename → values)
        map on ``_metadata.file_name``: map-side, no shuffle. Keying on
        the basename (unique in ``data/``) is immune to the
        path-representation drift — symlinked or relative roots,
        non-file: schemes — that a full-path match would silently miss.
        Rows of a file absent from ``values`` are dropped."""
        m = self.spark.createDataFrame(
            [(p.rsplit("/", 1)[-1], *v) for p, v in values.items()], f"_fname string, {schema}"
        )
        return (
            df.withColumn("_fname", F.col("_metadata.file_name"))
            .join(F.broadcast(m), "_fname")
            .drop("_fname")
        )

    # -- writes --------------------------------------------------------------
    def stage_dir(self, job_id: str) -> str:
        d = f"{self.root}/_staging/{job_id}"
        os.makedirs(d, exist_ok=True)
        return d

    def write_datafiles(
        self,
        df: DataFrame,
        job_id: str,
        sort_within: list[str] | None = None,
        file_col: str | None = None,
        sort_only: tuple[str, ...] = (),
    ) -> pa.Table:
        """Write df into immutable data files and return their manifest
        entries (stats read from the files as written) — the one code
        that writes table files.

        ``file_col`` is an int column giving each row's output file, on
        which the caller has already partitioned its rows; without it
        each row's file is its Spark partition (FILE_COL), so the
        caller controls the files by its partitioning (repartition /
        repartitionByRange / coalesce). The partitions are coalesced
        into write_tasks tasks, each writing its files in sequence:
        every write task pays a fixed cost (deserializing the task and
        its Hadoop configuration) that a small file does not amortize.
        The sort after the coalesce leads with the file column, so the
        partitionBy writer's required ordering already holds and Spark
        inserts no (unstable) sort of its own: each file gets the rows,
        in the order, of a one-task-per-file write. ``sort_only``
        columns order the rows but are not written. A write of no rows
        leaves one empty file that carries the schema.

        The schema written seeds the schema cache of the new files, so
        the stats read that follows infers no schema on any root.
        """
        from .integrity import with_crc

        if file_col is None:
            file_col = FILE_COL
            df = df.withColumn(FILE_COL, F.spark_partition_id())
        staging = self.stage_dir(job_id)
        # payload checksum computed inline with the write (JVM crc32 —
        # no extra pass); rides every later rewrite of the row
        w = with_crc(df)
        w = w.coalesce(write_tasks(w)).sortWithinPartitions(file_col, *(sort_within or []))
        w = w.drop(*sort_only) if sort_only else w
        w.write.mode("overwrite").partitionBy(file_col).parquet(staging)
        schema = _as_nullable(T.StructType([f for f in w.schema.fields if f.name != file_col]))
        if not any("=" in d for d in os.listdir(staging)):
            # no rows: a partitioned write leaves no file
            self.spark.createDataFrame([], schema).write.parquet(f"{staging}/{file_col}=0")
        rels = self._promote(staging, job_id)
        for rel in rels:
            self._schema_cache[f"{self.root}/{rel}"] = schema
        return self.file_entries(rels)

    def mark_job_active(self, job_id: str) -> None:
        """Register the job's lineage marker before any file lands in
        data/ — orphan GC treats files of a job with a live lineage
        entry and no committing snapshot as in-flight, never orphans
        (the promoted-but-uncommitted window is otherwise a GC race)."""
        if not self.storage.list(f"_lineage/{job_id}"):
            self.storage.put(f"_lineage/{job_id}/.job", b"")

    #: past this many files (or on a root that is not file-local) the
    #: stats come from one Spark aggregation instead of a driver loop
    FOOTER_DRIVER_MAX = 4096

    def footer_file_stats(self, paths: list[str]) -> list[dict] | None:
        """Every manifest stat of each file (row_count, checksum_bytes,
        min/max per stats column) from the file as written
        (_footer_stats_one): the parquet FOOTER plus the 8-byte ``_crc``
        column, never the payload, read in a driver loop. Returns one
        dict per path (same order), or None — the caller then runs the
        Spark aggregation — when any footer lacks a usable statistic,
        when there are more than FOOTER_DRIVER_MAX paths, or when the
        root is not file-local (the driver cannot open its files). So
        this is purely an optimization, never a correctness dependence.
        The ``_crc`` read stays small: the column exists only on tables
        with a ``bytes`` payload, where it is 8 bytes next to KB-sized
        audio per row."""
        if not self._local or len(paths) > self.FOOTER_DRIVER_MAX:
            return None
        out = [_footer_stats_one(local_path(p), self.stats_cols) for p in paths]
        return None if any(o is None for o in out) else out

    def _stats_for_files(self, paths: list[str]) -> list[dict]:
        """Per-file manifest stats (row_count, checksum_bytes, min/max
        per stats column), in ``paths`` order: the footer reader
        (footer_file_stats), or else one Spark aggregation, where a file
        with no rows forms no group and gets row_count 0 and NULL
        stats, as its footer gives."""
        fstats = self.footer_file_stats(paths)
        if fstats is not None:
            return fstats
        by_name = {
            r["file_name"]: r.asDict()
            for r in self._file_stats_df(self.read_parquet(paths)).collect()
        }
        return [by_name.get(p.rsplit("/", 1)[-1], {"row_count": 0}) for p in paths]

    def _promote(self, staging: str, job_id: str) -> list[str]:
        """Move a staged write_datafiles output — one ``<col>=<int>``
        directory per file-column value — into ``data/`` and return the
        new files' paths relative to the root. Output names are
        ``data/<job>-<nonce>-<value:06d>-<part:02d>.parquet`` (the prefix
        orphan GC protects while the job is in flight), and name order
        is (value, part file) order, so a range-partitioned write
        (cluster, the LSH index) keeps its order in file names;
        staged_partition reads the value back. The per-attempt nonce
        means a job-id reuse never renames over a live file of an
        earlier run."""
        nonce = uuid.uuid4().hex[:6]
        pairs = []
        for k, d in sorted(
            (int(d.split("=", 1)[1]), f"{staging}/{d}") for d in os.listdir(staging) if "=" in d
        ):
            parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            for j, f in enumerate(parts):
                pairs.append((f"{d}/{f}", f"data/{job_id}-{nonce}-{k:06d}-{j:02d}.parquet"))
        self.mark_job_active(job_id)
        self.storage.ensure_dir("data")
        self.storage.promote_many(pairs)
        shutil.rmtree(staging, ignore_errors=True)
        return [rel for _src, rel in pairs]

    def file_entries(self, rels: list[str]) -> pa.Table:
        """Manifest entries of data files already in ``data/``: stats
        from the files themselves (_stats_for_files), sizes from
        storage, the current schema id."""
        stats = self._stats_for_files([f"{self.root}/{rel}" for rel in rels])
        schema_id = self.current_schema_id()
        return entries_to_arrow(
            [
                {
                    **st,
                    "file_path": rel,
                    "byte_size": self.storage.size(rel),
                    "schema_id": schema_id,
                }
                for rel, st in zip(rels, stats)
            ],
            self.stats_spec,
        )

    def _file_stats_df(self, df: DataFrame) -> DataFrame:
        """Per-file min/max/count stats as one groupBy aggregation —
        the manifest 'stats recomputation' required by the north rule.
        Partial-agg friendly: combines map-side, shuffles only
        (file, stats) partials."""
        from .integrity import CRC_COL

        aggs = [F.count(F.lit(1)).alias("row_count")]
        present = set(df.columns)
        # per-file payload checksum: reads only the 8-byte _crc column
        if CRC_COL in present:
            aggs.append(F.sum(CRC_COL).alias("checksum_bytes"))
        else:
            aggs.append(F.lit(None).cast("long").alias("checksum_bytes"))
        for c in self.stats_cols:
            if c in present:
                aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
            else:
                aggs += [
                    F.lit(None).alias(f"min_{c}"),
                    F.lit(None).alias(f"max_{c}"),
                ]
        return df.groupBy(F.col("_metadata.file_name").alias("file_name")).agg(*aggs)

    # -- commits -------------------------------------------------------------
    def commit(
        self,
        operation: str,
        added: pa.Table,
        removed_paths: set[str] | None = None,
        base: Snapshot | None = None,
        summary: dict | None = None,
        input_paths: set[str] | None = None,
        max_retries: int = 20,
        expected_schema_ops: list[dict] | None = None,
        expected_delete_paths: set[str] | None = None,
    ) -> Snapshot:
        """Optimistic snapshot commit with rebase-on-race.

        ``removed_paths``: files this op replaces (compact/merge/cluster).
        ``input_paths``: files whose *content* the op depends on
        (defaults to removed_paths) — if a concurrent commit removed any
        of them, the op's output is stale → CommitConflict.
        ``expected_schema_ops``: the schema_ops list this commit's
        summary was PLANNED against (evolve.py sets it) — a rebase onto
        a base whose schema_ops changed means a concurrent evolution
        won; silently committing the precomputed list would overwrite
        the winner's op (a lost update the file validation cannot see),
        so it raises CommitConflict instead.
        ``expected_delete_paths``: the MOR delete-file set this op
        APPLIED while rewriting (lineage.Rewrite.read pins it). A delete_keys_mor that lands
        between the rewrite's plan and its commit passes the file
        validation (it removes nothing), but the rewrite's outputs get
        sequence > the delete's, silently resurrecting the deleted keys
        while the delete file lingers inert — Iceberg's RewriteFiles
        raises on new delete files for exactly this reason, and so do
        we (CommitConflict; the job re-runs against the new deletes).
        """
        removed_paths = removed_paths or set()
        input_paths = input_paths if input_paths is not None else set(removed_paths)
        base = base or self.current_snapshot()
        self.storage.ensure_dir("metadata")

        for _ in range(max_retries):
            current = self.current_snapshot()
            if current is not None and (
                base is None or current.snapshot_id != base.snapshot_id
            ):
                # someone committed since we planned: validate inputs survive
                cur_files = set(self.live_files(current))
                if input_paths - cur_files:
                    raise CommitConflict(
                        f"{operation}: concurrent commit removed input files "
                        f"{sorted(input_paths - cur_files)[:3]}..."
                    )
                if expected_schema_ops is not None and (
                    (current.summary.get("schema_ops") or []) != expected_schema_ops
                ):
                    raise CommitConflict(
                        f"{operation}: concurrent schema evolution — "
                        "replan against the current snapshot"
                    )
                if expected_delete_paths is not None and (
                    {e["file_path"] for e in self.delete_entries(current)}
                    != expected_delete_paths
                ):
                    raise CommitConflict(
                        f"{operation}: concurrent MOR delete commit — this "
                        "rewrite applied a stale delete set and would "
                        "resurrect deleted keys; re-run against the "
                        "current snapshot"
                    )
                base = current
            live = self.manifest_entries(base) if base else _empty_manifest(self.stats_spec)
            if removed_paths:
                gone = pa.array(list(removed_paths), pa.string())
                live = live.filter(pc.invert(pc.is_in(live["file_path"], gone)))
            next_id = (base.snapshot_id if base else 0) + 1
            # MOR bookkeeping: added entries default to content='data'
            # and sequence=<this snapshot id> unless the op set them
            # explicitly (compaction inherits its inputs' sequence;
            # delete files carry content='deletes'). Stamped inside the
            # retry loop because a rebase changes next_id.
            stamped = _stamp_added(added.cast(self.manifest_schema), next_id)
            merged = pa.concat_tables([live.cast(self.manifest_schema), stamped])
            manifest_rel = self.write_manifest(merged)
            # table-level state every commit carries forward from its
            # base unless it sets it itself: the schema-evolution ops
            # (evolve.py); the last-cluster marker, so it survives
            # snapshot expiry (expire_snapshots pins the marked snapshot;
            # without it cluster_incremental would silently degrade to a
            # full-table recluster); and the cluster codec-rank
            # dictionary, since a re-packed layout can hide a ranked
            # value from every file's min/max stats and shift the curve
            # order of clustered data (cluster.dimension_bounds). A
            # cluster commit stamps itself as the marker.
            extra = dict(summary or {})
            for k in ("schema_ops", "last_cluster_snapshot_id", "cluster_codec_ranks"):
                if k not in extra and base is not None and base.summary.get(k) is not None:
                    extra[k] = base.summary[k]
            if operation == "cluster":
                extra["last_cluster_snapshot_id"] = next_id
            # wall-clock commit stamp (ms): enables AS-OF-timestamp time
            # travel (snapshot_as_of) — informational, never used for
            # ordering (snapshot ids are the total order)
            extra.setdefault("committed_at_ms", int(time.time() * 1000))
            snap = Snapshot(
                snapshot_id=next_id,
                parent_id=base.snapshot_id if base else None,
                operation=operation,
                manifests=[manifest_rel],
                summary={
                    **extra,
                    "added_files": added.num_rows,
                    "removed_files": len(removed_paths),
                    "total_files": merged.num_rows,
                    "total_rows": pc.sum(merged["row_count"], min_count=0).as_py(),
                    "total_bytes": pc.sum(merged["byte_size"], min_count=0).as_py(),
                },
            )
            # Conditional PUT of the fully-written snapshot (atomic
            # create WITH content — on S3: If-None-Match:*). On a lost
            # race, do NOT fast-forward base: the next iteration must
            # see current != base so the input_paths validation runs
            # against the winner's live set (a compaction losing to a
            # merge that removed its inputs must raise CommitConflict,
            # not commit stale rows).
            if self.storage.put_if_absent(
                f"metadata/v{next_id:05d}.json", snap.to_json().encode()
            ):
                return snap
        raise CommitConflict(f"{operation}: gave up after {max_retries} rebase attempts")


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _footer_stats_one(path: str, stats_cols: list[str]) -> dict | None:
    """Every manifest stat of ONE data file: row_count and min/max per
    stats column from its parquet footer, and checksum_bytes as the sum
    of its ``_crc`` column (NULL when the file has none) — the one stat
    a footer cannot hold, read alone by column projection. None when a
    needed statistic is absent/unusable (caller falls back to the Spark
    aggregation). A stats column missing from the file's
    schema (schema evolution) folds to NULL min/max — unbounded, the
    same contract the Spark agg produces; all-null chunks are skipped.
    Exactness note: parquet-mr/arrow write full (untruncated) row-group
    chunk statistics for these short string/int columns by default; and
    even when a writer truncates long binary stats, parquet's contract
    keeps them SOUND bounds (truncated max is rounded up), so pruning
    never over-skips — only value-parity with a full aggregation could
    differ, which the fallback covers for exotic specs."""
    from .integrity import CRC_COL

    pf = pq.ParquetFile(path)
    md = pf.metadata
    names = {md.schema.column(i).path: i for i in range(md.num_columns)}
    rec: dict = {"row_count": md.num_rows}
    for c in stats_cols:
        if c not in names:
            rec[f"min_{c}"] = None
            rec[f"max_{c}"] = None
            continue
        mins: list = []
        maxs: list = []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(names[c])
            st = col.statistics
            if st is None:
                return None
            if not st.has_min_max:
                if st.null_count == md.row_group(rg).num_rows:
                    continue  # all-null chunk contributes no bound
                return None
            if not isinstance(st.min, (str, int)) or not isinstance(
                st.max, (str, int)
            ):
                return None  # exotic stat type (binary/date spec) → fallback
            mins.append(st.min)
            maxs.append(st.max)
        rec[f"min_{c}"] = min(mins) if mins else None
        rec[f"max_{c}"] = max(maxs) if maxs else None
    rec["checksum_bytes"] = (
        pc.sum(pf.read(columns=[CRC_COL]).column(CRC_COL)).as_py()
        if CRC_COL in names
        else None
    )
    return rec


def _key_filter(df: DataFrame, key_cols: tuple, keys: pa.Table) -> Column:
    """Row filter keeping ``df`` rows whose ``key_cols`` tuple is not
    one of ``keys`` (NULL-free, _delete_key_sets): ``isin`` for one
    column, a struct ``isin`` for a composite key, with literals cast to
    the column types. A row with a NULL key field survives, as it does
    the anti-join (a bare ``~isin`` would drop it, and struct equality
    matches NULL fields)."""
    cols = [F.col(c) for c in key_cols]
    if len(cols) == 1:
        hit = cols[0].isin(keys[key_cols[0]].to_pylist())
    else:
        types = [df.schema[c].dataType for c in key_cols]
        rows = zip(*(keys[c].to_pylist() for c in key_cols))
        hit = F.struct(*cols).isin(
            [
                F.struct(*(F.lit(v).cast(t).alias(c) for v, t, c in zip(r, types, key_cols)))
                for r in rows
            ]
        )
    return reduce(operator.or_, (c.isNull() for c in cols)) | ~hit


def applicable_deletes(dels: list[dict], file_sequence: int | None) -> list[dict]:
    """The outstanding delete specs (delete entries or delete_key_specs
    rows) that may apply to a data file of ``file_sequence``: those
    with sequence >= it (Iceberg's equality-delete rule; NULL == 0). A
    consolidated file among them applies per key (its ``_del_seq``), so
    this is a superset of what actually removes the file's rows."""
    return [d for d in dels if (d.get("sequence") or 0) >= (file_sequence or 0)]


def write_tasks(df: DataFrame) -> int:
    """Write tasks for ``df``: the session's default parallelism,
    raised to one task per ``spark.sql.files.maxPartitionBytes`` of the
    optimizer's size estimate of ``df``. The caller coalesces to it, so
    it never raises the partition count: an unknown estimate is huge
    and keeps one task per partition, as do partitions larger than
    maxPartitionBytes; no task sorts much more than maxPartitionBytes.
    Capped at the largest JVM int, which ``coalesce`` takes."""
    spark = df.sparkSession
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    per_task = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    by_bytes = -(-est // max(per_task, 1))
    return min(max(spark.sparkContext.defaultParallelism, by_bytes), 2**31 - 1)


def staged_partition(rel: str) -> int:
    """The file-column value a data file was written under, read back
    from its name (``data/<job>-<nonce>-<value>-<part>.parquet``,
    Table._promote)."""
    return int(rel.rsplit("-", 2)[1])


def _merge_schemas(left: T.StructType, right: T.StructType) -> T.StructType:
    """Spark's parquet ``mergeSchema`` fold of two all-nullable file
    schemas, at the top level where schema evolution acts: left fields
    keep their order, right-only fields append (names match
    case-insensitively, Spark's default), and a column in both must
    have one type — otherwise the merge fails, as Spark's does — or two
    a widen op relates (evolve._WIDEN_OK: a partial rewrite after a
    widen leaves both live), which merge to the wider; Spark's parquet
    reader reads the narrower files under it."""
    from .evolve import _WIDEN_OK

    by_name = {f.name.lower(): f for f in right.fields}
    fields = []
    for f in left.fields:
        r = by_name.pop(f.name.lower(), None)
        if r is not None and r.dataType != f.dataType:
            pair = (f.dataType.simpleString(), r.dataType.simpleString())
            if pair in _WIDEN_OK:
                f = T.StructField(f.name, r.dataType, True, f.metadata)
            elif pair[::-1] not in _WIDEN_OK:
                raise ValueError(f"cannot merge {f.name}: {f.dataType} vs {r.dataType}")
        fields.append(f)
    return T.StructType(fields + list(by_name.values()))


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Every field, element and value nullable — how Spark reads any
    file-source schema."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _manifest_arrow_fields(stats_spec: list[tuple[str, pa.DataType]]) -> list[pa.Field]:
    fields = [
        pa.field("file_path", pa.string()),
        pa.field("row_count", pa.int64()),
        pa.field("byte_size", pa.int64()),
        # per-file payload checksum: sum of per-row _crc (integrity.py);
        # NULL for tables without a payload column or unknown files
        pa.field("checksum_bytes", pa.int64()),
        # schema generation the file was written under (evolve.py);
        # compaction packs bins per generation so one bin never mixes
        # physical schemas. NULL (pre-evolution manifests) == gen 0.
        pa.field("schema_id", pa.int64()),
        # merge-on-read support (Iceberg v2 shape): 'content' marks a
        # file as row data or an equality-DELETE key file (NULL ==
        # 'data' for pre-MOR manifests); 'sequence' is the committing
        # snapshot id — an equality delete applies to a data file iff
        # file.sequence <= delete.sequence, so re-inserting a deleted
        # key (new, higher sequence) is visible while old copies stay
        # deleted. Rewrites that APPLY deletes stamp the new sequence;
        # compaction (streams bytes, applies nothing) inherits its
        # inputs' sequence and never mixes applicability sets.
        pa.field("content", pa.string()),
        pa.field("sequence", pa.int64()),
    ]
    for c, typ in stats_spec:
        fields.append(pa.field(f"min_{c}", typ))
        fields.append(pa.field(f"max_{c}", typ))
    return fields


def _stamp_added(tbl: pa.Table, seq: int) -> pa.Table:
    """Fill NULL content/sequence on entries being added by a commit
    (content → 'data', sequence → the committing snapshot id). Entries
    with explicit values pass through untouched."""
    for name, fill in (("content", "data"), ("sequence", seq)):
        i = tbl.schema.get_field_index(name)
        tbl = tbl.set_column(i, tbl.field(i), pc.fill_null(tbl[name], fill))
    return tbl


def stats_keep_mask(mins, maxs, starts, ends) -> np.ndarray:
    """The file-skipping decision, vectorized over a manifest's stats
    columns: True where a file whose ``[min, max]`` are ``mins[i]``,
    ``maxs[i]`` (Arrow arrays) can hold a value inside one of the probe
    intervals ``[starts[j], ends[j]]`` — sorted and disjoint, so a key
    set is its sorted distinct values as point intervals. A NULL min or
    max (read from the validity mask: an int column with nulls turns
    into float NaN under to_numpy) is unbounded and always kept.

    Intervals ending before ``min`` and intervals starting at or before
    ``max`` are both prefixes of the sorted probe list; the file
    overlaps one iff the second prefix is longer."""
    bounded = pc.and_(pc.is_valid(mins), pc.is_valid(maxs))
    keep = ~np.asarray(bounded, dtype=bool)
    if len(starts) and not keep.all():
        lo = pc.filter(mins, bounded).to_numpy(zero_copy_only=False)
        hi = pc.filter(maxs, bounded).to_numpy(zero_copy_only=False)
        keep[~keep] = np.searchsorted(starts, hi, "right") > np.searchsorted(
            ends, lo, "left"
        )
    return keep


def prune_manifest(manifest: pa.Table, col: str, starts, ends) -> pa.Table:
    """The manifest entries stats_keep_mask keeps for ``col``; a column
    without manifest stats prunes nothing."""
    if f"min_{col}" not in manifest.column_names:
        return manifest
    return manifest.filter(
        stats_keep_mask(manifest[f"min_{col}"], manifest[f"max_{col}"], starts, ends)
    )


def pad_cast_manifest(tbl: pa.Table, schema: pa.Schema) -> pa.Table:
    """Cast a manifest to ``schema``, padding columns the file predates
    with NULLs (manifest-schema evolution: older manifests stay
    readable after new stats/checksum columns are introduced)."""
    cols = []
    for f in schema:
        if f.name in tbl.column_names:
            cols.append(tbl.column(f.name).cast(f.type))
        else:
            cols.append(pa.nulls(tbl.num_rows, f.type))
    return pa.Table.from_arrays(cols, schema=schema)


def _empty_manifest(stats_spec: list[tuple[str, pa.DataType]]) -> pa.Table:
    schema = pa.schema(_manifest_arrow_fields(stats_spec))
    return pa.table({f.name: pa.array([], type=f.type) for f in schema})


def _manifest_spark_schema(stats_spec: list[tuple[str, pa.DataType]]) -> T.StructType:
    """The manifest's declared schema as Spark reads it: reading with it
    needs no inference, and a column an older manifest lacks reads as
    NULL (the pad_cast_manifest contract)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(pa.schema(_manifest_arrow_fields(stats_spec)))


def entries_to_arrow(
    entries: list[dict], stats_spec: list[tuple[str, pa.DataType]]
) -> pa.Table:
    schema = pa.schema(_manifest_arrow_fields(stats_spec))
    if not entries:
        return _empty_manifest(stats_spec)
    cols = {f.name: pa.array([e.get(f.name) for e in entries], type=f.type) for f in schema}
    return pa.table(cols).cast(schema)


# ---------------------------------------------------------------------------
# table-level API (reference parity: create/overwrite I16, append I17 —
# /root/reference/fupi/utils.py:39-49, fupi/embedders.py:119-125)
# ---------------------------------------------------------------------------


def create_table(spark: SparkSession, root: str, stats_spec=None, storage=None) -> Table:
    t = Table(spark, root, stats_spec or CLIPS_STATS, storage=storage)
    t.storage.ensure_dir("metadata")
    t.storage.ensure_dir("data")
    if t.current_snapshot() is None:
        t.commit("create", _empty_manifest(t.stats_spec))
    return t


def load_table(spark: SparkSession, root: str, stats_spec=None, storage=None) -> Table:
    t = Table(spark, root, stats_spec or CLIPS_STATS, storage=storage)
    if t.current_snapshot() is None:
        raise FileNotFoundError(f"no table at {root}")
    return t


def rollback(table: Table, snapshot_id: int) -> Snapshot:
    """Roll the table head back to an earlier snapshot's state (Iceberg
    rollback parity): a NEW snapshot whose live set is the target's —
    history is never rewritten, so time travel and concurrent readers
    stay consistent, and the optimistic claim arbitrates races like any
    other commit."""
    target = table.snapshot(snapshot_id)
    entries = table.manifest_entries(target)
    current = table.current_snapshot()
    removed = set(table.live_files(current))
    return table.commit(
        "rollback",
        entries,
        removed_paths=removed,
        base=current,
        input_paths=set(),  # depends on no current file's content
        summary={"rolled_back_to": snapshot_id},
    )


def append(
    table: Table,
    df: DataFrame,
    job_id: str | None = None,
    parts: int | None = None,
    sort_within: list[str] | None = None,
) -> Snapshot:
    """Append write: new data files + new snapshot referencing old ∪ new.
    The caller controls physical layout: pre-partition (one file per
    partition), or pass ``parts`` for round-robin into ``parts`` files,
    and ``sort_within`` to keep per-file/row-group stats tight on index
    columns; Table.write_datafiles writes the files. A ``job_id`` that
    already committed returns that snapshot and writes nothing."""
    from .lineage import Rewrite

    rw = Rewrite(table, job_id, "append")
    if rw.committed is not None:
        return rw.committed
    if parts:
        df = df.repartition(parts)
    return rw.commit("append", table.write_datafiles(df, rw.job_id, sort_within=sort_within))

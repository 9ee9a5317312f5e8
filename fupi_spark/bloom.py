"""Per-file bloom-filter index for point lookups on columns min/max
stats can't prune.

After a plain append the key column is spread ~uniformly across every
data file, so each file's (min, max) range covers nearly the whole key
space and stats pruning (meta.scan_pruned) degenerates to a full scan —
the exact case Iceberg solves with parquet bloom filters / Puffin blobs.
This module builds the same structure engine-side: one fixed-size bloom
bitset per data file, kept in one parquet object, ``metadata/bloom.parquet``,
written and read with pyarrow through the table's ``Storage``.

Scale properties:

- the object is stamped (parquet key-value metadata) with the indexed
  column and a digest of the schema ops of the snapshot it was built
  from; an index whose stamp differs from the reading snapshot's is
  absent — a lookup prunes nothing, a refresh rebuilds every file — so
  a lookup on another column, or after a rename, widen, added default
  or rollback, can never prune a file that holds the key;
- the build is one Spark job: the to-do files are read with the
  snapshot's schema ops replayed, each non-null key hashes JVM-side to
  k=4 md5-derived positions in an m-bit set, and only DISTINCT
  (file name, position) pairs reach the driver — at most m per file,
  never the file's row count — where numpy packs them into bitsets;
- data files are IMMUTABLE, so bitsets are too: a refresh hashes ONLY
  live files without a bitset (compaction outputs get fresh ones, their
  inputs' are dropped), and writes the object only when its rows
  change — one atomic ``storage.put``, no Spark write;
- a lookup reads the O(files) object (a few MB per thousand files at
  m=2^15) on the driver, tests k bits per candidate file, and scans only
  the surviving files with the key predicate pushed down: its one Spark
  job is that scan — a point lookup on a 10^12-row unclustered table
  touches ~the one file that holds the key (+ deterministic false
  positives at ~(1-e^{-kn/m})^k);
- false positives only ever cost an extra file read; misses are
  impossible (bits are set for every present key — the pytest asserts
  the no-false-negative invariant exhaustively).
"""

from __future__ import annotations

import hashlib
import json
import logging

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import session_conf

#: bits per file bitset (2^15 = 4 KiB packed); with k=4 probes this
#: holds ~2.3k keys/file at <1% false-positive rate
BLOOM_BITS = 1 << 15
BLOOM_K = 4

INDEX_REL = "metadata/bloom.parquet"

_log = logging.getLogger("fupi_spark")


def _positions(keys: np.ndarray) -> np.ndarray:
    """k deterministic bit positions per key: md5(key|i) low 60 bits
    mod m — the same engine-portable hash family the portable sketches
    use (pipeline_queries), so index and probe can never drift."""
    out = np.empty((len(keys), BLOOM_K), np.int64)
    for r, key in enumerate(keys):
        for i in range(BLOOM_K):
            h = hashlib.md5(f"{key}|{i}".encode()).hexdigest()[:15]
            out[r, i] = int(h, 16) % BLOOM_BITS
    return out


def probe_positions(key: str) -> list[int]:
    return _positions(np.array([key], dtype=object))[0].tolist()


def _stamp(table, col: str, snap) -> dict[bytes, bytes]:
    """What an index's bits mean: the column hashed and the schema ops
    its values were read with."""
    ops = json.dumps(table.schema_ops(snap), sort_keys=True).encode()
    return {b"bloom_column": col.encode(), b"schema_ops": hashlib.sha256(ops).hexdigest().encode()}


def read_index(table, col: str, snap) -> dict[str, bytes]:
    """The table's bloom bitsets for ``col`` at ``snap`` as
    {file_path: packed bitset}. An index that was never written, or
    whose stamp is not ``snap``'s, reads as empty; an unreadable one is
    logged and reads as empty too: files without a bitset are never
    pruned, so a lost index costs reads, never rows."""
    if not table.storage.exists(INDEX_REL):
        return {}
    try:
        idx = pq.read_table(pa.BufferReader(table.storage.read(INDEX_REL)))
    except (OSError, pa.ArrowException) as e:
        _log.warning("bloom index of %s unreadable, not pruning: %s", table.root, e)
        return {}
    if not _stamp(table, col, snap).items() <= (idx.schema.metadata or {}).items():
        return {}
    return dict(zip(idx["file_path"].to_pylist(), idx["bitset"].to_pylist()))


def refresh_bloom_index(table, col: str) -> dict:
    """Build/refresh the bloom index for ``col`` at the CURRENT
    snapshot: hash only live data files that have no bitset yet
    (immutability keeps old bitsets valid while the stamp holds), drop
    bitsets of files no longer live. Returns {'indexed': bitsets built
    now (files with no non-null key get an empty sentinel and are not
    counted), 'kept': reused, 'files': total_live}."""
    snap = table.current_snapshot()
    live = [e["file_path"] for e in table.data_entries(snap)]
    old = read_index(table, col, snap)
    rows = {p: old[p] for p in live if p in old}
    kept = len(rows)
    todo = {p.rsplit("/", 1)[-1]: p for p in live if p not in old}
    built = 0
    if todo:
        # the evolved read: old files store PHYSICAL pre-rename names,
        # and a widened column must hash as the type lookups compare
        # in. read_parquet, not _read_files: indexing to-be-deleted
        # keys costs false positives only, and a delete-aware read
        # may not keep _metadata. NULL keys have no probe positions
        # (md5(NULL) is NULL) and a lookup is on a concrete key.
        df = table.read_parquet([f"{table.root}/{p}" for p in todo.values()], snap)
        key = F.col(col).cast("string")
        probe = F.explode(
            F.array(
                *[
                    F.conv(F.substring(F.md5(F.concat(key, F.lit(f"|{i}"))), 1, 15), 16, 10)
                    .cast("long")
                    % BLOOM_BITS
                    for i in range(BLOOM_K)
                ]
            )
        )
        pairs = (
            df.where(key.isNotNull())
            .select(F.col("_metadata.file_name").alias("file_name"), probe.alias("pos"))
            .distinct()
        )
        # without AQE the distinct's shuffle runs inside the collect's
        # one job instead of being submitted as a job of its own
        with session_conf(table.spark, {"spark.sql.adaptive.enabled": "false"}):
            pairs = pairs.toArrow()
        grouped = pairs.group_by("file_name").aggregate([("pos", "list")])
        built = grouped.num_rows
        for name, pos in zip(
            grouped["file_name"].to_pylist(), grouped["pos_list"].to_numpy(zero_copy_only=False)
        ):
            bits = np.zeros(BLOOM_BITS, bool)
            bits[pos] = True
            rows[todo.pop(name)] = np.packbits(bits).tobytes()
        # files with no non-null key get an all-zero bitset: immutability
        # keeps it valid, so later refreshes skip them, and point_lookup
        # prunes them for every key (col == key never matches NULL)
        rows.update((p, bytes(BLOOM_BITS // 8)) for p in todo.values())

    if rows.keys() != old.keys():
        paths = sorted(rows)
        idx = pa.table(
            {
                "file_path": pa.array(paths, pa.string()),
                "bitset": pa.array([rows[p] for p in paths], pa.binary()),
            }
        ).replace_schema_metadata(_stamp(table, col, snap))
        buf = pa.BufferOutputStream()
        pq.write_table(idx, buf)
        table.storage.put(INDEX_REL, buf.getvalue().to_pybytes())
    return {"indexed": built, "kept": kept, "files": len(live)}


def point_lookup(table, col: str, key: str) -> tuple[DataFrame, int, int]:
    """Bloom-pruned point lookup: returns (rows DataFrame, files_read,
    files_total). Tests the key's k bits in each live file's bitset on
    the driver and scans only surviving files with the equality
    predicate pushed to parquet; outstanding MOR deletes add only a key
    filter planned on the driver (Table._read_files), so the lookup's
    one Spark job is the file read. A live file without a bitset (e.g.
    refresh not yet run after a commit, or an index stamped for another
    column or schema) cannot be pruned — it is read unconditionally (no
    false negatives ever)."""
    snap = table.current_snapshot()
    live = [e["file_path"] for e in table.data_entries(snap)]
    pos = probe_positions(key)
    idx = read_index(table, col, snap)
    # np.packbits order: bit i is bit 7 - i % 8 of byte i // 8
    keep = [
        p
        for p in live
        if p not in idx or all(idx[p][i >> 3] & (0x80 >> (i & 7)) for i in pos)
    ]
    if not keep:
        return table.empty_scan(snap).filter(F.col(col) == key), 0, len(live)
    df = table._drop_internal(
        table._read_files([f"{table.root}/{p}" for p in keep], snap)
    ).filter(F.col(col).cast("string") == key)
    return df, len(keep), len(live)

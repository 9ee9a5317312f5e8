"""Per-file bloom-filter index for point lookups on columns min/max
stats can't prune.

After a plain append the key column is spread ~uniformly across every
data file, so each file's (min, max) range covers nearly the whole key
space and stats pruning (meta.scan_pruned) degenerates to a full scan —
the exact case Iceberg solves with parquet bloom filters / Puffin blobs.
This module builds the same structure engine-side: one fixed-size bloom
bitset per data file, stored as a parquet sidecar under the table's
metadata directory.

Scale properties:

- the build is one distributed pass: each file's rows hash inside a
  per-file ``applyInPandas`` group (k=4 md5-derived probes into an
  m-bit set, packed with ``np.packbits``), so the index job shuffles
  only (file, key-hash) pairs and emits O(files) rows of m/8 bytes;
- data files are IMMUTABLE, so bloom rows are too: a refresh after new
  commits hashes ONLY files without an index row (incremental by
  construction — compaction outputs get fresh rows, their inputs' rows
  are dropped with the listing);
- a lookup reads the O(files) index (a few MB per million files at
  m=2^15), tests k bits per candidate file DRIVER-side, and scans only
  the surviving files with the key predicate pushed down — a point
  lookup on a 10^12-row unclustered table touches ~the one file that
  holds the key (+ deterministic false positives at ~(1-e^{-kn/m})^k);
- false positives only ever cost an extra file read; misses are
  impossible (bits are set for every present key — the pytest asserts
  the no-false-negative invariant exhaustively).
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: bits per file bitset (2^15 = 4 KiB packed); with k=4 probes this
#: holds ~2.3k keys/file at <1% false-positive rate
BLOOM_BITS = 1 << 15
BLOOM_K = 4

INDEX_REL = "metadata/bloom"

_log = logging.getLogger("fupi_spark")


def _positions(keys: np.ndarray) -> np.ndarray:
    """k deterministic bit positions per key: md5(key|i) low 60 bits
    mod m — the same engine-portable hash family the portable sketches
    use (pipeline_queries), so index and probe can never drift."""
    import hashlib

    out = np.empty((len(keys), BLOOM_K), np.int64)
    for r, key in enumerate(keys):
        for i in range(BLOOM_K):
            h = hashlib.md5(f"{key}|{i}".encode()).hexdigest()[:15]
            out[r, i] = int(h, 16) % BLOOM_BITS
    return out


def probe_positions(key: str) -> list[int]:
    return _positions(np.array([key], dtype=object))[0].tolist()


_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType(), False),
        T.StructField("bitset", T.BinaryType(), False),
        # set-bit count: fill ratio (n_bits/m) gives the file's
        # false-positive rate estimate ((n_bits/m)^k) for free
        T.StructField("n_bits", T.LongType(), False),
    ]
)


def read_index(table) -> dict[str, tuple[str, bytes, int]]:
    """The table's bloom rows as {file_path: (file_path, bitset,
    n_bits)}. An index that was never written reads as empty without a
    Spark job. Any other read failure is logged and also reads as
    empty: files without a row are never pruned, so a lost index costs
    reads, never rows."""
    if not table.storage.list(INDEX_REL):
        return {}
    try:
        rows = table.read_with_schema([f"{table.root}/{INDEX_REL}"], _INDEX_SCHEMA).collect()
    except Exception as e:
        _log.warning("bloom index of %s unreadable, not pruning: %s", table.root, e)
        return {}
    return {r.file_path: (r.file_path, bytes(r.bitset), int(r.n_bits)) for r in rows}


def refresh_bloom_index(table, col: str) -> dict:
    """Build/refresh the bloom sidecar for ``col`` at the CURRENT
    snapshot: hash only live data files that have no index row yet
    (immutability makes old rows permanently valid), drop rows for
    files no longer live. Returns {'indexed': bitsets built now (files
    with no non-null key get an empty sentinel and are not counted),
    'kept': reused, 'files': total_live}."""
    spark = table.spark
    live = set(e["file_path"] for e in table.data_entries())
    existing = {p: row for p, row in read_index(table).items() if p in live}
    todo = sorted(p for p in live if p not in existing)

    rows: list[tuple] = list(existing.values())
    built: dict[str, tuple] = {}
    if todo:
        # evolution-aware read of the todo files: old files store the
        # PHYSICAL pre-rename column names, so a raw read would fail to
        # resolve a renamed index column (AnalysisException). Replay
        # the snapshot's schema ops like every other consumer — but
        # through read_parquet, NOT _read_files: MOR delete application
        # may union or join away input_file_name(), and indexing to-be-deleted keys
        # is harmless anyway (false positives only, never false
        # negatives).
        df = table.read_parquet(
            [f"{table.root}/{p}" for p in todo], table.current_snapshot()
        )
        # NULL keys carry no probe positions (md5(NULL) is NULL; the
        # NaN positions crashed the bitset scatter) and a point lookup
        # is by definition on a concrete key — leave them unindexed.
        # A file of ONLY null keys yields no row here; it gets an empty
        # sentinel bitset below.
        df = df.select(
            F.col(col).cast("string").alias("_key"),
            F.input_file_name().alias("_file"),
        ).filter(F.col("_key").isNotNull())
        # hash to bit positions JVM-side (md5 inside codegen — the
        # same bytes hashlib computes in probe_positions), then
        # distinct: the shuffle carries at most m=BLOOM_BITS
        # (file, position) pairs per file, and each applyInPandas
        # group is bounded by the bitset size — never by the file's
        # row count
        probe = F.explode(
            F.array(
                *[
                    (
                        F.conv(
                            F.substring(
                                F.md5(F.concat(F.col("_key"), F.lit(f"|{i}"))),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % BLOOM_BITS
                    )
                    for i in range(BLOOM_K)
                ]
            )
        )
        pos_df = (
            df.select("_file", probe.alias("_pos")).distinct()
        )

        root = table.root.split("://", 1)[-1].rstrip("/") + "/"

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            from urllib.parse import unquote

            bits = np.zeros(BLOOM_BITS, bool)
            bits[pdf["_pos"].to_numpy()] = True
            # normalize the absolute input_file_name URI back to the
            # manifest-relative path ("file:///.../table/data/x.parquet"
            # -> "data/x.parquet"; the root may carry a scheme too)
            f = unquote(pdf["_file"].iloc[0]).split("://", 1)[-1]
            rel = f.split(root, 1)[-1]
            return pd.DataFrame(
                {
                    "file_path": [rel],
                    "bitset": [np.packbits(bits).tobytes()],
                    "n_bits": [int(bits.sum())],
                }
            )

        built = {
            r.file_path: (r.file_path, bytes(r.bitset), int(r.n_bits))
            for r in pos_df.groupBy("_file")
            .applyInPandas(build, schema=_INDEX_SCHEMA)
            .collect()
        }
        stray = set(built) - set(todo)
        if stray:
            # a sentinel for a file whose real row went astray would
            # prune it for every key: fail loudly instead
            raise RuntimeError(f"bloom rows for unknown files: {sorted(stray)[:3]}")
        rows.extend(built.values())
        # files with no non-null key get an all-zero bitset: immutability
        # makes it permanently valid, so later refreshes skip them, and
        # point_lookup prunes them for every key (col == key never
        # matches NULL)
        empty = bytes(BLOOM_BITS // 8)
        rows.extend((p, empty, 0) for p in todo if p not in built)

    if rows:
        spark.createDataFrame(rows, _INDEX_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{table.root}/{INDEX_REL}")
    return {"indexed": len(built), "kept": len(existing), "files": len(live)}


def point_lookup(table, col: str, key: str) -> tuple[DataFrame, int, int]:
    """Bloom-pruned point lookup: returns (rows DataFrame, files_read,
    files_total). Reads the O(files) index, tests the key's k bits per
    file driver-side, scans only surviving files with the equality
    predicate pushed to parquet; outstanding MOR deletes add only a key
    filter planned on the driver (Table._read_files), so the lookup's
    Spark jobs are the index read and the file read. No index row for a
    live file (e.g. refresh not yet run after a commit) means the file
    cannot be pruned — it is read unconditionally (no false negatives
    ever)."""
    live = [e["file_path"] for e in table.data_entries()]
    pos = probe_positions(key)
    bitsets = {
        p: np.unpackbits(np.frombuffer(bits, np.uint8))
        for p, (_, bits, _) in read_index(table).items()
    }
    keep = [
        p
        for p in live
        if p not in bitsets or all(bitsets[p][i] for i in pos)
    ]
    if not keep:
        return table.empty_scan().filter(F.col(col) == key), 0, len(live)
    df = table._drop_internal(
        table._read_files(
            [f"{table.root}/{p}" for p in keep], table.current_snapshot()
        )
    ).filter(F.col(col).cast("string") == key)
    return df, len(keep), len(live)

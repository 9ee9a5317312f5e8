"""Multi-dimensional clustering rewrite: Z-order or Hilbert over
(clip_id, sr_hz, dur_ms, codec), per the north rule — plus ``linear``
(plain Iceberg sort order by clip_id), the layout that trades
multi-dimensional scan locality for sharp MERGE file pruning.

Physical plan (idiomatic Spark, no RDDs):

1. bounds ENTIRELY from manifest stats (min/max per dimension + codec
   rank dictionary folded from per-file extremum stats — zero data
   passes; planning is O(files) metadata);
2. curve key via a vectorized numpy pandas UDF (zorder.morton4 /
   zorder.hilbert4) — evaluated over the full data exactly ONCE, in
   the rewrite pass;
3. explicit range buckets from a ~200·n_buckets row SAMPLE of the
   pruned key columns (sampling sits below the key expression, so the
   curve UDF only touches sampled rows in planning; parquet column
   pruning keeps the audio payload out entirely). Small bucket counts
   stride-pick boundaries on the driver; past DRIVER_SAMPLE_MAX the
   pick runs distributed via Spark's own range sampler
   (repartitionByRange on the sampled keys + per-range min), so
   ``linear`` clustering works past 10^5 output files with only the
   O(n_buckets) boundary list ever reaching the driver;
4. bucket id assigned JVM-side (codegen fold over the boundary array;
   past BUCKET_FOLD_MAX boundaries a vectorized searchsorted pandas
   UDF, O(log n) per row), ONE hash shuffle on it, then
   Table.write_datafiles' multi-file write with ``_bucket`` as the file
   column: the shuffle's partitions are coalesced into write_tasks
   tasks (about one per core on a small table, one per bucket once the
   buckets are large), each sorted by ``(_bucket, _zval, clip_id)``
   and written with ``partitionBy(_bucket)``. Each bucket becomes one
   file, promoted to a range-ordered name, so file-name order IS curve
   order and concatenating files reproduces the global clustering
   order (tested against the pandas oracle). A task that holds several
   buckets (a hash collision, or the coalesce) still emits one file
   per bucket, each internally sorted, so the property survives;
5. manifest rewrite + per-file stats recomputation, snapshot commit
   (operation='cluster'), per-partition lineage.

Skew: sampled boundaries adapt to key density, so hot key regions
(e.g. the synthetic 'hot' clip_id prefix) split across buckets — this
is salting-by-quantile. For degenerate keys (one value dominating),
``salt_buckets`` appends a deterministic pmod(hash(clip_id), S) term to
the bucket id, the classic salting pattern.

Scale notes: the planning pass costs O(sample) UDF work + one
key-column sample scan; the rewrite is the only full-data pass and the
only shuffle. The boundary array (n_buckets-1 values) is the only
driver-side state.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import zorder
from .lineage import Rewrite
from .meta import Snapshot, Table

CLUSTER_DIMS = ["clip_id", "sr_hz", "dur_ms", "codec"]


def dimension_bounds(table: Table, snapshot: Snapshot | None = None) -> dict:
    """Global per-dimension bounds + codec rank dictionary, ENTIRELY
    from the manifest (file-level min/max stats) — zero data scans, so
    cluster planning costs O(files) metadata regardless of table size.

    ``snapshot`` (default: the current one) is the snapshot being
    clustered — a rewrite must plan from the snapshot it reads and
    commits against.

    The codec dictionary folds from the distinct values among the
    per-file min_codec/max_codec stats. A (rare) codec value that never
    appears as any file's extremum is absent from the dictionary; the
    searchsorted rank used by curve_key_udf and refimpl places such a
    value deterministically between its known neighbours, so ordering
    stays total and consistent across engine and oracle."""
    # DATA entries only: MOR delete files carry key-column stats but
    # NULL for every other dimension (the seed-37 op-sequence fuzz
    # caught a TypeError here); NULL stats on data files (column absent
    # at write time) fold conservatively via the non-NULL subset.
    snap = snapshot or table.current_snapshot()
    entries = table.data_entries(snap)
    if not entries:
        raise ValueError("cannot cluster an empty table")

    def _fold(key: str, fn, default=0):
        vs = [e[key] for e in entries if e[key] is not None]
        return fn(vs) if vs else default

    b = {
        "clip_id_lo": int(
            zorder.string_to_u64([_fold("min_clip_id", min, "")])[0]
        ),
        "clip_id_hi": int(
            zorder.string_to_u64([_fold("max_clip_id", max, "")])[0]
        ),
        "sr_lo": _fold("min_sr_hz", min),
        "sr_hi": _fold("max_sr_hz", max),
        "dur_lo": _fold("min_dur_ms", min),
        "dur_hi": _fold("max_dur_ms", max),
    }
    observed = {e["min_codec"] for e in entries if e["min_codec"] is not None} | {
        e["max_codec"] for e in entries if e["max_codec"] is not None
    }
    # layout-stability (r6): the extremum fold only sees values that are
    # some file's min or max, so a rewrite that packs files differently
    # can HIDE an interior value and silently shift every higher rank —
    # the curve order of data already clustered under the old dictionary
    # would then disagree with a post-rewrite recomputation. Once a
    # value enters the dictionary it is remembered in the snapshot
    # summary (cluster stamps it, meta.commit carries it forward like
    # the last-cluster marker), so the dictionary only ever GROWS and
    # ranks are reproducible at any later snapshot.
    stored = (snap.summary or {}).get("cluster_codec_ranks") if snap else None
    codecs = sorted(observed | set(stored or []))
    b["codec_ranks"] = codecs
    b["codec_rank"] = {c: i for i, c in enumerate(codecs)}
    b["codec_hi"] = max(len(codecs) - 1, 1)
    return b


def codec_rank_array(codec: pd.Series, codecs: list[str]) -> np.ndarray:
    """Rank a codec column against the sorted known-codec list via
    searchsorted — identical semantics in the engine UDF and the pandas
    oracle (refimpl.cluster_order), total order even for values the
    manifest extremum stats never enumerated."""
    known = np.array(codecs, dtype=object)
    vals = codec.fillna("").to_numpy(dtype=object)
    r = np.searchsorted(known, vals, side="left")
    return np.minimum(r, max(len(codecs) - 1, 0))


def _spread4_col(c):
    """JVM twin of zorder._spread4: spread 16 bits 4 apart (Morton),
    as shift/mask codegen expressions."""
    for sh, m in (
        (24, 0x000000FF000000FF),
        (12, 0x000F000F000F000F),
        (6, 0x0303030303030303),
        (3, 0x1111111111111111),
    ):
        c = c.bitwiseOR(F.shiftleft(c, sh)).bitwiseAND(F.lit(m))
    return c


def _norm_col(col, lo, hi):
    """JVM twin of zorder.normalize_to_grid. ``lo``/``hi`` are python
    ints/floats; (hi - lo) is computed in python (exact) then rounded
    once to double — the same order numpy applies, so the doubles (and
    the floored grid) are bitwise-identical to the UDF path."""
    if hi <= lo:
        return F.lit(0).cast("long")
    g = F.floor(
        (col.cast("double") - F.lit(float(lo)))
        / F.lit(float(hi - lo))
        * F.lit(float(zorder.MAXC))
        + F.lit(0.5)
    )
    return F.least(F.greatest(g, F.lit(0)), F.lit(zorder.MAXC)).cast("long")


def _string_u64_col(col):
    """JVM twin of zorder.string_to_u64: first 8 UTF-8 bytes, big-endian,
    NUL-padded — NUL byte padding == right-padding the hex string with
    '0' pairs, so rpad(hex, 16, '0') then one base-16 conv does it.
    Caller guarantees the result fits a signed long (checked via the
    manifest clip_id bounds)."""
    h = F.rpad(F.hex(F.substring(F.encode(col, "UTF-8"), 1, 8)), 16, "0")
    return F.conv(h, 16, 10).cast("long")


def curve_key_expr(bounds: dict, curve: str):
    """Pure-JVM Column twin of curve_key_udf for the zorder curve —
    whole-stage codegen, no Python worker in the planning or rewrite
    stage (r6, guide §4: the ArrowEvalPython hop was pure overhead for
    this integer bit math). Returns None when the key is not
    JVM-expressible (hilbert's bit loop; or a clip_id range whose u64
    rank exceeds signed-long — conv() would overflow), and callers fall
    back to the UDF. Bit-identical to the UDF path (tested)."""
    if curve != "zorder":
        return None
    if bounds["clip_id_lo"] >= 1 << 63 or bounds["clip_id_hi"] >= 1 << 63:
        return None
    codecs = bounds.get("codec_ranks") or sorted(bounds["codec_rank"])
    d0 = _norm_col(
        _string_u64_col(F.col("clip_id")), bounds["clip_id_lo"], bounds["clip_id_hi"]
    )
    d1 = _norm_col(F.col("sr_hz"), bounds["sr_lo"], bounds["sr_hi"])
    d2 = _norm_col(F.col("dur_ms"), bounds["dur_lo"], bounds["dur_hi"])
    # codec rank: searchsorted(known, codec, 'left') clipped — for a
    # sorted list this is the count of known codecs < value
    known = list(codecs)
    if known:
        rank_arr = F.array(*[F.lit(c) for c in known])
        rank = F.aggregate(
            rank_arr,
            F.lit(0),
            lambda acc, c: acc
            + F.when(c < F.coalesce(F.col("codec"), F.lit("")), F.lit(1)).otherwise(
                F.lit(0)
            ),
        )
        rank = F.least(rank, F.lit(max(len(known) - 1, 0)))
    else:
        rank = F.lit(0)
    d3 = _norm_col(rank, 0, bounds["codec_hi"])
    return (
        F.shiftleft(_spread4_col(d0), 3)
        .bitwiseOR(F.shiftleft(_spread4_col(d1), 2))
        .bitwiseOR(F.shiftleft(_spread4_col(d2), 1))
        .bitwiseOR(_spread4_col(d3))
    )


def curve_key_col(bounds: dict, curve: str):
    """The curve key as a Column: pure-JVM codegen when expressible
    (zorder), vectorized pandas UDF otherwise (hilbert)."""
    e = curve_key_expr(bounds, curve)
    if e is not None:
        return e
    return curve_key_udf(bounds, curve)(*[F.col(c) for c in CLUSTER_DIMS])


def curve_key_udf(bounds: dict, curve: str = "zorder"):
    """Vectorized pandas UDF (clip_id, sr_hz, dur_ms, codec) → int64
    curve key."""
    codecs = bounds.get("codec_ranks") or sorted(bounds["codec_rank"])
    chi = bounds["codec_hi"]

    @F.pandas_udf(T.LongType())
    def key(it: Iterator[tuple[pd.Series, ...]]) -> Iterator[pd.Series]:
        for cid, sr, dur, codec in it:
            d0 = zorder.normalize_to_grid(
                zorder.string_to_u64(cid.to_numpy()),
                bounds["clip_id_lo"],
                bounds["clip_id_hi"],
            )
            d1 = zorder.normalize_to_grid(sr.to_numpy(), bounds["sr_lo"], bounds["sr_hi"])
            d2 = zorder.normalize_to_grid(dur.to_numpy(), bounds["dur_lo"], bounds["dur_hi"])
            d3 = zorder.normalize_to_grid(codec_rank_array(codec, codecs), 0, chi)
            if curve == "hilbert":
                z = zorder.hilbert4(np.stack([d0, d1, d2, d3], axis=1))
            else:
                z = zorder.morton4(d0, d1, d2, d3)
            yield pd.Series(z)

    return key


#: boundaries per bucket sampled for range planning
SAMPLES_PER_BUCKET = 200
#: above this expected sample size the boundary pick runs distributed
#: (tests force 0 to exercise the hierarchical path)
DRIVER_SAMPLE_MAX = 1_000_000
#: above this many boundaries the per-row bucket assignment switches
#: from the codegen fold (O(n_boundaries) per row) to a vectorized
#: searchsorted pandas UDF (O(log n) per row)
BUCKET_FOLD_MAX = 512


def _bucket_fold_expr(boundaries: list, key_col: str):
    """bucket = #boundaries strictly below the key — a JVM-side fold
    over a literal array; stays inside whole-stage codegen. Works for
    int curve keys and raw string keys (linear layout) alike."""
    arr = F.array(*[F.lit(b) for b in boundaries])
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, b: acc + F.when(F.col(key_col) > b, F.lit(1)).otherwise(F.lit(0)),
    )


def _bucket_expr(boundaries: list, key_col: str = "_zval"):
    """Range-bucket assignment for a sorted boundary list. Small lists
    use the codegen fold (no Python in the hot path); past
    BUCKET_FOLD_MAX the fold's O(n_boundaries)-per-row literal plan
    stops scaling (10^5 output files ⇒ 10^5 comparisons per row and a
    plan-embedded literal of that size), so the assignment moves to a
    vectorized numpy searchsorted over an Arrow batch — O(log n) per
    row, boundaries shipped once per worker in the closure."""
    if len(boundaries) <= BUCKET_FOLD_MAX:
        return _bucket_fold_expr(boundaries, key_col)
    barr = np.array(boundaries, dtype=object)

    @F.pandas_udf(T.IntegerType())
    def assign(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            v = s.to_numpy(dtype=object)
            yield pd.Series(np.searchsorted(barr, v, side="left")).astype("int32")

    return assign(F.col(key_col))


def _range_boundaries(df, key_col: str, n_out: int, rows_total: int) -> list:
    """Range boundaries for ``n_out`` buckets over ``df[key_col]``.
    Callers pass a frame already reduced to a ~SAMPLES_PER_BUCKET·n_out
    row sample via ``_sampled`` (sampling happens BELOW the key
    expression, so an expensive key UDF only evaluates sampled rows).

    Two paths by expected sample size:
    - driver path: collect the sampled keys, sort, stride-pick — fine
      up to ~10^6 samples (≈5·10^3 output files);
    - distributed path (hierarchical): range-shuffle the sampled keys
      with Spark's own range sampler (repartitionByRange) and take each
      range's minimum as a boundary — only O(n_out) boundary values
      ever reach the driver, so ``linear`` clustering works past 10^5
      output files.

    Works for numeric curve keys and raw strings alike (approxQuantile
    is numeric-only and a fixed-width u64 string prefix is degenerate
    under long shared prefixes — stride-picking actual values is not).
    Returned list may contain duplicates under hot keys; callers dedupe
    and use the collapse count for skew salting."""
    if n_out <= 1:
        return []
    if n_out * SAMPLES_PER_BUCKET <= DRIVER_SAMPLE_MAX:
        # Arrow transfer (toPandas) instead of the py4j row collect —
        # same values, several times faster for the ~200·n_out sample
        # (guide §6 "Arrow for driver transfers")
        vals = sorted(df.select(key_col).toPandas()[key_col].tolist())
        if not vals:
            return []
        return [vals[(len(vals) * i) // n_out] for i in range(1, n_out)]
    mins = (
        df.select(key_col)
        .repartitionByRange(n_out, F.col(key_col))
        .groupBy(F.spark_partition_id().alias("_pid"))
        .agg(F.min(key_col).alias("_lo"))
        .collect()
    )
    lows = [r["_lo"] for r in sorted(mins, key=lambda r: r["_pid"])]
    return lows[1:]  # the first range's min is the global min, not a boundary


def _sampled(df, n_out: int, rows_total: int):
    """Pre-key sampling for the boundary pass: the expensive key
    expression (curve UDF) downstream only ever sees ~200·n_out rows,
    so the planning pass costs O(sample), not O(table)."""
    frac = min(1.0, (n_out * SAMPLES_PER_BUCKET) / max(rows_total, 1))
    return df if frac >= 1.0 else df.sample(fraction=frac, seed=7)


@dataclass
class _Layout:
    """A planned range-bucket layout: sorted ``boundaries`` over the
    layout key, which is the curve key ``_zval`` (the Column ``zval``)
    or, for ``linear``, clip_id itself (``zval`` None)."""

    boundaries: list
    zval: Column | None
    codec_ranks: list | None

    @property
    def sort_cols(self) -> list[str]:
        """The in-bucket row order."""
        return ["clip_id"] if self.zval is None else ["_zval", "clip_id"]

    def bucket(self) -> Column:
        """The range-bucket id of a row of a ``keyed`` frame."""
        if not self.boundaries:
            return F.lit(0)
        return _bucket_expr(self.boundaries, "clip_id" if self.zval is None else "_zval")

    def keyed(self, df):
        """``df`` with the layout key attached (curve layouts)."""
        return df if self.zval is None else df.withColumn("_zval", self.zval)


def _plan_layout(
    table: Table, base: Snapshot, src, curve: str, n_out: int, rows_total: int
) -> _Layout:
    """Range boundaries for ``n_out`` buckets from a SAMPLE of the key
    columns of ``src`` only — the payload is never read (column
    pruning) and the curve key only ever evaluates ~200·n_out sampled
    rows, so its full-data evaluation happens exactly once (in the
    rewrite). ``linear`` buckets directly on the clip_id string (no
    curve key, no dimension_bounds); curve layouts normalize from the
    full manifest's bounds at ``base`` (metadata-only), so curve keys
    stay comparable across clustering generations."""
    if curve == "linear":
        sample = _sampled(src.select("clip_id"), n_out, rows_total)
        raw_q = _range_boundaries(sample, "clip_id", n_out, rows_total)
        return _Layout(sorted(set(raw_q)), None, None)
    bounds = dimension_bounds(table, base)
    zval = curve_key_col(bounds, curve)
    sample = _sampled(src.select(*CLUSTER_DIMS), n_out, rows_total)
    raw_q = _range_boundaries(sample.withColumn("_zval", zval), "_zval", n_out, rows_total)
    return _Layout(sorted(set(int(b) for b in raw_q)), zval, bounds["codec_ranks"])


def cluster(
    table: Table,
    curve: str = "zorder",
    target_bytes: int = 128 * 1024 * 1024,
    job_id: str | None = None,
    salt_buckets: int | None = None,
) -> Snapshot:
    """Full clustering rewrite of the current snapshot.

    ``salt_buckets``: None = AUTO — salting engages when the quantile
    boundaries collapse (duplicate boundary values are the signature of
    a degenerate hot key: one curve value holds more than a bucket's
    worth of rows, and no range split can divide it). 0 = off, N>1 =
    forced salt factor."""
    assert curve in ("zorder", "hilbert", "linear")
    rw = Rewrite(table, job_id, f"cluster-{curve}")
    if rw.committed is not None:
        return rw.committed
    base = rw.base
    entries = table.data_entries(base)
    dels = table.delete_entries(base)
    if not entries:
        raise ValueError("cannot cluster an empty table")
    total_bytes = sum(e["byte_size"] for e in entries)
    n_out = max(1, -(-total_bytes // target_bytes))

    # the read is pinned to ``base``: a file committed meanwhile must
    # neither feed the rewrite (its rows would be duplicated) nor the
    # plan. It applies the outstanding MOR deletes, and removing the
    # delete files too materializes them.
    src = rw.read([e["file_path"] for e in entries])

    # pass 1 (planning): sampled range boundaries (_plan_layout)
    rows_total = sum(e["row_count"] for e in entries)
    layout = _plan_layout(table, base, src, curve, n_out, rows_total)
    boundaries = layout.boundaries

    # AUTO skew salting: collapsed boundaries mean one key value owns
    # more than a bucket's worth of rows — range splitting cannot
    # divide it, so that bucket (and its single write task) would
    # absorb the whole hot key. Salt by the collapse factor: the hot
    # bucket fans out over `salt` hash sub-buckets of clip_id,
    # restoring bounded task/file sizes at the cost of curve-order
    # granularity within the salted bucket.
    effective_salt = 0 if salt_buckets is None else salt_buckets
    if salt_buckets is None and n_out > 1:
        collapsed = (n_out - 1) - len(boundaries)
        if collapsed > max(1, n_out // 10):
            effective_salt = max(2, -(-n_out // (len(boundaries) + 1)))

    # pass 2: the rewrite shuffle (internal columns — the per-row _crc —
    # ride the rewrite so the clustered files keep their integrity
    # column without touching the payload)
    df = layout.keyed(src)
    bucket = layout.bucket()
    if effective_salt > 1:
        # spread each range bucket over hash sub-buckets of clip_id
        bucket = bucket * effective_salt + F.pmod(
            F.hash("clip_id"), F.lit(effective_salt)
        )
    df = df.withColumn("_bucket", bucket)

    n_parts = (len(boundaries) + 1) * max(effective_salt, 1)
    summary = {
        "curve": curve,
        "salt_buckets": effective_salt,
        "deletes_materialized": len(dels),
    }
    if layout.codec_ranks is not None:
        summary["cluster_codec_ranks"] = layout.codec_ranks
    return _write_clustered(
        rw, df, n_parts, layout.sort_cols, entries + dels, total_bytes, summary
    )


def _write_clustered(
    rw: Rewrite, df, n_parts, sort_cols, removed_entries, bytes_in, summary
) -> Snapshot:
    """Shared rewrite tail: bucket-shuffled sorted write and promote
    (one file per bucket) → per-partition lineage → snapshot commit."""
    added = rw.table.write_datafiles(
        df.repartition(n_parts, F.col("_bucket")),
        rw.job_id,
        sort_within=sort_cols,
        file_col="_bucket",
        sort_only=("_zval",),
    )
    rw.log.record_outputs(added, [e["file_path"] for e in removed_entries], bytes_in)
    return rw.commit("cluster", added, {**summary, "output_files": added.num_rows})


def cluster_incremental(
    table: Table,
    curve: str = "zorder",
    target_bytes: int = 128 * 1024 * 1024,
    job_id: str | None = None,
) -> Snapshot:
    """Cluster ONLY the files added since the last cluster snapshot —
    the 100 TB maintenance cadence: a full-table recluster rewrites
    everything on every run, while steady-state churn is appends and
    merges touching a small fraction. Iceberg's rewrite-data-files
    "sort" strategy with a dirty-file filter is the same idea.

    Semantics: every OUTPUT file of this job is internally curve-sorted
    with tight key ranges (restoring manifest-stats pruning quality for
    the new data); files already clustered by the previous cluster job
    are not touched, so the rewrite cost is O(churn), not O(table).
    The global file-name order == curve order invariant of a FULL
    cluster() holds per clustering generation, not across them — the
    trade that makes the incremental cadence affordable.

    Falls back to a full cluster() when the table has never been
    clustered. No-op (returns the current snapshot) when no files were
    added since the last cluster."""
    assert curve in ("zorder", "hilbert", "linear")
    rw = Rewrite(table, job_id, f"cluster-inc-{curve}")
    if rw.committed is not None:
        return rw.committed
    base = rw.base
    # the marker (carried in every summary, expire-pinned) is the
    # primary lookup — the chain walk is only a fallback for tables
    # whose history predates the marker
    last_cluster_id = None
    if base is not None:
        lc = base.summary.get("last_cluster_snapshot_id")
        if lc is not None and lc in table.snapshot_ids():
            last_cluster_id = lc
    if last_cluster_id is None:
        last_cluster_id = next(
            (
                s["snapshot_id"]
                for s in reversed(table.lineage_chain())
                if s["operation"] == "cluster"
            ),
            None,
        )
    if last_cluster_id is None:
        return cluster(table, curve=curve, target_bytes=target_bytes, job_id=job_id)

    prev_live = set(table.live_files(table.snapshot(last_cluster_id)))
    entries = [
        e
        for e in table.data_entries(base)
        if e["file_path"] not in prev_live
    ]
    if not entries:
        return base
    new_bytes = sum(e["byte_size"] for e in entries)
    n_out = max(1, -(-new_bytes // target_bytes))

    # sampled keys-only boundary pass over the NEW files only
    rows_total = sum(e["row_count"] for e in entries)
    # the churn read applies the outstanding deletes to the rewritten
    # subset and pins the applied set (Rewrite.read)
    new_df = rw.read([e["file_path"] for e in entries])
    layout = _plan_layout(table, base, new_df, curve, n_out, rows_total)
    df = layout.keyed(new_df).withColumn("_bucket", layout.bucket())

    summary = {
        "curve": curve,
        "mode": "incremental",
        "rewritten_bytes": new_bytes,
        "untouched_files": len(prev_live & set(table.live_files(base))),
    }
    if layout.codec_ranks is not None:
        summary["cluster_codec_ranks"] = layout.codec_ranks
    return _write_clustered(
        rw, df, len(layout.boundaries) + 1, layout.sort_cols, entries, new_bytes, summary
    )

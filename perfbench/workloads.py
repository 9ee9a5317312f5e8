"""The three workloads. Each is one closed-loop client: the next
operation is issued only after the previous one returned.

A workload object is built once per run and used as:

    wl.setup(work_dir)      # repeated ``SETUP_REPS`` times; timed as set-up
    wl.warm()               # optional, untimed first use; counted in set-up
    wl.run(deadline)        # untraced: repeat work until ``deadline``
    wl.run_traced()         # traced: a fixed amount of work, so counts repeat
    wl.end_to_end()         # metrics of the untraced run
    wl.layer                # workload-computed per-layer metrics (traced run)

Correctness is checked inside ``run``/``run_traced`` against pandas or
DuckDB models captured in set-up; a wrong result counts as a failed
operation.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import statistics
import sys
import time
import traceback
import zlib
from collections import Counter

import numpy as np
from pyspark.sql import functions as F

from fupi_spark import meta
from fupi_spark.bloom import point_lookup, refresh_bloom_index
from fupi_spark.cluster import cluster, cluster_incremental
from fupi_spark.compact import compact
from fupi_spark.expire import expire_snapshots
from fupi_spark.integrity import verify_table, with_crc
from fupi_spark.merge import delete_keys_mor, merge_into
from fupi_spark.synth import synth_clips

from metrics import HEADLINE
from tracing import CountingStorage, instrument, uninstrument

PAYLOAD_COLS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Workload:
    """Shared plumbing: failure accounting, timing, traced toggling."""

    #: set-up repetitions per run (``setup_s`` takes their median); more
    #: only where set-up is cheap, since every run pays all of them
    SETUP_REPS = 1

    def __init__(self, spark, seed: int, tracer, traced_run: bool):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.traced_run = traced_run
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        # per operation kind: wall seconds with tracing on / off (the
        # traced run alternates, to report tracing overhead)
        self._overhead: dict[str, tuple[list, list]] = {}
        self._undo = None

    def storage(self, root: str):
        """Counting storage in traced runs (it records only while tracing
        is on); the engine's default storage otherwise."""
        return CountingStorage(root, self.tracer) if self.traced_run else None

    def attempt(self, kind: str, fn, *args):
        """Run one operation; returns (ok, result, seconds). An exception
        is a failed operation and is logged, never raised."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(*args)
            return True, out, time.perf_counter() - t
        except Exception:  # noqa: BLE001 - the benchmark must keep running
            self.failed += 1
            log(f"[perfbench] {kind} failed:\n{traceback.format_exc()}")
            return False, None, time.perf_counter() - t

    def wrong(self, what: str) -> None:
        self.failed += 1
        log(f"[perfbench] wrong result: {what}")

    # -- traced-run helpers ------------------------------------------------------
    def set_tracing(self, on: bool) -> None:
        """Toggle span/count recording and the engine wrappers."""
        if on and self._undo is None:
            self._undo = instrument(self.tracer)
        elif not on and self._undo is not None:
            uninstrument(self._undo)
            self._undo = None
        self.tracer.enabled = on

    def note_overhead(self, kind: str, traced: bool, seconds: float) -> None:
        self._overhead.setdefault(kind, ([], []))[0 if traced else 1].append(seconds)

    def overhead_pct(self) -> float:
        ratios = [
            statistics.median(on) / statistics.median(off)
            for on, off in self._overhead.values()
            if on and off
        ]
        return 100.0 * (statistics.median(ratios) - 1.0) if ratios else 0.0

    def table_space(self, t) -> tuple[int, int]:
        """(bytes under the table root, live data-file bytes)."""
        total = 0
        for d, _dirs, files in os.walk(t.root):
            total += sum(os.path.getsize(f"{d}/{f}") for f in files)
        live = sum(e["byte_size"] for e in t.data_entries())
        return total, live

    @staticmethod
    def files_per_range_probe(t, probes) -> float:
        """Mean number of live files whose manifest (sr_hz, dur_ms)
        min/max box overlaps each probe box."""
        es = t.data_entries()
        hits = [
            sum(
                1
                for e in es
                if e["min_sr_hz"] <= s_hi
                and e["max_sr_hz"] >= s_lo
                and e["min_dur_ms"] <= d_hi
                and e["max_dur_ms"] >= d_lo
            )
            for s_lo, s_hi, d_lo, d_hi in probes
        ]
        return float(np.mean(hits))

    def range_probes(self, dur_lo: int, dur_hi: int, n: int = 8):
        srs = [8000, 16000, 22050, 44100, 48000]
        out = []
        for _ in range(n):
            s = int(self.rng.integers(0, len(srs)))
            d = int(self.rng.integers(dur_lo, dur_hi))
            out.append((srs[s], srs[s], d, d + max(1, (dur_hi - dur_lo) // 10)))
        return out


def _entries_by_path(t) -> dict[str, dict]:
    return {e["file_path"]: e for e in t.data_entries()}


class BulkCycle(Workload):
    """One full maintenance cycle on a fresh table per repetition."""

    N_CLIPS = 2000
    DUR_MS = (100, 500)
    N_SMALL_FILES = 256
    N_TARGET_FILES = 64
    UPSERT_FRAC = 0.01

    def setup(self, work: str) -> None:
        self.work = work
        self.main = self._inputs(f"{work}/src", self.N_CLIPS, self.seed)
        self.probes = self.range_probes(*self.DUR_MS)
        self.cycles: list[float] = []
        self.step_ms: list[float] = []
        self.space: tuple[int, int] | None = None
        self._n = 0

    def _inputs(self, path: str, n: int, seed: int) -> dict:
        """Write the synthetic source and capture its pandas model."""
        synth_clips(self.spark, n, seed=seed, dur_range_ms=self.DUR_MS, parts=8).write.mode(
            "overwrite"
        ).parquet(path)
        model = self.spark.read.parquet(path).select("clip_id", "transcript").toPandas()
        keys = sorted(model["clip_id"])
        n_up = max(1, int(len(keys) * self.UPSERT_FRAC))
        upsert = sorted(self.rng.choice(keys, n_up, replace=False).tolist())
        up = set(upsert)
        expected = Counter(
            (c, t + " v2" if c in up else t) for c, t in zip(model["clip_id"], model["transcript"])
        )
        return {"src": path, "n": n, "upsert_keys": upsert, "expected": expected}

    def _cycle(self, inputs: dict, traced: bool) -> None:
        """Run the six steps on a fresh table, then check the result."""
        tr = self.tracer
        self._n += 1
        root = f"{self.work}/t{self._n}"
        t = meta.create_table(self.spark, root, storage=self.storage(root))
        src = self.spark.read.parquet(inputs["src"])
        tb = sum(f.stat().st_size for f in os.scandir(inputs["src"]) if f.name.endswith(".parquet"))
        target = max(tb // self.N_TARGET_FILES, 1 << 16)
        upd = src.filter(F.col("clip_id").isin(inputs["upsert_keys"])).withColumn(
            "transcript", F.concat(F.col("transcript"), F.lit(" v2"))
        )
        steps = [
            ("meta.append", lambda: meta.append(t, src, job_id="seed", parts=self.N_SMALL_FILES)),
            ("compact", lambda: compact(t, target_bytes=target)),
            ("cluster", lambda: cluster(t, curve="zorder", target_bytes=target)),
            ("merge", lambda: merge_into(t, upd, job_id="upsert")),
            ("integrity.verify", lambda: self._verify(t)),
            ("expire", lambda: expire_snapshots(t, retain_last=2)),
        ]
        wall = 0.0
        for name, fn in steps:
            before = _entries_by_path(t) if traced else None
            with tr.op(name):
                ok, out, dt = self.attempt(name, fn)
            wall += dt
            self.note_overhead(name, traced, dt)
            if not traced:
                self.step_ms.append(dt * 1000)
                log(f"[perfbench] step {name} {dt:.2f}s")
            if not ok:
                return
            if traced:
                self._count_step(name, t, before, out, inputs)
        if not traced:
            self.cycles.append(inputs["n"] / wall)
        if self._verified[1] != 0:
            self.wrong(f"verify_table reported {self._verified[1]} bad rows")
        got = Counter(
            (r[0], r[1]) for r in t.scan().select("clip_id", "transcript").collect()
        )
        if got != inputs["expected"]:
            self.wrong("bulk_cycle (clip_id, transcript) multiset differs from the model")
        missing = [p for p in t.live_files() if not os.path.exists(f"{root}/{p}")]
        if missing:
            self.wrong(f"{len(missing)} live manifest files missing, e.g. {missing[0]}")
        self.space = self.table_space(t)
        if self._n > 1:
            shutil.rmtree(f"{self.work}/t{self._n - 1}", ignore_errors=True)

    def _verify(self, t) -> None:
        v = verify_table(t, sample_mod=20)
        bad = (~F.col("pcm_ok") | ~F.col("crc_ok")).cast("int")
        r = v.agg(F.count(F.lit(1)), F.coalesce(F.sum(bad), F.lit(0))).collect()[0]
        self._verified = (int(r[0]), int(r[1]))

    def _count_step(self, name: str, t, before: dict, out, inputs: dict) -> None:
        add = self.tracer.add
        after = _entries_by_path(t)
        removed = [e for p, e in before.items() if p not in after]
        added = [e for p, e in after.items() if p not in before]
        if name == "compact":
            add("compact.files_in", len(removed))
            add("compact.files_out", len(added))
            add("compact.bytes_rewritten", sum(e["byte_size"] for e in removed))
        elif name == "cluster":
            self.layer["cluster.files_per_range_probe"] = self.files_per_range_probe(
                t, self.probes
            )
        elif name == "merge":
            add("merge.files_touched", len(removed))
            rows = sum(e["row_count"] for e in added)
            self.layer["merge.rows_rewritten_per_row_changed"] = rows / len(inputs["upsert_keys"])
        elif name == "integrity.verify":
            add("integrity.rows_decoded", self._verified[0])
        elif name == "expire":
            add("expire.files_deleted", len(out["deleted_files"]))
            add("expire.snapshots_expired", len(out["expired_snapshots"]))

    def run(self, deadline: float) -> None:
        while time.perf_counter() < deadline or not self.cycles:
            before = self.failed
            self._cycle(self.main, traced=False)
            if self.failed > before and not self.cycles:
                break

    def run_traced(self) -> None:
        # cycle 1 warms up; cycles 2 (traced) and 3 (untraced) give the
        # tracing overhead
        self._cycle(self.main, traced=False)
        self._overhead.clear()
        self.set_tracing(True)
        self._cycle(self.main, traced=True)
        self.set_tracing(False)
        space = self.space
        self._cycle(self.main, traced=False)
        self.layer["expire.space_amp"] = space[0] / space[1]
        self._controls()
        self.layer["trace.overhead_pct"] = self.overhead_pct()

    def _controls(self) -> None:
        """Ceilings for ingest and rewrites over the same source bytes."""
        spark, src = self.spark, self.main["src"]

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        jobs = [
            ("ctl.read_noop_s", lambda: noop(spark.read.parquet(src))),
            ("ctl.crc_noop_s", lambda: noop(with_crc(spark.read.parquet(src)))),
            (
                "ctl.write_s",
                lambda: with_crc(spark.read.parquet(src))
                .write.mode("overwrite")
                .parquet(f"{self.work}/ctl_write"),
            ),
            (
                "ctl.bare_io_s",
                lambda: spark.read.parquet(src)
                .repartition(self.N_TARGET_FILES)
                .write.mode("overwrite")
                .parquet(f"{self.work}/ctl_io"),
            ),
        ]
        for name, fn in jobs:
            t0 = time.perf_counter()
            fn()
            self.layer[name] = time.perf_counter() - t0

    def end_to_end(self) -> dict:
        return {
            "throughput_per_s": statistics.median(self.cycles),
            "op_p50_ms": statistics.median(self.step_ms),
        }

    def report(self) -> str:
        total, live = self.space
        return (
            f"cycles n={len(self.cycles)} clips/s={[round(c, 1) for c in self.cycles]}; "
            f"steps n={len(self.step_ms)} p50={statistics.median(self.step_ms):.1f}ms; "
            f"space_amp={total / live:.3f}"
        )


class TrickleOps(Workload):
    """Small commits and point lookups against a clustered, bloom-indexed
    base table, with a maintenance step after every ``PATTERN`` period."""

    N_BASE = 2000
    N_POOL = 1000
    DUR_MS = (20, 60)
    APPEND_N = 20
    UPSERT_N = 10
    DELETE_N = 3
    # one period: a fixed pattern of foreground operations, then the
    # maintenance step; the seed picks keys, never the mix, so every
    # seed runs the same operation composition
    PATTERN = (
        "append", "lookup", "delete", "lookup", "upsert",
        "lookup", "append", "lookup", "delete", "lookup",
    )
    TRACED_PERIODS = 2

    def setup(self, work: str) -> None:
        self.work = work
        spark = self.spark
        self.src = f"{work}/src"
        clips = synth_clips(
            spark, self.N_BASE + self.N_POOL, seed=self.seed, dur_range_ms=self.DUR_MS, parts=8
        ).withColumn("_seq", F.substring_index("clip_id", "_", -1).cast("long"))
        clips.write.mode("overwrite").parquet(self.src)
        src = spark.read.parquet(self.src)
        pdf = src.select(*PAYLOAD_COLS, F.crc32("bytes").alias("crc"), "_seq").toPandas()
        pdf = pdf.sort_values("_seq")
        self.rows = {
            r.clip_id: (r.clip_id, int(r.sr_hz), int(r.dur_ms), r.codec, r.transcript, int(r.crc))
            for r in pdf.itertuples()
        }
        self.pool_keys = pdf["clip_id"].tolist()[self.N_BASE :]
        root = f"{work}/table"
        shutil.rmtree(root, ignore_errors=True)
        t = meta.create_table(spark, root, storage=self.storage(root))
        meta.append(t, src.filter(F.col("_seq") < self.N_BASE).drop("_seq"), parts=8)
        cluster(t, curve="zorder", target_bytes=1 << 20)
        refresh_bloom_index(t, "clip_id")
        self.table = t
        self.live = set(pdf["clip_id"].tolist()[: self.N_BASE])
        self.model = {k: self.rows[k] for k in self.live}
        self.deleted: list[str] = []
        self.next_pool = 0
        self.writes: list[float] = []
        self.lookups: list[float] = []
        self.op_wall = 0.0
        self.done = 0
        self.n_ops = 0
        self.files_read: list[int] = []
        self.probes = self.range_probes(*self.DUR_MS)
        self._live_sorted = sorted(self.live)

    # -- one operation ---------------------------------------------------------
    def _pick_live(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self._live_sorted), n, replace=False)
        return sorted(self._live_sorted[i] for i in idx)

    def warm(self) -> None:
        """One untimed lookup on the base table: the first point lookup
        pays the index read and scan-planning start-up (the base-table
        build already ran append and cluster once)."""
        self._op("lookup", traced=False, record=False)
        self.op_wall, self.done = 0.0, 0

    def _op(self, kind: str, traced: bool, record: bool = True) -> None:
        t, spark, tr = self.table, self.spark, self.tracer
        if kind == "append" and self.next_pool + self.APPEND_N > len(self.pool_keys):
            kind = "lookup"
        self.n_ops += 1
        opno = self.n_ops
        src = spark.read.parquet(self.src)
        if kind == "append":
            keys = self.pool_keys[self.next_pool : self.next_pool + self.APPEND_N]
            self.next_pool += self.APPEND_N
            lo = self.N_BASE + self.next_pool - self.APPEND_N
            df = src.filter((F.col("_seq") >= lo) & (F.col("_seq") < lo + self.APPEND_N))
            with tr.op("meta.append"):
                ok, _, dt = self.attempt(kind, meta.append, t, df.drop("_seq").coalesce(1))
            if ok:
                for k in keys:
                    self.model[k] = self.rows[k]
                    self.live.add(k)
        elif kind == "upsert":
            keys = self._pick_live(self.UPSERT_N)
            text = f"upsert {opno}"
            df = (
                src.filter(F.col("clip_id").isin(keys))
                .drop("_seq")
                .withColumn("transcript", F.lit(text))
            )
            with tr.op("merge"):
                ok, _, dt = self.attempt(kind, merge_into, t, df)
            if ok:
                for k in keys:
                    self.model[k] = self.model[k][:4] + (text,) + self.model[k][5:]
        elif kind == "delete":
            keys = self._pick_live(self.DELETE_N)
            df = spark.createDataFrame([(k,) for k in keys], "clip_id string")
            with tr.op("merge.delete_mor"):
                ok, _, dt = self.attempt(kind, delete_keys_mor, t, df)
            if ok:
                for k in keys:
                    del self.model[k]
                    self.live.discard(k)
                    self.deleted.append(k)
        else:
            if self.deleted and self.rng.random() < 0.2:
                key = self.deleted[int(self.rng.integers(0, len(self.deleted)))]
            else:
                key = self._pick_live(1)[0]
            with tr.op("bloom.lookup"):
                ok, out, dt = self.attempt(kind, self._lookup, key)
            if ok:
                rows, files_read = out
                if traced:
                    self.files_read.append(files_read)
                want = [self.model[key]] if key in self.model else []
                if rows != want:
                    self.wrong(f"lookup {key}: {rows} != model {want}")
        self._live_sorted = sorted(self.live)
        self.op_wall += dt
        self.done += 1
        self.note_overhead(kind, traced, dt)
        if record and not traced:
            (self.lookups if kind == "lookup" else self.writes).append(dt * 1000)

    def _lookup(self, key: str):
        df, files_read, _total = point_lookup(self.table, "clip_id", key)
        rows = sorted(
            (r.clip_id, r.sr_hz, r.dur_ms, r.codec, r.transcript, zlib.crc32(r.bytes))
            for r in df.collect()
        )
        return rows, files_read

    def _maintain(self, traced: bool) -> None:
        t, tr = self.table, self.tracer
        steps = [
            ("cluster", lambda: cluster_incremental(t, curve="zorder", target_bytes=1 << 20)),
            ("compact", lambda: compact(t, target_bytes=1 << 20)),
            ("bloom.refresh", lambda: refresh_bloom_index(t, "clip_id")),
            ("expire", lambda: expire_snapshots(t, retain_last=2)),
        ]
        for name, fn in steps:
            with tr.op(name):
                ok, out, dt = self.attempt(name, fn)
            self.op_wall += dt
            self.done += 1
            self.note_overhead(name, traced, dt)
            if ok and traced and name == "expire":
                tr.add("expire.files_deleted", len(out["deleted_files"]))
                tr.add("expire.snapshots_expired", len(out["expired_snapshots"]))

    def run(self, deadline: float) -> None:
        while True:
            for kind in self.PATTERN:
                self._op(kind, traced=False)
            self._maintain(traced=False)
            if time.perf_counter() >= deadline:
                break

    def run_traced(self) -> None:
        # trace every second operation of each kind: counts come from
        # the traced half; the untraced half gives the tracing overhead
        seen: Counter = Counter()
        self._overhead.clear()
        for _ in range(self.TRACED_PERIODS):
            for kind in self.PATTERN:
                seen[kind] += 1
                on = seen[kind] % 2 == 0
                self.set_tracing(on)
                self._op(kind, traced=on)
            self.set_tracing(True)
            self._maintain(traced=True)
        self.set_tracing(False)
        self.layer["bloom.files_read_per_lookup"] = (
            float(np.mean(self.files_read)) if self.files_read else 0.0
        )
        self.layer["cluster.files_per_range_probe"] = self.files_per_range_probe(
            self.table, self.probes
        )
        self.layer["expire.space_amp"] = self.space_amp()
        self.layer["trace.overhead_pct"] = self.overhead_pct()

    def end_to_end(self) -> dict:
        return {
            "throughput_per_s": self.done / self.op_wall,
            "op_p50_ms": statistics.median(self.writes + self.lookups),
        }

    def report(self) -> str:
        w, r = self.writes, self.lookups
        return (
            f"writes n={len(w)} p50={pct(w, 50):.1f}ms p90={pct(w, 90):.1f}ms; "
            f"lookups n={len(r)} p50={pct(r, 50):.1f}ms p90={pct(r, 90):.1f}ms; "
            f"space_amp={self.space_amp():.3f}"
        )

    def space_amp(self) -> float:
        total, live = self.table_space(self.table)
        return total / live


def _norm(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) with columns taken by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(("\x1e".join(sorted(columns)) + "\x1d" + "\x1e".join(lines)).encode())
    return len(lines), h.hexdigest()


class SearchQueries(Workload):
    """The eight headline queries over seeded sf0.1-sized tables."""

    SETUP_REPS = 2

    TRACED_PASSES = 4

    def setup(self, work: str) -> None:
        import duckdb

        import datagen
        from fupi_spark import queries as Q

        self.Q = Q
        self.sf = f"{work}/sf"
        datagen.write_tables(self.sf, self.seed)
        con = duckdb.connect()
        try:
            for name in datagen.ROWS:
                con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.sf}/{name}.parquet')"
                )
            self.oracle = {}
            for name in HEADLINE:
                res = con.execute(Q.ORACLE[name])
                cols = [d[0] for d in res.description]
                self.oracle[name] = result_digest(cols, res.fetchall())
        finally:
            con.close()
        self.lat: dict[str, list[float]] = {n: [] for n in HEADLINE}
        self.plan_s = 0.0
        self.exec_s = 0.0
        self.n_done = 0

    def warm(self) -> None:
        """One untimed pass: first-execution class loading and codegen."""
        for name in HEADLINE:
            self._query(name, record=False, traced=False)

    def _query(self, name: str, record: bool, traced: bool) -> None:
        tr = self.tracer

        def go():
            t0 = time.perf_counter()
            df = self.Q.QUERIES[name](self.spark, self.sf)
            t1 = time.perf_counter()
            rows = df.collect()
            return df.columns, rows, t1 - t0, time.perf_counter() - t1

        with tr.op("queries"):
            ok, out, dt = self.attempt(name, go)
        if not ok:
            return
        cols, rows, plan, ex = out
        if result_digest(cols, rows) != self.oracle[name]:
            self.wrong(f"{name}: result differs from the DuckDB oracle")
        if record:
            self.lat[name].append(dt * 1000)
            self.n_done += 1
            self.plan_s += plan
            self.exec_s += ex
        self.note_overhead(name, traced, dt)

    def run(self, deadline: float) -> None:
        while time.perf_counter() < deadline or self.n_done < len(HEADLINE):
            for name in HEADLINE:
                self._query(name, record=True, traced=False)

    def run_traced(self) -> None:
        # every query runs traced and untraced equally often, in
        # alternating order, so warm-up does not bias the overhead
        for p in range(self.TRACED_PASSES):
            for i, name in enumerate(HEADLINE):
                on = (p + i) % 2 == 1
                self.set_tracing(on)
                self._query(name, record=on, traced=on)
        self.set_tracing(False)
        for name in HEADLINE:
            self.layer[f"queries.{name}_ms"] = statistics.median(self.lat[name])
        self.layer["queries.plan_s"] = self.plan_s
        self.layer["queries.exec_s"] = self.exec_s
        self.layer["trace.overhead_pct"] = self.overhead_pct()

    def end_to_end(self) -> dict:
        all_ms = [x for v in self.lat.values() for x in v]
        return {
            "throughput_per_s": len(all_ms) / (sum(all_ms) / 1000),
            "op_p50_ms": statistics.median(all_ms),
        }

    def report(self) -> str:
        all_ms = [x for v in self.lat.values() for x in v]
        return f"queries n={len(all_ms)} p50={pct(all_ms, 50):.1f}ms p90={pct(all_ms, 90):.1f}ms"


WORKLOADS = {
    "bulk_cycle": BulkCycle,
    "trickle_ops": TrickleOps,
    "search_queries": SearchQueries,
}

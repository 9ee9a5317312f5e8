"""Randomized maintenance-op sequences vs a pandas model of table
content — the whole engine (append / compact / cluster / merge-update /
merge-delete / mor-delete / consolidate-deletes / expire / rollback)
must preserve or transform the row
multiset exactly as the model does, with every live file present after
every step, every committed job's lineage units accounting for
exactly the files its commit swapped, and every file a commit added
carrying exactly its own stats. Every sequence ends with a compaction;
its targets are drawn below the table's size too, and the table is
large enough that a bin can span compaction's scan tasks (a split bin:
several output files)."""

from __future__ import annotations

import json
import os
import random

import pandas as pd
import pytest

from fupi_spark import meta
from fupi_spark.cluster import cluster
from fupi_spark.compact import compact
from fupi_spark.expire import expire_snapshots
from fupi_spark.merge import merge_into
from fupi_spark.synth import synth_clips

from .test_integrity import assert_stats_exact

COLS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]


def _content(t) -> pd.DataFrame:
    return (
        t.scan().select(*COLS).toPandas().sort_values("clip_id").reset_index(drop=True)
    )


def _check_lineage(t, head) -> None:
    """When the head snapshot's job wrote unit records, their ids are
    0..n-1, their files_out are exactly the files the commit added
    against its parent and their files_in exactly the files it
    removed."""
    job = head.summary.get("job_id")
    rels = t.storage.list(f"_lineage/{job}") if job else []
    units = [json.loads(t.storage.read(r)) for r in rels if r.endswith(".json")]
    if not units:
        return
    parent = set(t.live_files(t.snapshot(head.parent_id)))
    live = set(t.live_files(head))
    assert sorted(u["unit_id"] for u in units) == list(range(len(units)))
    assert {p for u in units for p in u["files_out"]} == live - parent, job
    assert {p for u in units for p in u["files_in"]} == parent - live, job


@pytest.mark.parametrize("seed", [11, 23, 37, 47])
def test_random_op_sequence_matches_model(spark, tmp_table_dir, seed):
    rng = random.Random(seed)
    t = meta.create_table(spark, f"{tmp_table_dir}-{seed}")
    model = pd.DataFrame(columns=COLS)
    history: list[tuple[int, pd.DataFrame]] = []
    batch_no = 0

    def append_batch():
        nonlocal model, batch_no
        batch_no += 1
        n = rng.randint(30, 80)
        # ~1 s clips: two batches pass compaction's 4 MB scan split
        df = synth_clips(spark, n, seed=seed * 100 + batch_no, dur_range_ms=(800, 1200))
        df = df.withColumn("clip_id", _prefix(f"b{batch_no}_"))
        meta.append(t, df, job_id=f"b{batch_no}", parts=rng.randint(2, 4))
        model = pd.concat([model, df.select(*COLS).toPandas()], ignore_index=True)

    def _prefix(p):
        from pyspark.sql import functions as F

        return F.concat(F.lit(p), F.col("clip_id"))

    def merge_update():
        nonlocal model
        if model.empty:
            return
        k = min(len(model), rng.randint(5, 20))
        keys = sorted(model["clip_id"].sample(k, random_state=seed + batch_no))
        from pyspark.sql import functions as F

        src = (
            t.scan()
            .filter(F.col("clip_id").isin(keys))
            .withColumn("transcript", F.concat(F.col("transcript"), F.lit(" *")))
            .cache()
        )
        src.count()
        merge_into(t, src, job_id=f"mu{batch_no}-{rng.randint(0, 9999)}")
        mask = model["clip_id"].isin(keys)
        model.loc[mask, "transcript"] = model.loc[mask, "transcript"] + " *"

    def merge_delete():
        nonlocal model
        if model.empty:
            return
        k = min(len(model), rng.randint(3, 10))
        keys = sorted(model["clip_id"].sample(k, random_state=seed + batch_no + 1))
        from pyspark.sql import functions as F

        src = t.scan().filter(F.col("clip_id").isin(keys)).cache()
        src.count()
        merge_into(t, src, when_matched="delete", job_id=f"md{batch_no}-{rng.randint(0, 9999)}")
        model = model[~model["clip_id"].isin(keys)].reset_index(drop=True)

    def rollback_one():
        nonlocal model
        if not history:
            return
        sid, snap_model = history[rng.randrange(len(history))]
        if sid not in t.snapshot_ids():
            return  # expired
        meta.rollback(t, sid)
        model = snap_model.copy()

    def delete_where_op():
        nonlocal model
        if model.empty:
            return
        from fupi_spark.merge import delete_where

        m = rng.choice([3, 5, 11])
        delete_where(
            t, f"dur_ms % {m} = 0", job_id=f"dw{batch_no}-{rng.randint(0, 9999)}"
        )
        model = model[model["dur_ms"].astype(int) % m != 0].reset_index(drop=True)

    def mor_delete_op():
        nonlocal model
        if model.empty:
            return
        from fupi_spark.merge import delete_keys_mor

        k = min(len(model), rng.randint(3, 12))
        keys = sorted(model["clip_id"].sample(k, random_state=seed + batch_no + 2))
        delete_keys_mor(
            t,
            spark.createDataFrame([(x,) for x in keys], "clip_id string"),
            job_id=f"dm{batch_no}-{rng.randint(0, 9999)}",
        )
        model = model[~model["clip_id"].isin(keys)].reset_index(drop=True)

    def tag_op():
        # tags must never change content; they pin snapshots through
        # the expire op below (meta-level invariant folded into the
        # same content check)
        if rng.random() < 0.5:
            t.set_tag(f"tag{rng.randint(0, 2)}")
        else:
            t.delete_tag(f"tag{rng.randint(0, 2)}")

    def compact_op():
        size = sum(e["byte_size"] for e in t.data_entries())
        target = rng.choice([1 << 30, size // 2, size // 3])
        compact(t, target_bytes=target, job_id=f"c{rng.randint(0, 99999)}")

    ops = {
        "append": append_batch,
        "compact": compact_op,
        "cluster": lambda: cluster(t, curve=rng.choice(["zorder", "hilbert"]), target_bytes=1 << 19, job_id=f"z{rng.randint(0, 99999)}")
        if not model.empty
        else None,
        "merge_update": merge_update,
        "merge_delete": merge_delete,
        "delete_where": delete_where_op,
        "mor_delete": mor_delete_op,
        "consolidate": lambda: __import__("fupi_spark.merge", fromlist=["x"]).consolidate_deletes(
            t, job_id=f"cd{rng.randint(0, 99999)}"
        ),
        "tag": tag_op,
        "expire": lambda: expire_snapshots(t, retain_last=rng.randint(1, 3)),
        "rollback": rollback_one,
    }
    append_batch()  # never start empty
    append_batch()
    names = list(ops)
    # eight random ops, then a compaction of whatever layout they left
    for step in range(9):
        op = rng.choice(names) if step < 8 else "compact"
        before = t.current_snapshot().snapshot_id
        ops[op]()
        head = t.current_snapshot()
        if head.snapshot_id != before:
            _check_lineage(t, head)
            parent = set(t.live_files(t.snapshot(head.parent_id)))
            added = [e["file_path"] for e in t.data_entries(head)]
            assert_stats_exact(t, [p for p in added if p not in parent])
        got = _content(t)
        want = model.sort_values("clip_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got.astype(str), want.astype(str), check_dtype=False
        ), f"divergence after step {step} ({op})"
        for p in t.live_files():
            assert os.path.exists(f"{t.root}/{p}"), f"missing live file after {op}"
        history.append((t.current_snapshot().snapshot_id, model.copy()))
        # expiry may have pruned snapshots referenced by history; keep
        # only rollback targets that still exist
        live_ids = set(t.snapshot_ids())
        history[:] = [(s, m) for s, m in history if s in live_ids]

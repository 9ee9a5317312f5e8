"""Every queries() entry with an oracle is checked against DuckDB at
sf0.001 (fast) — the same comparison shape the driver runs at sf0.01."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from fupi_spark import pipeline_queries  # noqa: F401  (registers entries)
from fupi_spark import queries as Q

from .oracle_check import compare

ORACLE_KEYS = sorted(Q.ORACLE)


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, sf_dir, name):
    df = Q.QUERIES[name](spark, sf_dir)
    compare(df, Q.ORACLE[name], sf_dir)


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(E.queries()) >= set(E.oracle_sql())


def test_oracle_sql_is_process_independent():
    """Oracle SQL is built at import time: two fresh processes must
    produce byte-identical text, so no oracle may embed a per-process
    path. Import only; no Spark session is started."""
    code = "import json, __spark_entry__ as E; print(json.dumps(E.oracle_sql(), sort_keys=True))"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    a, b = (
        subprocess.run(
            [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
        ).stdout
        for _ in range(2)
    )
    assert a and a == b


def test_scratch_holds_lock_for_process():
    """scratch() clears its paths and keeps an exclusive flock on the
    root, so a second process cannot take it while this one lives."""
    path = Q.scratch("lock_probe")
    assert path == f"{Q.SCRATCH}/lock_probe" and not os.path.exists(path)
    probe = (
        "import fcntl, sys\n"
        "try:\n"
        "    fcntl.flock(open(sys.argv[1], 'a'), fcntl.LOCK_EX | fcntl.LOCK_NB)\n"
        "except BlockingIOError:\n"
        "    sys.exit(3)\n"
    )
    out = subprocess.run([sys.executable, "-c", probe, f"{Q.SCRATCH}/.lock"])
    assert out.returncode == 3


def test_flagship_topk_is_take_ordered(spark, sf_dir):
    """The top-k must compile to TakeOrderedAndProject (per-partition
    top-k + driver merge), not a full global sort."""
    from pyspark.sql import functions as F

    emb = Q.load(spark, sf_dir, "embeddings")
    hits = (
        emb.select("vec_id", Q._l2_col("embedding", Q.QUERY_VEC).alias("d"))
        .orderBy("d", "vec_id")
        .limit(30)
    )
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan

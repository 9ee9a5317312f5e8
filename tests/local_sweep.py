"""Local driver-mirror all-entry oracle sweep (VERDICT r5 #2).

Runs every ``__spark_entry__.queries()`` entry at sf0.01 on local[8]
and compares rows + schema + order-insensitive normalized values
against its DuckDB oracle (tests/oracle_check semantics), writing the
per-entry status/timing artifact ``CORRECTNESS_LOCAL_r{N}.json``.

Usage:  python tests/local_sweep.py <round_number>

The round number is required: each round's artefact is a tracked file,
so a run without one would overwrite an earlier round's record.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_REPO, os.environ.get("PYTHONPATH", "")) if p
)

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from tests.oracle_check import duck_conn, normalize_rows  # noqa: E402

SF = "/root/testdata/sf0.01"


USAGE = "usage: python tests/local_sweep.py <round_number>"


def main() -> None:
    if len(sys.argv) != 2 or not sys.argv[1].isdigit():
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    rnd = int(sys.argv[1])
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_conn(SF)

    t_all = time.perf_counter()
    entries: dict[str, dict] = {}
    n_ok = n_rows_only = n_fail = 0
    for name, fn in sorted(E.queries().items()):
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            sql = E.oracle_sql().get(name)
            if not sql:
                status = "rows_only"
                n_rows_only += 1
            else:
                res = con.execute(sql)
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                if sorted(sdf.columns) == sorted(dcols) and normalize_rows(
                    sdf.columns, srows
                ) == normalize_rows(dcols, drows):
                    status = "OK"
                    n_ok += 1
                else:
                    status = "FAIL"
                    n_fail += 1
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            status = f"ERROR: {exc}"[:200]
            n_fail += 1
        sec = round(time.perf_counter() - t0, 2)
        entries[name] = {"status": status, "sec": sec}
        print(f"{name:42s} {status:10s} {sec:7.2f}s", flush=True)

    total = round(time.perf_counter() - t_all, 1)
    out = {
        "round": rnd,
        "harness": (
            "local driver-mirror sweep (tests/oracle_check semantics): "
            "rows + schema + order-insensitive normalized values vs "
            "DuckDB at sf0.01, local[8], one process"
        ),
        "n_entries": len(entries),
        "n_ok": n_ok,
        "n_rows_only": n_rows_only,
        "n_fail": n_fail,
        "total_sec": total,
        "entries": entries,
    }
    path = os.path.join(_REPO, f"CORRECTNESS_LOCAL_r{rnd:02d}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"\n{n_ok} OK / {n_rows_only} rows-only / {n_fail} FAIL "
          f"in {total}s -> {path}")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()

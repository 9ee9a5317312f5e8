"""spark-submit --py-files ship path (north rule: 'jobs ship via
spark-submit --py-files to multi-executor clusters'): package
fupi_spark as a zip, run the maintenance pipeline through a real
spark-submit, validate the committed table. The other CLI ops run the
same entry point (``submit_maintenance.main``) in this process, on the
suite's session: each subprocess would start its own JVM."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="spark-submit not available")
def test_spark_submit_py_files_pipeline(tmp_path):
    zpath = tmp_path / "fupi_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "fupi_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    table = str(tmp_path / "table")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(zpath),
            os.path.join(REPO, "submit_maintenance.py"),
            "--table", table, "--op", "pipeline", "--clips", "400",
            "--target-mb", "1",
        ],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),  # NOT the repo: the zip must provide the package
        env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    assert rep["rows"] == 400 and rep["bad_snr"] == 0


@pytest.fixture()
def cli(spark, monkeypatch, capsys):
    """``cli(table, *args)`` runs ``submit_maintenance.py --table table
    *args`` in-process on the suite's session, asserts exit code 0 and
    returns the JSON report it prints last."""
    import submit_maintenance
    from fupi_spark import session

    monkeypatch.setattr(session, "get_spark", lambda *a, **kw: spark)

    def run(table, *args):
        monkeypatch.setattr(sys, "argv", ["submit_maintenance.py", "--table", table, *args])
        capsys.readouterr()
        assert submit_maintenance.main() == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    return run


def test_submitted_table_readable(spark, tmp_path, cli):
    """Companion check in-process (cheap): the entry point commits ops
    that the metadata layer can reload and scan."""
    cli(str(tmp_path / "t2"), "--op", "pipeline", "--clips", "300", "--target-mb", "1")
    from fupi_spark import meta

    t = meta.load_table(spark, str(tmp_path / "t2"))
    assert t.scan().count() == 300
    ops = [s["operation"] for s in t.lineage_chain()]
    assert "merge" in ops


def test_submit_mor_wap_ops(spark, tmp_path, cli):
    """The r5 CLI surface: delete-mor (with the consolidation trigger),
    consolidate-deletes, and wap-append, each through the real entry
    point with idempotent job ids."""
    from fupi_spark import meta
    from fupi_spark.synth import synth_clips

    table = str(tmp_path / "t3")
    t = meta.create_table(spark, table)
    meta.append(t, synth_clips(spark, 120, dur_range_ms=(50, 100), parts=3), job_id="seed")
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())

    r1 = cli(table, "--op", "delete-mor", "--keys", ",".join(ids[:5]), "--job-id", "dm1")
    assert r1["deleted_keys"] == 5 and r1["outstanding_delete_files"] == 1
    # idempotent retry commits nothing new
    r1b = cli(table, "--op", "delete-mor", "--keys", ",".join(ids[:5]), "--job-id", "dm1")
    assert r1b["snapshot"] == r1["snapshot"]
    r2 = cli(table, "--op", "delete-mor", "--keys", ",".join(ids[5:9]), "--job-id", "dm2")
    assert r2["outstanding_delete_files"] == 2

    r3 = cli(table, "--op", "consolidate-deletes", "--job-id", "cd1")
    assert r3["snapshot"] is not None and r3["outstanding_delete_files"] == 1

    r4 = cli(table, "--op", "wap-append", "--clips", "40", "--job-id", "wap1")
    assert r4["wap"]["published"] is True

    t = meta.load_table(spark, table)
    assert t.scan().count() == 120 - 9 + 40
    assert "published" in t.tags()


def test_submit_bloom_and_changelog_ops(spark, tmp_path, cli):
    """The r5 additions: bloom-refresh and changelog through the real
    entry point."""
    from fupi_spark import meta
    from fupi_spark.synth import synth_clips

    table = str(tmp_path / "t4")
    t = meta.create_table(spark, table)
    meta.append(t, synth_clips(spark, 100, dur_range_ms=(50, 100), parts=4), job_id="seed")
    base = t.current_snapshot().snapshot_id
    ids = sorted(r.clip_id for r in t.scan().select("clip_id").collect())

    r1 = cli(table, "--op", "bloom-refresh")
    assert r1["bloom"] == {"indexed": 4, "kept": 0, "files": 4}

    cli(table, "--op", "delete-mor", "--keys", ",".join(ids[:3]), "--job-id", "dm1")
    r2 = cli(table, "--op", "changelog", "--from-snapshot", str(base))
    assert r2["changelog"] == {"inserts": 0, "deletes": 3}


def test_submit_trim_silence_op(spark, tmp_path, cli):
    from fupi_spark import meta
    from fupi_spark.synth import synth_clips

    table = str(tmp_path / "t5")
    t = meta.create_table(spark, table)
    meta.append(t, synth_clips(spark, 60, dur_range_ms=(300, 400), parts=2), job_id="seed")

    rep = cli(table, "--op", "trim-silence", "--job-id", "ts1")
    assert rep["snapshot"] is not None and rep["output_files"] >= 1
    t = meta.load_table(spark, table)
    assert t.scan().count() == 60
    assert [s["operation"] for s in t.lineage_chain()][-1] == "trim"


def test_submit_advise_op(spark, tmp_path, cli):
    from fupi_spark import meta
    from fupi_spark.synth import synth_clips

    table = str(tmp_path / "t6")
    t = meta.create_table(spark, table)
    meta.append(t, synth_clips(spark, 100, dur_range_ms=(50, 100), parts=5), job_id="seed")

    rep = cli(table, "--op", "advise")
    ops = [r["op"] for r in rep["recommendations"]]
    assert "compact" in ops and "cluster" in ops

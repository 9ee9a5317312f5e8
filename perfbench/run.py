"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. Builds one Spark session
(``local[nproc]``), sets up the workload's inputs from ``--seed``, then
either measures for ``--seconds`` (``--trace 0``, end-to-end metrics)
or runs a fixed amount of traced work (``--trace 1``, per-layer metrics).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Progress and a
human-readable summary go to standard error.

Everything the run writes (tables, Spark scratch, temp files, the span
log) lives under ``.perfbench_work/`` and ``.perfbench_out/`` in the
checkout; the work directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

# resource settings for a 4-core / 15 GB host whose /dev/shm shares RAM:
# one client thread, local[nproc], a 2 GB driver heap. The heap is
# committed and touched at start (-Xms = -Xmx, AlwaysPreTouch) so the
# JVM's resident size does not depend on when the collector ran, which
# keeps peak_rss_mb repeatable.
DRIVER_MEM = "2g"


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def build_session(work: str, cores: int):
    """``fupi_spark.session.get_spark`` with every scratch path inside
    ``work``. The engine's own warm-up writes outside the checkout, so it
    is switched off and ``warm_session`` runs instead."""
    from fupi_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    driver_opts = f"{java_opts} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.local.dir": f"{work}/local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": driver_opts,
            "spark.executor.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def warm_session(spark, work: str) -> None:
    """First-use costs (parquet I/O classes, codegen, Python worker
    fork and numpy/pandas import) paid once, outside every timer."""
    from pyspark.sql import functions as F

    d = f"{work}/warm"
    spark.range(1000).select("id", F.col("id").cast("string").alias("s")).write.mode(
        "overwrite"
    ).parquet(d)
    df = spark.read.parquet(d)
    df.join(df.select("id"), "id").groupBy("s").count().orderBy("s").collect()
    par = spark.sparkContext.defaultParallelism

    def imp(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from it

    spark.range(0, 2 * par, 1, 2 * par).mapInPandas(imp, schema="id long").count()
    shutil.rmtree(d, ignore_errors=True)


def stop_session(spark) -> None:
    """Stop Spark and wait until the driver JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def wait_children(timeout: float = 20.0) -> None:
    """Wait for every child process of this one to end."""
    me = str(os.getpid())
    end = time.time() + timeout
    while time.time() < end:
        alive = False
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[1] == me:
                        alive = True
                        break
            except OSError:
                continue
        if not alive:
            return
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


def per_layer_metrics(wl, tracer) -> dict[str, float]:
    """Every per-layer metric of the catalogue; a layer the workload does
    not exercise reads 0."""
    from metrics import PER_LAYER

    spans = {
        "meta.commit_s": "meta.commit",
        "meta.footer_stats_s": "meta.footer_stats",
        "meta.append_s": "meta.append",
        "meta.scan_plan_s": "meta.scan_plan",
        "compact.s": "compact",
        "cluster.s": "cluster",
        "merge.s": "merge",
        "integrity.verify_s": "integrity.verify",
        "expire.s": "expire",
        "bloom.refresh_s": "bloom.refresh",
    }
    out = {}
    for name, *_ in PER_LAYER:
        if name in wl.layer:
            out[name] = wl.layer[name]
        elif name in spans:
            out[name] = tracer.total_s(spans[name])
        elif name == "meta.commit_n":
            out[name] = float(sum(1 for s in tracer.spans if s[0] == "meta.commit"))
        else:
            out[name] = tracer.counts.get(name, 0.0)
    return out


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fupi_spark", "__init__.py")):
        print(
            "perfbench: run from the root of a fupi_spark checkout "
            "(no fupi_spark/ package in the current directory)",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [root, HERE]
    args = parse_args(argv)

    from metrics import END_TO_END, PER_LAYER
    from tracing import Tracer, peak_rss_sampler
    from workloads import WORKLOADS, log

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(f"{work}/{sub}")
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            # Python workers import fupi_spark from the checkout
            "PYTHONPATH": os.pathsep.join([root, HERE, os.environ.get("PYTHONPATH", "")]),
            "FUPI_SESSION_WARMUP": "0",
            "FUPI_SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": f"{work}/local",
            "TMPDIR": f"{work}/tmp",
        }
    )
    log(
        f"[perfbench] workload={args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} local[{cores}] driver_mem={DRIVER_MEM} work={work} "
        f"fs={_fs_type(work)}"
    )
    rss = peak_rss_sampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session(work, cores)
        spark.sparkContext.setLogLevel("ERROR")
        warm_session(spark, work)
        session_s = time.perf_counter() - t0

        tracer = Tracer(enabled=False, spark=spark)
        wl = WORKLOADS[args.workload](spark, args.seed, tracer, bool(args.trace))
        reps = []
        for i in range(wl.SETUP_REPS):
            # every repetition rebuilds the inputs from scratch; the
            # last one is used
            wl.rng = np.random.default_rng(args.seed)
            t1 = time.perf_counter()
            wl.setup(f"{work}/setup{i}")
            reps.append(time.perf_counter() - t1)
            if i:
                shutil.rmtree(f"{work}/setup{i - 1}", ignore_errors=True)
        t1 = time.perf_counter()
        if hasattr(wl, "warm"):
            wl.warm()
        setup_s = session_s + statistics.median(reps) + (time.perf_counter() - t1)
        rss()
        log(f"[perfbench] set-up {setup_s:.2f}s (session {session_s:.2f}s, inputs {reps})")

        if args.trace:
            wl.run_traced()
            metrics = per_layer_metrics(wl, tracer)
            units = {n: u for n, u, *_ in PER_LAYER}
            tracer.dump(
                os.path.join(
                    root, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"
                )
            )
        else:
            wl.run(time.perf_counter() + args.seconds)
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": rss(),
                **wl.end_to_end(),
            }
            units = {n: u for n, u, *_ in END_TO_END}
            log(f"[perfbench] {wl.report()}")
    finally:
        if spark is not None:
            stop_session(spark)
        wait_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    log(f"[perfbench] attempted={wl.attempted} failed={wl.failed}")
    print(
        json.dumps(
            {
                "correct": wl.failed == 0,
                "attempted": wl.attempted,
                "failed": wl.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path`` (tmpfs or a disk)."""
    best, fs = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, typ
    return fs


if __name__ == "__main__":
    sys.exit(main())

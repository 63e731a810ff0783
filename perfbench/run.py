#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pages_job --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the ``dads_spark`` package next to
``perfbench/`` is the program under test. Workloads, parameters and the
metric definitions live in ``perfbench/workloads.json``.

With ``--trace 0`` the last stdout line is the end-to-end result
(``main_s``, ``aux_s``, ``setup_s``). With ``--trace 1`` spans are recorded
around every call into the library and Spark's status store is read once
the loop ends; the last line then holds the per-layer metrics (every name
in ``workloads.LAYER_METRICS``, 0 for a layer the workload does not run,
then host and memory counters), and the line before it the tracing
overhead against the untraced run of the same workload, seed and
definition hash, when one left its result. Everything the run writes stays
under ``.perfbench/`` in the checkout; its scratch directory is removed
when it ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
E2E = ("main_s", "aux_s", "setup_s")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, cores: int, settings: dict) -> dict:
    """Scratch dirs inside the checkout and the box-fitting settings.
    Must run before pyspark or numpy is imported."""
    dirs = {k: os.path.join(work, k) for k in ("local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_MASTER": f"local[{cores}]",
        "SPARK_GRAFT_DRIVER_MEM": settings["driver_memory"],
    })
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = str(settings["blas_threads"])
    tempfile.tempdir = dirs["tmp"]
    return dirs


def session_conf(dirs: dict) -> dict:
    """Keep the JVM's scratch files inside the run's directories (no
    /tmp/hsperfdata either) and its progress bar off stdout."""
    return {
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
    except OSError:
        pass
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def definition_hash(entry: dict, settings: dict) -> str:
    """Hash of a workload's parameters, the run settings and the code that
    defines the workloads and how they are timed."""
    h = hashlib.sha256(json.dumps([entry, settings], sort_keys=True).encode())
    for name in ("run.py", "tracing.py", "workloads.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def untraced_path(workload: str, seed: int) -> str:
    return os.path.join(STATE, "results", f"{workload}-{seed}.json")


def untraced_base(workload: str, seed: int, digest: str) -> dict | None:
    """The untraced result of the same workload, seed and definition hash,
    else None."""
    try:
        with open(untraced_path(workload, seed)) as fh:
            base = json.load(fh)
    except FileNotFoundError:
        return None
    return base if base.get("definition_sha256") == digest else None


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run(args, defs: dict, work: str, cores: int) -> int:
    dirs = configure_env(work, cores, defs["settings"])
    sys.path.insert(0, ROOT)
    from dads_spark.checkpoint import SnapshotStore
    from dads_spark.session import get_spark

    import tracing
    from workloads import LAYER_METRICS, WORKLOADS

    entry = defs["workloads"][args.workload]
    params = entry["params"]
    cls = WORKLOADS[args.workload]
    digest = definition_hash(entry, defs["settings"])
    tracer = tracing.Tracer(args.trace == 1)

    conf = session_conf(dirs)
    if tracer.enabled:
        conf.update(tracing.trace_conf())
    start = tracing.clock()
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )
    session = tracing.since(start)
    try:
        tracer.wrap_method(SnapshotStore, "commit", "snapshot.commit")
        tracer.wrap_method(SnapshotStore, "read", "snapshot.read")
        wl = cls(spark, params, args.seed, os.path.join(work, "data"), tracer, cores)
        start = tracing.clock()
        with tracer.span("setup.build"):
            wl.build()
        build = tracing.since(start)
        start = tracing.clock()
        with tracer.span("setup.warm"):
            wl.warm()
        warm = tracing.since(start)
        setup_s = session[1] + build[1] + warm[1]
        wl.prepare_checks()

        host0 = tracing.host_counters()
        t0 = time.perf_counter()
        while True:
            wl.step()
            if time.perf_counter() - t0 >= args.seconds and wl.step_done():
                break
        measured_s = time.perf_counter() - t0
        host = tracing.host_delta(host0, tracing.host_counters())
        e2e = {**wl.e2e(), "setup_s": setup_s}

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "definition_sha256": digest,
            "trace": args.trace,
            "setup": {  # [wall, steal-adjusted wall]
                "session_s": session, "build_s": build, "warm_s": warm,
            },
            "raw_wall_s": {k: tracing.median(v) for k, v in wl.raw_walls.items()},
            "measured_s": measured_s,
            "host": host,
            "named": {
                **wl.detail(),
                "failed_op_share": metric(wl.failed / max(1, wl.attempted), "ratio"),
                "attempted": metric(wl.attempted, "count"),
            },
            "errors": wl.errors[:20],
        }
        if tracer.enabled:
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            mem = {
                "mem.driver_peak_mb": tracing.peak_rss_mb(),
                "mem.jvm_peak_mb": tracing.peak_rss_mb(jvm_pid),
            }
            layers = wl.layers(tracing.status_dump(spark, graphs=wl.plan_graphs))
            per_layer = {
                **{k: layers.get(k, 0.0) for k in LAYER_METRICS},
                **host,
                **mem,
                **{f"traced.{k}": v for k, v in e2e.items()},
            }
            base = untraced_base(args.workload, args.seed, digest)
            if base is not None:
                detail["overhead"] = {
                    k: {"traced": e2e[k], "untraced": base[k], "diff": e2e[k] - base[k]}
                    for k in E2E
                }
            with open(os.path.join(STATE, "results", f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"spans": tracer.spans, "detail": detail}, fh)
            metrics = {k: metric(v, _unit(k)) for k, v in per_layer.items()}
        else:
            with open(untraced_path(args.workload, args.seed), "w") as fh:
                json.dump({**e2e, "seed": args.seed, "definition_sha256": digest}, fh)
            metrics = {k: metric(e2e[k], "s") for k in E2E}
    finally:
        tracer.restore()
        stop_session(spark)

    for line in wl.errors[:20]:
        print(f"perfbench: {line}", file=sys.stderr)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


def _unit(name: str) -> str:
    family = name.rsplit(".", 1)[-1]
    if family.endswith("_s"):
        return "s"
    if family.endswith("_mb"):
        return "MiB"
    if family.endswith("_kb"):
        return "KiB"
    if family in ("syncs", "tasks"):
        return "count"
    return "ratio"


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        defs = json.load(fh)
    if args.workload not in defs["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "dads_spark", "__init__.py")):
        print(
            "perfbench: no dads_spark package beside perfbench/; "
            "run from the root of a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    cores = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    work = os.path.join(
        STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    try:
        return run(args, defs, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

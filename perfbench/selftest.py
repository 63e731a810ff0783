#!/usr/bin/env python3
"""Self-test: every timed operation still runs the operator it measures.

    python3 perfbench/selftest.py

Runs one step of each workload at a tiny size with tracing on, then reads
the physical plans Spark recorded for the step's SQL executions. A timed
query must still contain its Python or aggregate operator (a plan that
Catalyst pruned down to a row count fails), and every stage of the cold
``PagesRollupJob.run`` must write parquet and run an aggregate, window or
Python operator. The step's correctness checks must pass too, and every
layer metric a workload reports must be one of ``LAYER_METRICS``. Exit
code 0 when everything holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from run import ROOT, STATE, configure_env, session_conf, stop_session

TINY = {
    "pages_job": {
        "pages": 2000, "domains": 4, "days": 14, "late_share": 0.01,
        "sliced_points": 20000, "grouped_series": 8, "grouped_points": 1000,
        "check_sample": 2,
    },
    "tier_serving": {
        "events": 20000, "keys": 8, "days": 30, "zipf_a": 1.3, "value_max": 1000,
        "chunk_points": 64, "strata": 4,
    },
}
OPS = {
    "serve.query": ("MapInPandas", "HashAggregate"),
    "s2g.sliced": ("FlatMapGroupsInPandas",),
    "s2g.grouped": ("FlatMapGroupsInPandas",),
}
WRITE = "InsertIntoHadoopFsRelationCommand"
STAGE_OPS = ("Aggregate", "InPandas", "EvalPython", "Window")


def check_plans(dump, tracer, wl) -> list[str]:
    from tracing import window_execs
    from workloads import JOB_STAGES, LAYER_METRICS

    bad = []
    for span in tracer.spans:
        want = OPS.get(span["name"])
        if want:
            text = "\n".join(
                e["plan"]
                for e in window_execs(dump, span["t0_ms"], span["t1_ms"], roots_only=False)
            )
            bad += [f"{span['name']}: no {op} in its plans" for op in want if op not in text]
    for span, cyc in zip(tracer.named("job.run"), getattr(wl, "cycles", [])):
        for seq, row in enumerate(cyc["rows"]):
            if row["stage"] not in JOB_STAGES:
                continue
            group = f"dads_metrics::{row['stage']}::{seq}"
            jobs = {
                j["jobId"] for j in dump["jobs"]
                if j.get("jobGroup") == group
                and span["t0_ms"] <= j["submissionTime"] <= span["t1_ms"]
            }
            text = "\n".join(e["plan"] for e in dump["execs"] if jobs.intersection(e["jobs"]))
            if WRITE not in text:
                bad.append(f"stage {row['stage']}: no parquet write")
            if not any(op in text for op in STAGE_OPS):
                bad.append(f"stage {row['stage']}: no aggregate, window or Python operator")
    bad += [f"layer {k} not in LAYER_METRICS" for k in set(wl.layers(dump)) - set(LAYER_METRICS)]
    return bad


def main() -> int:
    cores = len(os.sched_getaffinity(0))
    with open(os.path.join(os.path.dirname(__file__), "workloads.json")) as fh:
        defs = json.load(fh)
    work = os.path.join(STATE, "work", f"selftest-{os.getpid()}")
    dirs = configure_env(work, cores, defs["settings"])
    sys.path.insert(0, ROOT)
    from dads_spark.session import get_spark

    import tracing
    from workloads import WORKLOADS

    spark = get_spark(
        "perfbench-selftest", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={**session_conf(dirs), **tracing.trace_conf()},
    )
    problems = []
    try:
        for name, cls in WORKLOADS.items():
            tracer = tracing.Tracer(True)
            start = len(tracing.status_dump(spark)["jobs"])
            wl = cls(spark, TINY[name], 7, os.path.join(work, name), tracer, cores)
            wl.build()
            wl.warm()
            wl.prepare_checks()
            wl.step()
            dump = tracing.status_dump(spark, plans=True)
            found = check_plans(dump, tracer, wl) + [f"check: {e}" for e in wl.errors]
            if len(dump["jobs"]) == start:
                found.append("no Spark job ran")
            problems += [f"{name}: {p}" for p in found]
            print(f"{name}: {'ok' if not found else 'FAILED'}", flush=True)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

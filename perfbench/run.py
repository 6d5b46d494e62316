"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Workloads: ``ingest`` (NetFlow datagrams → decode → enrich → store
and rollups) and ``registry`` (warm repeats of oracle queries).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records
spans and Spark counters by job group and prints the per-layer metrics.
``BENCHMARK.json`` names both sets; every run reports every metric of
its kind, and a per-layer metric of a layer the workload leaves idle
reads 0.  The end-to-end metrics per workload:

==============  ================================  ==============================
metric          ingest                            registry
==============  ================================  ==============================
setup_s         process start to the first        process start to the first
                measured trigger (session,        measured pass (session,
                backlog, warm-up batch)           corpus, cold pass, oracle
                                                  checks, warm-up passes)
op_p50_s        median micro-batch                median pass over the query
                ``triggerExecution``              subset
op_tail_s       ``harness.tail`` of the same samples (few samples: the maximum)
work_per_s      flows committed per wall second   queries over the sum of each
                over the measured batches         query's median warm time
==============  ================================  ==============================

Per-layer time metrics are per operation (micro-batch or pass) of the
traced run.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Provenance, every metric and the span file go to ``.perfbench-work/results/``
under the repository root; diagnostics go to stderr.

Inputs are generated from ``--seed`` before anything is timed.  Tune
on seeds below 1000 and keep the seeds from 1000 on held out: a claimed
gain must also hold on one of them.  ``spread.py`` runs a workload over
a range of seeds and prints each metric's median and quartile spread.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402

BENCH = harness.benchmark()

WORK = os.path.join(ROOT, ".perfbench-work")


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Context:
    spark: object
    seed: int
    seconds: int
    trace: bool
    workdir: str
    tracer: harness.Tracer
    groups: harness.JobGroups
    log: object


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "akvorado_spark", "__init__.py")):
        log(f"the program (akvorado_spark/) is not in {ROOT}")
        return 2
    load_start = harness.loadavg_1m()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    workdir = os.path.join(WORK, f"{tag}-{os.getpid()}")
    harness.prepare_env(workdir)
    try:
        session = harness.Session(f"perfbench-{args.workload}")
        log("session started")
        try:
            spark = session.spark
            ctx = Context(spark, args.seed, args.seconds, bool(args.trace), workdir,
                          harness.Tracer(bool(args.trace)),
                          harness.JobGroups(spark, args.workload), log)
            out = importlib.import_module(args.workload).run(ctx)
            prov = harness.provenance(spark, args.seed, load_start)
            peak = session.peak_rss_mb()
        finally:
            session.close()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        layers = dict(out["layers"])
        layers.update(spark_metrics(ctx, out))
        layers["session.peak_rss_mb"] = (peak, "MB")
        if "trace.op_traced_s" in layers:
            layers["trace.overhead_s"] = (
                layers["trace.op_traced_s"][0] - layers["trace.op_untraced_s"][0], "s")
        # a layer the workload leaves idle reads as measured: zero
        metrics = {m["name"]: layers.get(m["name"], (0.0, m["unit"])) for m in BENCH["per_layer"]}
        ctx.tracer.write(os.path.join(WORK, "results", f"spans-{tag}.json"))
    else:
        e2e = dict(out["e2e"])
        e2e["setup_s"] = (out["setup_end"] - T_START, "s")
        metrics = {m["name"]: e2e[m["name"]] for m in BENCH["end_to_end"]}
    result = {
        "correct": out["failed"] == 0,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    record = dict(result, provenance=prov, info=out.get("info", {}),
                  failed_ratio=result["failed"] / result["attempted"])
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    log(json.dumps({"provenance": prov, "info": out.get("info", {}),
                    "failed_ratio": record["failed_ratio"]}, default=str))
    print(json.dumps(result), flush=True)
    return 0


def spark_metrics(ctx: Context, out: dict) -> dict:
    """Spark counters over every job group of the run, per operation."""
    total = ctx.groups.total
    ops = max(out["info"].get("ops_traced", 1), 1)
    wall = out["info"].get("traced_wall_s", 0.0)
    return {
        "spark.jobs": (total.jobs / ops, "count"),
        "spark.stages": (total.stages / ops, "count"),
        "spark.tasks": (total.tasks / ops, "count"),
        "spark.shuffle_write_bytes": (total.shuffle_write_bytes / ops, "bytes"),
        "spark.spill_bytes": (total.spill_bytes / ops, "bytes"),
        "spark.gc_s": (total.gc_s / ops, "s"),
        "spark.core_utilization": (
            total.executor_run_s / (wall * harness.cpus()) if wall else 0.0, "ratio"),
    }


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit non-zero, never a result line
        traceback.print_exc()
        sys.exit(1)

"""Crawl-to-corpus benchmark: the command-line entry point.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 14 --trace 0

Run from the root of a source checkout. One process, one Spark session at
``local[<cores this process may use, less one>]``. The run generates its
inputs from ``--seed``, warms the JVM up untimed, then repeats the
workload's timed pipeline while the ``--seconds`` budget allows (at least
once), checks every repetition's outputs, and prints as its last stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the
metric names and units are those BENCHMARK.json lists.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs a traced
repetition and then an untraced one, re-runs the lazy layers of the largest
superstep standalone, and reports the per-layer metrics; its spans are
written to ``.perfbench_work/trace-<workload>-<seed>.jsonl``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import harness
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Context:
    def __init__(self, spark, work: str, seed: int, counters, null_tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.counters = counters
        self.null_tracer = null_tracer


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes, Spark's and Python's temp files
    included, under ``work``; put the checkout on the Python workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it forked
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = harness.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    harness.wait_gone(workers, timeout=30)


def _check(wl, rep: dict) -> None:
    t0 = time.perf_counter()
    rep["errors"] = wl.check(rep)
    rep["check_s"] = time.perf_counter() - t0


def _e2e(reps: list, setup_s: float, peak_mb: float, counters) -> dict:
    median = harness.median
    tasks = failed = 0
    for i, rep in enumerate(reps):
        c = counters.read([f"rep{i}"])
        tasks += c["tasks"]
        # a repetition whose output check fails counts all its tasks as failed
        failed += c["tasks"] if rep["errors"] else c["failed_tasks"]
    return {
        "setup_s": setup_s,
        "wall_s": median([r["wall_s"] for r in reps]),
        "urls_per_s": median([r["scheduled"] / r["crawl_s"] for r in reps]),
        "docs_per_s": median([r["docs"] / r["wall_s"] for r in reps]),
        "superstep_p50_s": median([w for r in reps for w in r["superstep_walls"]]),
        "peak_rss_mb": peak_mb,
        "task_success_ratio": (tasks - failed) / max(tasks, 1),
    }


def _per_layer(names, counters, tracer, traced: dict, untraced_s: float, build_s: float) -> dict:
    metrics = traced["iteration_metrics"]
    n = len(metrics)
    tags = [f"traced-ss{i}" for i in range(n)]
    per_ss = counters.read(tags)
    walls = lambda t: sum(m["write_walls_s"].get(t, 0.0) for m in metrics)  # noqa: E731
    selfs = tracer.self_times()
    # layers a workload never runs report 0 (warc, queries, extract_text on
    # crawl_wide)
    out = dict.fromkeys(names, 0.0)
    out.update(
        {
            "seen.update_s": tracer.total("seen.update"),
            "frontier.supersteps": float(n),
            "frontier.first_superstep_s": metrics[0]["wall_s"] if metrics else 0.0,
            "frontier.execute_s": walls("frontier"),
            "frontier.spark_jobs_per_superstep": per_ss["jobs"] / max(n, 1),
            "frontier.tasks_per_superstep": per_ss["tasks"] / max(n, 1),
            "storage.write_s.seen_delta": walls("seen_delta"),
            "storage.write_s.crawl_log": walls("crawl_log"),
            "storage.write_s.lineage": walls("lineage"),
            "storage.read_s": tracer.total("storage.read") + tracer.total("storage.resume_read"),
            "storage.resume_read_s": tracer.total("storage.resume_read"),
            "session.build_s": build_s,
            "trace.overhead_s": traced["wall_s"] - untraced_s,
            "self.crawl_s": selfs.get("crawl", 0.0),
            "self.storage.commit_s": selfs.get("storage.commit", 0.0),
            "self.seen.update_s": selfs.get("seen.update", 0.0),
            "self.storage.read_s": selfs.get("storage.read", 0.0) + selfs.get("storage.resume_read", 0.0),
            "self.udfs.extract_text_s": selfs.get("udfs.extract_text", 0.0),
            "self.queries_s": sum(v for k, v in selfs.items() if k.startswith("queries.")),
        }
    )
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "apollo_service_spark")):
        print("perfbench: no apollo_service_spark package next to perfbench/; "
              "run from the root of a source checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    # one core is left to the driver thread, the JIT and GC threads and the
    # Python workers: at local[cpus] they outnumber the cores, and the timed
    # repetition ran slower and further from its steady state
    cores = max(1, cpus - 1)
    load_start = harness.loadavg()

    t0 = time.perf_counter()
    spark = harness.build_spark(cores, os.path.join(work, "spark-local"))
    build_s = time.perf_counter() - t0
    try:
        counters = harness.TaskCounters(spark)
        null_tracer = harness.Tracer("none", enabled=False)
        ctx = Context(spark, work, args.seed, counters, null_tracer)
        wl = WORKLOADS[args.workload](ctx)

        # set-up: inputs generated three times (the median counts, the
        # last copy is used), then one untimed warm-up repetition
        gen_walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            sizes = wl.setup()
            gen_walls.append(time.perf_counter() - t0)
        counters.group("warm-up")
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = build_s + harness.median(gen_walls) + warm_s

        reps = []
        jiffies_start = harness.cpu_jiffies()
        if args.trace:
            tracer = harness.Tracer(f"{args.workload}-{args.seed}", enabled=True)
            # traced first, untraced second: the JIT is still maturing, so
            # the second repetition runs warmer and the overhead errs high
            counters.group("traced")
            with tracer.span("rep"):
                traced = wl.run_rep("traced", tracer)
            _check(wl, traced)
            counters.group("probes")
            probes = wl.probe_layers(traced, tracer)
            counters.group("plain")
            plain = wl.run_rep("plain", null_tracer)
            _check(wl, plain)
            reps = [traced, plain]
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
            metrics = _per_layer(units, counters, tracer, traced, plain["wall_s"], build_s)
            metrics.update(probes)
            tracer.write(os.path.join(work, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            spent = 0.0
            while True:
                tag = f"rep{len(reps)}"
                counters.group(tag)
                rep = wl.run_rep(tag, null_tracer)
                counters.group(f"{tag}-check")
                _check(wl, rep)
                reps.append(rep)
                spent += rep["wall_s"]
                if spent + rep["wall_s"] > args.seconds:
                    break
            metrics = _e2e(reps, setup_s, harness.peak_rss_mb(spark), counters)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        errors = [e for r in reps for e in r["errors"]]
        busy, steal = (b - a for a, b in zip(jiffies_start, harness.cpu_jiffies()))
        info = {
            "workload": args.workload, "seed": args.seed, "cpus": cpus, "spark_cores": cores,
            "inputs": sizes, "repetitions": len(reps),
            "rep_walls_s": [round(r["wall_s"], 4) for r in reps],
            "check_s": [round(r["check_s"], 4) for r in reps],
            "supersteps_per_rep": [len(r["superstep_walls"]) for r in reps],
            "urls_scheduled": [r["scheduled"] for r in reps],
            "setup": {"session_build_s": round(build_s, 4),
                      "generate_s": [round(g, 4) for g in gen_walls],
                      "warm_up_s": round(warm_s, 4)},
            "loadavg": [load_start, harness.loadavg()],
            # share of the measured part's CPU time stolen by other guests
            "steal_share": round(steal / max(busy + steal, 1), 4),
            "errors": errors,
        }
        print(json.dumps(info))
        result = {
            "correct": not errors,
            "attempted": len(reps),
            "failed": sum(1 for r in reps if r["errors"]),
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        _stop(spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

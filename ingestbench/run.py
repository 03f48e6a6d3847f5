"""Streaming-ingest benchmark for ``SinkPipeline.process_batch``.

Run from the repository root:

    python3 ingestbench/run.py --workload stream_freshness --seed 1 \\
        --seconds 10 --trace 0

One workload per invocation. With ``--trace 0`` it prints every end-to-end
metric; with ``--trace 1`` it wraps the package's public entry points and
prints the per-layer metrics instead. Either way it checks the output
against a DuckDB oracle and prints, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. A full result file
(host facts, input properties, every sample, the spans) is written under
``.ingestbench/results/``. Exit status is 0 only when the output is
correct. See ingestbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

DEFAULT_SEED = 1
HELD_OUT_SEED = 7919  # kept out of tuning; use it to confirm a claimed gain
SETUP_REPS = 3
PACKAGE = "iceberg_kafka_connect_spark"

END_TO_END_UNITS = {
    "setup_s": "s",
    "records_per_s": "rec/s",
    "batch_latency_p50_s": "s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "read_latency_p50_s": "s",
    "bytes_stored_per_input_byte": "ratio",
}

PER_LAYER_UNITS = {
    "sources.decode_s": "s",
    "sources.registry_requests": "count",
    "transforms.debezium_s": "s",
    "streaming.process_batch_self_s": "s",
    "streaming.spark_jobs_per_batch": "count",
    "streaming.spark_tasks_per_batch": "count",
    "routing.tables_per_batch": "count",
    "cdc.collapse_s": "s",
    "cdc.collapse_ratio": "ratio",
    "table.append_s": "s",
    "table.upsert_s": "s",
    "table.data_files_per_commit": "count",
    "table.delete_files_per_commit": "count",
    "table.bytes_per_commit": "bytes",
    "table.metadata_calls_per_batch": "count",
    "table.metadata_s_per_batch": "s",
    "table.metadata_json_bytes": "bytes",
    "table.snapshots": "count",
    "table.read_s": "s",
    "table.live_data_files": "count",
    "table.live_delete_files": "count",
    "table.read_live_ratio": "ratio",
    "catalog.calls_per_batch": "count",
    "catalog.s_per_batch": "s",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("stream_freshness", "cdc_upsert_read",
                             "backlog_catchup"))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ------------------------------------------------------------ host facts
def host_facts(spark) -> dict:
    import pyarrow
    import pyspark

    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr.splitlines()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "platform": platform.platform(),
        "python": platform.python_version(),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java[0] if java else "unknown",
    }


def cpu_jiffies() -> list[int]:
    """Aggregate CPU time counters from /proc/stat (Linux); empty when
    the file is missing."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests in between."""
    if len(before) < 8 or len(after) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else None


def noise_probe(spark, nproc: int) -> float:
    """Fixed pure-JVM job (a 30M-row sum), best of 3: a host-health reading
    with no IO and no Python, taken at run start and end so a noisy window
    can be told apart from a regression."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(3 * 10**7, numPartitions=nproc).selectExpr(
            "sum(id * 2)"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def start_spark(root: str, work: str, nproc: int):
    """The package's own session factory on local[nproc], with every
    scratch directory inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # no hsperfdata files in the system temp directory, for the launcher
    # JVM and the driver JVM alike
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from iceberg_kafka_connect_spark.session import get_spark

    spark = get_spark(
        app_name="ingestbench",
        cpus=nproc,
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------- per-layer metrics
def per_layer(tracer, runner, w) -> tuple[dict, dict]:
    """Per-layer metrics from the traced batches, plus the span summary."""
    from tracing import BATCH_SPAN, check_batches, layer_summary
    from tracing import per_batch as spans_per_batch

    traced = [b for b in runner.batches if b["traced"]]
    untraced = [b for b in runner.batches if not b["traced"]]
    rows = spans_per_batch(tracer.spans)
    n = max(1, len(traced))

    def total(prefix: str, key: str = "self_s") -> float:
        return sum(
            v[key]
            for b in traced
            for name, v in rows.get(b["batch"], {}).items()
            if name.startswith(prefix)
        ) / n

    jobs = runner.job_counts()
    lazy = runner.lazy

    def avg(values) -> float:
        values = list(values)
        return statistics.mean(values) if values else 0.0

    def lazy_cost(name: str) -> float:
        return avg(r["after_s"] - r["before_s"] for r in lazy
                   if r["name"] == name)

    collapse = [r for r in lazy if r["name"] == "cdc.collapse"]
    files = {"data": [], "deletes": [], "bytes": []}
    for root, snap in tracer.commits:
        with open(os.path.join(root, snap["manifest"])) as f:
            m = json.load(f)
        added = m["added_data_files"] + m["added_delete_files"]
        files["data"].append(len(m["added_data_files"]))
        files["deletes"].append(len(m["added_delete_files"]))
        files["bytes"].append(sum(e.get("bytes", 0) for e in added))
    tables = w.tables()
    live_data = live_del = meta_bytes = snaps = data_rows = 0
    for t in tables:
        d, dl = t.live_files()
        live_data += len(d)
        live_del += len(dl)
        data_rows += sum((e.get("stats") or {}).get("rows", 0) for e in d)
        meta_bytes += os.path.getsize(os.path.join(
            t.root, "metadata", f"v{t.current_version()}.json"))
        snaps += len(t.snapshots())
    live_rows = sum(t.read(w.spark).count() for t in tables)
    overhead = 0.0
    if traced and untraced:
        overhead = statistics.median(b["latency_s"] for b in traced) / (
            statistics.median(b["latency_s"] for b in untraced)
        ) - 1.0

    metrics = {
        "sources.decode_s": lazy_cost("sources.decode"),
        "sources.registry_requests": float(
            getattr(w, "registry_requests", 0)
        ),
        "transforms.debezium_s": lazy_cost("transforms.debezium"),
        "streaming.process_batch_self_s": total(BATCH_SPAN),
        "streaming.spark_jobs_per_batch": avg(
            jobs[b["batch"]][0] for b in traced),
        "streaming.spark_tasks_per_batch": avg(
            jobs[b["batch"]][1] for b in traced),
        "routing.tables_per_batch": total("table.append", "calls")
        + total("table.upsert", "calls"),
        "cdc.collapse_s": lazy_cost("cdc.collapse"),
        "cdc.collapse_ratio": (
            sum(r["rows_out"] for r in collapse)
            / sum(r["rows_in"] for r in collapse)
        ) if collapse else 0.0,
        "table.append_s": total("table.append"),
        "table.upsert_s": total("table.upsert"),
        "table.data_files_per_commit": avg(files["data"]),
        "table.delete_files_per_commit": avg(files["deletes"]),
        "table.bytes_per_commit": avg(files["bytes"]),
        "table.metadata_calls_per_batch": total("table.metadata", "calls"),
        "table.metadata_s_per_batch": total("table.metadata"),
        "table.metadata_json_bytes": float(meta_bytes),
        "table.snapshots": float(snaps),
        "table.read_s": avg(
            s.duration for s in tracer.spans if s.name == "table.read"),
        "table.live_data_files": float(live_data),
        "table.live_delete_files": float(live_del),
        "table.read_live_ratio": live_rows / data_rows if data_rows else 0.0,
        "catalog.calls_per_batch": total("catalog.", "calls"),
        "catalog.s_per_batch": total("catalog."),
        "trace.overhead_ratio": overhead,
    }
    summary = {
        "layers": layer_summary(tracer.spans),
        "span_check_errors": check_batches(tracer.spans),
        "traced_batches": len(traced),
        "untraced_batches": len(untraced),
        "lazy_evaluations": lazy,
    }
    return metrics, summary


def print_layers(summary: dict, workload: str) -> None:
    print(f"spans on {workload} (all traced spans, self time):")
    for name, v in sorted(summary["layers"].items()):
        print(f"  {name:<42} calls {v['calls']:>6}  self {v['self_s']:9.4f} s")
    errs = summary["span_check_errors"]
    print(f"  span check: {'ok' if not errs else '; '.join(errs[:5])}")


# ------------------------------------------------------------------ main
def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"ingestbench: no {PACKAGE}/ under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    nproc = len(os.sched_getaffinity(0))
    out_dir = os.path.join(root, ".ingestbench")
    work = os.path.join(
        out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}"
    )
    os.makedirs(work, exist_ok=True)
    try:
        return run(args, root, work, out_dir, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, root, work, out_dir, nproc) -> int:
    jiffies_start = cpu_jiffies()
    t_start = time.perf_counter()
    spark = start_spark(root, work, nproc)
    session_s = time.perf_counter() - t_start
    w = None
    try:
        from oracle import CHECKS
        from runner import Runner
        from tracing import Tracer
        from workloads import WORKLOADS

        facts = host_facts(spark)
        probe_start = noise_probe(spark, nproc)
        tracer = Tracer() if args.trace else None
        runner = Runner(spark, tracer)
        w = WORKLOADS[args.workload](spark, runner, args.seed, args.seconds,
                                     work)
        if tracer is not None:
            tracer.install()
            w.wrap = tracer.lazy_layer

        setup_times = []
        for rep in range(SETUP_REPS):
            if rep:
                w.discard()
            t0 = time.perf_counter()
            w.setup()
            setup_times.append(time.perf_counter() - t0)

        # objects made so far (inputs, oracle tables) leave the cyclic
        # collector's scans, so its pauses during the phase stay short
        gc.collect()
        gc.freeze()
        w.run()
        e2e = {"setup_s": statistics.median(setup_times), **w.end_to_end()}
        if tracer is not None:
            layer_metrics, summary = per_layer(tracer, runner, w)
            tracer.uninstall()
        errors = CHECKS[args.workload](w)
        probe_end = noise_probe(spark, nproc)
    finally:
        if w is not None:
            w.close()
        stop_spark(spark)

    correct = not errors and runner.failed == 0
    if tracer is not None:
        errors += summary["span_check_errors"]
        correct = correct and not summary["span_check_errors"]
    e2e["error_rate"] = runner.failed / runner.attempted
    metrics = layer_metrics if tracer is not None else e2e
    units = PER_LAYER_UNITS if tracer is not None else END_TO_END_UNITS
    result = {
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }

    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    stem = os.path.join(
        out_dir, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}",
    )
    record = {
        "workload": args.workload,
        "loop": w.loop,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "seconds": args.seconds,
        "host": facts,
        "noise_probe_s": {"start": probe_start, "end": probe_end},
        "cpu_steal_share": steal_share(jiffies_start, cpu_jiffies()),
        "session_start_s": session_s,
        "setup_reps_s": setup_times,
        "input": w.properties(),
        "end_to_end": e2e,
        "batches": runner.batches,
        "reads": runner.reads,
        "correctness_errors": errors,
        "result": result,
    }
    if tracer is not None:
        record["per_layer"] = layer_metrics
        record["span_summary"] = summary
        with open(stem + "-spans.json", "w") as f:
            json.dump(tracer.dump(), f)
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    print(f"{args.workload} seed {args.seed} ({w.loop} loop), "
          f"{len(runner.batches)} timed batches, probe "
          f"{probe_start:.3f}/{probe_end:.3f} s, result file {stem}.json")
    if tracer is not None:
        print_layers(summary, args.workload)
    for k, v in result["metrics"].items():
        print(f"  {k:<36} {v['value']:>14.6g} {v['unit']}")
    for e in errors:
        print(f"MISMATCH: {e}")
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

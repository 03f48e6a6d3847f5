"""Calls into the system under test: one micro-batch or one reader query at
a time, timed from call to return, with per-batch Spark job groups and,
in the traced run, the tracer switched on for every other batch."""

from __future__ import annotations

import sys
import time
import traceback

from tracing import Tracer

PROBE_GROUP = "ingestbench-probe"
READ_GROUP = "ingestbench-read"
SETUP_GROUP = "ingestbench-setup"


def noop_seconds(df) -> float:
    """Evaluate a DataFrame into Spark's noop sink; wall seconds."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Runner:
    """Drives ``SinkPipeline.process_batch`` and reader queries.

    With a tracer, even-numbered calls run traced and odd ones untraced
    (the wrappers stay installed and pass straight through), so the
    latency ratio of the two halves is the tracing overhead. Lazy-layer
    captures are evaluated after each traced batch returns."""

    def __init__(self, spark, tracer: Tracer | None = None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.batches: list[dict] = []  # batch id, latency, traced, ok
        self.reads: list[dict] = []
        self.groups: list[str] = []  # job groups in the order they were set
        self.lazy: list[dict] = []  # lazy-layer evaluations
        self.attempted = 0
        self.failed = 0

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)
        self.groups.append(name)

    def batch(self, pipe, df, batch_id: int, timed: bool = True) -> float:
        """One micro-batch; returns call -> return seconds. A failure is
        counted and the stream goes on, as a restarted query would."""
        tr = self.tracer
        traced = tr is not None and timed and len(self.batches) % 2 == 0
        if traced:
            tr.active = True
            tr.batch = batch_id
        self.group(f"ingestbench-b{batch_id}" if timed else SETUP_GROUP)
        ok = True
        t0 = time.perf_counter()
        try:
            pipe.process_batch(df, batch_id)
        except Exception:  # noqa: BLE001 — counted, reported, run goes on
            ok = False
            traceback.print_exc(file=sys.stderr)
        latency = time.perf_counter() - t0
        if tr is not None:
            tr.active = False
            tr.batch = None
        if not timed:
            if not ok:
                raise RuntimeError(f"set-up batch {batch_id} failed")
            return latency
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.batches.append(
            {"batch": batch_id, "latency_s": latency, "traced": traced,
             "ok": ok}
        )
        if traced and tr.captures:
            self._evaluate_captures()
        return latency

    def _evaluate_captures(self) -> None:
        self.group(PROBE_GROUP)
        for cap in self.tracer.captures:
            row = {
                "batch": cap.batch,
                "name": cap.name,
                "before_s": noop_seconds(cap.before),
                "after_s": noop_seconds(cap.after),
            }
            if cap.name == "cdc.collapse":
                row["rows_in"] = cap.before.count()
                row["rows_out"] = cap.after.count()
            self.lazy.append(row)
        self.tracer.captures.clear()

    def read(self, fn, label: str):
        """One reader query ``fn()``, traced whenever a tracer is present.
        Returns its result; the latency is kept in ``reads``."""
        tr = self.tracer
        self.group(READ_GROUP)
        self.attempted += 1
        if tr is not None:
            tr.active = True
            span = tr.open("reader.query")
        t0 = time.perf_counter()
        try:
            result = fn()
            ok = True
        except Exception:  # noqa: BLE001 — counted, reported, run goes on
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        latency = time.perf_counter() - t0
        if tr is not None:
            tr.close(span)
            tr.active = False
        self.failed += 0 if ok else 1
        self.reads.append({"label": label, "latency_s": latency, "ok": ok})
        return result

    # ------------------------------------------------------ job counting
    def job_counts(self) -> dict[int, tuple[int, int]]:
        """Batch id -> (Spark jobs, completed tasks) for every timed batch.

        Jobs the main thread submits carry the batch's job group. Jobs the
        package submits from its own helper threads carry none; each of
        those belongs to the group that was set last before it started,
        i.e. the group with the largest first job id not above it."""
        st = self.sc.statusTracker()
        first: dict[str, int] = {}
        ids: dict[str, list[int]] = {}
        for g in dict.fromkeys(self.groups):
            jobs = st.getJobIdsForGroup(g)
            if jobs:
                ids[g] = list(jobs)
                first[g] = min(jobs)
        starts = sorted((v, g) for g, v in first.items())
        for j in st.getJobIdsForGroup(None):
            owner = None
            for v, g in starts:
                if v <= j:
                    owner = g
                else:
                    break
            if owner is not None:
                ids[owner].append(j)

        def tasks(job: int) -> int:
            info = st.getJobInfo(job)
            if info is None:
                return 0
            n = 0
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    n += stage.numCompletedTasks
            return n

        out = {}
        for b in self.batches:
            jobs = ids.get(f"ingestbench-b{b['batch']}", [])
            out[b["batch"]] = (len(jobs), sum(tasks(j) for j in jobs))
        return out

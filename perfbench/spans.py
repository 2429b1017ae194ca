"""Traced-run instrumentation, installed from outside the engine.

Spans wrap the engine's public functions at the module attribute the
caller looks them up through; nothing inside ``etl_spark`` changes and
untraced runs install nothing. After the timed phase each Spark job is
assigned to the innermost span whose interval holds the job's
submission time (the driver submits from one thread at a time; the
streaming ``foreachBatch`` callback runs while the main thread is
blocked in ``awaitTermination``). Stage metrics come from the status
store (``spark.ui.enabled=false`` keeps it), Python-worker metrics from
the uncompressed event log, which the status store does not hold.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# SQL accumulables of the Arrow/pandas operators, in the event log only.
PY_UDF_MS = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_PY_NAMES = (PY_UDF_MS, PY_SENT, PY_RETURNED)

READ_KINDS = ("range", "point", "rollup")
READ_OP = "lake_reads."  # span name prefix of one timed read

_READ_METRICS = (
    ("plan_ms", "ms", "lower"),
    ("files_scanned", "count", "lower"),
    ("prune_ratio", "ratio", "lower"),
    ("exec_ms", "ms", "lower"),
    ("input_bytes", "B", "lower"),
    ("rows_returned_per_row_scanned", "ratio", "higher"),
)
# Every per-layer metric a traced run reports: (name, unit, better).
# BENCHMARK.json's per_layer list is this table.
PER_LAYER = [
    ("pipeline.ingest_epoch.self_s", "s", "lower"),
    ("spark.jobs_per_epoch", "count", "lower"),
    ("spark.tasks_per_epoch", "count", "lower"),
    ("operators.dedup.delta_stats.wall_s", "s", "lower"),
    ("operators.dedup.delta_stats.exec_ms", "ms", "lower"),
    ("operators.dedup.delta_stats.input_bytes", "B", "lower"),
    ("operators.merge_spj.merge_epoch_spj.self_s", "s", "lower"),
    ("lake.table.commit.wall_s", "s", "lower"),
    ("lake.table.commit.jobs", "count", "lower"),
    ("lake.table.commit.exec_ms", "ms", "lower"),
    ("lake.table.commit.cpu_ms", "ms", "lower"),
    ("lake.table.commit.gc_ms", "ms", "lower"),
    ("lake.table.commit.shuffle_write_bytes", "B", "lower"),
    ("lake.table.commit.output_bytes", "B", "lower"),
    ("lake.table.commit.rows_written_per_event", "ratio", "lower"),
    ("python.udf_exec_ms", "ms", "lower"),
    ("python.bytes_sent", "B", "lower"),
    ("python.bytes_returned", "B", "lower"),
    ("operators.rollup.rollup_domain_stats.wall_s", "s", "lower"),
    ("operators.rollup.rollup_domain_stats.exec_ms", "ms", "lower"),
    ("operators.rollup.rollup_domain_stats.input_bytes", "B", "lower"),
    ("lineage.flush.wall_s", "s", "lower"),
    ("lineage.flush.jobs", "count", "lower"),
    ("streaming.ingest.batch_overhead_ms", "ms", "lower"),
    ("streaming.ingest.source_reads_per_event", "ratio", "lower"),
    ("lake.table.expire_snapshots.wall_s", "s", "lower"),
    ("lake.table.files_live", "count", "lower"),
    *[
        (f"lake.table.read.{kind}.{metric}", unit, better)
        for kind in READ_KINDS
        for metric, unit, better in _READ_METRICS
    ],
    ("trace.throughput_per_s", "1/s", "higher"),
    ("trace.step_s_p50", "s", "lower"),
]


def trace_conf(event_log_dir: str) -> dict[str, str]:
    """Session settings of a traced run: an uncompressed, single-file
    event log (the default zstd codec needs a package the host lacks)
    and a status store that keeps every job and stage of the run."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": event_log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self._next_id += 1
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    def open_span(self, span_id: int | None) -> dict | None:
        for rec in self._stack:
            if rec["id"] == span_id:
                return rec
        return None

    def wrap(self, owner, attr: str, name: str, when=None, after=None) -> None:
        """Replace ``owner.attr`` by a spanned twin. ``when(args)`` picks
        the calls to span; ``after(rec, args, result)`` adds attributes
        once the span has closed."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            if when is not None and not when(args):
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
            if after is not None:  # outside the span: not the layer's time
                after(rec, args, out)
            return out

        setattr(owner, attr, spanned)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install_layer_spans(tracer: Tracer) -> None:
    """One span per layer boundary, named ``<module>.<function>``."""
    import etl_spark.lineage as lineage
    import etl_spark.pipeline as pipeline
    import etl_spark.streaming.ingest as streaming_ingest
    from etl_spark.lake.table import LakeTable

    # ingest_range and stream_ingest look ingest_epoch up in their own
    # module globals, so both bindings are wrapped.
    tracer.wrap(pipeline, "ingest_epoch", "pipeline.ingest_epoch")
    tracer.wrap(streaming_ingest, "ingest_epoch", "pipeline.ingest_epoch")
    tracer.wrap(pipeline, "delta_stats", "operators.dedup.delta_stats")
    tracer.wrap(
        pipeline, "merge_epoch_spj", "operators.merge_spj.merge_epoch_spj"
    )
    tracer.wrap(
        pipeline, "rollup_domain_stats", "operators.rollup.rollup_domain_stats"
    )
    tracer.wrap(lineage.LineageLog, "flush", "lineage.flush")
    # Only the pages table's commit is its own layer; rollup and lineage
    # commits stay inside the rollup / lineage.flush spans.
    tracer.wrap(
        LakeTable,
        "commit",
        "lake.table.commit",
        when=lambda args: os.path.basename(args[0].root.rstrip("/")) == "pages",
    )
    tracer.wrap(LakeTable, "expire_snapshots", "lake.table.expire_snapshots")

    def read_files(rec, args, df):
        # Only for the benchmark's timed reads: inputFiles() is a
        # driver-side listing, kept off the ingest path.
        parent = tracer.open_span(rec["parent"])
        if parent is None or not parent["name"].startswith(READ_OP):
            return
        table = args[0]
        rec["attrs"]["files_total"] = sum(
            len(p) for p in table.snapshot().files.values()
        )
        rec["attrs"]["files_scanned"] = len(df.inputFiles())

    tracer.wrap(LakeTable, "read", "lake.table.read", after=read_files)


def harvest_jobs(spark, since: float, until: float) -> list[dict]:
    """Jobs submitted within [since, until] with their executed stages'
    metrics. Stages with no attempt, or skipped ones, are left out, and
    a stage shared by several jobs is counted once."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    seen: set[int] = set()
    jobs = []
    for job in conv.asJava(store.jobsList(None)):
        submitted = job.submissionTime()
        if not submitted.isDefined():
            continue
        t = submitted.get().getTime() / 1000.0
        if not since <= t <= until:
            continue
        stages = []
        for sid in conv.asJava(job.stageIds()):
            sid = int(sid)
            if sid in seen:
                continue
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if s.status().toString() == "SKIPPED":
                continue
            seen.add(sid)
            stages.append(
                {
                    "id": sid,
                    "tasks": s.numTasks(),
                    "exec_ms": s.executorRunTime(),
                    "cpu_ms": s.executorCpuTime() / 1e6,
                    "gc_ms": s.jvmGcTime(),
                    "input_bytes": s.inputBytes(),
                    "input_records": s.inputRecords(),
                    "output_bytes": s.outputBytes(),
                    "output_records": s.outputRecords(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                }
            )
        jobs.append({"id": int(job.jobId()), "submit": t, "stages": stages})
    return sorted(jobs, key=lambda j: j["id"])


def python_metrics_by_stage(event_log_dir: str) -> dict[int, dict[str, float]]:
    """Per-stage sums of the Python-worker task accumulables."""
    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(event_log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                event = json.loads(line)
                sid = int(event["Stage ID"])
                for acc in event.get("Task Info", {}).get("Accumulables", []):
                    if acc.get("Name") in _PY_NAMES and "Update" in acc:
                        out[sid][acc["Name"]] += float(acc["Update"])
    return out


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return _div(sum(xs), len(xs))


class Attribution:
    """Jobs mapped onto spans: each job to its innermost containing
    span, and each span to the jobs under it (itself or descendants)."""

    def __init__(self, spans: list[dict], jobs: list[dict]):
        self.spans = spans
        self.children: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)
        self.jobs_of: dict[int, list[dict]] = defaultdict(list)
        for job in jobs:
            owner = self._innermost(job["submit"])
            if owner is not None:
                self.jobs_of[owner["id"]].append(job)

    def _innermost(self, t: float) -> dict | None:
        best = None
        for s in self.spans:
            if s["start"] <= t <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        return best

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def all_jobs(self, spans: list[dict]) -> list[dict]:
        out, todo = [], list(spans)
        while todo:
            s = todo.pop()
            out.extend(self.jobs_of[s["id"]])
            todo.extend(self.children[s["id"]])
        return out

    def self_s(self, span: dict) -> float:
        covered = sum(c["end"] - c["start"] for c in self.children[span["id"]])
        return span["end"] - span["start"] - covered


def _stage_sum(jobs: list[dict], key: str) -> float:
    return float(sum(st[key] for j in jobs for st in j["stages"]))


def _py_sum(jobs: list[dict], py: dict, name: str) -> float:
    return sum(py.get(st["id"], {}).get(name, 0.0) for j in jobs for st in j["stages"])


def layer_metrics(
    att: Attribution,
    py: dict,
    micro_batches: list[dict],
    read_rows: dict[str, int],
    files_live: int,
) -> dict[str, float]:
    """The per-layer table. A span metric is a mean per call of the
    layer's public function; a layer the workload never calls reads 0."""
    m: dict[str, float] = {}
    epochs = att.named("pipeline.ingest_epoch")
    n_epochs = len(epochs)
    epoch_jobs = att.all_jobs(epochs)
    m["pipeline.ingest_epoch.self_s"] = _mean(att.self_s(s) for s in epochs)
    m["spark.jobs_per_epoch"] = _div(len(epoch_jobs), n_epochs)
    m["spark.tasks_per_epoch"] = _div(_stage_sum(epoch_jobs, "tasks"), n_epochs)

    def per_call(prefix: str, spans: list[dict], keys: tuple[str, ...]):
        jobs = att.all_jobs(spans)
        n = len(spans)
        m[f"{prefix}.wall_s"] = _mean(s["end"] - s["start"] for s in spans)
        for key in keys:
            m[f"{prefix}.{key}"] = _div(_stage_sum(jobs, key), n)

    per_call(
        "operators.dedup.delta_stats",
        att.named("operators.dedup.delta_stats"),
        ("exec_ms", "input_bytes"),
    )
    merges = att.named("operators.merge_spj.merge_epoch_spj")
    m["operators.merge_spj.merge_epoch_spj.self_s"] = _mean(
        att.self_s(s) for s in merges
    )
    commits = att.named("lake.table.commit")
    per_call(
        "lake.table.commit",
        commits,
        ("exec_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "output_bytes"),
    )
    commit_jobs = att.all_jobs(commits)
    m["lake.table.commit.jobs"] = _div(len(commit_jobs), len(commits))
    batch_events = sum(b["events"] for b in micro_batches)
    m["lake.table.commit.rows_written_per_event"] = _div(
        _stage_sum(commit_jobs, "output_records"), batch_events
    )
    for key, name in (
        ("python.udf_exec_ms", PY_UDF_MS),
        ("python.bytes_sent", PY_SENT),
        ("python.bytes_returned", PY_RETURNED),
    ):
        m[key] = _div(_py_sum(epoch_jobs, py, name), n_epochs)
    per_call(
        "operators.rollup.rollup_domain_stats",
        att.named("operators.rollup.rollup_domain_stats"),
        ("exec_ms", "input_bytes"),
    )
    flushes = att.named("lineage.flush")
    m["lineage.flush.wall_s"] = _mean(s["end"] - s["start"] for s in flushes)
    m["lineage.flush.jobs"] = _div(len(att.all_jobs(flushes)), len(flushes))
    m["streaming.ingest.batch_overhead_ms"] = _mean(
        b["trigger_ms"] - b["add_batch_ms"] for b in micro_batches
    )
    m["streaming.ingest.source_reads_per_event"] = _div(
        sum(b["input_rows"] for b in micro_batches), batch_events
    )
    m["lake.table.expire_snapshots.wall_s"] = _mean(
        s["end"] - s["start"] for s in att.named("lake.table.expire_snapshots")
    )
    m["lake.table.files_live"] = float(files_live)

    for kind in READ_KINDS:
        ops = att.named(READ_OP + kind)
        n = len(ops)
        reads = [
            c for op in ops for c in att.children[op["id"]]
            if c["name"] == "lake.table.read" and "files_scanned" in c["attrs"]
        ]
        jobs = att.all_jobs(ops)
        p = f"lake.table.read.{kind}"
        m[f"{p}.plan_ms"] = 1000.0 * _mean(r["end"] - r["start"] for r in reads)
        m[f"{p}.files_scanned"] = _mean(r["attrs"]["files_scanned"] for r in reads)
        m[f"{p}.prune_ratio"] = _mean(
            _div(r["attrs"]["files_scanned"], r["attrs"]["files_total"]) for r in reads
        )
        m[f"{p}.exec_ms"] = _div(_stage_sum(jobs, "exec_ms"), n)
        m[f"{p}.input_bytes"] = _div(_stage_sum(jobs, "input_bytes"), n)
        m[f"{p}.rows_returned_per_row_scanned"] = _div(
            read_rows.get(kind, 0), _stage_sum(jobs, "input_records")
        )
    return m

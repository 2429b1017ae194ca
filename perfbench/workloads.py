"""The benchmark's workloads. Each one generates its input from the
seed, writes it to parquet during set-up, drives the engine through its
public entry points for the timed phase, and checks what came out."""

from __future__ import annotations

import contextlib
import functools
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from checks import group_digests, pages_match_fold
from etl_spark import schema as S
from etl_spark.lake.table import bucket_expr
from etl_spark.operators.rollup import compute_partials, read_rollup
from etl_spark.pipeline import Warehouse, ingest_range
from etl_spark.streaming.ingest import stream_ingest
from spans import READ_OP, install_layer_spans

N_BUCKETS = 8
STREAM_TIMEOUT_S = 120


@dataclass
class Outcome:
    """What a workload hands back to the runner."""

    timed_start: float = 0.0  # perf_counter at the start of the timed phase
    wall_start: float = 0.0  # time.time() twin, for job attribution
    wall_end: float = 0.0
    steps_s: list[float] = field(default_factory=list)
    work_units: int = 0  # change events applied, or reads completed
    busy_s: float = 0.0  # wall time of the timed operations
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    inputs: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)
    stored_bytes_per_live_row: float = 0.0
    files_live: int = 0
    micro_batches: list[dict] = field(default_factory=list)
    read_rows: dict = field(default_factory=dict)

    def rate(self) -> float:
        """Work units per second of timed wall clock."""
        return self.work_units / self.busy_s if self.busy_s else 0.0

    def p50(self) -> float:
        return statistics.median(self.steps_s) if self.steps_s else 0.0

    def check(self, name: str, ok: bool, detail) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks[name] = {"ok": ok, "detail": detail}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: object | None
    t_process: float  # perf_counter at process start

    def note(self, msg: str) -> None:
        """Phase marks on stderr, for reading a run's timeline."""
        elapsed = time.perf_counter() - self.t_process
        print(f"[perfbench +{elapsed:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def begin_timed(self, out: Outcome) -> None:
        if self.tracer is not None:
            install_layer_spans(self.tracer)
        out.wall_start = time.time()
        out.timed_start = time.perf_counter()

    def end_timed(self, out: Outcome) -> None:
        out.wall_end = time.time()
        if self.tracer is not None:
            self.tracer.unwrap_all()

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def _head_layout(table) -> tuple[int, int]:
    """(bytes, files) of the data files the table's head references."""
    files = [p for plist in table.snapshot().files.values() for p in plist]
    return sum(os.path.getsize(os.path.join(table.root, p)) for p in files), len(files)


def _check_pages(spark, out: Outcome, wh: Warehouse, changes) -> None:
    """Final state equals the fold of every event applied; also records
    the head's layout (bytes per live row, live files)."""
    ok, detail = pages_match_fold(wh.pages.read(spark), changes)
    out.check("pages_equal_lww_fold", ok, detail)
    nbytes, nfiles = _head_layout(wh.pages)
    out.files_live = nfiles
    if detail["live_rows"]:
        out.stored_bytes_per_live_row = nbytes / detail["live_rows"]


# -- cdc_upsert_stream ---------------------------------------------------------

STREAM_BATCH_EVENTS = 2000
STREAM_PRELOAD_KEYS = 10 * STREAM_BATCH_EVENTS
STREAM_BACKLOG_FILES = 24


def _drain(spark, wh: Warehouse, src: str, ckpt: str):
    """One AvailableNow run of ``stream_ingest`` over whatever is in
    ``src`` and not yet in the checkpoint. Returns (finished, progress
    of the micro-batches that read data, wall seconds)."""
    t0 = time.perf_counter()
    q = stream_ingest(spark, wh, src, ckpt)
    try:
        finished = q.awaitTermination(STREAM_TIMEOUT_S)
    except StreamingQueryException:  # a micro-batch failed
        traceback.print_exc()
        finished = False
    wall = time.perf_counter() - t0
    if not finished:
        q.stop()
    return finished, [p for p in q.recentProgress if p["numInputRows"] > 0], wall


def cdc_upsert_stream(ctx: Ctx) -> Outcome:
    """Preload ~10 micro-batches' worth of live keys, then drain a
    backlog of small update/delete files through ``stream_ingest``
    (AvailableNow, one file per trigger), one file per drain, expiring
    snapshots between drains. Every micro-batch touches every bucket."""
    spark, out = ctx.spark, Outcome()
    keys, batch, n_files = STREAM_PRELOAD_KEYS, STREAM_BATCH_EVENTS, STREAM_BACKLOG_FILES
    log = gen.ChangeLog(ctx.seed, keys)
    inp = os.path.join(ctx.work, "input")
    # file 0 is the preload (one insert per key), files 1.. the backlog
    preload = gen.write(log.events(0, keys, 0), os.path.join(inp, "f0000.parquet"))
    backlog = [
        gen.write(
            log.events(keys + i * batch, batch, 1 + i),
            os.path.join(inp, f"f{1 + i:04d}.parquet"),
        )
        for i in range(n_files)
    ]
    out.inputs = {
        "preload_events": keys,
        "keys": keys,
        "events_per_file": batch,
        "backlog_files": n_files,
        "n_buckets": N_BUCKETS,
    }
    ctx.note("stream input written")

    lake = os.path.join(ctx.work, "lake")
    src, ckpt = os.path.join(lake, "src"), os.path.join(lake, "ckpt")
    os.makedirs(src)
    wh = Warehouse.init(os.path.join(lake, "wh"), n_buckets=N_BUCKETS)
    # The preload goes through the streaming path as its first
    # micro-batch, and one backlog file follows it untimed: together they
    # are the warm-up (query start-up, codegen, JIT and Python workers
    # are paid before timing; the first copy-on-write micro-batch after
    # the preload still runs ~20% slower than the next).
    consumed = []
    for path in [preload, backlog.pop(0)]:
        consumed.append(os.path.join(src, os.path.basename(path)))
        os.rename(path, consumed[-1])
        finished, batches, _ = _drain(spark, wh, src, ckpt)
        if not finished or len(batches) != 1:
            raise RuntimeError(f"warm-up drain of {path} failed")
    ctx.note("preloaded and warmed up")

    ctx.begin_timed(out)
    for path in backlog:
        if time.perf_counter() - out.timed_start >= ctx.seconds:
            break
        consumed.append(os.path.join(src, os.path.basename(path)))
        os.rename(path, consumed[-1])
        with ctx.span("streaming.ingest.stream_ingest"):
            finished, batches, wall = _drain(spark, wh, src, ckpt)
        out.attempted += 1
        if not finished or len(batches) != 1:
            out.failed += 1
            continue
        d = batches[0]["durationMs"]
        out.micro_batches.append(
            {
                "trigger_ms": d["triggerExecution"],
                "add_batch_ms": d["addBatch"],
                "input_rows": batches[0]["numInputRows"],
                "events": batch,
            }
        )
        out.steps_s.append(d["triggerExecution"] / 1000.0)
        out.work_units += batch
        out.busy_s += wall
        for table in (wh.pages, wh.rollup, wh.lineage):
            table.expire_snapshots(keep_last=2)
    ctx.end_timed(out)
    ctx.note(f"timed phase done: {len(out.steps_s)} micro-batches")

    changes = spark.read.schema(S.CHANGES_SCHEMA).parquet(*consumed)
    _check_pages(spark, out, wh, changes)
    ctx.note("checks done")
    out.summary = {
        "events_per_s": (out.rate(), "ev/s"),
        "epoch_s_p50": (out.p50(), "s"),
        "micro_batches": (len(out.steps_s), "count"),
    }
    return out


# -- lake_reads ----------------------------------------------------------------

READS_KEYS = 10_000
READS_EVENTS_PER_KEY = 4
READS_UPSERT_EPOCHS = 1
READS_UPSERT_EVENTS = 2000
READS_RANGE_POOL = 4
READS_POINT_POOL = 16
READS_WARMUP_BLOCKS = 12  # of READS_BLOCK, 5 reads each
# One block of the closed loop; shuffled per block so the kind mix is
# fixed while the order varies with the seed.
READS_BLOCK = ("range", "range", "point", "point", "rollup")


def lake_reads(ctx: Ctx) -> Outcome:
    """Build a table (a bulk load, then a few upsert epochs), then run
    one closed-loop client over a seeded mix of time-range scans, url
    point lookups and rollup reads. No ingest runs while timing."""
    spark, out = ctx.spark, Outcome()
    rng = random.Random(ctx.seed)
    log = gen.ChangeLog(ctx.seed, READS_KEYS)
    bulk = READS_KEYS * READS_EVENTS_PER_KEY
    log_dir = os.path.join(ctx.work, "input", "log")
    gen.write(log.events(0, bulk, 0), os.path.join(log_dir, "e0000.parquet"))
    for e in range(1, 1 + READS_UPSERT_EPOCHS):
        start = bulk + (e - 1) * READS_UPSERT_EVENTS
        events = log.events(start, READS_UPSERT_EVENTS, e)
        gen.write(events, os.path.join(log_dir, f"e{e:04d}.parquet"))
    changes = spark.read.schema(S.CHANGES_SCHEMA).parquet(log_dir)
    ctx.note("read input written")
    out.inputs = {
        "keys": READS_KEYS,
        "bulk_events": bulk,
        "upsert_epochs": READS_UPSERT_EPOCHS,
        "upsert_events": READS_UPSERT_EVENTS,
        "n_buckets": N_BUCKETS,
    }
    wh = Warehouse.init(os.path.join(ctx.work, "lake", "wh"), n_buckets=N_BUCKETS)
    ingest_range(spark, wh, changes, range(0, 1 + READS_UPSERT_EPOCHS))
    pages = wh.pages
    ctx.note("table built")

    # windows over the live rows' event-time range, where the data is
    lo, hi = pages.read(spark).agg(F.min("warc_ts"), F.max("warc_ts")).first()
    span = hi - lo
    windows = []
    for _ in range(READS_RANGE_POOL):
        width = span * rng.uniform(0.05, 0.3)
        w_lo = lo + (span - width) * rng.random()
        windows.append((w_lo, w_lo + width))
    urls = [
        (r["url"], int(r["b"]))
        for r in changes.select("url")
        .distinct()
        .withColumn("b", bucket_expr(["url"], pages.snapshot().n_buckets))
        .orderBy(F.xxhash64("url", F.lit(ctx.seed)))
        .limit(READS_POINT_POOL)
        .collect()
    ]

    def range_scan(i: int):
        w_lo, w_hi = windows[i]
        (
            pages.read(spark, time_range=(w_lo, w_hi))
            .filter(F.col("warc_ts").between(w_lo, w_hi))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )

    def point_lookup(i: int):
        url, b = urls[i]
        return pages.read(spark, buckets=[b]).filter(F.col("url") == url).collect()

    def rollup_read(_i: int):
        return read_rollup(spark, wh.rollup).collect()

    ops = {"range": range_scan, "point": point_lookup, "rollup": rollup_read}
    pools = {"range": len(windows), "point": len(urls), "rollup": 1}
    # Warm-up: plan shapes, codegen and JIT of the read path. Reads keep
    # getting faster for a few hundred reads (~40% from the first reads to
    # the plateau), so a warm-up cut by time would start the timed phase
    # at a point on that curve set by the host's speed, and a slow host
    # would read slow twice over. A fixed count of reads starts it at the
    # same point everywhere.
    warm = random.Random(f"warm-{ctx.seed}")
    for _ in range(READS_WARMUP_BLOCKS):
        for kind in warm.sample(READS_BLOCK, len(READS_BLOCK)):
            ops[kind](warm.randrange(pools[kind]))
    ctx.note("read warm-up done")

    samples: dict[str, list[float]] = {k: [] for k in ops}
    range_used: list[int] = []
    results: dict[tuple, list] = {}  # first result per (kind, parameter)
    repeats = differ = 0
    ctx.begin_timed(out)
    block: list[str] = []
    while time.perf_counter() - out.timed_start < ctx.seconds:
        if not block:
            block = list(READS_BLOCK)
            rng.shuffle(block)
        kind = block.pop()
        i = rng.randrange(pools[kind])
        out.attempted += 1
        with ctx.span(READ_OP + kind):
            t0 = time.perf_counter()
            try:
                rows = ops[kind](i)
            except Exception:  # a failed read is counted, and the loop goes on
                traceback.print_exc()
                out.failed += 1
                continue
            dt = time.perf_counter() - t0
        samples[kind].append(dt)
        out.steps_s.append(dt)
        out.busy_s += dt
        out.work_units += 1
        if rows is None:
            range_used.append(i)
            continue
        out.read_rows[kind] = out.read_rows.get(kind, 0) + len(rows)
        # the table does not change while timing: a repeated read must
        # return what the first one did (which the checks below verify)
        first = results.setdefault((kind, i), rows)
        if rows is not first:
            repeats += 1
            differ += sorted(map(tuple, rows)) != sorted(map(tuple, first))
    ctx.end_timed(out)
    out.check("repeated_reads_identical", differ == 0, {"repeats": repeats, "differ": differ})
    ctx.note(f"timed phase done: {len(out.steps_s)} reads")

    _check_pages(spark, out, wh, changes)
    ctx.note("fold checked")
    rows_in = _check_ranges(spark, out, pages, windows, set(range_used))
    out.read_rows["range"] = sum(rows_in[i] for i in range_used)
    ctx.note("ranges checked")
    _check_points(spark, out, pages, urls, results)
    ctx.note("points checked")
    if ("rollup", 0) in results:
        want = (
            compute_partials(pages.read(spark, with_bucket=True))
            .groupBy("domain", "day_id")
            .agg(
                F.sum("n_pages").alias("n_pages"),
                F.sum("text_chars").alias("text_chars"),
                F.max("max_warc_ts").alias("max_warc_ts"),
            )
            .collect()
        )
        got = results[("rollup", 0)]
        out.check(
            "rollup_equals_recompute",
            sorted(map(tuple, got)) == sorted(map(tuple, want)),
            {"groups": len(want)},
        )

    ctx.note("checks done")
    ordered = sorted(out.steps_s)
    n = len(ordered)
    out.summary = {
        "read_s_p50": (out.p50(), "s"),
        "reads": (n, "count"),
    }
    # the highest percentile with at least ten samples beyond it
    tail = int(100 * (n - 10) / n) if n > 10 else 0
    if tail >= 50:
        out.summary[f"read_s_p{tail}"] = (
            statistics.quantiles(ordered, n=100, method="inclusive")[tail - 1],
            "s",
        )
    for kind, xs in samples.items():
        if xs:
            out.summary[f"read_s_p50.{kind}"] = (statistics.median(xs), "s")
    return out


def _check_ranges(spark, out, pages, windows, scanned) -> dict[int, int]:
    """Each scanned window: the pruned read equals an unpruned read with
    the same predicate (row count and digest over every column), both
    sides in one job. Returns each window's row count."""
    if not scanned:
        return {}
    pruned = [
        pages.read(spark, time_range=(w_lo, w_hi))
        .filter(F.col("warc_ts").between(w_lo, w_hi))
        .withColumn("_w", F.lit(i))
        for i in sorted(scanned)
        for w_lo, w_hi in [windows[i]]
    ]
    bounds = spark.createDataFrame(
        [(i, *windows[i]) for i in sorted(scanned)], "_w int, _lo timestamp, _hi timestamp"
    )
    full = (
        pages.read(spark)
        .crossJoin(F.broadcast(bounds))
        .filter(F.col("warc_ts").between(F.col("_lo"), F.col("_hi")))
        .drop("_lo", "_hi")
    )
    both = functools.reduce(DataFrame.unionByName, pruned).withColumn(
        "_pruned", F.lit(True)
    ).unionByName(full.withColumn("_pruned", F.lit(False)))
    digests = group_digests(both, ["_w", "_pruned"])
    none = (0, None)
    for i in sorted(scanned):
        got, want = digests.get((i, True), none), digests.get((i, False), none)
        out.check(f"range_{i}_pruned_equals_unpruned", got == want, {"rows": want[0]})
    return {i: digests.get((i, False), none)[0] for i in scanned}


def _check_points(spark, out, pages, urls, results) -> None:
    """Each looked-up url: the bucket-pruned lookup equals an unpruned
    read filtered on the same url."""
    looked = sorted(i for kind, i in results if kind == "point")
    if not looked:
        return
    wanted = [urls[i][0] for i in looked]
    full: dict[str, list] = {u: [] for u in wanted}
    for r in pages.read(spark).filter(F.col("url").isin(wanted)).collect():
        full[r["url"]].append(tuple(r))
    for i in looked:
        got = sorted(tuple(r) for r in results[("point", i)])
        want = sorted(full[urls[i][0]])
        out.check(f"point_{i}_pruned_equals_unpruned", got == want, {"rows": len(got)})


WORKLOADS = {"cdc_upsert_stream": cdc_upsert_stream, "lake_reads": lake_reads}

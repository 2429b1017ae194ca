"""The SPJ merge kernel writes its own bucket files and hands the commit
file records: the records' stats equal the JVM stats scan's, kernel
files round-trip through Spark exactly (from INT96 Spark-written input
too), files a failed attempt left behind never publish, and the epoch
path runs no stats scan. Also: orphan claims age from their last write,
and the lineage flush round-trips nulls and floats."""

from __future__ import annotations

import datetime as dt
import inspect
import os
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_spark.lake.table import CommitConflictError, LakeTable
from etl_spark.operators.merge_spj import merge_epoch_spj
from etl_spark.pipeline import Warehouse, ingest_epoch

CHANGES = (
    "seq long, epoch long, op string, url string, warc_ts string, "
    "html binary, lang string"
)


def _changes(spark, rows):
    return spark.createDataFrame(rows, CHANGES).withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )


def _inserts(epoch, n, seq0=0):
    return [
        (
            seq0 + i,
            epoch,
            "I",
            f"https://x.example/doc/{i}",
            f"2024-01-{1 + i % 20:02d} 00:00:{i % 60:02d}.{i:06d}",
            f"<p>doc {i}</p>".encode(),
            None,
        )
        for i in range(n)
    ]


def _physical_type(path: str, column: str) -> str:
    schema = pq.ParquetFile(path).schema
    for i in range(len(schema)):
        if schema.column(i).name == column:
            return schema.column(i).physical_type
    raise KeyError(column)


def test_record_stats_equal_stats_scan(spark, tmp_path):
    """The manifest stats built from the kernel's file records equal
    what the JVM stats scan computes over the same files: per-file
    event-time bounds and per-bucket tombstone count + min."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    ingest_epoch(spark, wh, _changes(spark, _inserts(0, 60)), 0, with_rollup=False)
    dels = [
        (100 + i, 1, "D", f"https://x.example/doc/{i}",
         f"2024-02-01 00:00:00.{i:06d}", None, None)
        for i in range(0, 60, 7)
    ]
    ingest_epoch(spark, wh, _changes(spark, dels), 1, with_rollup=False)

    snap = wh.pages.snapshot()
    scanned = wh.pages._scan_write_stats(spark, snap.files, "warc_ts", snap.schema)
    bucket_stats, file_stats = LakeTable._record_stats(scanned)
    assert snap.file_stats["col"] == snap.tombstone_stats["col"] == "warc_ts"
    assert snap.file_stats["files"] == file_stats
    assert snap.tombstone_stats["buckets"] == bucket_stats
    assert sum(n for n, _ in bucket_stats.values()) == len(dels)
    assert len(file_stats) == sum(len(p) for p in snap.files.values())


def test_spark_written_bucket_round_trips_through_kernel(spark, tmp_path):
    """A bucket first written by the JVM writer (INT96 timestamps) is
    merged by the kernel and read back by Spark unchanged: microsecond
    timestamps, seqs above 2^53 and tombstones, both for rows that stay
    in Arrow and for a current row the delta touches but loses to."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=1)
    pages = wh.pages
    schema = pages.snapshot().schema
    big = 2**60
    ts = dt.datetime(2024, 3, 1, 12, 0, 0, 123457)
    seed = [
        dict(url="https://x.example/live", warc_ts=ts, html=b"<p>a</p>",
             text="a", seq=big + 1, _deleted=False),
        dict(url="https://x.example/kept", warc_ts=ts, html=b"<p>k</p>",
             text="k", seq=big + 2, _deleted=False),
        dict(url="https://x.example/dead", warc_ts=ts + dt.timedelta(microseconds=1),
             html=None, text=None, seq=big + 3, _deleted=True),
    ]
    df = spark.createDataFrame(
        [tuple(r[f.name] for f in schema.fields) for r in seed], schema
    ).withColumn("_bucket", F.lit(0))
    pages.commit(df, touched_buckets=[0], event_time_col="warc_ts")
    spark_file = os.path.join(pages.root, pages.snapshot().files["0"][0])
    assert _physical_type(spark_file, "warc_ts") == "INT96"

    delta = _changes(
        spark,
        [
            # touches "kept" but loses (older): the current row goes
            # through the pandas arbitration and must survive exactly
            (big + 4, 0, "U", "https://x.example/kept", "2024-01-01 00:00:00",
             b"<p>stale</p>", None),
            (big + 5, 0, "I", "https://x.example/new", "2024-03-02 00:00:00",
             b"<p>n</p>", None),
        ],
    )
    merge_epoch_spj(spark, pages, delta, 0)
    (kernel_file,) = pages.snapshot().files["0"]
    assert _physical_type(os.path.join(pages.root, kernel_file), "warc_ts") == "INT64"

    got = {r.url: r for r in pages.read(spark, include_deleted=True).collect()}
    assert set(got) == {
        "https://x.example/live",
        "https://x.example/kept",
        "https://x.example/dead",
        "https://x.example/new",
    }
    for r in seed:
        row = got[r["url"]]
        assert row.warc_ts == r["warc_ts"]  # to the microsecond
        assert row.seq == r["seq"]  # exact above 2^53
        assert row._deleted == r["_deleted"]
        assert row.text == r["text"]
        assert (bytes(row.html) if row.html is not None else None) == r["html"]
    assert got["https://x.example/new"].text == "n"
    assert got["https://x.example/new"].seq == big + 5
    assert pages.snapshot().tombstone_stats["buckets"]["0"] == [
        1,
        (ts + dt.timedelta(microseconds=1)).isoformat(),
    ]


def test_lang_added_mid_stream_is_written(spark, tmp_path):
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    e0 = _changes(spark, _inserts(0, 10)).drop("lang")
    ingest_epoch(spark, wh, e0, 0, with_rollup=False)
    assert "lang" not in wh.pages.snapshot().schema.fieldNames()

    e1 = _changes(
        spark,
        [(50, 1, "I", "https://x.example/de", "2024-02-01 00:00:00",
          b"<p>hallo</p>", "de")],
    )
    ingest_epoch(spark, wh, e1, 1, with_rollup=False)
    snap = wh.pages.snapshot()
    assert "lang" in snap.schema.fieldNames()
    rewritten = snap.files[str(snap.summary["touched_list"][0])]
    for p in rewritten:
        assert "lang" in pq.read_schema(os.path.join(wh.pages.root, p)).names
    langs = {r.url: r.lang for r in wh.pages.read(spark).collect()}
    assert langs["https://x.example/de"] == "de"
    assert langs["https://x.example/doc/0"] is None
    assert len(langs) == 11


def test_unlisted_files_are_deleted_before_publish(spark, tmp_path, monkeypatch):
    """A file under the claim's data directory that no collected record
    lists (a failed task attempt's output) is deleted before the
    snapshot is published."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    pages = wh.pages
    merge_epoch_spj(spark, pages, _changes(spark, _inserts(0, 10)), 0)
    planted = []
    claim = LakeTable.claim_version

    def claim_and_plant(self):
        v = claim(self)
        d = os.path.join(self.root, self.data_prefix(v), "_pb=0")
        os.makedirs(d, exist_ok=True)
        planted.append(os.path.join(d, "part-00000-failed-attempt.parquet"))
        with open(planted[-1], "wb") as fh:
            fh.write(b"partial")
        return v

    monkeypatch.setattr(LakeTable, "claim_version", claim_and_plant)
    merge_epoch_spj(spark, pages, _changes(spark, _inserts(1, 20, seq0=100)), 1)
    monkeypatch.undo()

    assert planted and not os.path.exists(planted[0])
    snap = pages.snapshot()
    live = {p for plist in snap.files.values() for p in plist}
    assert all(os.path.exists(os.path.join(pages.root, p)) for p in live)
    assert pages.read(spark).count() == 20


def test_same_bucket_commit_during_merge_job_fails_loudly(
    spark, tmp_path, monkeypatch
):
    """A commit that rewrites a bucket while the SPJ merge job runs
    makes the merge's publish raise: its output was merged against the
    files it read before the job, so publishing it would silently drop
    the winner's rows."""
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=1)
    pages = wh.pages
    merge_epoch_spj(spark, pages, _changes(spark, _inserts(0, 10)), 0)
    winner = _changes(spark, _inserts(1, 1, seq0=200))
    winner = winner.withColumn("url", F.lit("https://x.example/winner"))
    loser = _changes(spark, _inserts(2, 1, seq0=300))
    loser = loser.withColumn("url", F.lit("https://x.example/loser"))
    claim = LakeTable.claim_version
    raced = []

    def claim_then_race(self):
        v = claim(self)
        if not raced:  # the loser's claim: the winner lands before its job
            raced.append(v)
            merge_epoch_spj(spark, pages, winner, 1)
        return v

    monkeypatch.setattr(LakeTable, "claim_version", claim_then_race)
    with pytest.raises(CommitConflictError):
        merge_epoch_spj(spark, pages, loser, 2)
    monkeypatch.undo()

    urls = {r.url for r in pages.read(spark).collect()}
    assert "https://x.example/winner" in urls
    assert "https://x.example/loser" not in urls
    assert len(urls) == 11
    assert pages.applied_epochs() == {0, 1}


def test_spj_epoch_runs_no_stats_scan(spark, tmp_path, monkeypatch):
    """The SPJ epoch (merge, rollup, lineage) never re-reads written
    files for stats, and the manifest still gets them."""

    def no_scan(*args, **kwargs):
        raise AssertionError("stats scan on the SPJ epoch path")

    monkeypatch.setattr(LakeTable, "_scan_write_stats", no_scan)
    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=4)
    ingest_epoch(spark, wh, _changes(spark, _inserts(0, 30)), 0)
    dels = [(99, 1, "D", "https://x.example/doc/3", "2024-03-01 00:00:00",
             None, None)]
    ingest_epoch(spark, wh, _changes(spark, dels), 1)
    snap = wh.pages.snapshot()
    assert len(snap.file_stats["files"]) == sum(len(p) for p in snap.files.values())
    assert sum(n for n, _ in snap.tombstone_stats["buckets"].values()) == 1
    assert wh.pages.read(spark).count() == 29


def test_non_timestamp_order_column_records_unknown_stats(tmp_path):
    """An order column that is not a timestamp gives stats-unknown file
    records (as the JVM stats scan gives none), and the bucket is still
    written clustered on it."""
    import pandas as pd

    from etl_spark.operators.merge_spj import make_bucket_merger

    schema = T.StructType(
        [
            T.StructField("k", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )
    kernel = make_bucket_merger(
        str(tmp_path), {}, schema, ["k"], ["v"], extracted=True, out_dir="data/v1"
    )
    out = kernel(pd.DataFrame({"k": ["a", "b"], "v": [2, 1], "_bucket": [0, 0]}))
    rec = out.iloc[0]
    assert rec["rows"] is None and rec["ts_min"] is None
    assert rec["n_tombstones"] is None
    written = pq.read_table(tmp_path / rec["path"]).to_pandas()
    assert list(written["k"]) == ["b", "a"]


# ---------------------------------------------------------------------------
# Orphan-claim GC ages a claim from its last write, not its creation
# ---------------------------------------------------------------------------

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), True),
        T.StructField("v", T.LongType(), True),
    ]
)


def test_old_claim_with_fresh_data_survives_gc(spark, tmp_path):
    """A writer that claimed longer ago than the grace but is still
    writing keeps its files: age runs from the newest mtime under its
    data directory. Once the writer has been idle past the grace, the
    sweep takes the claim and its files."""
    assert (
        inspect.signature(LakeTable.expire_snapshots)
        .parameters["orphan_grace_s"]
        .default
        >= 24 * 3600
    )
    t = LakeTable.create(str(tmp_path / "t"), SCHEMA, key_cols=["k"], n_buckets=1)
    t.append(spark.createDataFrame([("a", 1)], SCHEMA))
    v = t.claim_version()  # the in-flight writer
    claim = t._snap_path(v) + ".claim"
    long_ago = time.time() - 2 * 3600
    os.utime(claim, (long_ago, long_ago))
    bucket_dir = os.path.join(t.root, t.data_prefix(v), "_pb=0")
    os.makedirs(bucket_dir)
    data_file = os.path.join(bucket_dir, "part-00000.parquet")
    with open(data_file, "wb") as fh:
        fh.write(b"being written")
    for k in ("b", "c"):  # HEAD moves past the claim
        t.append(spark.createDataFrame([(k, 2)], SCHEMA))

    t.expire_snapshots(keep_last=1, orphan_grace_s=3600)
    assert os.path.exists(claim) and os.path.exists(data_file)

    for p in (data_file, bucket_dir, os.path.dirname(bucket_dir)):
        os.utime(p, (long_ago, long_ago))
    t.expire_snapshots(keep_last=1)  # default grace: still protected
    assert os.path.exists(claim)
    t.expire_snapshots(keep_last=1, orphan_grace_s=3600)
    assert not os.path.exists(claim) and not os.path.exists(data_file)
    assert sorted(r.k for r in t.read(spark).collect()) == ["a", "b", "c"]


# ---------------------------------------------------------------------------
# Lineage flush
# ---------------------------------------------------------------------------


def test_lineage_flush_round_trips_nulls_and_floats(spark, tmp_path):
    from etl_spark.lineage import LineageLog

    wh = Warehouse.init(str(tmp_path / "wh"), n_buckets=2)
    log = LineageLog(wh.lineage)
    with log.stage(5, "clean"):
        pass  # rows_in / rows_out stay null
    with log.stage(5, "merge") as rec:
        rec["rows_in"] = 2**40 + 1
        rec["rows_out"] = 3
    log.metrics(5, n_events=7, max_event_ts=dt.datetime(2024, 1, 1))
    expected = sorted(r[:-1] for r in log.rows)  # committed_at set on flush
    assert any(r[3] is None and r[4] is None for r in expected)
    assert all(isinstance(r[5], float) for r in expected)
    log.flush(spark)

    rows = wh.lineage.read(spark).filter(F.col("epoch") == 5).collect()
    assert sorted(tuple(r)[:-1] for r in rows) == expected
    assert all(r.committed_at is not None for r in rows)

"""Correctness checks: every result the benchmark times is compared
with an independent computation of the same answer."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _digest(cols: list[str]) -> F.Column:
    """Order-independent digest: sum of per-row xxhash64, as an exact
    decimal so the sum cannot wrap."""
    return F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)"))


def lww_fold(changes: DataFrame) -> DataFrame:
    """Last-writer-wins state of a change log, computed in the JVM with
    no engine code: per url the event with the greatest (warc_ts, seq),
    deletes dropped."""
    return (
        changes.groupBy("url")
        .agg(
            F.max_by(
                F.struct("op", "warc_ts"), F.struct("warc_ts", "seq")
            ).alias("w")
        )
        .filter(F.col("w.op") != "D")
        .select("url", F.col("w.warc_ts").alias("warc_ts"))
    )


def pages_match_fold(pages: DataFrame, changes: DataFrame) -> tuple[bool, dict]:
    """Live pages equal the fold: same row count, same digest of
    (url, warc_ts), and no live row without extracted text. Returns
    (ok, detail) with the live row count in the detail."""
    got = pages.agg(
        F.count(F.lit(1)).alias("n"),
        _digest(["url", "warc_ts"]).alias("h"),
        F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
    ).first()
    folded = lww_fold(changes)
    want = folded.agg(
        F.count(F.lit(1)).alias("n"), _digest(["url", "warc_ts"]).alias("h")
    ).first()
    detail = {
        "live_rows": int(got["n"]),
        "fold_rows": int(want["n"]),
        "digest_equal": got["h"] == want["h"],
        "null_text_rows": int(got["null_text"] or 0),
    }
    ok = (
        detail["live_rows"] == detail["fold_rows"]
        and detail["digest_equal"]
        and detail["null_text_rows"] == 0
    )
    return ok, detail


def group_digests(df: DataFrame, keys: list[str]) -> dict:
    """key tuple -> (row count, digest over every other column)."""
    cols = [c for c in df.columns if c not in keys]
    rows = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"), _digest(cols).alias("h"))
    return {tuple(r[k] for k in keys): (int(r["n"]), r["h"]) for r in rows.collect()}

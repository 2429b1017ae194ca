"""Seeded change-log generator, written straight to parquet with pyarrow.

Same shape as the engine's ``changes_at_scale`` bench log: urls
``https://d<domain>.example/p/<key>`` with Zipf-like domain skew
(``domain = floor(D * u^4)`` for a per-key uniform u), about 1 KB of
html per I/U event whose body compresses ~4x like web text, event time
1 ms per sequence number, deletes at 1/37. Generated in the benchmark
process without Spark, so set-up pays no Spark job for it and the engine only
ever sees the files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
N_DOMAINS = 1000
BODY_CHARS = 960  # 30 x 32 B, the engine generator's default payload
DELETE_ONE_IN = 37

SCHEMA = pa.schema(
    [
        pa.field("seq", pa.int64(), nullable=False),
        pa.field("epoch", pa.int64(), nullable=False),
        pa.field("op", pa.string(), nullable=False),
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
        pa.field("html", pa.binary()),
        pa.field("lang", pa.string()),
    ]
)


class ChangeLog:
    """Key space and domain assignment of one seed; ``events`` draws
    consecutive sequence numbers from it."""

    def __init__(self, seed: int, n_keys: int):
        self.seed = seed
        self.n_keys = n_keys
        u = np.random.default_rng([seed, 0]).random(n_keys)
        domains = np.floor(N_DOMAINS * u**4).astype(np.int64)
        self.urls = np.array(
            [f"https://d{d}.example/p/{k}" for k, d in enumerate(domains)], dtype=object
        )

    def events(self, start: int, n: int, epoch: int) -> pa.Table:
        """Sequence numbers [start, start + n), key = seq mod n_keys, so
        n consecutive events touch min(n, n_keys) distinct keys. The
        first pass over the key space inserts; later events update or
        delete."""
        rng = np.random.default_rng([self.seed, 1, start])
        seq = np.arange(start, start + n, dtype=np.int64)
        keys = seq % self.n_keys
        later = np.where(rng.integers(0, DELETE_ONE_IN, n) == 0, "D", "U")
        ops = np.where(seq < self.n_keys, "I", later).astype(object)
        noise = rng.bytes(128 * n)
        reps = -(-BODY_CHARS // 256)
        html = []
        for i in range(n):
            if ops[i] == "D":
                html.append(None)
                continue
            body = (noise[128 * i : 128 * (i + 1)].hex() * reps)[:BODY_CHARS]
            title = f"Page {keys[i]}"
            html.append(
                (
                    f"<html><head><title>{title}</title></head><body><h1>{title}"
                    f"</h1><p>{body}</p><script>var t=1;</script></body></html>"
                ).encode()
            )
        ts_us = int(BASE_TS.timestamp()) * 1_000_000 + seq * 1000
        return pa.table(
            [
                pa.array(seq),
                pa.array(np.full(n, epoch, dtype=np.int64)),
                pa.array(ops, pa.string()),
                pa.array(self.urls[keys], pa.string()),
                pa.array(ts_us).cast(pa.timestamp("us", tz="UTC")),
                pa.array(html, pa.binary()),
                pa.nulls(n, pa.string()),
            ],
            schema=SCHEMA,
        )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return path

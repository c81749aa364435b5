"""Deterministic fixture for the job-path benchmark.

Writes the table the benchmark's tasks read, `events`, as a
single-row-group snappy Parquet file with the schema, row count and value
ranges of the repository's sf0.1 fixture (TESTDATA.md): 100k events over
January 2024 and 1500 users. `ts` is TIMESTAMP(MICROS) with
isAdjustedToUTC=false, which is how the sf0.1 fixture's Parquet files store
it (FIXTURES.md lists ns, which no fixture file in use carries); Spark
reads it as TIMESTAMP_NTZ.

The data never depends on the run's seed (the seed only draws the requests),
so it is generated once per checkout and reused; a version stamp regenerates
it when this file's generator changes.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "1"
DATA_SEED = 42
TABLES = ("events",)


def _ts(rng, n, start, end):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    v = rng.integers(lo, hi, n, endpoint=True)
    return pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def events(rng):
    n = 100_000
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(rng, n, "2024-01-01T00:00:00", "2024-01-30T23:59:59.999999"),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": _pick(rng, ["view", "click", "purchase", "signup", "error"], n),
        "value": _money(rng, 0.0, 560.0, n),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def ensure(data_dir):
    """Generate the fixture into `data_dir` unless this version is there."""
    stamp = os.path.join(data_dir, "VERSION")
    if os.path.exists(stamp) and open(stamp).read() == VERSION and all(
            os.path.exists(os.path.join(data_dir, f"{t}.parquet")) for t in TABLES):
        return data_dir
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t = events(np.random.default_rng(DATA_SEED))
    pq.write_table(t, os.path.join(tmp, "events.parquet"),
                   compression="snappy", row_group_size=t.num_rows)
    with open(os.path.join(tmp, "VERSION"), "w") as f:
        f.write(VERSION)
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(tmp, data_dir)
    return data_dir

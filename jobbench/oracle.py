"""Output checks of the job-path benchmark.

Every SUCCESS job's status `count` must equal the rows committed to its
`results_<id>` directory. A seeded sample of jobs (at least one per task)
is also recomputed in DuckDB from the same task SQL over the same Parquet
and compared the way tools/check.py compares: columns by name, rows sorted
by every column, timestamps as naive UTC, decimals as floats, floats exact.
Each check run also proves it can fail: a copy of one expected result with
one value changed must be reported as a mismatch.
"""
import decimal
import glob
import os
import re

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen_data import TABLES

SAMPLES_PER_TASK = 2

_NAME = re.compile(r"^\s*--\s*name\s*:\s*(\S+)\s*$")


def load_tasks(path):
    """name -> SQL of every `-- name:` block in the directory's .sql files
    (the subset of the task-file grammar these tasks use)."""
    tasks, cur = {}, None
    for f in sorted(glob.glob(os.path.join(path, "*.sql"))):
        for line in open(f):
            m = _NAME.match(line)
            if m:
                cur = m.group(1)
                tasks[cur] = ""
            elif cur and line.strip() and not line.strip().startswith("--"):
                tasks[cur] += line
    return {k: v.strip().rstrip(";") for k, v in tasks.items()}


def literal(arg):
    """The typed SQL literal graft's ArgBinder renders for an argument."""
    a = arg.strip()
    if re.fullmatch(r"[+-]?\d{1,18}", a) or re.fullmatch(r"[+-]?(\d+\.\d*|\.\d+|\d+)([eE][+-]?\d+)?", a):
        return a
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(\.\d+)?", a):
        return f"TIMESTAMP '{a}'"
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", a):
        return f"DATE '{a}'"
    return "'" + a.replace("'", "''") + "'"


def bind(sql, args):
    # the benchmark's task SQL has no `$` inside string literals or comments
    return re.sub(r"\$(\d+)", lambda m: literal(args[int(m.group(1)) - 1]), sql)


def result_rows(result_dir):
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(result_dir, "*.parquet")))


def normalize(df):
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            df[c] = s.dt.tz_convert("UTC").dt.tz_localize(None)
        elif s.dtype == object and isinstance(next(iter(s.dropna()), None), decimal.Decimal):
            df[c] = s.astype(float)
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True) if len(df.columns) else df


def differ(got, want):
    """None if equal, else a one-line description of the first difference."""
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x, y = x.astype(float), y.astype(float)
        eq = np.asarray(x.values == y.values) | (x.isna().values & y.isna().values)
        if not eq.all():
            i = int((~eq).argmax())
            return f"{c} row {i}: {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None


def check(tasks, jobs, results_dir, data_dir, rng):
    ok = [j for j in jobs if j["state"] == "SUCCESS"]
    mismatches, details = [], []
    for j in ok:
        rows = result_rows(os.path.join(results_dir, f"results_{j['id']}"))
        if rows != j["count"]:
            mismatches.append(j["id"])
            details.append(f"{j['id']}: status count {j['count']} != {rows} committed rows")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    sampled, teeth = 0, None
    for task in sorted(tasks):
        pool = [j for j in ok if j["task"] == task]
        for j in rng.sample(pool, min(SAMPLES_PER_TASK, len(pool))):
            got = con.execute(f"SELECT * FROM read_parquet('{results_dir}/results_{j['id']}/*.parquet')").fetchdf()
            want = con.execute(bind(tasks[task], j["args"])).fetchdf()
            sampled += 1
            d = differ(got, want)
            if d:
                mismatches.append(j["id"])
                details.append(f"{j['id']} ({task} {j['args']}): {d}")
            elif teeth is None and len(want) and any(want[c].dtype.kind in "iuf" for c in want):
                teeth = (got, want)
    # the check must be able to fail: change one expected value and expect a report
    if teeth is not None:
        got, want = teeth
        bad = want.copy()
        col = next(c for c in bad.columns if bad[c].dtype.kind in "iuf")
        bad.loc[0, col] += 1
        if differ(got, bad) is None:
            raise SystemExit("jobbench: the output check did not flag a wrong expected result")
    return {"count_checked": len(ok), "oracle_sampled": sampled,
            "self_test": teeth is not None, "mismatches": sorted(set(mismatches)),
            "details": details[:10]}

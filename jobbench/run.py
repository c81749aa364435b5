#!/usr/bin/env python3
"""Job-path benchmark for the graft job server.

    python3 jobbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the server from source (jobbench/build.py), generates the fixture
once (jobbench/gen_data.py), draws every request from --seed, and runs
jobbench.JobBench in a fresh JVM: the server starts in-process, and client
threads drive it over HTTP in a closed loop for --seconds. Afterwards every
job's status count is checked against the rows in its `results_<id>`, and a
seeded sample of jobs (two per task) against DuckDB over the same Parquet
(oracle.py). The run's directory is deleted at the end.

The last line of stdout is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
server runs with span recording on and the metrics are the per-layer ones
(METRICS.md defines every name). The line before it is a context object:
machine-load gauges, sample counts, per-task counts and check details.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time
from collections import defaultdict

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402
import gen_data  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
POLL_MS = 25            # client status-poll cadence
DEADLINE_S = 60         # a job not terminal by then counts as failed
JVM_BUDGET_S = 160      # the whole run must end within 180 s
REQUESTS_PER_CLIENT = 3000
RAMP_PER_CLIENT = 3     # untimed jobs per client between set-up and window

WORKLOADS = {
    # name: (task directory, control plane, client threads)
    "point": ("point", "inproc", 4),
    "point_redis": ("point", "redis", 4),
}

def args_for(task, rng):
    """Arguments of one request, drawn from the seeded generator."""
    if task in ("get_profit_summary", "get_profit_entries"):
        return [str(rng.randrange(1500))]
    if task == "get_profit_entries_by_date":  # a 5-day window in January 2024
        d = rng.randrange(1, 27)
        return [str(rng.randrange(1500)), f"2024-01-{d:02d} 00:00:00", f"2024-01-{d + 5:02d} 00:00:00"]
    raise ValueError(f"no argument generator for task {task}")


def make_requests(task_names, clients, seed):
    """Warm-up requests (one per task), each client's ramp requests and each
    client's request stream for the window. A client takes the tasks in
    rounds, each round in a fresh seeded order, so every window holds the
    same task mix whatever the seed; the seed draws the order and every
    argument."""
    rng = random.Random(seed)

    def stream(n):
        reqs = []
        while len(reqs) < n:
            for t in rng.sample(task_names, len(task_names)):
                reqs.append({"task": t, "args": args_for(t, rng)})
        return reqs[:n]
    warmup = [{"task": t, "args": args_for(t, rng)} for t in task_names]
    ramp = [stream(RAMP_PER_CLIENT) for _ in range(clients)]
    return {"warmup": warmup, "ramp": ramp,
            "clients": [stream(REQUESTS_PER_CLIENT) for _ in range(clients)]}


# --------------------------------------------------------------- env gauge
def env_gauge():
    """Machine-load context: load average, CPU pressure, the CPU counters of
    /proc/stat (for the steal share between two gauges), and a fixed
    CPU-bound probe (best of three); a run whose probe differs from another
    run's was taken under different outside load."""
    def read(p):
        try:
            with open(p) as f:
                return f.read().strip()
        except OSError:
            return ""
    def probe():
        t = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += (i * 2654435761) & 0xFFFF
        return time.perf_counter() - t
    load = read("/proc/loadavg").split()
    pressure = read("/proc/pressure/cpu").splitlines()
    cpu = read("/proc/stat").splitlines()[:1]
    return {"loadavg_1m": float(load[0]) if load else None,
            "cpu_pressure": pressure[0] if pressure else None,
            "cpu_ticks": [int(x) for x in cpu[0].split()[1:]] if cpu else [],
            "probe_s": round(min(probe() for _ in range(3)), 6)}


def steal_share(pre, post):
    """Share of CPU time the hypervisor gave to others between two gauges."""
    d = [b - a for a, b in zip(pre["cpu_ticks"], post["cpu_ticks"])]
    return round(d[7] / sum(d), 4) if len(d) > 7 and sum(d) > 0 else None


# --------------------------------------------------------------- metrics
def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if xs else 0.0


def mean(xs):
    return float(np.mean(np.asarray(xs, dtype=float))) if xs else 0.0


def union_s(intervals):
    """Length in seconds of the union of [start, end] nanosecond intervals."""
    total, reach = 0, None
    for s, e in sorted(intervals):
        if reach is not None and s < reach:
            s = reach
        if e > s:
            total += e - s
            reach = e
    return total / 1e9


def jobs_per_s(summary, jobs):
    """Sum over clients of each client's own rate: its SUCCESS jobs over the
    time from the window's start to the end of its last job. A client's jobs
    run back to back from the start, so this has no boundary quantization,
    unlike counting completions inside the window."""
    rate = 0.0
    for c in {j["client"] for j in jobs}:
        mine = [j for j in jobs if j["client"] == c]
        span = (max(j["done_ns"] for j in mine) - summary["window_start_ns"]) / 1e9
        rate += sum(1 for j in mine if j["state"] == "SUCCESS") / span
    return rate


def end_to_end(summary, jobs):
    ok = [j for j in jobs if j["state"] == "SUCCESS"]
    lat = [(j["done_ns"] - j["send_ns"]) / 1e9 for j in ok]
    n = max(len(ok), 1)
    return {
        "setup_s": (summary["setup_s"], "s"),
        "jobs_per_s": (jobs_per_s(summary, jobs), "jobs/s"),
        "latency_p50_s": (pct(lat, 50), "s"),
        "latency_p90_s": (pct(lat, 90), "s"),
        "cpu_s_per_job": (summary["cpu_s"] / n, "s"),
        "heap_live_mb": (summary["heap_live_mb"], "MB"),
    }


def per_layer(summary, jobs, spans):
    ok = {j["id"] for j in jobs if j["state"] == "SUCCESS"}
    by = defaultdict(lambda: defaultdict(list))
    for s in spans:
        if s["trace"] in ok:
            by[s["trace"]][s["name"]].append(s)

    def dur(s):
        return (s["end"] - s["start"]) / 1e9

    def each(name):  # one value per job: the duration of its span `name`
        return [dur(t[name][0]) for t in by.values() if t[name]]

    stage_live, gap, plan, task_s, inp, shuf, out_rows, out_bytes, write_s = ([] for _ in range(9))
    for t in by.values():
        stages = t["spark.stage"]
        live = union_s([(s["start"], s["end"]) for s in stages])
        stage_live.append(live)
        if t["exec"]:
            gap.append(dur(t["exec"][0]) - live)
        plan.append(sum(x["plan_s"] for x in t["sql.execution"]))
        task_s.append(sum(s["task_s"] for s in stages))
        inp.append(sum(s["input_bytes"] for s in stages))
        shuf.append(sum(s["shuffle_bytes"] for s in stages))
        writes = [x for x in t["sql.execution"] if x["output_rows"] >= 0]
        out_rows.append(sum(x["output_rows"] for x in writes))
        out_bytes.append(sum(x["output_bytes"] for x in writes))
        write_execs = {x["id"].split(":", 1)[1] for x in writes}
        write_jobs = {j["id"] for j in t["spark.job"] if j["exec_id"] in write_execs}
        write_s.append(union_s([(s["start"], s["end"]) for s in stages if s["parent"] in write_jobs]))

    store_calls = [s for t in by.values() for k, v in t.items() if k.startswith("store.") for s in v]
    lat = [(j["done_ns"] - j["send_ns"]) / 1e9 for j in jobs if j["state"] == "SUCCESS"]
    n = max(len(ok), 1)
    m = {
        "HttpApi.post_s": (pct(each("HttpApi.post"), 50), "s"),
        "HttpApi.status_s": (pct([dur(s) for t in by.values() for s in t["HttpApi.status"]], 50), "s"),
        "HttpApi.polls_per_job": (mean([len(t["HttpApi.status"]) for t in by.values()]), "count"),
        "broker.submit_s": (pct(each("broker.submit"), 50), "s"),
        "store.admit_s": (pct(each("store.admit"), 50), "s"),
        "store.calls_per_job": (mean([sum(len(v) for k, v in t.items() if k.startswith("store."))
                                      for t in by.values()]), "count"),
        "store.call_s": (pct([dur(s) for s in store_calls], 50), "s"),
        "queue.wait_s": (pct(each("queue.wait"), 50), "s"),
        "queue.wait_p90_s": (pct(each("queue.wait"), 90), "s"),
        "exec.s": (pct(each("exec"), 50), "s"),
        "exec.spark_jobs": (mean([len(t["spark.job"]) for t in by.values()]), "count"),
        "exec.driver_gap_s": (pct(gap, 50), "s"),
        "exec.plan_s": (pct(plan, 50), "s"),
        "exec.stage_live_s": (pct(stage_live, 50), "s"),
        "exec.task_s": (pct(task_s, 50), "s"),
        "exec.input_bytes": (pct(inp, 50), "bytes"),
        "exec.shuffle_bytes": (pct(shuf, 50), "bytes"),
        "exec.output_rows": (mean(out_rows), "count"),
        "exec.output_bytes": (pct(out_bytes, 50), "bytes"),
        "exec.write_s": (pct(write_s, 50), "s"),
        "status.visible_s": (pct(each("status.visible"), 50), "s"),
        "jvm.gc_s_per_job": (summary["gc_s"] / n, "s"),
        "jvm.heap_growth_kb_per_job":
            ((summary["heap_live_mb"] - summary["heap_warm_mb"]) * 1024 / n, "KB"),
        "trace.latency_p50_s": (pct(lat, 50), "s"),
    }
    parts = sum(m[k][0] for k in ("HttpApi.post_s", "queue.wait_s", "exec.s", "status.visible_s"))
    m["trace.span_sum_ratio"] = (parts / m["trace.latency_p50_s"][0] if lat else 0.0, "ratio")
    return m


def counts_by_task(jobs, spans):
    """Per-task counts over each client's first two requests: that set of
    requests is fixed by the seed, so spark_jobs and output_rows repeat
    exactly across runs of one seed; polls depend on timing."""
    first = [j for j in jobs if j["seq"] < 2 and j["state"] == "SUCCESS"]
    by = defaultdict(lambda: defaultdict(int))
    for s in spans:
        if s["name"] == "spark.job":
            by[s["trace"]]["spark_jobs"] += 1
        elif s["name"] == "sql.execution" and s["output_rows"] >= 0:
            by[s["trace"]]["output_rows"] += s["output_rows"]
    out = defaultdict(lambda: {"spark_jobs": [], "output_rows": [], "polls": []})
    for j in first:
        o = out[j["task"]]
        o["spark_jobs"].append(by[j["id"]]["spark_jobs"])
        o["output_rows"].append(by[j["id"]]["output_rows"])
        o["polls"].append(j["polls"])
    return dict(out)


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    task_dir, plane, clients = WORKLOADS[a.workload]

    classes, jars = build.build()
    data = gen_data.ensure(os.path.join(WORK, "data"))
    tasks_path = os.path.join(HERE, "tasks", task_dir)
    tasks = oracle.load_tasks(tasks_path)

    gauge_pre = env_gauge()
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    results = os.path.join(run_dir, "results")
    out = os.path.join(run_dir, "out")
    for d in (results, out, os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    try:
        req_file = os.path.join(run_dir, "requests.json")
        with open(req_file, "w") as f:
            json.dump(make_requests(sorted(tasks), clients, a.seed), f)
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        cmd = ["java", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               *build.ADD_OPENS, "-cp", os.pathsep.join([classes, *jars]), "jobbench.JobBench",
               "--plane", plane, "--tasks", tasks_path, "--data", data, "--results", results,
               "--work", run_dir, "--out", out, "--requests", req_file,
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--poll-ms", str(POLL_MS), "--deadline-s", str(DEADLINE_S)]
        budget = JVM_BUDGET_S - (time.monotonic() - t_start)
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            raise SystemExit("jobbench: the server run did not finish in time")
        if r.returncode != 0:
            raise SystemExit(f"jobbench: the server run failed (exit code {r.returncode})")

        with open(os.path.join(out, "summary.json")) as f:
            summary = json.load(f)
        jobs = read_jsonl(os.path.join(out, "jobs.jsonl"))
        if not jobs:
            raise SystemExit("jobbench: no job was attempted in the window")
        spans = read_jsonl(os.path.join(out, "spans.jsonl"))
        gauge_post = env_gauge()
        steal = steal_share(gauge_pre, gauge_post)
        check = oracle.check(tasks, jobs, results, data, random.Random(a.seed * 7919 + 1))

        failed_ids = {j["id"] or f"{j['client']}:{j['seq']}" for j in jobs if j["state"] != "SUCCESS"}
        failed_ids |= set(check["mismatches"])
        metrics = (per_layer(summary, jobs, spans) if a.trace
                   else end_to_end(summary, jobs))
        ok = [j for j in jobs if j["state"] == "SUCCESS"]
        p90 = pct([(j["done_ns"] - j["send_ns"]) / 1e9 for j in ok], 90)
        for g in (gauge_pre, gauge_post):
            g.pop("cpu_ticks")  # only needed for steal_share
        context = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "clients": clients, "poll_ms": POLL_MS,
            "env_pre": gauge_pre, "env_post": gauge_post, "steal_share": steal,
            "worker_restarts": summary["worker_restarts"],
            "jobs_success": len(ok),
            "latency_samples_beyond_p90": sum(
                1 for j in ok if (j["done_ns"] - j["send_ns"]) / 1e9 > p90),
            "states": {s: sum(1 for j in jobs if j["state"] == s) for s in {j["state"] for j in jobs}},
            "failed_ratio": len(failed_ids) / max(len(jobs), 1),
            "check": {k: v for k, v in check.items() if k != "mismatches"},
            "mismatches": check["mismatches"][:10],
        }
        if a.trace:
            context["counts_by_task"] = counts_by_task(jobs, spans)
            os.makedirs(WORK, exist_ok=True)
            shutil.copyfile(os.path.join(out, "spans.jsonl"),
                            os.path.join(WORK, f"trace-{a.workload}.jsonl"))
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": not check["mismatches"] and all(j["state"] == "SUCCESS" for j in jobs),
            "attempted": len(jobs),
            "failed": len(failed_ids),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

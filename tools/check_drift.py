#!/usr/bin/env python3
"""Doc-drift gate: diff SURVEY.md's §8 tallies against MEASURED numbers.

The tallies drift when written by hand (round 7 claimed "38 suites" while
the run completed 36; round 6 claimed a 2.3 s graph_kcore the driver
measured at 4.75 s). This check makes the claims mechanical:

  sbt -batch test 2>&1 | tee /tmp/test.log
  python3 tools/check_drift.py /tmp/test.log [verifyOutDir]

- test/suite counts come from the sbt summary lines;
- the declared-query count comes from verifyOutDir/oracle_sql.json (the
  same artifact the driver's gate reads) when given;
- SURVEY.md's "<T> green across <S> suites" and "<Q> declared queries"
  claims are greped and diffed. Exit 1 on any mismatch, printing the sed
  commands to fix them;
- a Spark "Listener ... threw an exception" ERROR in the log fails too,
  with the count;
- the count of DAGScheduler "Failed to cancel job group" WARNs is printed;
- the line counts of main and test Scala are printed, counted as
  `find src/main -name '*.scala' | xargs cat | wc -l` counts them, so
  ROADMAP.md and CHANGES.md quote one mechanical number.
"""
import json, os, re, sys

log_path = sys.argv[1]
verify_out = sys.argv[2] if len(sys.argv) > 2 else None

log = open(log_path, errors="replace").read()
m_tests = re.findall(r"Total number of tests run: (\d+)", log)
m_suites = re.findall(r"Suites: completed (\d+)", log)
m_ok = re.findall(r"Tests: succeeded (\d+), failed (\d+)", log)
if not (m_tests and m_suites and m_ok):
    print("FAIL: no sbt test summary found in", log_path)
    sys.exit(1)
tests, suites = int(m_tests[-1]), int(m_suites[-1])
succeeded, failed = map(int, m_ok[-1])
if failed or succeeded != tests:
    print(f"FAIL: test run not green ({succeeded}/{tests}, {failed} failed)")
    sys.exit(1)

survey = open("SURVEY.md").read()
bad = []

claim = re.search(r"\((\d+) green across (\d+) suites\)", survey)
if not claim:
    bad.append("SURVEY.md: no '<T> green across <S> suites' claim found")
else:
    ct, cs = int(claim.group(1)), int(claim.group(2))
    if (ct, cs) != (tests, suites):
        bad.append(f"SURVEY.md claims '{ct} green across {cs} suites'; "
                   f"measured {tests} across {suites} — fix: "
                   f"s/{ct} green across {cs} suites/"
                   f"{tests} green across {suites} suites/")

# A Spark listener that throws is logged as an ERROR with a stack trace and
# the run carries on, so the tests stay green while every event it sees pays
# for the failure (Spark's ObservationManager re-planned each failed query
# this way until the job path stopped using an Observation).
listener_errors = len(re.findall(r"ERROR .*Listener .*threw an exception", log))
if listener_errors:
    bad.append(f"the test log holds {listener_errors} Spark 'Listener threw "
               f"an exception' ERROR(s): a listener fails on events it sees")
# A cancel of a job group that has no Spark job in flight logs DAGScheduler's
# "Failed to cancel job group" WARN. Counted, not gated: the worker of a
# cancelled running job re-fires the cancel once more for stages that slipped
# in during planning, and that re-fire usually finds none.
cancel_warns = len(re.findall(r"WARN .*Failed to cancel job group", log))
print(f"the test log holds {cancel_warns} 'Failed to cancel job group' WARN(s)")


def scala_lines(root):
    n = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), "rb") as fh:
                    n += fh.read().count(b"\n")
    return n


print(f"Scala lines: {scala_lines('src/main')} main, {scala_lines('src/test')} test")

if verify_out:
    nq = len(json.load(open(f"{verify_out}/oracle_sql.json")))
    qclaim = re.search(r"\*\*(\d+) declared queries", survey)
    if not qclaim:
        bad.append("SURVEY.md: no '<Q> declared queries' claim found")
    elif int(qclaim.group(1)) != nq:
        bad.append(f"SURVEY.md claims {qclaim.group(1)} declared queries; "
                   f"oracle_sql.json has {nq}")
    # the 'N/N green' pair should quote the same N
    for pair in re.findall(r"(\d+)/(\d+) green", survey[:3000]):
        if pair[0] != pair[1] or int(pair[1]) != nq:
            bad.append(f"SURVEY.md header quotes {pair[0]}/{pair[1]} green; "
                       f"oracle_sql.json has {nq}")

# ---- per-query sf0.1 timing claims (round-8 verdict: three consecutive
# rounds a graph number in the narrative drifted from the driver's). Any
# CURRENT per-query time must be written "driver-median N s at sf0.1" with
# the query's backticked name earlier in the same passage — that exact
# phrase is diffed against the COMMITTED rung's medians (25% tolerance,
# 0.2 s floor). Any other "N s at sf0.1" is an unchecked claim and fails:
# historical numbers drop the "at sf0.1" suffix (e.g. "11.7 s in the r6
# driver run").
#
# Round-12 hardening (r11 verdict #2/#3):
#  - the gate reads bench/BENCH_committed.json (builder-written rung) when
#    present, so the driver's canonical run overwriting BENCH_last.json no
#    longer makes the committed claims read as drift;
#  - the rung records the fixture-generation fingerprint it was measured
#    on; if the live fixture has since been regenerated, the gate FAILS
#    with "re-measure" instead of reporting phantom per-query drift
#    (cross-generation timing diffs are invalid by construction).
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fixture_fp import data_fingerprint
bench_path = "bench/BENCH_committed.json"
if not os.path.exists(bench_path):
    bench_path = "bench/BENCH_last.json"
if os.path.exists(bench_path):
    bench = json.load(open(bench_path))
    qm = bench.get("queries_median", {})
    qm_stale = False  # set when the rung's generation can't be trusted
    rung_fp = bench.get("fixture_fp")
    sf_dir = bench.get("sf", "/root/testdata/sf0.1")
    if rung_fp:
        if not os.path.isdir(sf_dir):
            # fail closed and SAY the dir is gone — data_fingerprint hashes
            # a missing dir as zero entries (the Scala-mirror contract), so
            # without this check the mismatch below would misread as "driver
            # regenerated the fixture"
            bad.append(f"{bench_path} claims fixture {sf_dir}, which does "
                       f"not exist or is not a directory — cannot verify "
                       f"the rung's generation")
            qm_stale = True
        elif not os.access(sf_dir, os.R_OK | os.X_OK):
            # an EXISTING but unreadable dir also fingerprints as zero
            # entries (data_fingerprint swallows the OSError by the
            # Scala-mirror contract) — without this branch a permissions
            # failure would be misdiagnosed below as fixture regeneration
            bad.append(f"{bench_path} claims fixture {sf_dir}, which exists "
                       f"but cannot be read (permissions) — cannot verify "
                       f"the rung's generation")
            qm_stale = True
        elif (cur_fp := data_fingerprint(sf_dir)) != rung_fp:
            bad.append(
                f"{bench_path} was measured on fixture generation {rung_fp} "
                f"but {sf_dir} now fingerprints {cur_fp} — the driver "
                f"regenerated the fixture; cross-generation timing diffs are "
                f"invalid. Re-measure the committed rung on the new "
                f"generation before trusting any per-query delta.")
            # the rung's medians are stale by construction: skip the
            # per-query claim comparison so the gate reports ONE re-measure
            # failure, not a page of phantom per-query drift
            qm_stale = True
    flat = re.sub(r"\s+", " ", survey)
    for m in (() if qm_stale else
              re.finditer(r"[Dd]river-median ([\d.]+) s at sf0\.1", flat)):
        claimed = float(m.group(1))
        # Attribute the claim within its own SENTENCE only (text since the
        # last '. ' boundary): searching the whole preceding document could
        # attach the claim to an unrelated query mentioned pages earlier and
        # pass/fail spuriously. Ambiguity (several distinct bench-known
        # names in the same sentence) fails rather than guessing.
        window = flat[:m.start()]
        cut = window.rfind(". ")
        if cut >= 0:
            window = window[cut + 2:]
        names = [n for n in re.findall(r"`([a-z0-9_]+)`", window) if n in qm]
        distinct = list(dict.fromkeys(names))
        if not distinct:
            bad.append(f"timing claim 'driver-median {claimed} s at sf0.1' "
                       f"has no backticked query name in its sentence to check")
        elif len(distinct) > 1:
            bad.append(f"timing claim 'driver-median {claimed} s at sf0.1' is "
                       f"ambiguous: sentence names {distinct} — keep one "
                       f"bench-known name per timed sentence")
        elif abs(claimed - qm[(name := distinct[0])]) > 0.25 * max(qm[name], 0.2):
            bad.append(f"SURVEY.md claims {name} driver-median {claimed} s "
                       f"at sf0.1; {bench_path} median is "
                       f"{qm[name]:.2f} s")
    for m in re.finditer(r"([\d.]+) s at sf0\.1", flat):
        prefix = flat[max(0, m.start() - 14):m.start()].lower()
        if "driver-median" not in prefix:
            bad.append(f"unchecked timing claim '{m.group(0)}' — write it as "
                       f"'driver-median N s at sf0.1' (gated against the "
                       f"committed rung) or drop the 'at sf0.1' "
                       f"suffix for historical numbers")

# ---- environment-noise gauge annotation (round-12 verdict #4): when the
# builder-frozen rung and the latest run both carry the Bench env_gauge
# (loadavg + a fixed CPU calibration probe at both ends), a material probe
# difference means the two were measured under different machine load —
# their per-query deltas scale by roughly the probe ratio and are NOT plan
# regressions. Annotate (never fail): the gauge replaces the hand-run
# bisects that attributed the uniform 16–22% drifts of rounds 10–12.
def _gauge(path):
    try:
        g = json.load(open(path)).get("env_gauge")
        return g if g and g.get("probe_pre_s", -1) > 0 else None
    except (OSError, ValueError):
        return None

g_committed = _gauge("bench/BENCH_committed.json")
g_last = _gauge("bench/BENCH_last.json")
if g_committed and g_last:
    def probe(g):  # steady probe = min of the two ends (both CPU-bound)
        ends = [v for v in (g.get("probe_pre_s"), g.get("probe_post_s"))
                if v and v > 0]
        return min(ends) if ends else None
    # a run whose OWN pre/post probes diverge was measured under load that
    # shifted mid-run: the min() "steady" probe under-annotates exactly the
    # mixed-load runs the gauge exists to flag, so call that out per-run
    for label, g in (("the committed rung", g_committed),
                     ("BENCH_last.json", g_last)):
        pre, post = g.get("probe_pre_s"), g.get("probe_post_s")
        if pre and post and pre > 0 and post > 0 \
                and max(pre, post) / min(pre, post) > 1.15:
            print(f"note: {label}'s own probes diverge (pre {pre:.2f}s vs "
                  f"post {post:.2f}s, x{max(pre, post) / min(pre, post):.2f})"
                  f" — machine load shifted DURING that run; its per-query "
                  f"numbers mix two load regimes and the steady-probe "
                  f"comparison below may under-state the drift.")
    pc, pl = probe(g_committed), probe(g_last)
    if pc and pl and max(pc, pl) / min(pc, pl) > 1.15:
        print(f"note: env gauge differs materially between the committed "
              f"rung (probe {pc:.2f}s, load {g_committed.get('load_pre')}->"
              f"{g_committed.get('load_post')}) and BENCH_last.json (probe "
              f"{pl:.2f}s, load {g_last.get('load_pre')}->"
              f"{g_last.get('load_post')}): expect per-query deltas of "
              f"roughly x{pl / pc:.2f} from machine load alone — not plan "
              f"regressions. Compare like-gauged runs before re-freezing.")

if bad:
    print("DOC DRIFT:")
    for b in bad:
        print(" -", b)
    sys.exit(1)
print(f"no drift: {tests} tests / {suites} suites"
      + (f" / {nq} queries" if verify_out else ""))

#!/usr/bin/env python3
r"""Attribute the Spark jobs of an event log to the engine lines that ran them.

    python3 scripts/job_sites.py EVENT_LOG [--desc NAME] [--method]
    python3 scripts/job_sites.py BASE_LOG NEW_LOG [--desc NAME] [--method]

Reads an uncompressed Spark event log (a file, or the directory of a
rolling log) and groups its jobs by their first `graft.` stack frame:
the engine line whose action submitted the job. For each call site it
prints the job count and the summed job wall time (submission to
completion). For each job group it then prints the job count, the
summed wall time and the busy wall time: the length of the union of
the group's job intervals. Jobs that run at once count once in the
busy time, so when a span overlaps its jobs the busy time drops below
the sum while the job count stays. Given two logs it prints both sides
and the difference per call site, then per job description (the groups
of one span name, summed). `--desc` keeps only jobs whose description
(`spark.job.description`) equals NAME; the benchmark names each traced
span's jobs after the span, e.g. `warehouse.silver` or
`sources.ingest.employee`. `--method` drops the line number from each
call site, so two versions of the code whose lines moved still line up.

A job's call site comes from its result stage's call-site stack. Jobs
that Spark submits from its own threads (broadcast builds) carry no
engine frame there; they take the call site of the SQL execution they
belong to.

To record a log of the benchmark, run it from a scratch copy of the
checkout, so the checkout's build files stay untouched:

    git clone . /tmp/jobs && cd /tmp/jobs
    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 14 --trace 1
    mkdir -p /tmp/jobs-events
    printf '%s\n' -Dspark.eventLog.enabled=true -Dspark.eventLog.compress=false \
        -Dspark.eventLog.dir=file:/tmp/jobs-events >> perfbench/target/bench-launch.txt
    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 14 --trace 1
    python3 scripts/job_sites.py /tmp/jobs-events/eventlog_v2_* --desc warehouse.silver

The first run builds the benchmark and writes `bench-launch.txt` (one
JVM option a line after the classpath); the second runs with the event
log options appended. The log covers every day the run executed, set-up
included, so counts for a span are sums over all its runs; the header's
job group count says how many there were.
"""
import argparse
import json
import os
import re
import sys
from collections import defaultdict

NO_SITE = "<no graft frame>"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def first_graft_frame(stack):
    for line in (stack or "").splitlines():
        line = line.strip()
        if line.startswith("graft."):
            return line
    return None


def log_lines(path):
    """Lines of a log file, or of a rolling log directory's `events_*`
    files in order (Spark 4 writes `eventlog_v2_<app>/events_<n>_<app>`)."""
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n)
                 for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            yield from f


def read_jobs(path, desc=None, method=False):
    """Returns [(site, start_ms, end_ms, group, description)] of every
    finished job in the log."""
    sql_sites = {}
    started = {}
    jobs = []
    for raw in log_lines(path):
        e = json.loads(raw)
        kind = e.get("Event")
        if kind == SQL_START:
            sql_sites[str(e.get("executionId"))] = first_graft_frame(e.get("details"))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if desc is not None and props.get("spark.job.description") != desc:
                continue
            stages = e.get("Stage Infos") or []
            result = max(stages, key=lambda s: s["Stage ID"], default={})
            site = (first_graft_frame(result.get("Details"))
                    or first_graft_frame(props.get("callSite.long"))
                    or sql_sites.get(str(props.get("spark.sql.execution.id")))
                    or NO_SITE)
            if method:
                site = re.sub(r":\d+\)$", ")", site)
            started[e["Job ID"]] = (site, e.get("Submission Time"),
                                    props.get("spark.jobGroup.id"),
                                    props.get("spark.job.description") or "")
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in started:
            site, t0, group, description = started.pop(e["Job ID"])
            t1 = e["Completion Time"]
            jobs.append((site, t1 if t0 is None else t0, t1, group, description))
    return jobs


def busy_ms(jobs):
    """Length of the union of the jobs' [start, end] intervals."""
    total, end = 0, None
    for _, t0, t1, _, _ in sorted(jobs, key=lambda j: j[1]):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def totals(jobs):
    """[job count, summed wall ms, busy ms], the busy time taken per job
    group (jobs outside any group form one group) and summed."""
    groups = defaultdict(list)
    for j in jobs:
        groups[j[3]].append(j)
    return [len(jobs), sum(t1 - t0 for _, t0, t1, _, _ in jobs),
            sum(busy_ms(g) for g in groups.values())]


def by_key(jobs, key):
    out = defaultdict(list)
    for j in jobs:
        out[key(j)].append(j)
    return {k: totals(v) for k, v in out.items()}


def by_site(jobs):
    return by_key(jobs, lambda j: j[0])


def header(path, jobs):
    groups = {j[3] for j in jobs if j[3] is not None}
    spans = f" in {len(groups)} job groups" if groups else ""
    n, ms, busy = totals(jobs)
    return f"{path}: {n} jobs{spans}, {ms} ms summed, {busy} ms busy"


def report(path, desc, method):
    jobs = read_jobs(path, desc, method)
    print(header(path, jobs))
    print(f"{'jobs':>5} {'wall_ms':>8}  call site")
    for site, (n, ms, _) in sorted(by_site(jobs).items(), key=lambda kv: (-kv[1][0], kv[0])):
        print(f"{n:5d} {ms:8d}  {site}")
    print()
    print(f"{'jobs':>5} {'wall_ms':>8} {'busy_ms':>8}  job group (description)")
    groups = by_key(jobs, lambda j: (j[3] or "-", j[4]))
    for (group, description), (n, ms, busy) in sorted(groups.items()):
        print(f"{n:5d} {ms:8d} {busy:8d}  {group} ({description})")


def diff(base_path, new_path, desc, method):
    base, new = read_jobs(base_path, desc, method), read_jobs(new_path, desc, method)
    print("base " + header(base_path, base))
    print("new  " + header(new_path, new))
    a, b = by_site(base), by_site(new)
    rows = [(s, a.get(s, [0, 0, 0]), b.get(s, [0, 0, 0])) for s in set(a) | set(b)]
    rows.sort(key=lambda r: (r[2][0] - r[1][0], r[0]))
    print(f"{'base':>5} {'new':>5} {'Δjobs':>6} {'base_ms':>8} {'new_ms':>8}  call site")
    for site, (n0, ms0, _), (n1, ms1, _) in rows:
        print(f"{n0:5d} {n1:5d} {n1 - n0:+6d} {ms0:8d} {ms1:8d}  {site}")
    # group ids differ between runs; the spans' descriptions line up
    a, b = by_key(base, lambda j: j[4]), by_key(new, lambda j: j[4])
    print()
    print(f"{'base':>5} {'new':>5} {'base_ms':>8} {'new_ms':>8} "
          f"{'base_busy':>9} {'new_busy':>9}  job description")
    for d in sorted(set(a) | set(b)):
        (n0, ms0, busy0), (n1, ms1, busy1) = a.get(d, [0, 0, 0]), b.get(d, [0, 0, 0])
        print(f"{n0:5d} {n1:5d} {ms0:8d} {ms1:8d} {busy0:9d} {busy1:9d}  {d or '-'}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("logs", nargs="+", help="one event log, or a base and a new one")
    ap.add_argument("--desc", help="keep only jobs with this job description")
    ap.add_argument("--method", action="store_true",
                    help="group by method, without the line number")
    a = ap.parse_args(argv)
    if len(a.logs) == 1:
        report(a.logs[0], a.desc, a.method)
    elif len(a.logs) == 2:
        diff(a.logs[0], a.logs[1], a.desc, a.method)
    else:
        ap.error("give one event log, or two to diff")


if __name__ == "__main__":
    sys.exit(main())

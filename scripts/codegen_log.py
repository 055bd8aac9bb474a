#!/usr/bin/env python3
r"""Count the classes Spark compiled from generated code, per thread kind.

    python3 scripts/codegen_log.py JVM_LOG [--start TIME] [--end TIME] [--repeats]

Reads a JVM log written with Spark's `CodeGenerator` logger at INFO and
counts its "Code generated in N ms" lines: one per class Janino compiled
(a codegen cache hit logs nothing). For each thread kind it prints the
count and the summed compile ms:

- driver main: the JVM's `main` thread, or a ScalaTest runner thread;
- pipeline threads: `graft-pipeline-*`, the medallion pipeline's step
  writers;
- AQE stage threads: `QueryStageCreator-*`,
  `ResultQueryStageExecution-*`, `shuffle-exchange-*` and
  `broadcast-exchange-*`, where adaptive execution creates and
  materializes its query stages;
- executor tasks: `Executor task launch worker for task *`;
- other: any other thread, listed by name with digits folded to `N`.

`--start` and `--end` keep only the lines logged at or after START and
before END. A time is `HH:MM:SS[.fff]` or `YYYY-MM-DD HH:MM:SS[.fff]`;
a time of day without a date matches the time of day of each line.

`--repeats` splits the compiles three ways instead. It needs the
`CodeGenerator` logger at DEBUG, which logs each class's code before
compiling it; the code is hashed, without its line numbers and its
`// codegenStageId=N` comment, which are not part of Spark's cache key.
Spark caches compiled code by (context class loader, code), and in
local mode an executor task compiles under another loader than the
driver's threads (driver main, pipeline and AQE stage threads). That is
two loaders while Spark's artifact isolation is off, as `GraftSession`
sets it; with it on, each session's tasks run under a loader of their
own, and a compile under a new session's loader counts here as a
same-loader recompile. So a compile in the window is one of:

- first compile: code this JVM had not compiled before;
- same-loader recompile: code compiled before under the same loader,
  since evicted from the codegen cache;
- cross-loader twin: code compiled before only under the other loader
  (a driver or AQE thread vs an executor task).

Compiles before `--start` count as history, so a window's first
compiles are code new to the JVM.

The log needs a timestamp and the thread name on each line. These
log4j2 properties give both, write the log to /tmp/cg/codegen.log, keep
every other logger at WARN and put the `CodeGenerator` logger at INFO,
and `SparkContext` too, whose `Starting job: <action> at <file>:<line>`
lines show where each job came from (to find a window's bounds):

    rootLogger.level = warn
    rootLogger.appenderRef.file.ref = file
    appender.file.type = File
    appender.file.name = file
    appender.file.fileName = /tmp/cg/codegen.log
    appender.file.layout.type = PatternLayout
    appender.file.layout.pattern = %d{yyyy-MM-dd HH:mm:ss.SSS} [%t] %p %c{1}: %m%n
    logger.codegen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    # debug for --repeats
    logger.codegen.level = info
    logger.jobs.name = org.apache.spark.SparkContext
    logger.jobs.level = info

To count the benchmark's compiles, run it from a scratch copy of the
checkout, so the checkout's build files stay untouched:

    git clone . /tmp/cg && cd /tmp/cg
    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 14 --trace 0
    # save the properties above as /tmp/cg/log4j2.properties, then
    echo -Dlog4j2.configurationFile=/tmp/cg/log4j2.properties >> perfbench/target/bench-launch.txt
    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 14 --trace 0
    python3 scripts/codegen_log.py /tmp/cg/codegen.log

The first run builds the benchmark and writes `bench-launch.txt` (one
JVM option a line after the classpath); the second runs with the log
configuration appended. A `--seconds 14` run of `medallion_daily` is
the bootstrap day, the benchmark's check of it, and one timed day; the
timed day starts at the first `LarkSource` job after the check's jobs
(`Medallion.scala`), and that job's time is its `--start`.

`query_mix`'s set-up runs each query into a dump, checks the dumps with
the oracle and hashes each checked dump: it reads the dump (a `parquet
at QueryMix.scala:110` job) and hashes it (adaptive stage jobs, logged
with a `CompletableFuture` call site). Its timed passes start after
set-up's last dump-hash job: the first job the `main` thread starts
after set-up's last dump read belongs to the first timed op, and its
time is their `--start`.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 14 --trace 0
    start=$(awk '/Starting job: parquet at QueryMix.scala:110/ {m = 1; next}
                 m && /\[main\] INFO SparkContext: Starting job/ {s = substr($0, 1, 23); m = 0}
                 END {print s}' /tmp/cg/codegen.log)
    python3 scripts/codegen_log.py /tmp/cg/codegen.log --repeats --start "$start"
"""
import argparse
import hashlib
import re
import sys
from collections import defaultdict
from datetime import datetime, time

STAMPED = re.compile(r"^(\d{4}-\d\d-\d\d \d\d:\d\d:\d\d(?:\.\d{3})?) \[(.*)\] (\w+) (\S+?): ?(.*)$")
COMPILED = re.compile(r"Code generated in ([\d.]+) ms")
LINE_NO = re.compile(r"^/\* \d+ \*/ ?")
STAGE_ID = re.compile(r"^\s*// codegenStageId=\d+\s*$")
KINDS = ("driver main", "pipeline threads", "AQE stage threads", "executor tasks")
REPEATS = ("first compile", "same-loader recompile", "cross-loader twin")


def kind_of(thread):
    if thread == "main" or "ScalaTest-" in thread:
        return "driver main"
    if thread.startswith("graft-pipeline-"):
        return "pipeline threads"
    if thread.startswith(("QueryStageCreator", "ResultQueryStageExecution",
                          "shuffle-exchange", "broadcast-exchange")):
        return "AQE stage threads"
    if thread.startswith("Executor task launch worker"):
        return "executor tasks"
    return "other: " + re.sub(r"\d+", "N", thread)


def parse_time(text):
    """A bound: (datetime, True) for a full timestamp, (time, False) for
    a time of day."""
    try:
        return (datetime.fromisoformat(text), True) if "-" in text \
            else (time.fromisoformat(text), False)
    except ValueError:
        raise argparse.ArgumentTypeError(f"not a time: {text!r}")


def within(stamp, start, end):
    def at(bound):
        return stamp if bound[1] else stamp.time()
    return ((start is None or at(start) >= start[0])
            and (end is None or at(end) < end[0]))


def compiles(lines):
    """(stamp, thread, ms, code hash or None) per compile, in log order.
    A DEBUG `CodeGenerator` message and the lines under it are the code
    its thread compiles next."""
    code = {}           # thread -> hash of the code it logged last
    body = None         # [thread, lines] of the DEBUG message being read
    for line in lines:
        m = STAMPED.match(line)
        if not m:
            if body is not None and not STAGE_ID.match(line):
                body[1].append(LINE_NO.sub("", line))
            continue
        if body is not None:
            code[body[0]] = hashlib.sha1("".join(body[1]).encode()).hexdigest()
            body = None
        stamp, thread, level, logger, msg = m.groups()
        if not logger.endswith("CodeGenerator"):
            continue
        if level == "DEBUG":
            body = [thread, [msg]]
            continue
        c = COMPILED.match(msg)
        if c:
            yield (datetime.fromisoformat(stamp), thread, float(c.group(1)),
                   code.pop(thread, None))


def count(lines, start=None, end=None):
    """{thread kind: [classes, summed ms]} over the compiles."""
    out = defaultdict(lambda: [0, 0.0])
    for stamp, thread, ms, _ in compiles(lines):
        if within(stamp, start, end):
            c = out[kind_of(thread)]
            c[0] += 1
            c[1] += ms
    return out


def repeats(lines, start=None, end=None):
    """{first compile | same-loader recompile | cross-loader twin:
    [classes, summed ms]} over the compiles; every compile in the log
    before the window is history."""
    out = {k: [0, 0.0] for k in REPEATS}
    loaders = defaultdict(set)  # code hash -> loaders that compiled it
    for stamp, thread, ms, code in compiles(lines):
        if code is None:
            sys.exit(f"a compile at {stamp} has no logged code: "
                     "--repeats needs the CodeGenerator logger at DEBUG")
        loader = "executor" if kind_of(thread) == "executor tasks" else "driver"
        seen = loaders[code]
        if within(stamp, start, end):
            c = out[REPEATS[0] if not seen else REPEATS[1] if loader in seen
                    else REPEATS[2]]
            c[0] += 1
            c[1] += ms
        seen.add(loader)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="a JVM log with the CodeGenerator logger at INFO")
    ap.add_argument("--start", type=parse_time, help="keep lines at or after this time")
    ap.add_argument("--end", type=parse_time, help="keep lines before this time")
    ap.add_argument("--repeats", action="store_true",
                    help="split the compiles into first compiles, same-loader "
                         "recompiles and cross-loader twins (DEBUG log)")
    a = ap.parse_args(argv)
    with open(a.log, errors="replace") as f:
        counts = (repeats if a.repeats else count)(f, a.start, a.end)
    print(f"{'classes':>7} {'ms':>9}  {'compile' if a.repeats else 'thread kind'}")
    order = REPEATS if a.repeats else list(KINDS) + sorted(k for k in counts if k not in KINDS)
    for kind in order:
        n, ms = counts.get(kind, (0, 0.0))
        print(f"{n:7d} {ms:9.1f}  {kind}")
    n = sum(c[0] for c in counts.values())
    ms = sum(c[1] for c in counts.values())
    print(f"{n:7d} {ms:9.1f}  total")


if __name__ == "__main__":
    sys.exit(main())

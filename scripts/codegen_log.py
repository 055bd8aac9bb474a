#!/usr/bin/env python3
r"""Count the classes Spark compiled from generated code, per thread kind.

    python3 scripts/codegen_log.py JVM_LOG [--start TIME] [--end TIME]

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
"""
import argparse
import re
import sys
from collections import defaultdict
from datetime import datetime, time

LINE = re.compile(r"^(\d{4}-\d\d-\d\d \d\d:\d\d:\d\d(?:\.\d{3})?) \[(.*)\] \w+ "
                  r"CodeGenerator: Code generated in ([\d.]+) ms")
KINDS = ("driver main", "pipeline threads", "AQE stage threads", "executor tasks")


def kind_of(thread):
    if thread == "main" or thread.startswith("ScalaTest-"):
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


def count(lines, start=None, end=None):
    """{thread kind: [classes, summed ms]} over the compile lines."""
    out = defaultdict(lambda: [0, 0.0])
    for line in lines:
        m = LINE.match(line)
        if m and within(datetime.fromisoformat(m.group(1)), start, end):
            c = out[kind_of(m.group(2))]
            c[0] += 1
            c[1] += float(m.group(3))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", help="a JVM log with the CodeGenerator logger at INFO")
    ap.add_argument("--start", type=parse_time, help="keep lines at or after this time")
    ap.add_argument("--end", type=parse_time, help="keep lines before this time")
    a = ap.parse_args(argv)
    with open(a.log, errors="replace") as f:
        counts = count(f, a.start, a.end)
    print(f"{'classes':>7} {'ms':>9}  thread kind")
    for kind in list(KINDS) + sorted(k for k in counts if k not in KINDS):
        n, ms = counts.get(kind, (0, 0.0))
        print(f"{n:7d} {ms:9.1f}  {kind}")
    n = sum(c[0] for c in counts.values())
    ms = sum(c[1] for c in counts.values())
    print(f"{n:7d} {ms:9.1f}  total")


if __name__ == "__main__":
    sys.exit(main())

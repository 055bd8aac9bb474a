#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run.

    python3 perfbench/run.py --workload query_mix|medallion_daily|lakehouse_rw \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into `perfbench/target`; later
runs reuse the build unless a source file is newer. Inputs are generated
from the seed under `.perfbench/` in the checkout, the workload runs in
one benchmark JVM, and the last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics`. Untraced runs
report the end-to-end metrics of BENCHMARK.json; traced runs
(`--trace 1`) report its per-layer metrics and keep the spans in
`.perfbench/traces/<workload>-<seed>.trace.json` (see trace_report.py).
Every other line is a human-readable report.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import trace_report  # noqa: E402

# Scale of the generated star schema (TPC-H scale factor): the per-query
# floor, not data volume, dominates at this size, as it does at sf0.1.
SF = 0.02
TINY_SF = 0.002
JVM_TIMEOUT_S = 165
WORKLOADS = ("query_mix", "medallion_daily", "lakehouse_rw")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def sources_mtime(root):
    newest = 0.0
    for top in ("src/main", "perfbench/src", "project", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = [x for x in dirs if x != "target"]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", "perfbench/build.sbt"):
        newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    return newest


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root):
    """Compiles engine + benchmark; returns the runtime classpath and the
    engine's JVM options, as perfbench/build.sbt's benchLaunch writes them."""
    launch = os.path.join(root, "perfbench", "target", "bench-launch.txt")
    if not (os.path.exists(launch) and os.path.getmtime(launch) >= sources_mtime(root)):
        log("building engine and benchmark with sbt ...")
        if os.path.exists(cds_archive(root)):
            os.remove(cds_archive(root))
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "benchLaunch"],
            cwd=os.path.join(root, "perfbench"), env=sbt_env(),
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=600, stdin=subprocess.DEVNULL)
        if p.returncode != 0 or not os.path.exists(launch):
            log(p.stdout[-4000:])
            raise SystemExit("build failed")
        log(f"built in {time.time() - t0:.0f} s")
    with open(launch) as f:
        cp, *opts = f.read().splitlines()
    return cp, opts


def cds_archive(root):
    return os.path.join(root, "perfbench", "target", "bench-cds.jsa")


def run_jvm(root, launch, args, run_dir):
    cp, opts = launch
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Class-data sharing: the first run after a build archives the classes
    # it loaded, and later runs map them. That takes about 2.5 s off JVM and
    # Spark start, which every run pays inside a fixed time budget.
    jsa = cds_archive(root)
    cds = (f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
           else f"-XX:ArchiveClassesAtExit={jsa}")
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", cds, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}"] + opts
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--inject", default="", help="self-test: plant a wrong expectation")
    a = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in ("build.sbt", "src/main/scala", "scripts/selfcheck.py",
                           "perfbench/build.sbt", "BENCHMARK.json")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        raise SystemExit(f"not the root of a full checkout (missing {missing})")
    bench = spec(root)
    if a.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload}; one of {WORKLOADS}")

    launch = build(root)
    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = os.path.join(run_dir, "data")
        if a.workload in ("query_mix", "lakehouse_rw"):
            gen_tables.write(data, a.seed, TINY_SF if a.tiny else SF)
        out = os.path.join(run_dir, "record.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data,
                "--work", os.path.join(run_dir, "work"), "--out", out]
        if a.tiny:
            args.append("--tiny")
        if a.inject:
            args += ["--inject", a.inject]
        rc = run_jvm(root, launch, args, run_dir)
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                log(f.read()[-4000:])
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(out) as f:
            rec = json.load(f)
        if a.trace:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            trace = os.path.join(traces, f"{a.workload}-{a.seed}.trace.json")
            shutil.copy(out[:-len(".json")] + ".trace.json", trace)
            with open(os.path.join(traces, f"{a.workload}-{a.seed}.record.json"), "w") as f:
                json.dump(rec, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    got = rec["metrics"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{rec['attempted']} ops, {rec['failed']} failed, correct={rec['correct']}")
    for k, v in got.items():
        print(f"  {k:48s} {v['value']:>16.6g} {v['unit']}")
    if a.trace:
        layers, n = trace_report.summarize(trace_report.load(trace))
        for name, v in sorted(layers.items()):
            print(f"  self time {name:38s} {v['self_ms']:>16.6g} ms/op ({n} traced ops)")
    for k, v in rec.get("failed_ops", {}).items():
        print(f"  failed op {k}: {v}x ({rec.get('errors', {}).get(k, '')[:120]})")
    wanted = bench["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if got.get(m["name"], {}).get("unit") != m["unit"]]
    if missing:
        raise SystemExit(f"the benchmark JVM did not report {missing} with their units")
    metrics = {m["name"]: got[m["name"]] for m in wanted}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

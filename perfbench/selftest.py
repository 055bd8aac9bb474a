#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py      # from the root of a checkout

Checks, for every workload:
  * an untraced run prints every end-to-end metric of BENCHMARK.json with
    its unit, and its output checks pass;
  * a traced run with a deliberately wrong expectation planted (a wrong
    expected hash, a wrong model row, a wrong SCD2 truth) prints every
    per-layer metric with its unit and counts the check's catch as a
    failed op and an incorrect run;
and that the same seed gives the same inputs and op sequences while
another seed gives different ones. Exits non-zero on the first failure.
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402
import run  # noqa: E402

INJECT = {"query_mix": "hash", "lakehouse_rw": "model", "medallion_daily": "truth"}


def bench(workload, seed, trace, inject=""):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "3", "--trace", str(trace), "--tiny"]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=400)
    assert p.returncode == 0, f"{workload}: exit {p.returncode}"
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def check_result(workload, res, wanted):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["attempted"] >= 1
    for m in wanted:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{workload}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{workload}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float))


def check_printed(workload, human, wanted):
    """Each metric is on a report line of its own, with the unit the
    benchmark JVM gave it."""
    for m in wanted:
        assert any(line.split()[:1] == [m["name"]] and line.split()[-1] == m["unit"]
                   for line in human), f"{workload}: {m['name']} not printed with unit"


def digests(launch, seed):
    cp, _ = launch
    out = subprocess.run(["java", "-cp", cp, "graft.perfbench.Main", "--digest",
                          "--seed", str(seed)], stdout=subprocess.PIPE, text=True,
                         check=True, timeout=120).stdout
    return json.loads(out.strip().splitlines()[-1])


def table_digest(seed):
    with tempfile.TemporaryDirectory(dir=os.path.join(os.getcwd(), ".perfbench")) as d:
        gen_tables.write(d, seed, run.TINY_SF)
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()


def main():
    spec = run.spec(os.getcwd())
    os.makedirs(".perfbench", exist_ok=True)
    launch = run.build(os.getcwd())
    assert digests(launch, 7) == digests(launch, 7), "same seed, different op sequences"
    a, b = digests(launch, 7), digests(launch, 8)
    assert all(a[w] != b[w] for w in a), "different seeds, same op sequence"
    assert table_digest(7) == table_digest(7), "same seed, different tables"
    assert table_digest(7) != table_digest(8), "different seeds, same tables"
    print("seeded inputs and op sequences: ok")
    for w in run.WORKLOADS:
        human, res = bench(w, 3, 0)
        check_result(w, res, spec["end_to_end"])
        check_printed(w, human, spec["end_to_end"])
        assert res["correct"], f"{w}: clean run reported an incorrect output"
        print(f"{w}: clean run ok ({res['attempted']} ops, {res['failed']} failed)")
        human, bad = bench(w, 3, 1, INJECT[w])
        check_result(w, bad, spec["per_layer"])
        check_printed(w, human, spec["per_layer"])
        assert not bad["correct"] and bad["failed"] > 0, \
            f"{w}: planted wrong expectation not caught: {bad}"
        print(f"{w}: planted {INJECT[w]} error caught ({bad['failed']} failed ops)")
    print("selftest: PASS")


if __name__ == "__main__":
    main()

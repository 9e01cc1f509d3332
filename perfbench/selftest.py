#!/usr/bin/env python3
"""Self-tests of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Checks, for every workload, that a traced run prints every per-layer
metric of BENCHMARK.json with its unit and no failed op, and that an
untraced run with one falsified expected value (an oracle fingerprint, a
planted-violation count, a survivor count) prints every end-to-end metric
with its unit and reports failed ops. Also checks that the benchmark
fails fast, printing no result, in a directory that holds only
BENCHMARK.json and the benchmark's own files. Takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = {"analytics": 0.01, "corpus_prep": 0.1, "ingest_validate": 0.02}
CORRUPT = {"analytics": "fingerprint", "corpus_prep": "survivors", "ingest_validate": "violations"}


def bench(cwd, workload, trace, *extra):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "11", "--seconds", "1", "--trace", str(trace),
           "--scale", str(SCALE[workload]), *extra]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


def result(p):
    assert p.returncode == 0, f"exit {p.returncode}: {p.stderr[-2000:]}"
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
    assert isinstance(last["attempted"], int) and last["attempted"] >= 1
    assert isinstance(last["failed"], int)
    return last


def check_metrics(last, specs):
    want = {m["name"]: m["unit"] for m in specs}
    got = last["metrics"]
    assert set(got) == set(want), set(got) ^ set(want)
    for name, m in got.items():
        assert set(m) == {"value", "unit"}, (name, m)
        assert m["unit"] == want[name], (name, m["unit"], want[name])
        assert isinstance(m["value"], (int, float)) and not isinstance(m["value"], bool), (name, m)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in SCALE:
        last = result(bench(ROOT, w, 1))
        check_metrics(last, spec["per_layer"])
        assert last["correct"] and last["failed"] == 0, (w, last)
        print(f"ok   {w}: traced run, {len(last['metrics'])} per-layer metrics, 0 failed")

        last = result(bench(ROOT, w, 0, "--corrupt", CORRUPT[w]))
        check_metrics(last, spec["end_to_end"])
        assert not last["correct"] and last["failed"] > 0, (w, last)
        print(f"ok   {w}: falsified {CORRUPT[w]} -> {last['failed']}/{last['attempted']} ops failed")

    bare = os.path.join(ROOT, ".bench_build", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench(bare, "analytics", 0)
    shutil.rmtree(bare)
    assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    print(f"ok   bare directory: exit {p.returncode}, no result printed")


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    main()

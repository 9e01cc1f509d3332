#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <analytics|corpus_prep|ingest_validate>
                             --seed <n> --seconds <s> --trace <0|1>
                             [--scale <f>] [--corrupt <what>] [--input <dir>]

Run from the repository root. Builds the library and the harness from
source (cached by source hash), generates the seeded inputs (cached by
seed), runs the harness JVM in a closed loop with one client thread for
about `--seconds` seconds of whole rounds, checks every op's output and
prints one JSON object as the last line of stdout. `--trace 0` reports
the end-to-end metrics; `--trace 1` runs traced and untraced rounds
alternately and reports the per-layer metrics and the tracing overhead.
`--scale` shrinks the inputs (self-tests); `--corrupt` falsifies one
expected value so the self-tests can check that a mismatch counts as a
failed op. `--input` runs on an existing input directory that holds a
manifest.json instead of generated inputs (perfbench/calibrate.py uses
it to run analytics on reference tables). Workload notes and the
layer-to-metric map are in perfbench/WORKLOADS.json.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

WORKLOADS = ("analytics", "corpus_prep", "ingest_validate")
JVM_TIMEOUT_S = 150

END_TO_END = {  # name -> unit
    "setup_s": "s", "rows_per_s": "rows/s", "op_p50_s": "s",
    "cpu_s_per_mrow": "s/Mrow", "mem_held_mb": "MB",
}
SPAN_SHARES = [  # per-layer share of op time, from the spans of that name
    "session.release", "frame.build", "frame.plan", "frame.exec", "io.read", "io.write",
    "validation.structural", "validation.constraints", "functions.gate",
    "operators.exact_dedup", "operators.near_dedup", "operators.index_write",
    "operators.decontam", "operators.pack",
]
PER_LAYER = {"session.build_s": "s", **{f"{n}_share": "frac" for n in SPAN_SHARES}, **{
    "io.bytes_written_per_row": "B/row", "io.files_written": "files/op",
    "validation.jobs_per_call": "jobs/call",
    "operators.docs_kept_frac": "frac", "operators.verified_per_candidate": "frac",
    "operators.skipped_bucket_rows": "rows",
    "spark.jobs_per_op": "jobs/op", "spark.stages_per_op": "stages/op",
    "spark.tasks_per_op": "tasks/op", "spark.scheduler_delay_s": "s/op",
    "spark.task_busy_frac": "frac", "spark.task_cpu_s": "s/op", "spark.gc_frac": "frac",
    "spark.shuffle_write_bytes_per_row": "B/row", "spark.spill_bytes": "B/op",
    "spark.failed_tasks": "count", "trace.overhead_frac": "frac",
    "run.failed_frac": "frac", "setup.warmup_ops": "ops",
}}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def threads():
    return max(1, min(4, os.cpu_count() or 1))


def op_p50(ops):
    """The median op latency of each op kind (analytics: query shape;
    ingest_validate: batch; corpus_prep: batch), geometric mean over the
    kinds. With one kind it is the plain median. Over a mix of shapes
    whose latencies differ 3x, the plain median of a dozen ops jumps
    between the shapes that sit next to it, which read as noise."""
    keys = sorted({o["key"] for o in ops})
    logs = [math.log(median([o["lat_s"] for o in ops if o["key"] == k])) for k in keys]
    return math.exp(sum(logs) / len(logs))


def corrupt_expected(man, what):
    """Falsify one expected value (self-tests only)."""
    if what == "fingerprint":
        shape = sorted(man["shapes"])[0]
        man["shapes"][shape]["fingerprint"] = "0" * 32
    elif what == "violations":
        v = man["batches"][0]["violations"]
        k = sorted(v)[0]
        v[k] += 1
    elif what == "survivors":
        man["batches"][0]["survivors"] += 1
    else:
        raise ValueError(what)
    return man


def check_fingerprints(res, expected, results_dir):
    """analytics: content fingerprint of each shape's first timed result,
    against the DuckDB oracle's. Returns {shape: message} for mismatches."""
    import duckdb
    import gen
    bad = {}
    con = duckdb.connect()
    for shape in sorted({o["key"] for o in res["ops"]}):
        path = os.path.join(results_dir, shape)
        if not os.path.isdir(path):
            bad[shape] = "no result captured"
            continue
        got = gen.canon_hash(con.execute(f"SELECT * FROM '{path}/*.parquet'").fetch_df())
        want = expected["shapes"][shape]["fingerprint"]
        if got != want:
            bad[shape] = f"fingerprint {got} != oracle {want}"
    con.close()
    return bad


def disk_written(d):
    files = nbytes = 0
    for base, _, names in os.walk(d):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                nbytes += os.path.getsize(os.path.join(base, n))
    return files, nbytes


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def per_layer(res, run_dir, timed_ops):
    threads_n = res["threads"]
    traced = [o for o in timed_ops if o["traced"]]
    untraced = [o for o in timed_ops if not o["traced"]]
    tseqs = {o["seq"] for o in traced}
    lat = sum(o["lat_s"] for o in traced)
    rows = sum(o["rows_in"] for o in traced)
    spans = read_jsonl(os.path.join(run_dir, "spans.jsonl"))
    jobs = read_jsonl(os.path.join(run_dir, "jobs.jsonl"))
    stages = {s["stage"]: s for s in read_jsonl(os.path.join(run_dir, "stages.jsonl"))}
    dur = {s["id"]: (s["end"] - s["start"]) / 1e9 for s in spans}
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + dur[s["id"]]
    self_s = {}
    calls = {}
    for s in spans:
        if s["op"] in tseqs:
            self_s[s["name"]] = self_s.get(s["name"], 0.0) + dur[s["id"]] - child.get(s["id"], 0.0)
            calls[s["name"]] = calls.get(s["name"], 0) + 1
    m = {"session.build_s": res["session_build_s"]}
    for n in SPAN_SHARES:
        m[f"{n}_share"] = self_s.get(n, 0.0) / lat if lat else 0.0

    files, nbytes = disk_written(os.path.join(run_dir, "timed"))
    all_rows = sum(o["rows_in"] for o in timed_ops)
    m["io.bytes_written_per_row"] = nbytes / all_rows if all_rows else 0.0
    m["io.files_written"] = files / len(timed_ops)

    span_name = {s["id"]: s["name"] for s in spans}
    op_jobs = [j for j in jobs if j["op"] in tseqs]
    vcalls = calls.get("validation.constraints", 0)
    vjobs = sum(1 for j in op_jobs if span_name.get(j["span"]) == "validation.constraints")
    m["validation.jobs_per_call"] = vjobs / vcalls if vcalls else 0.0

    ex = res.get("extra", {})
    docs_in = sum(o["rows_in"] for o in timed_ops)
    m["operators.docs_kept_frac"] = ex.get("docs_kept", 0) / docs_in if "docs_kept" in ex else 0.0
    cands = ex.get("minhash_candidates", 0)
    m["operators.verified_per_candidate"] = ex.get("jaccard_verified", 0) / cands if cands else 0.0
    m["operators.skipped_bucket_rows"] = ex.get("skipped_bucket_rows", 0)

    ran = [stages[s] for j in op_jobs for s in j["stages"] if s in stages]
    n = len(traced)
    m["spark.jobs_per_op"] = len(op_jobs) / n
    m["spark.stages_per_op"] = len(ran) / n
    m["spark.tasks_per_op"] = sum(s["tasks"] for s in ran) / n
    m["spark.scheduler_delay_s"] = sum(s["sched_delay_ms"] for s in ran) / 1e3 / n
    m["spark.task_busy_frac"] = sum(s["run_ms"] for s in ran) / 1e3 / (lat * threads_n)
    m["spark.task_cpu_s"] = sum(s["cpu_ns"] for s in ran) / 1e9 / n
    m["spark.gc_frac"] = sum(s["gc_ms"] for s in ran) / max(1, sum(s["run_ms"] for s in ran))
    m["spark.shuffle_write_bytes_per_row"] = sum(s["shuffle_write"] for s in ran) / rows
    m["spark.spill_bytes"] = sum(s["spill"] for s in ran) / n
    m["spark.failed_tasks"] = sum(s["failed"] for s in ran)

    ratios = []
    for key in sorted({o["key"] for o in traced}):
        t = [o["lat_s"] for o in traced if o["key"] == key]
        u = [o["lat_s"] for o in untraced if o["key"] == key]
        if t and u:
            ratios.append(median(t) / median(u) - 1.0)
    if not ratios:  # no op key ran both ways (corpus_prep: one batch per round)
        ratios = [median([o["lat_s"] for o in traced]) / median([o["lat_s"] for o in untraced]) - 1.0]
    m["trace.overhead_frac"] = median(ratios)
    per_op_s = {k: v / n for k, v in sorted(self_s.items())}
    return m, per_op_s


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt", choices=("fingerprint", "violations", "survivors"))
    ap.add_argument("--input")
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    try:
        out = build.ensure_built(root)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    import gen
    inputs = os.path.abspath(a.input) if a.input else gen.ensure_inputs(
        root, a.workload, a.seed, a.scale, os.path.join(out, "oracle_sql.json"))
    with open(os.path.join(inputs, "manifest.json")) as f:
        manifest = json.load(f)
    expected = corrupt_expected(json.loads(json.dumps(manifest)), a.corrupt) if a.corrupt else manifest

    run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    exp_path = os.path.join(run_dir, "expected.json")
    with open(exp_path, "w") as f:
        json.dump(expected, f)
    cmd = build.java_cmd(out, f"{run_dir}/tmp") + [
        f"-Dspark.local.dir={run_dir}/tmp",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "graftbench.Main", "run",
        f"workload={a.workload}", f"input={inputs}", f"expected={exp_path}",
        f"out={run_dir}", f"seconds={a.seconds}", f"trace={a.trace}",
        f"threads={threads()}", f"seed={a.seed}"]
    log_path = os.path.join(run_dir, "jvm.log")
    # a terminated benchmark takes its JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"harness JVM exited with {rc}")
    with open(result_path) as f:
        res = json.load(f)

    ops = res["ops"]
    if a.workload == "analytics":
        for shape, msg in check_fingerprints(res, expected, os.path.join(run_dir, "results")).items():
            for o in ops:
                if o["key"] == shape and not o["error"]:
                    o["error"] = msg
    failed = [o for o in ops if o["error"]]
    for o in failed[:5]:
        print(f"# failed op {o['seq']} ({o['key']}): {o['error']}")

    timed = [o for o in ops if not o["traced"]]
    lats = [o["lat_s"] for o in timed]
    rows = sum(o["rows_in"] for o in timed)
    info = {
        "workload": a.workload, "seed": a.seed, "threads": res["threads"], "heap": build.HEAP,
        "input_sha256": manifest["content_sha256"], "input_bytes": manifest["input_bytes"],
        "input_rows": manifest["tables"], "warmup_ops": res["warmup_ops"],
        "warmup_rounds_s": res["warmup_rounds_s"], "session_build_s": res["session_build_s"],
        "timed_rounds": res["timed_rounds"], "op_samples": len(lats),
        "rss_peak_mb": res["rss_peak_mb"], "heap_held_mb": res["heap_held_mb"],
        "non_heap_mb": res["non_heap_mb"],
        "op_p90_s": "omitted: fewer than ten samples beyond p90" if len(lats) < 100
                    else sorted(lats)[int(0.9 * len(lats))],
        "attempted": len(ops), "failed": len(failed), "extra": res["extra"],
        "op_median_s": median(lats),
        "key_p50_s": {k: round(median([o["lat_s"] for o in timed if o["key"] == k]), 4)
                      for k in sorted({o["key"] for o in timed})},
    }
    if a.trace:
        metrics, per_op_s = per_layer(res, run_dir, ops)
        metrics["run.failed_frac"] = len(failed) / len(ops)
        metrics["setup.warmup_ops"] = res["warmup_ops"]
        info["per_op_self_s"] = per_op_s
        units = PER_LAYER
        keep = os.path.join(root, build.BUILD_DIR, "last_trace", a.workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for n in ("spans.jsonl", "jobs.jsonl", "stages.jsonl", "result.json"):
            shutil.copy(os.path.join(run_dir, n), keep)
    else:
        metrics = {
            "setup_s": res["session_build_s"] + res["warmup_s"],
            "rows_per_s": rows / sum(lats),
            "op_p50_s": op_p50(timed),
            "cpu_s_per_mrow": res["timed_cpu_s"] / (sum(o["rows_in"] for o in ops) / 1e6),
            "mem_held_mb": res["heap_held_mb"] + res["non_heap_mb"],
        }
        units = END_TO_END
    shutil.rmtree(run_dir, ignore_errors=True)
    print("# info " + json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": not failed, "attempted": len(ops), "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()

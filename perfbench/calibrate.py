#!/usr/bin/env python3
"""Compare the generated inputs with a reference data set.

    python3 perfbench/calibrate.py <sf dir> [--seed <n>] [--seconds <s>] [--repeat <n>]

`<sf dir>` is a directory of the repository's test-data layout (for
example the sf0.1 set: lineitem, orders, customer, nation, region,
events and documents parquet files). The script prints the statistics
the generators in perfbench/gen.py are derived from, measured on both the
reference set and the generated set of `--seed`, then runs the analytics
workload on each, alternately, `--repeat` times, and prints every shape's
median op latency over those runs side by side.
It reads the reference directory and writes only under .bench_build/.
"""
import argparse
import collections
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

TABLE_STATS = [
    ("orders per customer p50/p90/max",
     "SELECT quantile_cont(n, 0.5), quantile_cont(n, 0.9), max(n) FROM "
     "(SELECT o_custkey, count(*) n FROM orders GROUP BY 1)"),
    ("lines per order p50/p90/max",
     "SELECT quantile_cont(n, 0.5), quantile_cont(n, 0.9), max(n) FROM "
     "(SELECT l_orderkey, count(*) n FROM lineitem GROUP BY 1)"),
    ("order date range", "SELECT min(o_orderdate), max(o_orderdate) FROM orders"),
    ("ship date range, corr with order date",
     "SELECT min(l_shipdate), max(l_shipdate), "
     "round(corr(epoch(o_orderdate), epoch(l_shipdate)), 3) "
     "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"),
    ("events: users, per-user p50/max",
     "SELECT count(*), quantile_cont(n, 0.5), max(n) FROM "
     "(SELECT user_id, count(*) n FROM events GROUP BY 1)"),
    ("events: ts range, days", "SELECT min(ts), max(ts), count(DISTINCT date_trunc('day', ts)) FROM events"),
    ("events: event_type shares",
     "SELECT string_agg(event_type || '=' || round(n / t, 3), ' ' ORDER BY event_type) FROM "
     "(SELECT event_type, count(*) n, (SELECT count(*) FROM events) t FROM events GROUP BY 1)"),
    ("events: value p50/p90", "SELECT quantile_cont(value, 0.5), quantile_cont(value, 0.9) FROM events"),
]


def table_stats(d):
    import duckdb
    con = duckdb.connect()
    for t in ("orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    out = {name: [str(v) for v in con.execute(sql).fetchone()] for name, sql in TABLE_STATS}
    con.close()
    return out


def doc_stats(texts):
    """Length range, vocabulary size, exact copies and near copies (a doc
    whose 3-shingle Jaccard with an earlier doc is in [0.7, 1)) as shares."""
    docs = [t.split() for t in texts]
    shingles = [{" ".join(w[i:i + 3]) for i in range(max(1, len(w) - 2))} for w in docs]
    seen, exact = set(), 0
    for t in texts:
        exact += t in seen
        seen.add(t)
    by_shingle = collections.defaultdict(list)
    near = set()
    for i, s in enumerate(shingles):
        shared = collections.Counter(j for g in s for j in by_shingle[g])
        for j, k in shared.items():  # Jaccard >= 0.7 needs 0.7 |s| shared shingles
            if k >= 0.7 * len(s) and 0.7 <= k / len(shingles[j] | s) < 1.0:
                near.add(i)
                break
        for g in s:
            by_shingle[g].append(i)
    lens = sorted(len(w) for w in docs)
    n = len(docs)
    return {"docs": n, "words min/median/max": [lens[0], lens[n // 2], lens[-1]],
            "vocabulary": len({w for d in docs for w in d}),
            "exact copies": round(exact / n, 4), "near copies": round(len(near) / n, 4),
            "under gate_min_words": round(sum(x < gen.CORPUS["gate_min_words"] for x in lens) / n, 4)}


def run_analytics(seed, seconds, input_dir=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "analytics",
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    if input_dir:
        cmd += ["--input", input_dir]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    info = next(json.loads(line[len("# info "):]) for line in p.stdout.splitlines()
                if line.startswith("# info "))
    return info["key_p50_s"], json.loads(p.stdout.strip().splitlines()[-1])["failed"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--repeat", type=int, default=3)
    a = ap.parse_args()
    ref = os.path.abspath(a.sf_dir)
    out = build.ensure_built(ROOT)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    generated = {w: gen.ensure_inputs(ROOT, w, a.seed, 1.0, os.path.join(out, "oracle_sql.json"))
                 for w in ("analytics", "corpus_prep")}

    print("== table statistics (reference | generated)")
    r, g = table_stats(ref), table_stats(generated["analytics"])
    for name in r:
        print(f"{name:40s} {' '.join(r[name]):60s} | {' '.join(g[name])}")

    import pyarrow.parquet as pq
    print("== documents (reference | generated history + timed batches)")
    ref_docs = pq.read_table(os.path.join(ref, "documents.parquet")).column("text").to_pylist()
    d = generated["corpus_prep"]
    gen_docs = [t for f in ["history.parquet"] + [f"timed_{i}.parquet" for i in
                range(gen.CORPUS["timed_batches"])]
                for t in pq.read_table(os.path.join(d, f)).column("text").to_pylist()]
    r, g = doc_stats(ref_docs), doc_stats(gen_docs)
    for name in r:
        print(f"{name:40s} {str(r[name]):60s} | {g[name]}")

    # a copy of the reference tables (on the file system the generated
    # ones live on) with a manifest beside them, for run.py --input
    link = os.path.join(ROOT, build.BUILD_DIR, "calibrate", "reference")
    shutil.rmtree(link, ignore_errors=True)
    os.makedirs(link)
    for t in sorted({t for ts in gen.ANALYTICS_SHAPES.values() for t in ts}):
        shutil.copyfile(os.path.join(ref, f"{t}.parquet"), os.path.join(link, f"{t}.parquet"))
    man = gen.analytics_expected(link, oracle_sql)
    man.update(content_sha256="reference", input_bytes=0)
    with open(os.path.join(link, "manifest.json"), "w") as f:
        json.dump(man, f)

    print(f"== analytics op p50 in s, median of {a.repeat} runs of {a.seconds} s "
          f"(reference | generated seed {a.seed})")
    runs = {"reference": [], "generated": []}
    failed = 0
    sides = [("reference", link), ("generated", None)]
    for i in range(a.repeat):
        for side, d in sides[::-1] if i % 2 else sides:
            p50, f = run_analytics(a.seed, a.seconds, d)
            runs[side].append(p50)
            failed += f
    r, g = ({k: statistics.median(x[k] for x in runs[side]) for k in runs[side][0]}
            for side in ("reference", "generated"))
    for shape in sorted(r):
        print(f"{shape:40s} {r[shape]:<10.4f} | {g[shape]:<10.4f} ratio {g[shape] / r[shape]:.2f}")
    print(f"failed ops: {failed}")


if __name__ == "__main__":
    main()

"""Seeded input generators for the three benchmark workloads.

Each generator writes parquet files plus `manifest.json` into an input
directory under `.bench_build/inputs/`, keyed by (workload, seed, scale).
The manifest carries the row and byte counts, a SHA-256 over the files
(the same seed gives byte-identical inputs) and the expected results the
harness checks every op against. Generation happens before the harness
JVM starts, so no metric includes it.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


# ---------------------------------------------------------------- analytics

# Typed relational and event query shapes from SparkEntry.queries, with the
# tables each one scans (their row counts make up an op's input rows). A
# round runs every shape once; at sf0.1 and 4 threads the full list of 23
# shapes takes about 16 s per warm round, too long for a run, so these 5
# span the typed API: filter/sort/limit, join+agg, a star join through
# castSchema hops, a ranking window and an event-time window.
ANALYTICS_SHAPES = {
    "q2_filter_sort": ["lineitem"],
    "q3_join_agg": ["orders", "customer"],
    "q5_multi_join": ["orders", "customer", "nation", "region"],
    "q9_window": ["customer"],
    "q18_events_window": ["events"],
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00 in micros
_EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00 in micros


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _analytics_tables(rng, sf):
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + odays * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    lo = rng.integers(0, n_ord, n_li).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lo,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        # independent of the order date, as in sf0.1
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY_US)})
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.array([f'{{"k": {i}}}' for i in range(100)])[rng.integers(0, 100, n_ev)]})
    return t


def canon_hash(df):
    """Order-insensitive content hash of a result frame, canonicalized as
    tools/local_compare.py does: columns sorted by name, each cell as
    raw str(v), rows sorted, then md5."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.md5()
    h.update("\x1e".join(df.columns).encode())
    for r in rows:
        h.update(("\x1f".join(r) + "\n").encode())
    return h.hexdigest()


def _analytics(out, seed, scale, oracle_sql):
    rng = np.random.default_rng([seed, 1])
    tables = _analytics_tables(rng, 0.1 * scale)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"))
    return {"sf": 0.1 * scale, **analytics_expected(out, oracle_sql)}


def analytics_expected(d, oracle_sql):
    """Row counts of the analytics tables in `d` and, per shape, the
    DuckDB oracle's result row count and content fingerprint."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    names = sorted({t for ts in ANALYTICS_SHAPES.values() for t in ts})
    for name in names:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{d}/{name}.parquet'")
    rows = {n: con.execute(f"SELECT count(*) FROM {n}").fetchone()[0] for n in names}
    shapes = {}
    for shape, ts in ANALYTICS_SHAPES.items():
        res = con.execute(oracle_sql[shape]).fetch_df()
        shapes[shape] = {"tables": ts, "input_rows": sum(rows[t] for t in set(ts)),
                         "rows": len(res), "fingerprint": canon_hash(res)}
    con.close()
    return {"tables": rows, "shapes": shapes}


# -------------------------------------------------------------- corpus_prep

# The corpus follows the `documents` table of the repository's sf0.1 test
# data, measured once (perfbench/calibrate.py prints these statistics):
# 5,000 docs; each a uniform draw of 10-99 words from the same 30-word
# vocabulary, every word about equally frequent; 8 exact copies (0.16%)
# and 241 near copies (4.8%: the text of another doc with one word,
# "dup", appended or removed), the partner drawn uniformly from the
# whole table. Here a stream of such docs is cut into a history (which
# seeds the index) and batches; a copy's partner is drawn uniformly from
# the docs before it that pass the gate and the decontamination, so most
# of a batch's copies match the index and a few match the batch itself.
# sf0.1 has no held-out eval set, so the contamination rate is assumed:
# 2% of docs carry a 12-word window of one of the eval docs. Gate drops
# are not planted: they are the sf0.1-shaped docs under `gate_min_words`
# words (about 11%) or without an English stopword (about 9%).
SF01_VOCAB = ("agg batch big column customer data fast filter group hash join key "
              "line merge order part query row scan slow small sort spark stream "
              "table the a value vector window").split()
NEAR_MARK = "dup"
GATE_STOP = {"the", "a"}  # the vocabulary's words that TextFns counts for "en"

CORPUS = dict(history_docs=8000, batch_docs=500, warm_batches=2, timed_batches=2,
              min_words=10, max_words=99, gate_min_words=20, near_threshold=0.7,
              pack_budget=5000, decontam_k=8, eval_docs=200)
# measured on sf0.1 (exact, near); contamination assumed (see above)
CORPUS_MIX = dict(exact=0.0016, near=0.048, contam=0.02)


def _random_doc(rng):
    n = int(rng.integers(CORPUS["min_words"], CORPUS["max_words"] + 1))
    return [SF01_VOCAB[i] for i in rng.integers(0, len(SF01_VOCAB), n)]


def _passes_gate(words):
    return len(words) >= CORPUS["gate_min_words"] and bool(GATE_STOP & set(words))


def _pack_shards(words_by_id, budget):
    total, shards = 0, set()
    for i in sorted(words_by_id):
        shards.add(total // budget)
        total += words_by_id[i]
    return len(shards)


def _docs_table(ids, words):
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": np.asarray(ids, dtype=np.int64), "text": text,
        "lang": ["en"] * len(text),
        "source": [f"src{i % 20}" for i in range(len(text))],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})


def _kgrams(words):
    k = CORPUS["decontam_k"]
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def _corpus_batch(rng, eval_docs, eval_grams, pool, n_docs, first_id):
    """One batch in stream order. `pool` holds the clean docs before it
    (copies draw their partner from it, and the batch's own clean docs
    join it as they are made). Returns (table, manifest entry)."""
    docs, kinds = [], []
    for _ in range(n_docs):
        u = rng.random()
        if pool and u < CORPUS_MIX["exact"] + CORPUS_MIX["near"]:
            # as in sf0.1, no doc is copied twice: the partner leaves the pool
            i = int(rng.integers(0, len(pool)))
            partner, pool[i] = pool[i], pool[-1]
            pool.pop()
            near = u >= CORPUS_MIX["exact"]
            docs.append(partner + [NEAR_MARK] if near else list(partner))
            kinds.append("near" if near else "exact")
        else:
            w = _random_doc(rng)
            if _passes_gate(w) and u > 1.0 - CORPUS_MIX["contam"]:
                ev = eval_docs[int(rng.integers(0, len(eval_docs)))].split()
                at = int(rng.integers(0, len(w) - 12))
                w[at:at + 12] = ev[10:22]
                kinds.append("contam")
            elif not _passes_gate(w):
                kinds.append("gated")
            else:  # a chance k-gram match with the eval set is contamination too
                kinds.append("contam" if _kgrams(w) & eval_grams else "base")
            if kinds[-1] == "base":
                pool.append(w)
            docs.append(w)
    ids = np.arange(n_docs, dtype=np.int64) + first_id
    survivors = {int(i): len(w) for i, w, k in zip(ids, docs, kinds) if k == "base"}
    entry = {
        "docs": n_docs, "kinds": {k: kinds.count(k) for k in sorted(set(kinds))},
        "survivors": len(survivors), "survivor_id_sum": int(sum(survivors)),
        "shards": _pack_shards(survivors, CORPUS["pack_budget"]),
        "planted_dup_ids": [int(i) for i, k in zip(ids, kinds) if k in ("exact", "near")],
    }
    return _docs_table(ids, docs), entry


def _corpus(out, seed, scale):
    rng = np.random.default_rng([seed, 2])
    c = CORPUS
    # eval docs: long sf0.1-shaped docs, so every one has a 12-word window at 10
    eval_docs = [" ".join(SF01_VOCAB[i] for i in rng.integers(0, len(SF01_VOCAB), 60))
                 for _ in range(c["eval_docs"])]
    pq.write_table(pa.table({"text": eval_docs}), os.path.join(out, "eval.parquet"))
    eval_grams = set().union(*(_kgrams(d.split()) for d in eval_docs))
    n_hist = max(int(c["history_docs"] * scale), 100)
    history_pool = []
    tab, _ = _corpus_batch(rng, eval_docs, eval_grams, history_pool, n_hist, 0)
    pq.write_table(tab, os.path.join(out, "history.parquet"))
    n_docs = max(int(c["batch_docs"] * scale), 100)
    seqs = {}
    for name, count, id0 in (("warm", c["warm_batches"], 10), ("timed", c["timed_batches"], 100)):
        pool = list(history_pool)
        seqs[name] = []
        for b in range(count):
            tab, entry = _corpus_batch(rng, eval_docs, eval_grams, pool, n_docs,
                                       (id0 + b) * 10_000_000)
            entry["file"] = f"{name}_{b}.parquet"
            pq.write_table(tab, os.path.join(out, entry["file"]))
            seqs[name].append(entry)
    return {"params": c, "mix": CORPUS_MIX, "history_docs": n_hist, "warm": seqs["warm"],
            "batches": seqs["timed"],
            "tables": {"history_docs": n_hist, "batch_docs": n_docs,
                       "warm_batches": c["warm_batches"], "timed_batches": c["timed_batches"],
                       "eval_docs": len(eval_docs)}}


# ---------------------------------------------------------- ingest_validate

INGEST = dict(batches=2, rows=25_000)
# (column, constraint kind) pairs the harness's IngestOrder schema declares
VIOLATION_KINDS = [("o_custkey", "non_null"), ("o_totalprice", "gt"),
                   ("l_discount", "ge"), ("l_discount", "le"), ("l_quantity", "lt"),
                   ("o_orderpriority", "isin"), ("o_clerk", "pattern"),
                   ("o_comment", "min_length"), ("o_comment", "max_length"),
                   ("o_orderkey", "unique")]


def _ingest(out, seed, scale):
    rng = np.random.default_rng([seed, 3])
    n = max(int(INGEST["rows"] * scale), 1000)
    batches = []
    for b in range(INGEST["batches"]):
        keys = np.arange(n, dtype=np.int64) + (b + 1) * 100_000_000
        cust = rng.integers(0, 15_000, n).astype(np.int64)  # sf0.1's o_custkey range
        price = _money(rng, 1000.0, 500000.0, n)
        disc = rng.integers(0, 11, n) / 100.0
        qty = rng.integers(1, 51, n).astype(np.float64)
        prio = np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n)]
        clerk = np.array([f"Clerk#{i:09d}" for i in rng.integers(0, 1000, n)], dtype=object)
        comment = np.array([f"note {i:06d} on order" for i in rng.integers(0, 10**6, n)], dtype=object)
        status = np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n)]
        # at most n/40 per kind, so the 11 disjoint row sets fit a small batch
        planted = {f"{c}:{k}": int(rng.integers(10, min(200, n // 40)))
                   for c, k in VIOLATION_KINDS}
        rows = rng.permutation(n)
        pos = 0

        def take(k):
            nonlocal pos
            sel = rows[pos:pos + k]
            pos += k
            return sel
        cust_null = np.zeros(n, dtype=bool)
        cust_null[take(planted["o_custkey:non_null"])] = True
        price[take(planted["o_totalprice:gt"])] = -np.round(rng.uniform(0, 100), 2)
        disc[take(planted["l_discount:ge"])] = -0.05
        disc[take(planted["l_discount:le"])] = 1.25
        qty[take(planted["l_quantity:lt"])] = 150.0
        prio[take(planted["o_orderpriority:isin"])] = "9-BOGUS"
        clerk[take(planted["o_clerk:pattern"])] = "clerk-x"
        comment[take(planted["o_comment:min_length"])] = "abc"
        comment[take(planted["o_comment:max_length"])] = "x" * 90
        dup_from = take(planted["o_orderkey:unique"])
        dup_to = take(planted["o_orderkey:unique"])
        keys[dup_from] = keys[dup_to]
        tab = pa.table({
            "o_orderkey": keys,
            "o_custkey": pa.array(cust, mask=cust_null),
            "o_orderstatus": status.astype(str),
            "o_totalprice": price,
            "o_orderpriority": prio.astype(str),
            "o_clerk": clerk.astype(str),
            "o_comment": comment.astype(str),
            "l_quantity": qty,
            "l_discount": disc})
        pq.write_table(tab, os.path.join(out, f"batch_{b}.parquet"))
        batches.append({"file": f"batch_{b}.parquet", "rows": n, "violations": planted})
    return {"params": INGEST, "batches": batches,
            "tables": {"ingest_rows": n * INGEST["batches"]}}


# ------------------------------------------------------------- entry point

def _dir_digest(d):
    h = hashlib.sha256()
    total = 0
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            with open(os.path.join(d, name), "rb") as f:
                data = f.read()
            total += len(data)
            h.update(name.encode())
            h.update(hashlib.sha256(data).digest())
    return h.hexdigest(), total


def ensure_inputs(root, workload, seed, scale, oracle_sql_path):
    """Generate (or reuse) the inputs for one workload and seed; return the
    input directory. The cache key includes a hash of this generator."""
    with open(__file__, "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(root, ".bench_build", "inputs",
                     f"{workload}-seed{seed}-scale{scale:g}-{gen_hash}")
    if os.path.exists(os.path.join(d, "manifest.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if workload == "analytics":
        with open(oracle_sql_path) as f:
            man = _analytics(tmp, seed, scale, json.load(f))
    elif workload == "corpus_prep":
        man = _corpus(tmp, seed, scale)
    elif workload == "ingest_validate":
        man = _ingest(tmp, seed, scale)
    else:
        raise ValueError(f"unknown workload {workload}")
    digest, nbytes = _dir_digest(tmp)
    man.update(workload=workload, seed=seed, scale=scale, generator_sha256=gen_hash,
               content_sha256=digest, input_bytes=nbytes)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    _prune(os.path.dirname(d), workload)
    return d


def _prune(parent, workload, keep=4):
    """Bound the input cache: keep the newest `keep` input sets per workload."""
    sets = sorted((e for e in os.scandir(parent) if e.name.startswith(workload + "-")),
                  key=lambda e: e.stat().st_mtime, reverse=True)
    for e in sets[keep:]:
        shutil.rmtree(e.path, ignore_errors=True)

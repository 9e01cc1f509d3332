#!/usr/bin/env python3
"""Local pre-flight for the driver's correctness gate: run each oracle
SQL from a Verify outDir in DuckDB over the same sf parquet tables and
compare rows/schema/values to the Spark result parquet. Mirrors the
driver's compare (sort columns by name, order-insensitive row hash). A result
directory with no oracle entry is a failure, not a skip: the driver's
gate would see rows it cannot check.

IMPORTANT: the value compare stringifies each cell with raw str(v) and
NO float canonicalization, byte-faithful to the driver's row hash. A
DuckDB HUGEINT that pandas renders as float64 therefore hashes as
"6226.0" while Spark's LongType hashes as "6226" — a red gate even
though the numbers are equal. That is by design: it forces every
oracle aggregate to be CAST to the Spark-side type (r13 lesson; the
old %.9g normalization here masked exactly that mismatch).

Usage: python3 tools/local_compare.py <sfDir> <verifyOutDir> [query ...]
       python3 tools/local_compare.py --selftest
"""
import json, os, sys, tempfile, duckdb


def canon(df):
    # Byte-faithful to the driver: raw str(v) per cell, no float
    # normalization. numpy int64 -> "5", float64 -> "5.0".
    return sorted(tuple(str(v) for v in row)
                  for row in df.itertuples(index=False))


def compare(o, s):
    o = o.reindex(sorted(o.columns), axis=1)
    s = s.reindex(sorted(s.columns), axis=1)
    rows = len(o) == len(s)
    schema = list(o.columns) == list(s.columns)
    values = canon(o) == canon(s)
    return o, s, rows, schema, values


def unmatched(out, oracles):
    """Result directories under `out` with no oracle entry."""
    return sorted(d for d in os.listdir(out)
                  if os.path.isdir(os.path.join(out, d)) and d not in oracles)


def selftest():
    """Regression: an uncast sum() OVER (HUGEINT -> float64) must FAIL
    against the BIGINT result a Spark LongType column would produce."""
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30)) v(id, n)")
    uncast = con.execute(
        "SELECT id, sum(CAST(n AS BIGINT)) OVER (ORDER BY id) AS cum FROM t ORDER BY id").fetch_df()
    cast = con.execute(
        "SELECT id, CAST(sum(CAST(n AS BIGINT)) OVER (ORDER BY id) AS BIGINT) AS cum FROM t ORDER BY id").fetch_df()
    _, _, rows, schema, values = compare(uncast, cast)
    assert rows and schema, "selftest setup broken"
    assert not values, (
        "selftest FAILED: uncast HUGEINT window sum hashed equal to BIGINT "
        "— float canonicalization has crept back into canon()")
    _, _, rows2, schema2, values2 = compare(cast, cast.copy())
    assert rows2 and schema2 and values2, "selftest: identical frames must match"
    with tempfile.TemporaryDirectory() as out:
        for d in ("q1_agg", "q2_filter_sort"):
            os.mkdir(os.path.join(out, d))
        open(os.path.join(out, "oracle_sql.json"), "w").close()
        assert unmatched(out, {"q1_agg": "SELECT 1"}) == ["q2_filter_sort"], (
            "selftest FAILED: a result dir without an oracle entry went unreported")
    print("selftest ok: uncast sum() OVER fails pre-flight, cast form passes, "
          "a result dir without an oracle fails")


if len(sys.argv) == 2 and sys.argv[1] == "--selftest":
    selftest()
    sys.exit(0)

sf = sys.argv[1]
out = sys.argv[2]
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracles = json.load(open(f"{out}/oracle_sql.json"))
fail = 0
for name in unmatched(out, oracles):
    if only and name not in only:
        continue
    fail += 1
    print(f"FAIL {name}: result dir has no oracle entry")
for name, sql in sorted(oracles.items()):
    if only and name not in only:
        continue
    try:
        o = con.execute(sql).fetch_df()
        s = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").fetch_df()
        o, s, rows, schema, values = compare(o, s)
        ok = rows and schema and values
        if not ok:
            fail += 1
            print(f"FAIL {name}: rows={rows} ({len(s)} vs {len(o)}) schema={schema} values={values}")
            if not schema:
                print(f"  spark  : {list(s.columns)}\n  oracle : {list(o.columns)}")
            if schema and not values:
                print(f"  spark dtypes : {dict(s.dtypes.astype(str))}")
                print(f"  oracle dtypes: {dict(o.dtypes.astype(str))}")
                co, cs = canon(o), canon(s)
                diff = [(a, b) for a, b in zip(co, cs) if a != b][:3]
                for a, b in diff:
                    print(f"  oracle={a}\n  spark ={b}")
        else:
            print(f"ok   {name}: {len(s)} rows")
    except Exception as e:
        fail += 1
        print(f"ERROR {name}: {e}")
sys.exit(1 if fail else 0)

#!/usr/bin/env python3
"""DuckDB oracle for the query-mix workload.

check() compares each query's rows, as the JVM wrote them, with the rows of
the query's oracle SQL run by DuckDB over the same corpus. Rows compare in
emitted order with columns sorted by name and doubles rounded to 4 places,
the canonical form the repository's correctness gate uses.

Oracle results are cached as parquet under the build directory, keyed by
the SQL and the corpus bytes, each next to its SQL text. To recompute every
cached result from DuckDB:

    python3 perfbench/oracle.py --recompute
"""
import glob
import hashlib
import json
import math
import os
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(corpus):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    return con


def corpus_digest(corpus):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(corpus, "*.parquet"))):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compute(con, sql, path):
    """Run `sql` in DuckDB and store its rows, in order, at `path`."""
    tmp = path + ".tmp"
    con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
    os.replace(tmp, path)


def cached(con, corpus, sql, cache):
    os.makedirs(cache, exist_ok=True)
    key = hashlib.sha256((corpus_digest(corpus) + "\n" + sql).encode()).hexdigest()[:32]
    path = os.path.join(cache, key + ".parquet")
    if not os.path.exists(path):
        with open(os.path.join(cache, key + ".sql"), "w") as fh:
            json.dump({"corpus": corpus, "sql": sql}, fh)
        compute(con, sql, path)
    return path


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        rr = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 4)
                if v == -0.0:
                    v = 0.0
            rr.append(v)
        out.append(tuple(rr))
    return out


def same(a, b):
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=0.0, abs_tol=2e-9)
    return False


def check(corpus, results, cache):
    """Return a list of problems; empty when every query matches its oracle."""
    sqls = json.load(open(os.path.join(results, "oracle_sql.json")))
    con = connect(corpus)
    problems = []
    for name, sql in sorted(sqls.items()):
        try:
            got = con.query(f"SELECT * FROM '{results}/{name}/*.parquet'")
            got_cols, got_rows = list(got.columns), got.fetchall()
            want = con.query(f"SELECT * FROM '{cached(con, corpus, sql, cache)}'")
            want_cols, want_rows = list(want.columns), want.fetchall()
        except Exception as e:  # a missing result or a broken oracle is a failed check
            problems.append(f"{name}: {e}")
            continue
        if sorted(got_cols) != sorted(want_cols):
            problems.append(f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}")
            continue
        a, b = canon(got_rows, got_cols), canon(want_rows, want_cols)
        if len(a) != len(b):
            problems.append(f"{name}: {len(a)} rows, oracle has {len(b)}")
            continue
        bad = [i for i, (x, y) in enumerate(zip(a, b))
               if not all(same(u, v) for u, v in zip(x, y))]
        if bad:
            problems.append(f"{name}: {len(bad)} rows differ from the oracle, first at {bad[0]}")
    missing = set(os.listdir(results)) - set(sqls) - {"oracle_sql.json"}
    problems += [f"{m}: no oracle SQL" for m in sorted(missing)]
    return problems


def recompute(cache):
    import duckdb  # noqa: F401  (fail early when DuckDB is missing)
    n = 0
    for meta in sorted(glob.glob(os.path.join(cache, "*.sql"))):
        spec = json.load(open(meta))
        compute(connect(spec["corpus"]), spec["sql"], meta[:-len(".sql")] + ".parquet")
        n += 1
    print(f"recomputed {n} oracle results in {cache}")


if __name__ == "__main__":
    if sys.argv[1:] != ["--recompute"]:
        sys.exit(__doc__)
    recompute(os.path.join(os.getcwd(), ".bench_build", "oracle"))

#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs graft.Verify (already-built classes + /opt/spark/jars) on a given sf dir,
then executes each oracle SQL in DuckDB over the same parquet tables and
compares: columns sorted by name, rows sorted, values compared exactly
(floats to 1e-12 relative for reporting, but exact mismatches are flagged).

Usage: python3 tools/check.py [sfdir] [--only q_name,...] [--bench-sql]

graft.Verify runs on SPARK_GRAFT_CPUS cores when it is set, else on 8.
Each run starts from an empty output dir, so every result it compares was
written by this run.
"""
import sys, os, json, glob, shutil, subprocess

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") else "/root/testdata/sf0.01"
ONLY = None
_args = sys.argv[1:]
for i, a in enumerate(_args):
    if a.startswith("--only="):
        ONLY = set(a.split("=", 1)[1].split(","))
    elif a == "--only" and i + 1 < len(_args):
        ONLY = set(_args[i + 1].split(","))

OUT = "/tmp/graft_verify"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def classpath():
    classes = os.path.join(REPO, "target/scala-2.13/classes")
    jars = glob.glob("/opt/spark/jars/*.jar")
    return ":".join([classes] + jars)

def run_verify(only=None):
    # a result left by an earlier run would stand in for one this run failed
    # to write, and a deleted query would still be reported
    shutil.rmtree(OUT, ignore_errors=True)
    add_opens = []
    for p in ["java.base/java.lang","java.base/java.lang.invoke","java.base/java.lang.reflect",
              "java.base/java.io","java.base/java.net","java.base/java.nio","java.base/java.util",
              "java.base/java.util.concurrent","java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch","java.base/sun.nio.cs","java.base/sun.security.action",
              "java.base/sun.util.calendar"]:
        add_opens += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd = ["java"] + add_opens + [
        "-Xmx8g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath(), "graft.Verify", SF, OUT]
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    if only is not None:
        env["GRAFT_VERIFY_ONLY"] = only
    r = subprocess.run(cmd, capture_output=True, text=True, env=env)
    if r.returncode != 0:
        print(r.stdout[-4000:]); print(r.stderr[-4000:])
        sys.exit("verify failed")
    if r.stderr:
        for line in r.stderr.splitlines():
            if "[verify]" in line: print(line)

def canon(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), key=lambda s: s.astype(str)).reset_index(drop=True)
    return df

def bench_sql_check():
    """Pin the symmetrized-bench overrides: after building the untimed
    artifact tables, each oracleBenchSql statement must return EXACTLY the
    rows of its oracleSql counterpart (else the bench times a different
    query). The JSON dumps are always re-made from the built classes first
    (GRAFT_VERIFY_ONLY=none runs no query, a few seconds), so a stale dump
    from an earlier build can never stand in for the current SQL."""
    import duckdb, pandas as pd
    run_verify(only="none")
    oracle = json.load(open(os.path.join(OUT, "oracle_sql.json")))
    bench = json.load(open(os.path.join(OUT, "oracle_bench_sql.json")))
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for tbl, sql in bench["setup"]:
        con.execute(f"CREATE OR REPLACE TEMP TABLE {tbl} AS {sql}")
    n_ok = 0
    for name, sql in sorted(bench["timed"].items()):
        got = canon(con.execute(sql).df())
        exp = canon(con.execute(oracle[name]).df())
        ok = list(got.columns) == list(exp.columns) and len(got) == len(exp) \
            and got.astype(str).equals(exp.astype(str))
        print(f"{'PASS' if ok else 'FAIL'} {name}: bench override "
              f"{'matches' if ok else 'DIFFERS FROM'} oracle ({len(got)} rows)")
        n_ok += ok
    print(f"== {n_ok}/{len(bench['timed'])} bench overrides match on {SF}")
    sys.exit(0 if n_ok == len(bench["timed"]) else 1)

def main():
    import duckdb, pandas as pd
    if "--bench-sql" in sys.argv:
        bench_sql_check(); return
    run_verify()
    oracle = json.load(open(os.path.join(OUT, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    results = {}
    names = sorted(oracle) if ONLY is None else sorted(set(oracle) & ONLY)
    spark_only = sorted(set(os.listdir(OUT)) - set(oracle)
                        - {"oracle_sql.json", "oracle_bench_sql.json"})
    for name in names:
        pdir = os.path.join(OUT, name)
        if not os.path.isdir(pdir):
            results[name] = "MISSING_SPARK_RESULT"; continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in glob.glob(pdir + "/*.parquet")]))
            exp = canon(con.execute(oracle[name]).df())
        except Exception as e:
            results[name] = f"ERROR {e}"; continue
        if list(got.columns) != list(exp.columns):
            results[name] = f"SCHEMA got={list(got.columns)} exp={list(exp.columns)}"; continue
        if len(got) != len(exp):
            results[name] = f"ROWS got={len(got)} exp={len(exp)}"; continue
        bad = None
        for c in got.columns:
            gv, ev = got[c].tolist(), exp[c].tolist()
            for i, (g, e) in enumerate(zip(gv, ev)):
                g2 = g.item() if hasattr(g, "item") else g
                e2 = e.item() if hasattr(e, "item") else e
                if isinstance(g2, float) and (g2 != g2) and isinstance(e2, float) and (e2 != e2):
                    continue
                if g2 != e2:
                    if str(g2) == str(e2): continue
                    bad = f"VALUE col={c} row={i} got={g2!r} exp={e2!r}"; break
            if bad: break
        results[name] = bad or "OK"
    n_ok = sum(1 for v in results.values() if v == "OK")
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v=='OK' else 'FAIL'} {k}: {v}")
    for k in spark_only:
        n = len(glob.glob(os.path.join(OUT, k, "*.parquet")))
        print(f"INFO {k}: rows-only (no oracle), {n} files")
    print(f"== {n_ok}/{len(results)} oracle-checked queries pass on {SF}")

if __name__ == "__main__":
    main()

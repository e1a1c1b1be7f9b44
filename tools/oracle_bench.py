#!/usr/bin/env python3
"""Time the DuckDB oracle suite on this box — the auditable denominator for
the Spark bench ratio.

The Scala bench cannot embed DuckDB (driver-side tool only), so the per-round
"how close to the oracle are we" ratio is produced here instead: run every
SparkEntry.oracleSql statement in DuckDB over the same sf parquet tables the
Spark bench reads, with the same sampling rule as graft.Bench (one warm-up
pass, then three timed passes interleaved suite-wide, each query keeping its
fastest successful sample), and emit one JSON line shaped like the Spark
bench's so the two artifacts line up field-for-field.

Usage: python3 tools/oracle_bench.py [sfdir] [threads]
  sfdir   default /root/testdata/sf0.1
  threads default 32 (matches the Spark bench's local[32])

Requires target/scala-2.13/classes to be built (runs graft.Verify once to
dump oracle_sql.json if it is not already present for this sfdir).
"""
import json
import os
import sys
import time

import jvm

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
THREADS = int(sys.argv[2]) if len(sys.argv) > 2 else 32
OUT = "/tmp/graft_oracle_bench"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def dump_oracle_sql():
    """Run graft.Verify (cheapest available dump of SparkEntry.oracleSql)."""
    r = jvm.run("graft.Verify", SF, OUT, heap="8g",
                env=dict(os.environ, SPARK_GRAFT_CPUS="8"))
    if r.returncode != 0:
        print(r.stderr[-2000:], file=sys.stderr)
        sys.exit("verify failed; cannot dump oracle_sql.json")


def main():
    import duckdb
    sql_path = os.path.join(OUT, "oracle_sql.json")
    if not os.path.exists(sql_path):
        dump_oracle_sql()
    oracle = json.load(open(sql_path))

    con = duckdb.connect()
    con.execute(f"SET threads TO {THREADS}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    names = sorted(oracle)
    # keep the ratio apples-to-apples with a filtered Spark suite
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        keep = set(only.split(","))
        names = [n for n in names if n in keep]

    # Symmetrized ANN timing (round-14 advice): the Spark bench amortizes
    # index artifacts (k-means seeds, inverted lists, PQ codebook/codes)
    # across samples via its per-JVM AnnIndex cache, so the oracle gets the
    # same treatment — artifact temp tables built ONCE, untimed, and the
    # index-bearing queries timed as marginal probes against them. Emitted
    # by the Scala side next to oracle_sql.json; absent file = old behavior.
    bench_sql_path = os.path.join(OUT, "oracle_bench_sql.json")
    if os.path.exists(bench_sql_path):
        bench_sql = json.load(open(bench_sql_path))
        t0 = time.perf_counter()
        for tbl, sql in bench_sql.get("setup", []):
            con.execute(f"CREATE OR REPLACE TEMP TABLE {tbl} AS {sql}")
        overrides = {k: v for k, v in bench_sql.get("timed", {}).items()
                     if k in names}
        # Equivalence pin, run EVERY bench (round-15 advice): an override that
        # drifts from its oracleSql counterpart would silently time a
        # different query. Each override must return exactly the oracle's
        # rows (columns sorted by name, rows sorted, string-compared — the
        # same canon as check.py --bench-sql); a drifted one is dropped back
        # to the plain oracle SQL with a loud warning, so the ratio stays
        # honest either way. The comparison doubles as the warm-up pass for
        # these queries.
        def rows_of(sql):
            df = con.execute(sql).df()
            df = df.reindex(sorted(df.columns), axis=1)
            return list(df.columns), sorted(map(tuple, df.astype(str).values.tolist()))
        for k in sorted(overrides):
            try:
                ok = rows_of(overrides[k]) == rows_of(oracle[k])
            except Exception as e:
                ok = False
                print(f"[oracle] override {k} equivalence check errored: {e}",
                      file=sys.stderr)
            if not ok:
                print(f"[oracle] WARNING: timed override for {k} DIFFERS from "
                      f"its oracleSql — dropping the override (timing the "
                      f"plain oracle query instead)", file=sys.stderr)
                del overrides[k]
        print(f"[oracle] {len(bench_sql.get('setup', []))} index artifacts "
              f"materialized untimed in {time.perf_counter() - t0:.2f}s; "
              f"{len(overrides)} timed overrides (equivalence-pinned)", file=sys.stderr)
        oracle = dict(oracle, **overrides)

    def once(name):
        t0 = time.perf_counter()
        try:
            con.execute(oracle[name]).fetchall()
            return time.perf_counter() - t0
        except Exception as e:
            print(f"[oracle] {name} FAILED: {e}", file=sys.stderr)
            return -1.0

    for name in names:  # warm-up (buffer cache, plan cache)
        once(name)

    best = {n: -1.0 for n in names}
    for pas in (1, 2, 3):  # interleaved suite-wide, like graft.Bench.Passes
        for name in names:
            try:
                load = open("/proc/loadavg").read().split()[0]
            except OSError:
                load = "?"
            sec = once(name)
            print(f"[oracle][pass{pas}] {name} {sec:.2f}s load={load}", file=sys.stderr)
            if sec >= 0:
                best[name] = sec if best[name] < 0 else min(best[name], sec)

    qs = ",".join(f'"{k}":{v}' for k, v in best.items())
    failed = sum(1 for v in best.values() if v < 0)
    total = sum(v for v in best.values() if v >= 0)
    print(f'{{"metric":"oracle_total","value":{total},"unit":"sec",'
          f'"queries":{{{qs}}},"failed":{failed},"threads":{THREADS},"sf":"{SF}"}}')


if __name__ == "__main__":
    main()

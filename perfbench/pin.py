#!/usr/bin/env python3
"""Regenerates perfbench/pins.json, the expected outputs the benchmark
checks every operation against:

  * per query of query_mix: row count and digest, taken from
    two runs with different seeds (the digest must not depend on order);
  * etl_pipeline: the graph row count of ONE replica (an operation on K
    replicas must return exactly K times it);
  * a one-time cross-check of each query's Spark result against the DuckDB
    oracle statement (SparkEntry.oracleSql), where one exists.

    python3 perfbench/pin.py     # from the repository root; a few minutes

Run it only when the engine's results or the generated inputs change on
purpose, and review the diff of pins.json.
"""
import glob
import json
import math
import os
import subprocess
import sys
import time

import run as bench

MIXES = ("query_mix",)


def canon(df):
    """Columns by name, floats to 9 significant digits, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        if hasattr(v, "tolist"):
            v = v.tolist()
        return str(v)
    rows = sorted(tuple(norm(v) for v in r) for r in df.itertuples(index=False, name=None))
    return list(df.columns), rows


def oracle_check(classes, sf, names):
    """Runs graft.Verify on `sf` for `names` and compares each result with
    DuckDB running the query's oracle SQL over the same parquet."""
    import duckdb
    import pandas as pd
    data = os.path.join(bench.BUILD, "data", sf)
    out = os.path.join(bench.BUILD, "verify", sf)
    jars = sorted(glob.glob(os.path.join(bench.spark_jars(), "*.jar")))
    cmd = ["java"]
    for p in bench.JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(bench.BUILD, "verify", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", ":".join([classes] + jars),
            "graft.Verify", data, out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(bench.cores()), GRAFT_VERIFY_ONLY=",".join(names))
    subprocess.run(cmd, check=True, env=env, cwd=os.path.join(bench.BUILD, "verify"),
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in bench.gen_data.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    verdict = {}
    for n in names:
        if n not in oracle:
            verdict[n] = "none"
            continue
        got = canon(pd.read_parquet(os.path.join(out, n)))
        exp = canon(con.execute(oracle[n]).df())
        verdict[n] = "match" if got == exp else "mismatch"
    return verdict


def main():
    classes, _ = bench.build(time.time() + 850)
    n = bench.cores()
    far = time.time() + 3600
    pins = {}
    for wl in MIXES:
        recs = [bench.run_jvm(classes, wl, seed, 0, 0, n, far) for seed in (1, 2)]
        by_seed = [{o["name"]: o for o in r["ops"]} for r in recs]
        errors = [f"{k}: {o['error']}" for r in by_seed for k, o in r.items() if "error" in o]
        if errors:
            sys.exit("queries failed:\n" + "\n".join(errors))
        unstable = [k for k in by_seed[0]
                    if (by_seed[0][k]["rows"], by_seed[0][k]["digest"])
                    != (by_seed[1][k]["rows"], by_seed[1][k]["digest"])]
        if unstable:
            sys.exit(f"{wl}: outputs differ between runs: {unstable}")
        sf = bench.WORKLOADS[wl]["sf"]
        verdict = oracle_check(classes, sf, sorted(by_seed[0]))
        bad = [k for k, v in verdict.items() if v == "mismatch"]
        if bad:
            sys.exit(f"{wl}: Spark and the DuckDB oracle disagree on {bad}")
        pins[wl] = {"sf": sf, "queries": {
            k: {"rows": o["rows"], "digest": o["digest"], "oracle": verdict[k]}
            for k, o in sorted(by_seed[0].items())}}
    one = bench.run_jvm(classes, "etl_pipeline", 1, 0, 0, n, far, copies=1)["ops"][0]
    if "error" in one or one["messy_left"] != 0:
        sys.exit(f"etl_pipeline failed: {one}")
    pins["etl_pipeline"] = {"sf": bench.WORKLOADS["etl_pipeline"]["sf"],
                            "base_graph_rows": one["rows"]}
    with open(os.path.join(bench.HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    for wl in MIXES:
        v = [q["oracle"] for q in pins[wl]["queries"].values()]
        print(f"{wl}: {len(v)} queries pinned, {v.count('match')} oracle-checked")
    print(f"etl_pipeline: base graph rows {one['rows']}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Render the README slow-query table from a full bench record (the complete
bench line graft.Bench persists per core count as BENCH_FULL_c{cpus}.json
alongside its stdout emission — the stdout copy gets tail-truncated in the
driver's round artifact; the file does not).

Usage: python3 tools/bench_table.py [BENCH_FULL_c{cpus}.json] [N]
The default record is the one with the most cores. Prints a markdown table
of the N (default 8) slowest queries with their spark / oracle seconds and
per-query ratio, plus the suite totals line and its per-query view: the
geomean of spark/oracle and the number of queries Spark wins, both over the
queries in the record's `ratios` (those both engines measured).
"""
import glob
import json
import math
import re
import sys


def main():
    path = sys.argv[1] if len(sys.argv) > 1 else max(
        glob.glob("BENCH_FULL_c*.json"),
        key=lambda p: int(re.search(r"_c(\d+)\.json$", p).group(1)))
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    b = json.load(open(path))
    ratios = b.get("ratios", {})  # name -> [spark, oracle, ratio]
    queries = b.get("queries", {})  # name -> [spark, load]
    jobs = b.get("jobs", {})  # name -> [n_jobs, n_stages]

    def njobs(name):
        return str(jobs[name][0]) if name in jobs else "—"

    rows = sorted(((v[0], k) for k, v in queries.items() if v[0] >= 0),
                  reverse=True)[:n]
    # the jobs column is the floor attribution: a >10x ratio over a
    # sub-second query with a two-digit job count is per-job scheduling
    # floor, self-evident without re-reading the plan
    out = ["| query | spark s | oracle s | ratio | jobs |", "|---|---|---|---|---|"]
    for sec, name in rows:
        if name in ratios:
            s, o, r = ratios[name]
            out.append(f"| `{name}` | {s:.2f} | {o:.2f} | {r:.2f} | {njobs(name)} |")
        else:
            out.append(f"| `{name}` | {sec:.2f} | — | — | {njobs(name)} |")
    print("\n".join(out))
    print()
    print(f"Suite: spark {b.get('spark_total_sec')}s vs oracle "
          f"{b.get('oracle_total_sec')}s = ratio {b.get('ratio')} over "
          f"{b.get('n_queries')} queries ({b.get('failed')} failed).")
    if ratios:
        geomean = math.exp(sum(math.log(s / o) for s, o, _ in ratios.values()) / len(ratios))
        wins = sum(1 for s, o, _ in ratios.values() if s < o)
        print(f"Per query: geomean spark/oracle {geomean:.2f}, "
              f"Spark faster on {wins} of {len(ratios)} queries.")
    # same floor as Bench's emitted worst_ratio: rank only pairs where both
    # engines do non-trivial work (a Spark constant over a sub-ms DuckDB
    # microquery is a huge "ratio" that says nothing about scale behavior)
    worst = sorted(((k, v) for k, v in ratios.items()
                    if v[1] >= 0.05 and v[0] >= 0.25),
                   key=lambda kv: -kv[1][2])[:n]
    print("Worst per-query ratios (oracle >= 50ms, spark >= 250ms): "
          + ", ".join(f"`{k}` {v[2]:.2f} ({njobs(k)} jobs)" for k, v in worst))


if __name__ == "__main__":
    main()

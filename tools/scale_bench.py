#!/usr/bin/env python3
"""Run the off-toy scale harnesses (the graft.Scale* mains in HARNESSES) and
write their records into one machine-readable round artifact, so scale
regressions are diffable round-over-round instead of living in README prose.

Usage: python3 tools/scale_bench.py OUT.json [--only graft.ScaleJoins,...] [--table]

One run per record: a record is the one {"metric"...} line that one harness
JVM printed, stored whole, plus the 1-min load at the JVM's start and end.
Each phase in it is already the fastest of its load-gated samples
(graft.Harness.Recorder), so this script selects, merges and folds nothing:
every number in a record was measured under the conditions it states.

Write rule:
  - without --only, OUT.json must not exist yet: a round writes a new file;
  - --only h1,h2 re-runs the named harnesses and replaces their records in an
    existing OUT.json whole. It refuses a record whose input sizes
    (INPUT_FIELDS) differ from the stored record's, so a run at other sizes
    never replaces a record; the refused record is not written;
  - OUT.json is rewritten after each harness finishes, so a harness that
    fails keeps the records of those before it.
To carry a record into a new round, copy the round file to the new name and
re-run the harnesses that changed with --only.

Env knobs pass through to the harnesses (SCALE_COPIES, SCALE_EVENTS,
SCALE_USERS, SPARK_GRAFT_CPUS, ...). A run ends by printing the README scale
table derived from OUT.json; --table only prints it, running nothing.
"""
import argparse
import json
import os
import sys

import jvm

HARNESSES = ["graft.ScaleBench", "graft.ScaleJoins", "graft.ScaleAnn",
             "graft.ScaleZOrder", "graft.ScaleBuckets", "graft.ScaleStream",
             "graft.ScaleDecontam", "graft.ScaleGraph", "graft.ScaleFlagship",
             "graft.ScaleEr", "graft.ScaleMultimodal"]
# A record's workload identity: its input sizes, not derived measurements
# such as task counts, which vary with AQE. A default-size rerun once
# replaced the 1.25M-doc dedup record; --only refuses that.
INPUT_FIELDS = ("copies", "docs", "events", "users", "vectors",
                "images_per_format", "n_lists", "queries", "k", "rows",
                "buckets", "pq_rerank_n", "bench_docs", "gram_n", "min_hits",
                "nodes_param", "pr_iters", "edges_param")


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def run_one(main):
    load = loadavg()
    print(f"[scale] running {main} (load={load:.1f}) ...", file=sys.stderr)
    r = jvm.run(main, heap="48g")
    if r.returncode != 0:
        print(r.stderr[-3000:], file=sys.stderr)
        raise SystemExit(f"{main} failed with exit {r.returncode}")
    line = [l for l in r.stdout.splitlines() if l.startswith('{"metric"')][-1]
    print(f"[scale] {main}: {line}", file=sys.stderr)
    rec = json.loads(line)
    rec["load_at_start"] = load
    rec["load_at_end"] = loadavg()
    return rec


def table(merged):
    d = merged["scale_dedup"]
    j = merged["scale_joins"]
    a = merged["scale_ann"]
    # records from before the native operators became the only as-of and
    # range joins time them as the asof_exec / range_exec phases
    asof = "asof_exec" if "asof_exec_sec" in j else "asof"
    rng = "range_exec" if "range_exec_sec" in j else "range"
    rows = [
        ("MinHash+LSH cascade", f"{d['docs']:,} docs",
         f"pairs {d['pairs_sec']:.1f}s, CC {d['cc_sec']:.1f}s",
         f"{d['straggler_ratio']:.2f}"),
        ("As-of join", f"{j['events']:,} events / {j['users']:,} users (hot user ~1%)",
         f"{j[asof + '_sec']:.1f}s ({j['asof_rows']:,} rows)",
         f"{j['stragglers'][asof]:.2f}"),
        ("Range join (60s windows)", f"{j['events']:,} events",
         f"{j[rng + '_sec']:.1f}s ({j['range_rows']:,} rows)",
         f"{j['stragglers'][rng]:.2f}"),
        ("Top-5/user: window vs top_k agg", f"{j['events']:,} events",
         f"{j.get('topk_window_sec', float('nan')):.1f}s / "
         f"{j.get('topk_agg_sec', float('nan')):.1f}s ({j.get('topk_rows', 0):,} rows)",
         f"{j['stragglers'].get('topk_agg', float('nan')):.2f}"),
        ("IVF train (1 Lloyd round)", f"{a['vectors']:,} vectors, {a['n_lists']} lists",
         f"{a['train_sec']:.1f}s", f"{a['stragglers']['train']:.2f}"),
        ("IVF index build (list assignment)", "same corpus, amortized per snapshot",
         f"{a.get('build_sec', float('nan')):.1f}s "
         f"(list skew {a.get('list_skew', float('nan')):.2f})",
         f"{a['stragglers'].get('build', float('nan')):.2f}"),
        ("IVF search nProbe=1 / 8", f"{a['queries']} queries, k={a['k']}",
         f"{a['ivf1_sec']:.1f}s / {a['ivf8_sec']:.1f}s (recall@8 {a['recall8']:.2f})",
         f"{max(a['stragglers']['ivf1'], a['stragglers']['ivf8']):.2f}"),
        ("Brute-force exact top-k", "same batch",
         f"{a['brute_sec']:.1f}s", f"{a['stragglers']['brute']:.2f}"),
    ]
    if "pq_adc_sec" in a:
        rows += [
            ("PQ encode (one-time, 8x8-dim codes)", "same corpus, amortized per snapshot",
             f"{a['pq_encode_sec']:.1f}s (codes {a['pq_compression']:.1f}x smaller on disk)",
             f"{a['stragglers']['pq_encode']:.2f}"),
            ("PQ search: pure ADC / +exact re-rank", "same batch",
             f"{a['pq_adc_sec']:.1f}s / {a['pq_rerank_sec']:.1f}s "
             f"(recall {a['pq_adc_recall']:.2f} / {a['pq_rerank_recall']:.2f})",
             f"{max(a['stragglers']['pq_adc'], a['stragglers']['pq_rerank']):.2f}"),
        ]
    if "pq_ivf8_sec" in a:
        rows += [
            ("IVF x PQ composed search (nProbe=8 + re-rank)", "same batch",
             f"{a['pq_ivf8_sec']:.1f}s (two-level encode "
             f"{a.get('pq_ivf_encode_sec', float('nan')):.1f}s amortized; "
             f"recall {a.get('pq_ivf8_recall', float('nan')):.2f})",
             f"{a['stragglers'].get('pq_ivf8', float('nan')):.2f}"),
        ]
    if "semdedup_sec" in a:
        rows += [
            ("SemDeDup semantic prune (shared IVF artifacts)",
             f"same corpus, tau={a['semdedup_tau']}",
             f"{a['semdedup_sec']:.1f}s (kept {a['semdedup_kept']:,} of "
             f"{a['vectors']:,} = {a['semdedup_kept']/a['vectors']*100:.1f}%)",
             f"{a['stragglers'].get('semdedup', float('nan')):.2f}"),
        ]
    if "lsh_sec" in a:
        rows += [
            ("Sign-LSH search: probe-1 / multi-probe (stored planes)",
             f"same batch, {a['lsh_planes']} planes",
             f"{a['lsh_sec']:.1f}s / {a['lsh_mp_sec']:.1f}s "
             f"(recall {a['lsh_recall']:.2f} / {a['lsh_mp_recall']:.2f})",
             f"{max(a['stragglers']['lsh'], a['stragglers']['lsh_multiprobe']):.2f}"),
        ]
    if "lsh_sweep" in a:
        curve = "; ".join(
            f"{p}p: {v['recall']:.2f}/{v['mp_recall']:.2f}"
            for p, v in sorted(a["lsh_sweep"].items(), key=lambda kv: int(kv[0])))
        rows += [
            ("Sign-LSH recall curve (probe-1 / multi-probe)",
             "plane sweep, same batch", curve, "-"),
        ]
    if "spread_adc_recall" in a:
        rows += [
            ("PQ trained-vs-untrained ADC on the SPREAD corpus",
             f"{a['vectors']:,} unique chord points (no sibling ties)",
             f"recall {a['spread_adc_recall']:.3f} -> "
             f"{a['spread_adc_trained_recall']:.3f} trained; quant err "
             f"{a['spread_quant_err']:.0f} -> {a['spread_quant_err_trained']:.0f}",
             "-"),
        ]
    if "spread_adc256_recall" in a:
        rows += [
            (f"PQ capacity control: {a.get('spread_codes2', 256)}-code ADC on the SPREAD corpus",
             "same corpus, 4x codebook capacity",
             f"recall {a['spread_adc256_recall']:.3f} untrained / "
             f"{a['spread_adc256_trained_recall']:.3f} trained; quant err "
             f"{a['spread_quant_err256']:.0f} -> {a['spread_quant_err256_trained']:.0f}",
             "-"),
        ]
    if "pq_train_sec" in a:
        rows += [
            ("PQ codebook training (per-subspace Lloyd) + trained ADC",
             f"{a.get('pq_train_iters', 0)} rounds",
             f"train {a['pq_train_sec']:.1f}s; quant err "
             f"{a.get('pq_quant_err', float('nan')):.4f} -> "
             f"{a.get('pq_quant_err_trained', float('nan')):.4f}; trained-ADC recall "
             f"{a.get('pq_adc_trained_recall', float('nan')):.2f} "
             f"(untrained {a.get('pq_adc_recall', float('nan')):.2f})",
             f"{a['stragglers'].get('pq_adc_trained', float('nan')):.2f}"),
        ]
    if "scale_zorder" in merged:
        z = merged["scale_zorder"]
        zo, pl = z["zorder"], z["plain"]
        rows += [
            ("Z-order layout: 2-col probe (0.1%)",
             f"{z['events']:,} events, {zo['rgs']} row groups",
             f"skip {zo['row_skip_frac']*100:.1f}% of rows (plain ts-sort "
             f"{pl['row_skip_frac']*100:.1f}%), scan {zo['scan_sec']:.2f}s vs "
             f"{pl['scan_sec']:.2f}s", "—"),
            ("Z-order layout: user-only probe (1%)", "same files",
             f"skip {zo['row_skip_frac_user']*100:.1f}% (plain "
             f"{pl['row_skip_frac_user']*100:.1f}%), scan {zo['scan_user_sec']:.2f}s vs "
             f"{pl['scan_user_sec']:.2f}s", "—"),
        ]
    if "scale_buckets" in merged:
        k = merged["scale_buckets"]
        rows += [
            ("Bucketed co-located join", f"{k['rows']:,} x 2 facts, {k['buckets']} buckets",
             f"{k['bucket_join_sec']:.2f}s / {k['bucket_exchanges']} exchanges vs plain "
             f"{k['plain_join_sec']:.2f}s / {k['plain_exchanges']} exchanges "
             f"(rows+checksum identical)", "—"),
        ]
    if "scale_decontam" in merged:
        dc = merged["scale_decontam"]
        rows += [
            ("Decontamination: Bloom-gated vs ungated join",
             f"{dc['docs']:,} docs vs {dc['bench_docs']} bench docs "
             f"({dc['bench_bytes']/1e3:.0f} KB)",
             f"{dc['bloom_sec']:.1f}s vs {dc['nogate_sec']:.1f}s; "
             f"{dc['postings_pruned_frac']*100:.1f}% of "
             f"{dc['train_postings']:,} postings pruned before the shuffle "
             f"({dc['flagged_rows']:,} flagged, outputs equal: {dc['outputs_equal']})",
             f"{max(dc['stragglers']['bloom'], dc['stragglers']['nogate']):.2f}"),
        ]
    if "scale_graph" in merged:
        g = merged["scale_graph"]
        rows += [
            ("Triangle count: shuffle (beyond-gate) vs broadcast path",
             f"{g['distinct_und_edges']:,} edges / {g['vertices']:,} vertices "
             f"(max degree {g['max_degree']:,})",
             f"{g['tri_shuffle_sec']:.1f}s vs {g['tri_broadcast_sec']:.1f}s "
             f"({g['triangles']:,} triangles, paths equal: {g['tri_paths_equal']})",
             f"{max(g['stragglers']['tri_shuffle'], g['stragglers']['tri_broadcast']):.2f}"),
            ("PageRank: shuffle Pregel (beyond-gate) vs driver-held broadcast",
             f"same graph, {g['pr_iters']} rounds",
             f"{g['pr_shuffle_sec']:.1f}s vs {g['pr_broadcast_sec']:.1f}s "
             f"(ranks bit-equal: {g['pr_paths_equal']}; driver s-table "
             f"{g['pr_driver_s_rows']:,} rows = {g['pr_driver_s_bytes']/1e6:.0f} MB live, "
             f"×2 during swap)",
             f"{max(g['stragglers']['pr_shuffle'], g['stragglers']['pr_broadcast']):.2f}"),
        ]
        if "cc_dist_sec" in g:
            rows += [
                ("Connected components: distributed min-label (beyond-gate) vs driver union-find",
                 "same graph",
                 f"{g['cc_dist_sec']:.1f}s vs {g['cc_driver_sec']:.1f}s "
                 f"(components={g['cc_components']:,}, labels equal: {g['cc_paths_equal']})",
                 f"{max(g['stragglers']['cc_dist'], g['stragglers']['cc_driver']):.2f}"),
            ]
    if "scale_er" in merged:
        e = merged["scale_er"]
        st = e["stragglers"]
        rows += [
            ("Gazetteer match: ungated vs maxBlockPairs-gated",
             f"{e['messy']:,} messy x {e['canon']:,} canon "
             f"({e['cand_nogate']:,} ungated candidates, "
             f"{e['hot_keys_over_gate']} hot keys)",
             f"{e['gaz_nogate_sec']:.1f}s / {e['gaz_gated_sec']:.1f}s "
             f"(matched {e['gaz_nogate_matched']:,} -> {e['gaz_gated_matched']:,})",
             f"{st['gaz_nogate']:.2f} -> {st['gaz_gated']:.2f}"),
            ("ER blocking pair generation: ungated vs maxBlockSize-gated",
             f"same messy universe, {e['messy_block_rows']:,} block rows",
             f"{e['pairs_nogate_sec']:.1f}s / {e['pairs_gated_sec']:.1f}s "
             f"({e['pairs_nogate']:,} -> {e['pairs_gated']:,} pairs)",
             f"{st['pairs_nogate']:.2f} -> {st['pairs_gated']:.2f}"),
        ]
    if "scale_multimodal" in merged:
        m = merged["scale_multimodal"]
        fam = " / ".join(
            f"{f} {m[f]['decode_sec']:.1f}s = {m[f]['rows_per_sec']:,}/s "
            f"({m[f]['mb_per_sec']:.0f} MB/s)"
            for f in ("png", "gif", "jpeg", "wav"))
        rows += [
            ("Multimodal decode pass (full pixel/PCM walk per payload)",
             f"{m['images_per_format']:,} payloads per format, "
             f"{sum(m[f]['mb'] for f in ('png', 'gif', 'jpeg', 'wav')):,.0f} MB total",
             fam,
             f"{max(m[f]['straggler'] for f in ('png', 'gif', 'jpeg', 'wav')):.2f}"),
        ]
    if "scale_flagship" in merged:
        fl = merged["scale_flagship"]
        ss = fl["stage_secs"]
        stages = " + ".join(f"{k} {v:.0f}s" for k, v in ss.items())
        linearity = ""
        if len(fl.get("points", [])) > 1:
            pts = fl["points"]
            linearity = "; linearity " + " vs ".join(
                f"×{p['copies']}: result {p['result_sec']:.0f}s / "
                f"{p['graph_rows']:,} rows" for p in pts)
        rows += [
            ("Flagship pipeline (extract→ER→rewrite→group→validate→graph)",
             f"×{fl['copies']}: {fl['lineitems']:,} lineitems / {fl['parts']:,} parts",
             f"{fl['total_sec']:.0f}s = {stages} ({fl['graph_rows']:,} graph rows, "
             f"{fl['er_mapping_rows']:,} ER rewrites, validators pass: "
             f"{fl['validators_pass']}{linearity})",
             f"{max(fl['stage_stragglers'].values()):.2f}"),
        ]
    if "scale_stream" in merged:
        st = merged["scale_stream"]
        w, se, ij = st["windowed"], st["sessions"], st["interval_join"]
        rows += [
            ("Streaming windowed agg (4 micro-batches)", f"{st['events']:,} events backlog",
             f"{w['drain_sec']:.1f}s = {w['rows_per_sec']:,} rows/s "
             f"(state peak {w['state_rows_peak']:,}, equals batch exactly)", "—"),
            ("Streaming session_window (30 min gap)", "same backlog",
             f"{se['drain_sec']:.1f}s = {se['rows_per_sec']:,} rows/s "
             f"(RocksDB {se.get('rocksdb_drain_sec', float('nan')):.1f}s; "
             f"state peak {se['state_rows_peak']:,}, open tail {se['open_tail']:,})", "—"),
            ("Stream-stream interval join", "same backlog, both sides",
             f"{ij['drain_sec']:.1f}s = {ij['rows_per_sec']:,} rows/s "
             f"(RocksDB {ij.get('rocksdb_drain_sec', float('nan')):.1f}s; "
             f"{ij['joined_rows']:,} rows, equals batch range join)", "—"),
        ]
    out = ["| Operator | Scale | Wall time | Straggler (max/median task) |",
           "|---|---|---|---|"]
    out += [f"| {r[0]} | {r[1]} | {r[2]} | {r[3]} |" for r in rows]
    return "\n".join(out)


def workload(rec):
    return {f: rec[f] for f in INPUT_FIELDS if f in rec}


def main():
    ap = argparse.ArgumentParser(prog="tools/scale_bench.py", add_help=False)
    ap.add_argument("out", metavar="OUT.json")
    ap.add_argument("--only", metavar="graft.ScaleJoins,...", type=lambda s: s.split(","))
    ap.add_argument("--table", action="store_true")
    args = ap.parse_args()
    if args.table:
        print(table(json.load(open(args.out))))
        return
    exists = os.path.exists(args.out)
    if args.only is None and exists:
        raise SystemExit(f"[scale] {args.out} exists: a round writes a new file "
                         f"(--only replaces named records in it)")
    if args.only is not None and not exists:
        raise SystemExit(f"[scale] {args.out} not found: --only replaces records "
                         f"in an existing round file")
    unknown = set(args.only or ()) - set(HARNESSES)
    if unknown:
        ap.error(f"unknown harness(es) {sorted(unknown)}; known: {HARNESSES}")
    merged = json.load(open(args.out)) if exists else {}
    for h in HARNESSES if args.only is None else [h for h in HARNESSES if h in args.only]:
        rec = run_one(h)
        old = merged.get(rec["metric"])
        if old is not None and workload(old) != workload(rec):
            raise SystemExit(f"[scale] refusing {rec['metric']}: input sizes "
                             f"{workload(rec)} differ from the stored {workload(old)}; "
                             f"the stored record is kept")
        merged[rec["metric"]] = rec
        with open(args.out, "w") as f:
            json.dump(merged, f, indent=1)
        print(f"[scale] wrote {rec['metric']} to {args.out}", file=sys.stderr)
    print(table(merged))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run the three off-toy scale harnesses (graft.ScaleBench dedup cascade,
graft.ScaleJoins as-of/range, graft.ScaleAnn IVF) and merge their JSON lines
into one machine-readable round artifact, so scale regressions are diffable
round-over-round instead of living in README prose.

Usage: python3 tools/scale_bench.py [out.json] [--only graft.ScaleJoins,...]
  out.json default SCALE_r08.json (pass SCALE_rNN.json per round)
  --only re-runs just the named harnesses and merges their records into the
  existing artifact — the recovery path when one harness's record was taken
  under co-tenant load (row counts never change, only wall times inflate)

Env knobs pass through to the harnesses (SCALE_COPIES, SCALE_EVENTS,
SCALE_USERS, SPARK_GRAFT_CPUS, ...). SCALE_LOAD_GATE (default 8.0) sets the
1-min loadavg each harness waits for before starting; SCALE_SETTLE_TRIES
bounds the wait. SCALE_RUNS (default 1) runs each harness K times and keeps
the record with the smallest primary wall-time — the min-of-K defense
against co-tenant load bursts that outlast a single harness (row counts are
deterministic, so every run agrees on everything but the clock). Records
carry load_at_start AND load_at_end: a burst that lands mid-run is
self-identifying in the artifact. Also prints the README markdown table
derived from the artifact (--table re-prints it from an existing artifact
without re-running).
"""
import glob
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESSES = ["graft.ScaleBench", "graft.ScaleJoins", "graft.ScaleAnn",
             "graft.ScaleZOrder", "graft.ScaleBuckets", "graft.ScaleStream",
             "graft.ScaleDecontam", "graft.ScaleGraph", "graft.ScaleFlagship",
             "graft.ScaleEr", "graft.ScaleMultimodal"]


def loadavg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def settle(gate=None, tries=None, nap=30):
    if gate is None:
        gate = float(os.environ.get("SCALE_LOAD_GATE", "8.0"))
    if tries is None:
        tries = int(os.environ.get("SCALE_SETTLE_TRIES", "10"))
    """Back-to-back 32-thread harnesses leave a decaying 1-min load that
    inflates the next harness's single-sample numbers — wait (bounded) for it
    to drain, same discipline as Bench's per-sample load gate."""
    l = loadavg()
    while l > gate and tries > 0:
        print(f"[scale] load={l:.1f} > {gate}, settling {nap}s", file=sys.stderr)
        time.sleep(nap)
        tries -= 1
        l = loadavg()
    return l


def run_one(main):
    classes = os.path.join(REPO, "target/scala-2.13/classes")
    cp = ":".join([classes] + glob.glob("/opt/spark/jars/*.jar"))
    add_opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        add_opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = ["java"] + add_opens + ["-Xmx48g", "-cp", cp, main]
    load = settle()
    print(f"[scale] running {main} (load={load:.1f}) ...", file=sys.stderr)
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stderr[-3000:], file=sys.stderr)
        raise SystemExit(f"{main} failed with exit {r.returncode}")
    line = [l for l in r.stdout.splitlines() if l.startswith('{"metric"')][-1]
    print(f"[scale] {main}: {line}", file=sys.stderr)
    rec = json.loads(line)
    rec["load_at_start"] = load
    rec["load_at_end"] = loadavg()
    return rec


# per-harness primary wall-time: the min-of-K selector key
PRIMARY = {
    "scale_dedup": lambda r: r["pairs_sec"],
    "scale_joins": lambda r: r["asof_sec"] + r["range_sec"],
    "scale_ann": lambda r: (r["brute_sec"] + r["ivf8_sec"] + r.get("pq_encode_sec", 0.0)
                            + r.get("pq_adc_sec", 0.0) + r.get("pq_rerank_sec", 0.0)),
    "scale_zorder": lambda r: r["zorder"]["scan_sec"] + r["zorder"]["scan_user_sec"],
    "scale_buckets": lambda r: r["bucket_join_sec"] + r["plain_join_sec"],
    "scale_stream": lambda r: (r["windowed"]["drain_sec"] + r["sessions"]["drain_sec"]
                               + r["interval_join"]["drain_sec"]),
    "scale_decontam": lambda r: r["bloom_sec"] + r["nogate_sec"],
    "scale_graph": lambda r: r["tri_shuffle_sec"] + r["pr_shuffle_sec"],
    "scale_flagship": lambda r: r["total_sec"],
    "scale_er": lambda r: (r["gaz_nogate_sec"] + r["gaz_gated_sec"]
                           + r["pairs_nogate_sec"] + r["pairs_gated_sec"]),
    "scale_multimodal": lambda r: (r["png"]["decode_sec"] + r["gif"]["decode_sec"]
                                   + r["jpeg"]["decode_sec"] + r["wav"]["decode_sec"]),
}


def run_best(main):
    runs = int(os.environ.get("SCALE_RUNS", "1"))
    recs = [run_one(main) for _ in range(runs)]
    best = min(recs, key=lambda r: PRIMARY.get(r["metric"], lambda _: 0.0)(r))
    if runs > 1:
        best["n_runs"] = runs
    return best


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


# Per-field-FAMILY refold: a kept (min-ratchet) record can still carry a
# sub-experiment measured under load while a newer losing run measured it
# clean — the r17/r18 postmortem: the quiet-window LSH sweep was re-measured
# twice and existed only in README prose, because the record-level min kept
# the old record and the new-field fold only covers fields the old record
# LACKS. A family ties together the fields that must move as one (the sweep
# dict + its headline scalars + the per-phase entries in stragglers/loads)
# so a refold can never publish an internally inconsistent record. Non-clock
# leaves (recalls, rows, plane counts) are deterministic for the same
# workload and must be EQUAL for the refold to engage; the family's summed
# clock decides. Refolds are tagged in `refolded_fields` with the
# contributing run's loads — same reader-visible provenance discipline as
# `folded_fields` and the flagship points' `"folded": true`.
REFOLD_FAMILIES = {
    "scale_ann": [{
        "name": "lsh",
        "fields": ["lsh_sweep", "lsh_sec", "lsh_recall", "lsh_mp_sec",
                   "lsh_mp_recall", "lsh_planes"],
        "subkeys": {"stragglers": ["lsh", "lsh_multiprobe"],
                    "loads": ["lsh", "lsh_multiprobe"]},
    }],
    # r19: the JPEG codec's IDCT moved to a nonzero-coefficient walk; the
    # kept record's jpeg sub-experiment predates it. `derived` lists leaves
    # computed FROM the clock (rows/s, MB/s, straggler) — excluded from the
    # determinism witness (n/mb/checksum must still agree exactly).
    "scale_multimodal": [{
        "name": "jpeg",
        "fields": ["jpeg"],
        "subkeys": {"phase_loads": ["jpeg_decode"]},
        "derived": ["rows_per_sec", "mb_per_sec", "straggler"],
        # decision clock: decode only. gen_sec (the encoder) is 5-10x the
        # decode and moves with ambient load, so a summed clock would let a
        # loaded encode window veto a clean decode measurement; the adopted
        # sub-record is still ONE run's numbers as a unit (gen included).
        "clock_keys": ["decode_sec"],
    }],
}


def _clock_sum(v):
    """Recursive sum of wall-clock leaves (keys named `sec` / `*_sec`)."""
    if isinstance(v, dict):
        return sum(_clock_sum(x) if not (isinstance(x, (int, float))
                                         and (k == "sec" or k.endswith("_sec")))
                   else float(x) for k, x in v.items())
    return 0.0


def _nonclock(v, derived=()):
    """Recursive copy with clock leaves (and clock-DERIVED leaves named in
    the family's `derived` list: rates, stragglers) removed — the
    determinism witness."""
    if isinstance(v, dict):
        return {k: _nonclock(x, derived) for k, x in v.items()
                if not ((isinstance(x, (int, float))
                         and (k == "sec" or k.endswith("_sec")))
                        or k in derived)}
    return v


def refold_families(metric, old, rec):
    for fam in REFOLD_FAMILIES.get(metric, []):
        fields = [f for f in fam["fields"] if f in old and f in rec]
        clocked = [f for f in fields
                   if f == "sec" or f.endswith("_sec") or isinstance(rec[f], dict)]
        if not clocked:
            continue
        plain = [f for f in fields if f not in clocked]
        # determinism witness: every non-clock value (incl. non-clock leaves
        # inside dict fields) must agree, else this is a different experiment
        # (changed planes/geometry) and field-level mixing would lie.
        # Scalar `*_sec` fields are pure clock — no witness to compare.
        derived = tuple(fam.get("derived", ()))
        if any(_nonclock(old[f], derived) != _nonclock(rec[f], derived)
               for f in clocked if isinstance(old[f], dict)) or \
           any(old[f] != rec[f] for f in plain):
            continue
        ck = fam.get("clock_keys")
        def fam_clock(src):
            if ck:
                return sum(float(src[f][k]) for f in clocked
                           if isinstance(src[f], dict) for k in ck if k in src[f])
            return sum(float(src[f]) if not isinstance(src[f], dict)
                       else _clock_sum(src[f]) for f in clocked)
        old_clock = fam_clock(old)
        new_clock = fam_clock(rec)
        if new_clock < old_clock:
            for f in fields:
                old[f] = rec[f]
            for top, keys in fam.get("subkeys", {}).items():
                for kk in keys:
                    if top in old and kk in rec.get(top, {}):
                        old[top][kk] = rec[top][kk]
            old.setdefault("refolded_fields", {})[fam["name"]] = {
                "fields": fields,
                "load_at_start": rec.get("load_at_start"),
                "load_at_end": rec.get("load_at_end"),
                "loads": {kk: rec.get("loads", {}).get(kk)
                          for kk in fam.get("subkeys", {}).get("loads", [])},
            }
            print(f"[scale] refolded {metric} family '{fam['name']}' from the "
                  f"cleaner run ({new_clock:.1f}s < {old_clock:.1f}s)",
                  file=sys.stderr)


def merge_flagship_points(keep, other):
    """Per-point min for the flagship linearity curve: the record's points
    are INDEPENDENT measurements of deterministic workloads (graph_rows agree
    run-to-run), so each x-point gets the same min-of-K estimator the
    record-level rule applies to whole harnesses. Without this, one loaded
    point poisons an otherwise-clean record forever: run A can be clean at
    x400 while run B is clean at x250 — the curve's true shape is the
    pointwise min. `keep` is the surviving record; `other` contributes only
    per-point wall times, and only where row counts prove the same workload.
    The LAST point is never folded: the record's total_sec, stage_secs, and
    loads all describe that run's final point, and splicing a foreign total
    under this run's stage breakdown would publish a row whose stages sum to
    more than its total — the record-level min already arbitrates the last
    point by choosing whole records.

    Folded points are tagged `"folded": true` in the published record: their
    point-level wall times come from a different run than the record-level
    context (loads, stage_stragglers, load_at_start/end), so a downstream
    reader of SCALE_r*.json must be able to tell composite points from
    single-run points instead of attributing run A's ambient-load fields to
    run B's clock."""
    if keep.get("metric") != "scale_flagship" or "points" not in other:
        return
    by_copies = {p["copies"]: p for p in other.get("points", [])}
    for p in keep.get("points", [])[:-1]:
        o = by_copies.get(p["copies"])
        # only row-verified points fold, so a both-None graph_rows pair is refused on purpose
        if o and "total_sec" in o and "result_sec" in o \
                and o.get("graph_rows") is not None \
                and o["graph_rows"] == p.get("graph_rows") \
                and o["total_sec"] < p["total_sec"]:
            print(f"[scale] flagship x{p['copies']}: folding in cleaner point "
                  f"({o['total_sec']:.1f}s < {p['total_sec']:.1f}s)", file=sys.stderr)
            p["total_sec"] = o["total_sec"]
            p["result_sec"] = o["result_sec"]
            p["folded"] = True


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
        else "SCALE_r08.json"
    only = None
    for i, a in enumerate(sys.argv):
        if a == "--only" and i + 1 < len(sys.argv):
            only = sys.argv[i + 1].split(",")
        elif a.startswith("--only="):
            only = a.split("=", 1)[1].split(",")
    replay = None
    for i, a in enumerate(sys.argv):
        if a == "--replay" and i + 1 < len(sys.argv):
            replay = sys.argv[i + 1].split(",")
        elif a.startswith("--replay="):
            replay = a.split("=", 1)[1].split(",")
    if "--table" in sys.argv:
        merged = json.load(open(out_path))
    else:
        harnesses = HARNESSES if only is None else [h for h in HARNESSES if h in only]
        keep_old = os.path.exists(out_path) and "--fresh" not in sys.argv
        merged = json.load(open(out_path)) if keep_old else {}
        # --replay f.json[,g.json]: merge already-captured harness records
        # (e.g. a clean run whose record lost the whole-record min but whose
        # POINTS are partially cleaner) through the same rules as a live run
        records = ([json.load(open(p)) for p in replay] if replay
                   else (run_best(m) for m in harnesses))
        for rec in records:
            k = rec["metric"]
            old = merged.get(k)
            # deterministic workloads: row counts agree run-to-run, only the
            # clock varies with co-tenant load — so the smaller primary
            # wall-time is always the cleaner record. Repeated invocations
            # monotonically improve the artifact (--fresh discards history).
            # Only records of the SAME workload compete: a run at default
            # size must not displace a deliberately larger record just
            # because it finished faster (a 100k-doc rerun once clobbered
            # the 1.25M-doc dedup record this way). Workload identity =
            # the input-size parameters (NOT derived measurements like task
            # counts, which vary with AQE).
            INPUT_FIELDS = ("copies", "docs", "events", "users", "vectors",
                            "images_per_format",
                            "n_lists", "queries", "k", "rows", "buckets",
                            "pq_rerank_n", "bench_docs", "gram_n", "min_hits",
                            "nodes_param", "pr_iters", "edges_param")
            def workload(r):
                return {f: r[f] for f in INPUT_FIELDS if f in r}
            same = old is not None and workload(old) == workload(rec)
            covers = same and all(f in old for f in rec if f.endswith("_sec"))
            # downsize ratchet (two postmortems: a 100k-doc default rerun
            # clobbered the 1.25M-doc dedup record, then a default sweep
            # clobbered the 250-copy dedup AND ann records): a run whose
            # every numeric input is <= the stored record's — and at least
            # one strictly smaller — is a smaller workload, and replacing a
            # big-scale proof with it is never what a sweep means. Grow or
            # reshape replaces (with the warning); shrink requires intent.
            def downsized(o, r):
                keys = set(workload(o)) & set(workload(r))
                nums = [(o[f], r[f]) for f in keys
                        if isinstance(o[f], (int, float)) and isinstance(r[f], (int, float))]
                return (nums and all(rv <= ov for ov, rv in nums)
                        and any(rv < ov for ov, rv in nums))
            allow_shrink = os.environ.get("SCALE_ALLOW_DOWNSIZE") == "1"
            if (old is not None and not same and not allow_shrink
                    and downsized(old, rec)):
                print(f"[scale] keeping existing {k} record: this run is a "
                      f"SMALLER workload {workload(rec)} than the stored "
                      f"{workload(old)} (SCALE_ALLOW_DOWNSIZE=1 to override)",
                      file=sys.stderr)
                # the record survives whole, but a deliberately smaller
                # validation run can still contribute cleaner NOT-LAST curve
                # points (row-count witnesses inside merge_flagship_points
                # prove the same workload; the last point never folds) —
                # without this, a post-optimization x100 re-measurement could
                # never improve the curve without re-running x800
                merge_flagship_points(old, rec)
            elif covers and k in PRIMARY and PRIMARY[k](old) <= PRIMARY[k](rec):
                print(f"[scale] keeping existing {k} record "
                      f"({PRIMARY[k](old):.1f}s <= {PRIMARY[k](rec):.1f}s)", file=sys.stderr)
                merge_flagship_points(old, rec)
                refold_families(k, old, rec)
                # NEW-experiment fields the kept record predates (a harness
                # gained a measurement since the stored record was taken) are
                # folded in rather than dropped — tagged with provenance, same
                # discipline as the flagship points' "folded": the kept
                # record's loads/stragglers don't describe these fields'
                # run, and a reader must be able to tell.
                new_fields = [f for f in rec
                              if f not in old and f not in ("load_at_start",
                                                            "load_at_end", "n_runs")]
                if new_fields:
                    for f in new_fields:
                        old[f] = rec[f]
                    old.setdefault("folded_fields", []).extend(
                        f for f in new_fields if f not in old.get("folded_fields", []))
                    print(f"[scale] folded new fields into kept {k} record: "
                          f"{new_fields}", file=sys.stderr)
            else:
                if old is not None and not same:
                    print(f"[scale] WARNING: {k} workload changed "
                          f"{workload(old)} -> {workload(rec)}; replacing the old "
                          f"record (set SCALE_* envs to match if unintended)",
                          file=sys.stderr)
                if old is not None and same:
                    merge_flagship_points(rec, old)
                merged[k] = rec
        with open(out_path, "w") as f:
            json.dump(merged, f, indent=1)
        print(f"[scale] wrote {out_path}", file=sys.stderr)
    print(table(merged))


if __name__ == "__main__":
    main()

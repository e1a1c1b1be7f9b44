#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client driving the engine's public
entry points (Flagship.stages as one EtlGroup over a Catalog, and
SparkEntry's query builders) on one local[N] SparkSession.

    python3 perfbench/run.py --workload <etl_pipeline|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the benchmark (engine
sources included) with sbt and generates the inputs under .bench_build/;
later runs reuse both. Every metric is printed by name with its unit; the
last stdout line is the JSON result. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics as m  # noqa: E402

# inputs and ETL replica count per workload (README: "Workloads")
WORKLOADS = {
    "etl_pipeline": {"sf": "sf0.01", "copies": 2},
    "query_mix": {"sf": "sf0.01"},
}
FAMILIES = ["relational", "misc", "graph", "er", "text", "multimodal", "stream",
            "dedup", "ann", "decontam"]
STAGES = ["extraction", "er", "idconvert", "grouping", "validate", "result"]
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, deadline, **kw):
    """Runs `cmd` in a process group of its own and waits for it; the whole
    group is killed if it outlives `deadline`. Returns the exit code, or
    None after a kill."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ---- build ----------------------------------------------------------------

def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def spark_jars():
    """The Spark jars directory the engine's own build compiles against (its
    `unmanagedBase`), so engine and benchmark always share one Spark."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not found or not os.path.isdir(found.group(1)):
        fail("the Spark jars directory named by unmanagedBase in build.sbt was not found")
    return found.group(1)


def build(deadline):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found: run from a full checkout")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    os.makedirs(BUILD, exist_ok=True)
    log("building (sbt compile) ...")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts, SPARK_JARS=jars)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], deadline,
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
        except OSError as e:
            fail(f"build failed: {e}", 3)
    if rc != 0:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


# ---- one JVM run ----------------------------------------------------------

def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(classes, workload, seed, seconds, trace, n, deadline, **overrides):
    cfg = dict(WORKLOADS[workload], **overrides)
    data = os.path.join(BUILD, "data")
    gen_data.generate(os.path.join(data, cfg["sf"]), float(cfg["sf"][2:]))
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    jar_dir = spark_jars()
    jars = sorted(os.path.join(jar_dir, j) for j in os.listdir(jar_dir) if j.endswith(".jar"))
    cmd = ["java"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap and young generation: peak RSS then tracks what the program
    # keeps, not how far the collector chose to grow the heap
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", ":".join([classes] + jars),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(n),
            "--sf", cfg["sf"],
            "--copies", str(cfg.get("copies", 1)),
            "--data", data, "--work", work, "--out", out]
    with open(os.path.join(BUILD, f"{workload}.jvm.log"), "w") as logf:
        rc = run_group(cmd, deadline, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
    if rc is None:
        fail(f"{workload}: the benchmark process did not finish in time", 4)
    if rc != 0 or not os.path.exists(out):
        fail(f"{workload}: the benchmark process failed (exit {rc}), see "
             f"{os.path.join(BUILD, workload + '.jvm.log')}", 4)
    with open(out) as f:
        rec = json.load(f)
    os.replace(out, os.path.join(BUILD, f"{workload}.record.json"))
    shutil.rmtree(work, ignore_errors=True)
    return rec


# ---- output checks --------------------------------------------------------

def check(workload, ops, pins):
    """Marks each op ok / not ok against the pinned outputs."""
    pin = pins[workload]
    for o in ops:
        if "error" in o:
            o["ok"] = False
        elif workload == "etl_pipeline":
            o["ok"] = (o["rows"] == WORKLOADS[workload]["copies"] * pin["base_graph_rows"]
                       and o["messy_left"] == 0)
        else:
            q = pin["queries"].get(o["name"])
            o["ok"] = q is not None and o["rows"] == q["rows"] and o["digest"] == q["digest"]
        if not o["ok"]:
            log(f"output check failed: {o['name']} {o.get('error', '')} rows={o.get('rows')} "
                f"digest={o.get('digest')}")


# ---- metrics --------------------------------------------------------------

def end_to_end(rec, ops):
    walls = [o["wall_s"] for o in ops]
    tail, pct = m.tail(walls)
    vals = {
        "setup_s": rec["setup_s"],
        "op_p50_s": m.median(walls),
        "op_tail_s": tail,
        "ops_per_s": len(ops) / rec["loop_s"],
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    extra = {"op_tail_percentile": pct, "samples": len(walls)}
    return vals, extra


def side_metrics(rec, ops):
    """The two whole-run ratios reported next to the end-to-end metrics."""
    failed = sum(1 for o in ops if not o["ok"])
    written = sum(o.get("written_bytes", 0) for o in ops) / max(1, len(ops))
    return {"failed_frac": failed / len(ops),
            "written_bytes_per_input_byte": written / max(1, rec["input"]["bytes"])}


def per_layer(rec, ops, untraced, n):
    traced = [o for o in ops if o.get("traced")]
    k = max(1, len(traced))

    def tot(key):
        return sum(o["counters"][key] for o in traced)

    wall_ms = sum(o["end_ms"] - o["start_ms"] for o in traced)
    gap_ms = sum((o["end_ms"] - o["start_ms"]) * m.driver_gap_frac(o["jobs"], o["start_ms"], o["end_ms"])
                 for o in traced)
    run_ms = max(1, tot("task_run_ms"))
    result_rows = sum(max(1, o.get("rows", 0)) for o in traced)
    k_stream = max(1, sum(1 for o in traced if o["family"] == "stream"))
    vals = {
        "session.build_s": rec["session_build_s"],
        "catalyst.plans_per_op": tot("plans") / k,
        "catalyst.plan_ms_per_op": tot("plan_ms") / k,
        "scan.rows_per_result_row": tot("scan_rows") / result_rows,
        "join.rows_per_result_row": tot("join_rows") / result_rows,
        "scheduler.jobs_per_op": sum(len(o["jobs"]) for o in traced) / k,
        "scheduler.stages_per_op": tot("stages") / k,
        "scheduler.tasks_per_op": tot("tasks") / k,
        "scheduler.driver_gap_frac": gap_ms / max(1, wall_ms),
        "executor.busy_frac": tot("task_run_ms") / max(1, wall_ms * n),
        "executor.cpu_frac": tot("task_cpu_ns") / 1e6 / run_ms,
        "executor.gc_frac": tot("task_gc_ms") / run_ms,
        "shuffle.write_bytes_per_op": tot("shuffle_write_bytes") / k,
        "shuffle.read_bytes_per_op": tot("shuffle_read_bytes") / k,
        "shuffle.spill_bytes_per_op": tot("spill_bytes") / k,
        "streaming.batches_per_op": tot("stream_batches") / k_stream,
        "streaming.add_batch_ms_per_op": tot("stream_add_batch_ms") / k_stream,
        "streaming.wal_commit_ms_per_op": tot("stream_wal_commit_ms") / k_stream,
        "jvm.gc_s_per_op": rec["jvm_gc_s"] / max(1, len(ops)),
        "jvm.heap_peak_mb": rec["jvm_heap_peak_mb"],
        "session.residue_ops": sum(1 for o in ops if o.get("residue")),
    }
    vals.update(span_metrics(rec["spans"], traced))
    fam = {}
    for o in (untraced["ops"] if untraced else traced):
        fam.setdefault(o["family"], []).append(o["wall_s"])
    for f in FAMILIES:
        vals[f"family.{f}_p50_s"] = m.median(fam.get(f, []))
    paired = [(o["wall_s"], untraced["walls"][o["name"]]) for o in traced
              if untraced and o["name"] in untraced["walls"]]
    vals["trace.overhead_frac"] = (sum(t for t, _ in paired) / sum(u for _, u in paired) - 1.0
                                   if paired else 0.0)
    return vals


def span_metrics(spans, traced):
    """Catalog, EtlGroup and stage metrics from the span tree (ETL only;
    zero for the query mix, whose operations have no inner spans)."""
    k = max(1, len(traced))
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(dict(s, start=s["start_ns"] / 1e9, end=s["end_ns"] / 1e9))
    vals = {f"stage.{st}_s": 0.0 for st in STAGES}
    vals.update({"catalog.writes": 0.0, "catalog.write_s": 0.0, "catalog.read_s": 0.0,
                 "catalog.bytes_written": 0.0, "catalog.files_written": 0.0,
                 "catalog.self_s": 0.0, "etlgroup.critical_path_s": 0.0,
                 "etlgroup.parallelism": 0.0, "etlgroup.node_wait_s": 0.0,
                 "er.mapping_rows": 0.0, "etl.check_s": 0.0})
    unattributed = []
    for o in traced:
        ss = by_op.get(o["i"], [])
        nodes = [s for s in ss if s["kind"] == "node"]
        if not nodes:
            continue
        cat = [s for s in ss if s["kind"] == "catalog"]
        writes = [s for s in cat if s["name"].startswith("write:")]
        vals["catalog.writes"] += len(writes)
        vals["catalog.write_s"] += sum(s["end"] - s["start"] for s in writes)
        vals["catalog.read_s"] += sum(s["end"] - s["start"] for s in cat if s["name"].startswith("read:"))
        vals["catalog.bytes_written"] += sum(s.get("bytes", 0) for s in writes)
        vals["catalog.files_written"] += sum(s.get("files", 0) for s in writes)
        g0 = min(s["start"] for s in nodes)
        g1 = max(s["end"] for s in nodes)
        vals["etlgroup.critical_path_s"] += m.critical_path(nodes)
        vals["etlgroup.parallelism"] += sum(s["end"] - s["start"] for s in nodes) / max(1e-9, g1 - g0)
        vals["etlgroup.node_wait_s"] += sum(m.node_waits(nodes, g0).values())
        vals["er.mapping_rows"] += o.get("er_mapping_rows", 0)
        by_id = {s["id"]: s for s in ss}

        def bucket(s):
            # the stage of the nearest node ancestor (or the output check)
            x = s
            while x is not None:
                if x["kind"] == "node":
                    return x["stage"]
                if x["kind"] == "check":
                    return "check"
                x = by_id.get(x["parent"])
            return s["kind"]

        own = m.self_times(ss, lambda s: s["kind"])
        staged = m.self_times(ss, bucket)
        for stage in STAGES:
            vals[f"stage.{stage}_s"] += staged.get(stage, 0.0)
        vals["catalog.self_s"] += own.get("catalog", 0.0)
        vals["etl.check_s"] += staged.get("check", 0.0)
        unattributed.append(staged.get("op", 0.0) / o["wall_s"])
    vals = {key: v / k for key, v in vals.items()}
    vals["trace.unattributed_frac"] = statistics.mean(unattributed) if unattributed else 0.0
    return vals


# ---- main -----------------------------------------------------------------

def git_head():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()
    classes, source_hash = build(t_start + 850)
    # a run that built may take long; any other must end well inside 180 s
    deadline = time.time() + (850 if time.time() - t_start > 30 else 170)
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    n = cores()
    wl = args.workload
    load_start = loadavg()
    t_run = time.time()
    rec = run_jvm(classes, wl, args.seed, args.seconds, args.trace, n, deadline)
    ops = rec["ops"]
    check(wl, ops, pins)
    failed = sum(1 for o in ops if not o["ok"])
    untraced_path = os.path.join(BUILD, f"untraced_{wl}.json")
    if not args.trace:
        save_untraced(rec, untraced_path)
    elif not os.path.exists(untraced_path) and deadline - time.time() > 1.5 * (time.time() - t_run):
        log("no untraced run of this workload yet: making one for trace.overhead_frac")
        save_untraced(run_jvm(classes, wl, args.seed, args.seconds, 0, n, deadline), untraced_path)
    mem_avail = meminfo("MemAvailable")
    print("stamp " + json.dumps({
        "nproc": os.cpu_count(), "cores_used": n, "loadavg_start": load_start,
        "loadavg_end": loadavg(), "git_head": git_head(), "source_hash": source_hash[:16],
        "spark_version": rec["stamp"]["spark_version"], "jvm_version": rec["stamp"]["jvm_version"],
        "seed": args.seed, "workload": wl, "inputs": WORKLOADS[wl],
        "input_rows": rec["input"].get("rows") or sum_rows(wl), "input_bytes": rec["input"]["bytes"],
        "inputs_fit_in_memory": mem_avail is None or rec["input"]["bytes"] < mem_avail,
        "passes": rec["passes"], "session_build_s": rec["session_build_s"],
        "stage_s": rec["stage_s"], "warmup_s": rec["warmup_s"]}, sort_keys=True))
    side = side_metrics(rec, ops)
    if args.trace:
        untraced = None
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                untraced = json.load(f)
        else:
            log("no untraced run to compare with: trace.overhead_frac reads 0")
        vals = dict(per_layer(rec, ops, untraced, n), **side)
        units = {u["name"]: u["unit"] for u in bench_spec()["per_layer"]}
        for r in sorted({f"{o['name']}: {r}" for o in ops for r in o.get("residue", [])}):
            print(f"residue {r}")
    else:
        vals, extra = end_to_end(rec, ops)
        units = {u["name"]: u["unit"] for u in bench_spec()["end_to_end"]}
        print(f"metric failed_frac = {side['failed_frac']:.6g} frac")
        print(f"metric written_bytes_per_input_byte = {side['written_bytes_per_input_byte']:.6g} ratio")
        print(f"metric op_tail_percentile = {extra['op_tail_percentile']:.1f} % "
              f"(samples={extra['samples']})")
    for key in units:
        print(f"metric {key} = {vals[key]:.6g} {units[key]}")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": vals[k], "unit": units[k]} for k in units}}))


def meminfo(key):
    """A /proc/meminfo field in bytes (None where unavailable)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def sum_rows(workload):
    import pyarrow.parquet as pq
    d = os.path.join(BUILD, "data", WORKLOADS[workload]["sf"])
    return sum(pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
               for t in gen_data.TABLES)


def save_untraced(rec, path):
    walls = {}
    for o in rec["ops"]:
        walls.setdefault(o["name"], []).append(o["wall_s"])
    with open(path, "w") as f:
        json.dump({"walls": {k: statistics.mean(v) for k, v in walls.items()},
                   "ops": [{"family": o["family"], "wall_s": o["wall_s"]} for o in rec["ops"]]}, f)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    main()

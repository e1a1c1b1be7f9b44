#!/usr/bin/env python3
"""README <-> artifact consistency gate (round-18 verdict item 1/8: two
consecutive rounds shipped README wall-time prose that no committed artifact
backed). Two mechanical checks, exit nonzero on any divergence:

1. TABLE REGENERATION: the README's scale table must be byte-identical to
   what `tools/scale_bench.py --table` derives from the NEWEST SCALE_r*.json
   — a stale pasted row (e.g. a superseded straggler) cannot survive.

2. PROSE TRIPWIRE: every wall-time claim in README prose (`12.3s`,
   `2.3/2.5/2.7s`, `3.6-78.3s` ranges) must round-match some numeric leaf in
   SOME committed SCALE_r*/BENCH_r*/BASELINE artifact. Historical mentions
   ("the r16 237s point") pass via the r16 artifact; a quiet-window
   re-measure quoted from an uncommitted run has no leaf anywhere and fails.
   This is a tripwire, not a proof — a claim can collide with an unrelated
   leaf — but it makes the observed failure mode (numbers that exist in NO
   artifact) mechanically impossible. Config durations that are not
   measurements ("60s windows", "30 min gap") are excluded by context.

Usage: python3 tools/check_readme.py   (run from anywhere; repo-relative)
"""
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def latest(pattern):
    paths = sorted(glob.glob(os.path.join(REPO, pattern)))
    return paths[-1] if paths else None


def leaves(v, out):
    if isinstance(v, dict):
        for x in v.values():
            leaves(x, out)
    elif isinstance(v, list):
        for x in v:
            leaves(x, out)
    elif isinstance(v, bool):
        pass
    elif isinstance(v, (int, float)):
        out.append(float(v))
    elif isinstance(v, str) and v.lstrip().startswith("{"):
        # BENCH artifacts carry the raw JSON line under "tail" (possibly
        # truncated at the front) — harvest its numbers textually
        for m in re.finditer(r"-?\d+(?:\.\d+)?", v):
            out.append(float(m.group(0)))


def artifact_numbers():
    out = []
    # PROGRESS.jsonl is the committed per-round log — historical prose
    # ("the r16 237s point") resolves against it even after a BENCH_FULL_c*
    # record was overwritten by a later round
    pj = os.path.join(REPO, "PROGRESS.jsonl")
    if os.path.exists(pj):
        for m in re.finditer(r"-?\d+(?:\.\d+)?", open(pj).read()):
            out.append(float(m.group(0)))
    for pat in ("SCALE_r*.json", "BENCH_r*.json", "BENCH_FULL_c*.json",
                "BENCH_PARTIAL.json", "BASELINE.json"):
        for p in glob.glob(os.path.join(REPO, pat)):
            try:
                with open(p) as f:
                    doc = json.load(f)
            except (OSError, ValueError):
                continue
            # harvest ALL numbers including those embedded in string fields
            leaves(doc, out)
            for m in re.finditer(r"-?\d+(?:\.\d+)?", open(p).read()):
                out.append(float(m.group(0)))
    return out


def check_table(readme_lines):
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "scale_bench", os.path.join(REPO, "tools", "scale_bench.py"))
    sb = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sb)
    scale = latest("SCALE_r*.json")
    if scale is None:
        return ["no SCALE_r*.json artifact found"]
    want = [l for l in sb.table(json.load(open(scale))).splitlines()
            if "---" not in l]
    have = [l.rstrip() for l in readme_lines
            if l.startswith("|") and "---" not in l]
    # the README may carry other tables; compare only the scale table block —
    # identified by its header row
    hdr = "| Operator | Scale | Wall time | Straggler (max/median task) |"
    if hdr not in have:
        return [f"README is missing the scale table header row: {hdr}"]
    start = have.index(hdr)
    have_block = have[start:start + len(want)]
    errs = []
    for i, (w, h) in enumerate(zip(want, have_block)):
        if w.rstrip() != h.rstrip():
            errs.append(f"scale-table row {i} diverges from {os.path.basename(scale)}:\n"
                        f"  artifact: {w}\n  README:   {h}")
    if len(have_block) < len(want):
        errs.append(f"README scale table has {len(have_block)} rows, artifact "
                    f"table has {len(want)} — regenerate with scale_bench.py --table")
    return errs


# prose contexts where an Ns token is configuration, not a measurement claim
CONFIG_CONTEXT = re.compile(
    r"window|gap|watermark|INTERVAL|trigger|sleep|timeout|grace|every|delay",
    re.IGNORECASE)


def check_prose(readme_lines, nums):
    nums.sort()

    def matched(x, decimals):
        tol = 0.5 * 10 ** (-decimals) + 1e-9
        import bisect
        i = bisect.bisect_left(nums, x - tol)
        return i < len(nums) and nums[i] <= x + tol

    errs = []
    for ln, line in enumerate(readme_lines, 1):
        if line.startswith("|"):
            continue  # table rows are covered by the regeneration diff
        if CONFIG_CONTEXT.search(line):
            continue
        for m in re.finditer(r"\b(\d+(?:\.\d+)?(?:\s*[/–-]\s*\d+(?:\.\d+)?)*)\s?s\b",
                             line):
            for tok in re.split(r"[/–-]", m.group(1)):
                tok = tok.strip()
                if not tok:
                    continue
                decimals = len(tok.split(".")[1]) if "." in tok else 0
                x = float(tok)
                if x == 0:
                    continue
                if not matched(x, decimals):
                    errs.append(f"README line {ln}: wall-time claim '{tok}s' "
                                f"matches no committed artifact value: {line.strip()[:100]}")
    return errs


def main():
    readme = open(os.path.join(REPO, "README.md")).read().splitlines()
    errs = check_table(readme) + check_prose(readme, artifact_numbers())
    if errs:
        print(f"[check_readme] {len(errs)} divergence(s):")
        for e in errs:
            print(" -", e)
        sys.exit(1)
    print("[check_readme] OK: scale table matches the newest artifact; "
          "every prose wall-time claim resolves to a committed value")


if __name__ == "__main__":
    main()

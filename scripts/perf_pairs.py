#!/usr/bin/env python3
"""Compare a change with its parent commit on the repo benchmark, in pairs.

    python3 scripts/perf_pairs.py --parent HEAD~1 --pairs 10
    python3 scripts/perf_pairs.py --parent-dir ../parent-checkout --pairs 10 \
        --workloads recall_serve --out pairs.json

Runs N pairs of `perfbench/run.py` (untraced) for every workload: one run
in the parent checkout and one in this checkout, alternating which side
runs first, with pair i's seed (1..N) shared by both sides and
BENCHMARK.json's run_seconds as the run length. The parent checkout
is `--parent-dir` when given; otherwise the script adds a detached
`git worktree` of `--parent` in a temporary directory and removes it when
done. The benchmark's files are only run, never modified.

For each workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the IQR as a share of the median, the
change's wins (ties count for neither side) and a verdict: `gain` when the
change wins at least nine tenths of the pairs and the medians differ by
more than the parent's IQR, `worse` when the change's median is worse
than the parent's by more than the metric's bound, otherwise `-`. It also
prints each side's failed share per workload (failed over attempted
operations, summed over the side's runs). Every run's JSON result goes to
`--out`.

Exits 1 when any run failed or was incorrect, or when the change's failed
share on some workload is higher than the parent's.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return {"exit": p.returncode, "result": result,
            "stderr_tail": p.stderr[-2000:] if p.returncode else ""}


def value(run, metric):
    r = run["result"]
    if not r or run["exit"] != 0:
        return None
    m = r.get("metrics", {}).get(metric)
    return None if m is None else float(m["value"])


def summarize(bench, runs, workloads):
    rows = []
    for w in workloads:
        pairs = [(p, c) for (wl, _, p, c) in runs if wl == w]
        for spec in bench["end_to_end"]:
            name, lower = spec["name"], spec["better"] == "lower"
            vals = [(value(p, name), value(c, name)) for p, c in pairs]
            vals = [(a, b) for a, b in vals if a is not None and b is not None]
            if not vals:
                continue
            pa, ch = [a for a, _ in vals], [b for _, b in vals]
            pq1, pmed, pq3 = quartiles(pa)
            cq1, cmed, cq3 = quartiles(ch)
            wins = sum(1 for a, b in vals if (b < a if lower else b > a))
            worse = (cmed - pmed) if lower else (pmed - cmed)
            if wins >= 0.9 * len(vals) and abs(cmed - pmed) > pq3 - pq1:
                verdict = "gain"
            elif pmed and worse / abs(pmed) > spec["bound"]:
                verdict = "worse"
            else:
                verdict = "-"
            rows.append({
                "workload": w, "metric": name, "pairs": len(vals),
                "parent_median": pmed, "parent_q1": pq1, "parent_q3": pq3,
                "parent_iqr_frac": (pq3 - pq1) / pmed if pmed else 0.0,
                "change_median": cmed, "change_q1": cq1, "change_q3": cq3,
                "change_iqr_frac": (cq3 - cq1) / cmed if cmed else 0.0,
                "change_vs_parent": (cmed - pmed) / pmed if pmed else 0.0,
                "wins": wins, "verdict": verdict})
    return rows


def failed_shares(runs, workloads):
    """Per workload, each side's (failed, attempted) summed over its runs
    that reported a result."""
    shares = []
    for w in workloads:
        side = {"parent": [0, 0], "change": [0, 0]}
        for wl, _, p, c in runs:
            if wl != w:
                continue
            for name, run in (("parent", p), ("change", c)):
                r = run["result"] or {}
                side[name][0] += int(r.get("failed", 0))
                side[name][1] += int(r.get("attempted", 0))
        shares.append({"workload": w,
                       "parent_failed": side["parent"][0],
                       "parent_attempted": side["parent"][1],
                       "change_failed": side["change"][0],
                       "change_attempted": side["change"][1]})
    return shares


def share(failed, attempted):
    return failed / attempted if attempted else 0.0


def print_table(rows):
    hdr = ("workload", "metric", "parent med [q1, q3]", "iqr/med",
           "change med [q1, q3]", "iqr/med", "delta", "wins", "verdict")
    print("  ".join(hdr))
    for r in rows:
        print("  ".join([
            r["workload"], r["metric"],
            f"{r['parent_median']:.4g} [{r['parent_q1']:.4g}, {r['parent_q3']:.4g}]",
            f"{r['parent_iqr_frac']:.3f}",
            f"{r['change_median']:.4g} [{r['change_q1']:.4g}, {r['change_q3']:.4g}]",
            f"{r['change_iqr_frac']:.3f}",
            f"{100 * r['change_vs_parent']:+.1f}%",
            f"{r['wins']}/{r['pairs']}", r["verdict"]]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--parent", help="git revision to add as a worktree")
    src.add_argument("--parent-dir", help="an existing parent checkout")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: every workload")
    ap.add_argument("--out", default=None, help="JSON file for every run")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in bench["workloads"]])
    seconds = bench["run_seconds"]

    tmp = None
    parent = a.parent_dir
    if parent is None:
        tmp = tempfile.mkdtemp(prefix="perf-pairs-")
        parent = os.path.join(tmp, "parent")
        subprocess.run(["git", "worktree", "add", "--detach", parent, a.parent],
                       cwd=ROOT, check=True)
    runs = []
    try:
        for i in range(a.pairs):
            seed = i + 1
            for w in workloads:
                order = [("parent", parent), ("change", ROOT)]
                if i % 2:
                    order.reverse()
                got = {}
                for side, checkout in order:
                    got[side] = run_once(checkout, w, seed, seconds)
                    r = got[side]["result"] or {}
                    print(f"pair {i + 1}/{a.pairs} {w} {side}: exit "
                          f"{got[side]['exit']} correct={r.get('correct')} "
                          f"failed={r.get('failed')}", file=sys.stderr)
                runs.append((w, seed, got["parent"], got["change"]))
                if a.out:
                    with open(a.out, "w") as f:
                        json.dump([{"workload": wl, "seed": s, "parent": p,
                                    "change": c} for wl, s, p, c in runs], f)
    finally:
        if tmp is not None:
            subprocess.run(["git", "worktree", "remove", "--force", parent],
                           cwd=ROOT)
            shutil.rmtree(tmp, ignore_errors=True)
    rows = summarize(bench, runs, workloads)
    print_table(rows)
    fails = failed_shares(runs, workloads)
    worse = []
    for f in fails:
        ps = share(f["parent_failed"], f["parent_attempted"])
        cs = share(f["change_failed"], f["change_attempted"])
        print(f"{f['workload']} failed share: parent {f['parent_failed']}/"
              f"{f['parent_attempted']} ({ps:.4f}), change "
              f"{f['change_failed']}/{f['change_attempted']} ({cs:.4f})")
        if cs > ps:
            worse.append(f["workload"])
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": [{"workload": wl, "seed": s, "parent": p,
                                 "change": c} for wl, s, p, c in runs],
                       "summary": rows, "failed": fails}, f, indent=1)
    bad = sum(1 for _, _, p, c in runs for x in (p, c)
              if x["exit"] != 0 or not (x["result"] or {}).get("correct"))
    if bad:
        print(f"{bad} run(s) failed or were incorrect", file=sys.stderr)
    if worse:
        print(f"the change fails a larger share of operations on: "
              f"{', '.join(worse)}", file=sys.stderr)
    return 1 if bad or worse else 0


if __name__ == "__main__":
    sys.exit(main())

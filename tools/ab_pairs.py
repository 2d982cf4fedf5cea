#!/usr/bin/env python3
"""Paired A/B runs of the unchanged benchmark: a parent revision against a change.

    python3 tools/ab_pairs.py --parent <rev> --workdir <dir> --workload sketch_rollup \\
        --seeds 1,2,3 --pairs 10 [--json out.json]

Exports the parent revision (with `git archive`) and the current working
tree (tracked and untracked-but-not-ignored files) into fresh directories
under `--workdir`, so neither side shares build output or scratch state with
this checkout and no worktree is registered in the repository. Each side's
benchmark is built once before timing. Then it runs N pairs of
`perfbench/run.py --trace 0` for one workload at BENCHMARK.json's
`run_seconds`, alternating which side runs first, taking seeds from
`--seeds` in turn.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the change's median relative to the parent's, the share of
pairs the change won (ties count for neither side), and whether the claim
rule holds: the change wins at least nine tenths of the pairs and the
medians differ by more than the parent's interquartile range.
"""
import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", REPO] + list(args), check=True,
                          stdout=subprocess.PIPE).stdout


def export_rev(rev, dest):
    tarfile.open(fileobj=io.BytesIO(git("archive", rev)), mode="r").extractall(dest)


def export_working_tree(dest):
    files = git("ls-files", "-z", "--cached", "--others", "--exclude-standard").decode().split("\0")
    for rel in filter(None, files):
        src = os.path.join(REPO, rel)
        if os.path.isfile(src):
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def prepare(label, rev, workdir):
    dest = os.path.join(workdir, label)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    if rev is None:
        export_working_tree(dest)
    else:
        export_rev(rev, dest)
    subprocess.run([sys.executable, os.path.join("perfbench", "build.py")], cwd=dest, check=True)
    return dest


def run_once(checkout, workload, seed, seconds):
    """One untraced benchmark run; returns its result object with each metric
    reduced to its value, or None if it printed none."""
    proc = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                          cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.decode(errors="replace").splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except ValueError:
        return None
    if result is not None:
        result["metrics"] = {k: v["value"] for k, v in result["metrics"].items()}
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics, runs):
    """One row per end-to-end metric from paired runs [(parent, change), ...]."""
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p["metrics"][name], c["metrics"][name]) for p, c in runs
                 if p and c and name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        par = sorted(p for p, _ in pairs)
        chg = sorted(c for _, c in pairs)
        pq1, pmed, pq3 = quartiles(par)
        cq1, cmed, cq3 = quartiles(chg)
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        win_frac = wins / len(pairs)
        rows.append({
            "metric": name, "better": m["better"], "bound": m.get("bound"), "pairs": len(pairs),
            "parent": {"q1": pq1, "median": pmed, "q3": pq3},
            "change": {"q1": cq1, "median": cmed, "q3": cq3},
            "change_over_parent": cmed / pmed if pmed else None,
            "win_fraction": win_frac,
            "claim_rule_met": win_frac >= 0.9 and abs(cmed - pmed) > (pq3 - pq1)
                              and (cmed < pmed if lower else cmed > pmed),
        })
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent revision")
    ap.add_argument("--workdir", required=True, help="directory for the two exported checkouts")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1", help="comma-separated seeds, used in turn")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--json", help="also write every run and the summary to this file")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]

    os.makedirs(args.workdir, exist_ok=True)
    sides = {"parent": prepare("parent", args.parent, args.workdir),
             "change": prepare("change", None, args.workdir)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    runs, log = [], []
    for i in range(args.pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        res = {side: run_once(sides[side], args.workload, seed, seconds) for side in order}
        runs.append((res["parent"], res["change"]))
        log.append({"pair": i, "seed": seed, "first": order[0], **res})
        brief = {s: (None if r is None else {k: round(v, 4) for k, v in r["metrics"].items()})
                 for s, r in res.items()}
        print(f"pair {i} seed {seed} first={order[0]}: {json.dumps(brief)}", flush=True)

    failed = {s: sum(1 if r is None else r["failed"] for r in (p if s == "parent" else c for p, c in runs))
              for s in ("parent", "change")}
    rows = summarize(metrics, runs)
    print(f"\n{args.workload}: {len(runs)} pairs, seeds {seeds}, failed ops/runs parent {failed['parent']} "
          f"change {failed['change']}")
    print(f"{'metric':<18} {'parent q1/med/q3':>28} {'change q1/med/q3':>28} {'chg/par':>8} {'wins':>6} claim")
    for r in rows:
        p, c = r["parent"], r["change"]
        print(f"{r['metric']:<18} {p['q1']:>9.4g}/{p['median']:>8.4g}/{p['q3']:<9.4g} "
              f"{c['q1']:>9.4g}/{c['median']:>8.4g}/{c['q3']:<9.4g} {r['change_over_parent']:>8.3f} "
              f"{r['win_fraction']:>6.2f} {'yes' if r['claim_rule_met'] else 'no'}")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "parent": args.parent, "change": "working tree",
                       "seeds": seeds, "failed": failed, "summary": rows, "runs": log}, f, indent=1)


if __name__ == "__main__":
    main()

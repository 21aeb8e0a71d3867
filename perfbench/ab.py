#!/usr/bin/env python3
"""Paired A/B runs of graft's benchmark: a parent tree against a change.

    python3 perfbench/ab.py --parent HEAD~1 --change WORKTREE --workdir /tmp/ab

Unpacks both trees under --workdir (a git revision through `git
archive`, or WORKTREE for the working tree as it is), copies this
benchmark into both so they run identical benchmark code, then runs
--pairs pairs per workload, both sides on the same seed, alternating
which side runs first. Prints each side's median and quartiles for every
end-to-end metric, the change's pair wins against the 9/10 rule, and a
verdict against the bounds in BENCHMARK.json: improved (wins at least
9 of 10 pairs by more than the parent's IQR), within-bound, worse or
unresolved (the parent's own spread is wider than the bound). Writes
the raw runs to <workdir>/ab.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def unpack(rev, dest):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    if rev == "WORKTREE":
        files = subprocess.run(["git", "ls-files", "-co", "--exclude-standard"], cwd=REPO,
                               check=True, capture_output=True, text=True).stdout.split("\n")
        for f in filter(None, files):
            if os.path.isfile(os.path.join(REPO, f)):
                os.makedirs(os.path.dirname(os.path.join(dest, f)) or dest, exist_ok=True)
                shutil.copy2(os.path.join(REPO, f), os.path.join(dest, f))
    else:
        archive = subprocess.run(["git", "archive", rev], cwd=REPO, check=True,
                                 capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    bench = os.path.join(dest, os.path.basename(HERE))
    shutil.rmtree(bench, ignore_errors=True)
    shutil.copytree(HERE, bench, ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy2(os.path.join(REPO, "BENCHMARK.json"), os.path.join(dest, "BENCHMARK.json"))


def run(tree, workload, seed, seconds):
    proc = subprocess.run([sys.executable, os.path.join(os.path.basename(HERE), "run.py"),
                           "--workload", workload, "--seed", str(seed),
                           "--seconds", str(seconds), "--trace", "0"],
                          cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    out = json.loads(lines[-1])
    return out if out["correct"] else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workdir", required=True, help="directory for the two trees")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated; default all in BENCHMARK.json")
    ap.add_argument("--first-seed", type=int, default=1000)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else \
        [w["name"] for w in bench["workloads"]]
    trees = {"parent": os.path.join(args.workdir, "parent"),
             "change": os.path.join(args.workdir, "change")}
    unpack(args.parent, trees["parent"])
    unpack(args.change, trees["change"])

    runs = {w: {"parent": [], "change": []} for w in workloads}
    for w in workloads:
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {side: run(trees[side], w, seed, bench["run_seconds"]) for side in order}
            print(f"{w} pair {i + 1}/{args.pairs} seed {seed}: " + ", ".join(
                f"{s}={'failed' if pair[s] is None else 'ok'}" for s in order), file=sys.stderr)
            for side in order:
                runs[w][side].append(pair[side])
    with open(os.path.join(args.workdir, "ab.json"), "w") as fh:
        json.dump(runs, fh, indent=1)

    for w in workloads:
        print(f"\n{w}: {args.pairs} pairs")
        failed = {s: sum(1 for r in runs[w][s] if r is None) for s in ("parent", "change")}
        if any(failed.values()):
            print(f"  failed or wrong runs: {failed}; only complete pairs are compared")
        pairs = [(p, c) for p, c in zip(runs[w]["parent"], runs[w]["change"]) if p and c]
        if not pairs:
            continue
        for m in bench["end_to_end"]:
            name = m["name"]
            par = [p["metrics"][name]["value"] for p, _ in pairs]
            chg = [c["metrics"][name]["value"] for _, c in pairs]
            pq, cq = stats.quartiles(par), stats.quartiles(chg)
            wins = stats.pair_wins(par, chg, m["better"])
            print(f"  {name:24s} parent {pq[1]:.4f} [{pq[0]:.4f}, {pq[2]:.4f}]  "
                  f"change {cq[1]:.4f} [{cq[0]:.4f}, {cq[2]:.4f}] {m['unit']}  "
                  f"wins {wins}/{len(pairs)}"
                  f"{' (9/10 met)' if stats.nine_of_ten(wins, len(pairs)) else ''}  "
                  f"{stats.verdict(par, chg, m['bound'], m['better'])} (bound {m['bound']})")


if __name__ == "__main__":
    main()

"""Interleaved A/B of one command at two git revisions.

Usage:
    python3 tools/ab.py OLD NEW [--pairs N] -- CMD...

Each revision is checked out with ``git worktree add --detach`` into a
temporary directory.  ``.`` is the working tree as it is, untracked
files included: it is committed through a scratch index (HEAD and the
index do not move) and checked out the same way, so both arms run from
equally fresh checkouts.  For each pair ``1..N`` the command runs once in
each arm's checkout, one arm at a time, the arm that runs first
alternating; ``{seed}`` in the command becomes the pair number.  The last stdout line of a run must be a JSON object with a
``metrics`` mapping whose values are numbers or ``{"value": ...}``
objects -- the shape ``perfbench/run.py`` and ``tools/profile_query.py``
print.  A run that exits non-zero, prints no such line, or reports
``"correct": false`` or ``"failed" > 0`` is a failure of its arm: it is
reported and counted, never dropped, and its pair is won by neither arm.

Printed: every run, then per metric each arm's median and quartiles and
how many pairs the change won (ties count for neither), then a verdict
for each end-to-end metric of the NEW arm's ``BENCHMARK.json``:

- ``gain``: the change won at least 9/10 of all pairs and its median is
  better than the parent's by more than the parent's interquartile range;
- ``regressed``: the change's median is worse by more than the metric's
  ``bound`` (a fraction of the parent's median), or the new arm failed
  more runs than the old one;
- ``unresolved``: either arm's interquartile range is wider than the
  bound, unless every run of the change is better than every run of the
  parent;
- ``ok``: none of the above.

The last stdout line is one JSON object with all of it.  The command's
stderr passes through.  Example, from the repository root:

    python3 tools/ab.py HEAD . --pairs 6 -- python3 perfbench/run.py \\
        --workload compact_small_files --seed {seed} --seconds 10 --trace 0
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import tempfile

GAIN_SHARE = 0.9


def git(repo: str, *args: str, env: dict | None = None) -> str:
    proc = subprocess.run(
        ["git", "-C", repo, *args], capture_output=True, text=True, env=env
    )
    if proc.returncode:
        sys.exit(f"ab: git {' '.join(args)}: {proc.stderr.strip()}")
    return proc.stdout.strip()


def snapshot(repo: str, tmp: str) -> str:
    """A commit of ``repo``'s working tree on top of HEAD."""
    env = {**os.environ, "GIT_INDEX_FILE": os.path.join(tmp, "index"),
           "GIT_AUTHOR_NAME": "ab", "GIT_AUTHOR_EMAIL": "ab@localhost",
           "GIT_COMMITTER_NAME": "ab", "GIT_COMMITTER_EMAIL": "ab@localhost"}
    git(repo, "add", "-A", env=env)
    tree = git(repo, "write-tree", env=env)
    return git(repo, "commit-tree", tree, "-p", "HEAD", "-m", "ab: working tree",
               env=env)


def run_once(cmd: list[str], cwd: str) -> dict:
    """One run of ``cmd`` in ``cwd``: ``{"ok", "metrics", "error"}``."""
    proc = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        return {"ok": False, "metrics": {}, "error": f"exit {proc.returncode}"}
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    if not isinstance(last, dict) or not isinstance(last.get("metrics"), dict):
        return {"ok": False, "metrics": {}, "error": "no JSON metrics line"}
    metrics = {}
    for k, v in last["metrics"].items():
        v = v.get("value") if isinstance(v, dict) else v
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            metrics[k] = float(v)
    if last.get("correct") is False or (last.get("failed") or 0) > 0:
        error = f"correct={last.get('correct')} failed={last.get('failed')}"
        return {"ok": False, "metrics": metrics, "error": error}
    return {"ok": True, "metrics": metrics, "error": None}


def quartiles(values: list[float]) -> dict:
    if not values:
        return {"n": 0, "median": None, "q1": None, "q3": None}
    if len(values) == 1:
        q1 = q3 = values[0]
    else:
        q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"n": len(values), "median": statistics.median(values), "q1": q1, "q3": q3}


def compare(runs: list[dict], pairs: int, better: dict[str, str], names) -> dict:
    """Per metric: each arm's quartiles over its successful runs, and
    the pairs the change won and lost (both runs successful)."""
    out = {}
    for name in names:
        sign = -1.0 if better.get(name, "lower") == "lower" else 1.0
        arms = {
            arm: [r["metrics"][name] for r in runs
                  if r["arm"] == arm and r["ok"] and name in r["metrics"]]
            for arm in ("old", "new")
        }
        wins = losses = 0
        for p in range(1, pairs + 1):
            got = {
                r["arm"]: r["metrics"].get(name)
                for r in runs if r["pair"] == p and r["ok"]
            }
            if got.get("old") is None or got.get("new") is None:
                continue
            d = sign * (got["new"] - got["old"])
            wins += d > 0
            losses += d < 0
        out[name] = {
            "better": "lower" if sign < 0 else "higher",
            "old": quartiles(arms["old"]),
            "new": quartiles(arms["new"]),
            "old_runs": arms["old"],
            "new_runs": arms["new"],
            "wins": wins,
            "losses": losses,
        }
    return out


def relative(x: float, base: float) -> float:
    if base:
        return x / abs(base)
    return math.copysign(math.inf, x) if x else 0.0


def verdict(m: dict, bound: float, pairs: int, more_failures: bool) -> str:
    old, new = m["old"], m["new"]
    if more_failures:
        return "regressed"
    if not old["n"] or not new["n"]:
        return "unresolved"
    sign = -1.0 if m["better"] == "lower" else 1.0
    gap = sign * (new["median"] - old["median"])  # > 0: the change is better
    if relative(gap, old["median"]) < -bound:
        return "regressed"
    if m["wins"] >= GAIN_SHARE * pairs and gap > old["q3"] - old["q1"]:
        return "gain"
    spread = max(old["q3"] - old["q1"], new["q3"] - new["q1"])
    separated = min(sign * v for v in m["new_runs"]) > max(
        sign * v for v in m["old_runs"]
    )
    if relative(spread, old["median"]) > bound and not separated:
        return "unresolved"
    return "ok"


def describe(q: dict) -> str:
    if not q["n"]:
        return "no runs"
    return f"{q['median']:.4g} [{q['q1']:.4g}, {q['q3']:.4g}] n={q['n']}"


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(
        usage="ab.py OLD NEW [--pairs N] -- CMD...", description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("cmd", nargs="+")
    ap.add_argument("--pairs", type=int, default=10)
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")

    repo = git(os.getcwd(), "rev-parse", "--show-toplevel")
    tmp = tempfile.mkdtemp(prefix="ab-")
    trees: list[str] = []
    runs: list[dict] = []
    try:
        dirs = {}
        for arm, rev in (("old", args.old), ("new", args.new)):
            if rev == ".":
                rev = snapshot(repo, tmp)
            path = os.path.join(tmp, arm)
            git(repo, "worktree", "add", "--detach", path, rev)
            trees.append(path)
            dirs[arm] = path
        revs = {arm: git(d, "rev-parse", "--short", "HEAD") for arm, d in dirs.items()}
        print(f"ab: old={args.old} ({revs['old']}) new={args.new} ({revs['new']})"
              f" pairs={args.pairs}", flush=True)
        for pair in range(1, args.pairs + 1):
            order = ("old", "new") if pair % 2 else ("new", "old")
            for arm in order:
                argv_run = [a.replace("{seed}", str(pair)) for a in args.cmd]
                r = {"pair": pair, "arm": arm, **run_once(argv_run, dirs[arm])}
                runs.append(r)
                print(f"run pair={pair} arm={arm} ok={r['ok']}"
                      + (f" error={r['error']}" if r["error"] else "")
                      + f" {json.dumps(r['metrics'])}", flush=True)

        bench_path = pathlib.Path(dirs["new"], "BENCHMARK.json")
        bench = json.loads(bench_path.read_text()) if bench_path.exists() else {}
        declared = bench.get("end_to_end", []) + bench.get("per_layer", [])
        better = {m["name"]: m.get("better", "lower") for m in declared}
        failures = {arm: sum(not r["ok"] for r in runs if r["arm"] == arm)
                    for arm in ("old", "new")}
        # a declared end-to-end metric is judged when some run reports it,
        # or when some run failed before it could
        reported = {k for r in runs for k in r["metrics"]}
        e2e = {
            m["name"]: float(m["bound"]) for m in bench.get("end_to_end", [])
            if m["name"] in reported or any(failures.values())
        }
        names = sorted({k for r in runs if r["ok"] for k in r["metrics"]} | set(e2e))
        metrics = compare(runs, args.pairs, better, names)
        verdicts = {
            name: verdict(metrics[name], bound, args.pairs,
                          failures["new"] > failures["old"])
            for name, bound in e2e.items()
        }

        print(f"failures: old={failures['old']} new={failures['new']}")
        for name, m in metrics.items():
            print(f"{name}: old {describe(m['old'])}; new {describe(m['new'])};"
                  f" change won {m['wins']}/{args.pairs}, lost {m['losses']}"
                  + (f"; {verdicts[name]}" if name in verdicts else ""))
        print(json.dumps({
            "old": {"rev": args.old, "commit": revs["old"]},
            "new": {"rev": args.new, "commit": revs["new"]},
            "pairs": args.pairs,
            "runs": runs,
            "failures": failures,
            "metrics": metrics,
            "verdicts": verdicts,
        }))
        return 0
    finally:
        for path in trees:
            subprocess.run(["git", "-C", repo, "worktree", "remove", "--force", path],
                           capture_output=True)
        subprocess.run(["git", "-C", repo, "worktree", "prune"], capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

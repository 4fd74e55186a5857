"""``tools/ab.py`` on a throwaway git repository, without Spark: the arm
that runs first alternates, medians and wins come out right, a failing
run is counted against its arm, and every worktree it made is gone."""

import json
import os
import pathlib
import subprocess
import sys

AB = pathlib.Path(__file__).resolve().parent.parent / "tools" / "ab.py"

# prints t = BASE + seed, logs "<arm> <seed>" to the file named in argv[2],
# and fails the way FAIL_MODE says on seed FAIL_SEED
SCRIPT = """\
import json, sys
seed = int(sys.argv[1])
with open(sys.argv[2], "a") as fh:
    fh.write(f"{ARM} {seed}\\n")
if seed == FAIL_SEED and FAIL_MODE == "exit":
    sys.exit(3)
if seed == FAIL_SEED and FAIL_MODE == "nojson":
    print("no metrics here")
    sys.exit(0)
print(json.dumps({"correct": not (seed == FAIL_SEED and FAIL_MODE == "incorrect"),
                  "metrics": {"t": {"value": BASE + seed, "unit": "s"}, "n": 7}}))
"""


def _git(repo, *args):
    return subprocess.run(
        ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t",
         *args],
        check=True, capture_output=True, text=True,
    ).stdout


def _repo(tmp_path, new_fail_seed=0, fail_mode=""):
    repo = tmp_path / "repo"
    repo.mkdir(parents=True)
    _git(repo, "init", "-q")
    (repo / "BENCHMARK.json").write_text(json.dumps(
        {"end_to_end": [{"name": "t", "better": "lower", "bound": 0.1}]}
    ))
    for arm, base, fail_seed in (("old", 10.0, 0), ("new", 5.0, new_fail_seed)):
        (repo / "bench.py").write_text(
            SCRIPT.replace("ARM", repr(arm)).replace("BASE", repr(base))
            .replace("FAIL_SEED", str(fail_seed)).replace("FAIL_MODE", repr(fail_mode))
        )
        _git(repo, "add", "-A")
        _git(repo, "commit", "-q", "-m", arm)
    return repo


def _ab(repo, log, pairs):
    out = subprocess.run(
        [sys.executable, str(AB), "HEAD~1", "HEAD", "--pairs", str(pairs), "--",
         sys.executable, "bench.py", "{seed}", str(log)],
        cwd=repo, check=True, capture_output=True, text=True, timeout=120,
    ).stdout
    return out, json.loads(out.strip().splitlines()[-1])


def test_ab_alternates_and_summarises(tmp_path):
    repo = _repo(tmp_path)
    log = tmp_path / "order.log"
    out, summary = _ab(repo, log, pairs=2)
    assert log.read_text().split("\n")[:-1] == ["old 1", "new 1", "new 2", "old 2"]
    assert [(r["pair"], r["arm"]) for r in summary["runs"]] == [
        (1, "old"), (1, "new"), (2, "new"), (2, "old")
    ]
    t = summary["metrics"]["t"]
    assert t["old"]["median"] == 11.5 and t["new"]["median"] == 6.5
    assert (t["old"]["q1"], t["old"]["q3"]) == (11.25, 11.75)
    assert (t["wins"], t["losses"]) == (2, 0)
    assert (summary["metrics"]["n"]["wins"], summary["metrics"]["n"]["losses"]) == (0, 0)
    assert summary["failures"] == {"old": 0, "new": 0}
    assert summary["verdicts"] == {"t": "gain"}
    assert "run pair=2 arm=new ok=True" in out
    # the two worktrees were removed again
    assert len(_git(repo, "worktree", "list").splitlines()) == 1


def test_ab_counts_failing_runs(tmp_path):
    for mode in ("exit", "nojson", "incorrect"):
        repo = _repo(tmp_path / mode, new_fail_seed=2, fail_mode=mode)
        _, summary = _ab(repo, tmp_path / mode / "order.log", pairs=2)
        failed = [(r["pair"], r["arm"]) for r in summary["runs"] if not r["ok"]]
        assert failed == [(2, "new")], mode
        assert summary["failures"] == {"old": 0, "new": 1}
        t = summary["metrics"]["t"]
        assert t["new"]["n"] == 1 and t["old"]["n"] == 2
        assert (t["wins"], t["losses"]) == (1, 0)
        # more failed runs than the parent is a regression however fast
        assert summary["verdicts"] == {"t": "regressed"}
        assert len(_git(repo, "worktree", "list").splitlines()) == 1


def test_ab_current_checkout_arm(tmp_path):
    """``.`` runs the working tree as it is, untracked files included,
    and leaves HEAD, the index and the worktree list as they were."""
    repo = _repo(tmp_path)
    script = (repo / "bench.py").read_text().replace("5.0", "__import__('base').BASE")
    (repo / "bench.py").write_text(script)
    (repo / "base.py").write_text("BASE = 20.0\n")  # untracked
    before = _git(repo, "rev-parse", "HEAD"), _git(repo, "status", "--short")
    out = subprocess.run(
        [sys.executable, str(AB), "HEAD", ".", "--pairs", "1", "--",
         sys.executable, "bench.py", "{seed}", os.devnull],
        cwd=repo, check=True, capture_output=True, text=True, timeout=120,
    ).stdout
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["failures"] == {"old": 0, "new": 0}
    t = summary["metrics"]["t"]
    assert (t["old"]["median"], t["new"]["median"]) == (6.0, 21.0)
    assert summary["verdicts"] == {"t": "regressed"}
    assert (_git(repo, "rev-parse", "HEAD"), _git(repo, "status", "--short")) == before
    assert len(_git(repo, "worktree", "list").splitlines()) == 1

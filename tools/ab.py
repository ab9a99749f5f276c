"""Interleaved A/B of two commits over one perfbench workload.

    python tools/ab.py <parent-rev> <change-rev> --workload bulk_replay|trickle_replay
                       [--pairs 10] [--first-seed 1] [--seconds 12] [--trace 0|1]

Both revs are checked out as detached worktrees under ``.tmp/ab/`` and
removed on exit. Pair k (k = 1 .. pairs) runs the ``BENCHMARK.json``
command on seed ``first_seed + k - 1`` in each, the parent first on odd
k. ``--first-seed`` lets a claim be re-checked on seeds that were not
used while the change was written. Prints one JSON line: the seeds run;
per metric, the pairs' values, both medians, the parent's IQR, each
side's wins and the verdicts of :func:`summarize`; and each side's
``failed`` count (failed operations, plus one per run that printed no
result).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AB_DIR = os.path.join(REPO, ".tmp", "ab")
SIDES = ("parent", "change")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def load_benchmark() -> tuple[list, dict]:
    """The benchmark command, and ``{metric: {"better", "bound"}}`` over
    the end-to-end and per-layer metrics (per-layer ones have no bound)."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: {"better": m["better"], "bound": m.get("bound")}
            for m in bench["end_to_end"] + bench["per_layer"]}
    return bench["command"], spec


def _iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q3 - q1


def summarize(pairs: list[tuple[dict | None, dict | None]], spec: dict) -> dict:
    """Verdicts over ``(parent, change)`` result pairs. A result is
    perfbench's ``{"failed", "metrics": {name: {"value"}}}``, or None for
    a run that printed none. Ties count for neither side.

    - ``gain``: the change wins at least 9/10 of the pairs, and its
      median beats the parent's by more than the parent's IQR;
    - ``no_regression``: ``ok`` when the change's median is worse than
      the parent's by at most the metric's bound, else ``regression``;
      ``unresolved`` when the parent's IQR exceeds the bound, unless
      every change run beats every parent run; ``None`` without a bound
      (per-layer metrics)."""
    failed = {side: sum(1 if pair[i] is None else pair[i]["failed"] for pair in pairs)
              for i, side in enumerate(SIDES)}
    names = {n for pair in pairs for r in pair if r for n in r["metrics"]}
    out = {}
    for name in sorted(n for n in names if n in spec):
        lower = spec[name]["better"] == "lower"
        bound = spec[name]["bound"]
        vals = [tuple(r["metrics"][name]["value"] if r and name in r["metrics"] else None
                      for r in pair) for pair in pairs]
        p = [v[0] for v in vals if v[0] is not None]
        c = [v[1] for v in vals if v[1] is not None]
        both = [v for v in vals if None not in v]
        # signed gain of the change over the parent: positive is better
        gain_of = (lambda pv, cv: pv - cv) if lower else (lambda pv, cv: cv - pv)
        c_wins = sum(gain_of(pv, cv) > 0 for pv, cv in both)
        p_wins = sum(gain_of(pv, cv) < 0 for pv, cv in both)
        m = {"parent": [v[0] for v in vals], "change": [v[1] for v in vals],
             "parent_median": None, "change_median": None, "parent_iqr": _iqr(p),
             "change_wins": c_wins, "parent_wins": p_wins,
             "gain": False, "no_regression": None}
        if p and c:
            p_med, c_med, p_iqr = statistics.median(p), statistics.median(c), m["parent_iqr"]
            m.update(parent_median=p_med, change_median=c_med)
            m["gain"] = c_wins >= 0.9 * len(pairs) and gain_of(p_med, c_med) > p_iqr
            if bound is not None:
                worse = -gain_of(p_med, c_med) / abs(p_med) if p_med else 0.0
                dominates = min(gain_of(pv, cv) for pv in p for cv in c) > 0
                if p_med and p_iqr / abs(p_med) > bound and not dominates:
                    m["no_regression"] = "unresolved"
                else:
                    m["no_regression"] = "ok" if worse <= bound else "regression"
        out[name] = m
    return {"pairs": len(pairs), "failed": failed, "metrics": out}


def _git(*args: str, check: bool = True) -> str:
    return subprocess.run(["git", *args], cwd=REPO, check=check, capture_output=True,
                          text=True).stdout.strip()


def _run(command: list, tree: str, args, seed: int) -> dict | None:
    cmd = [*command, "--workload", args.workload, "--seed", str(seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace)]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    try:
        return json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        log(f"[ab] {' '.join(cmd)} in {tree} exited {proc.returncode} without a result:")
        log("\n".join(proc.stderr.splitlines()[-20:]))
        return None


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True, choices=["bulk_replay", "trickle_replay"])
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if args.pairs < 1:
        p.error("--pairs must be at least 1")
    command, spec = load_benchmark()
    revs = {side: _git("rev-parse", "--verify", f"{rev}^{{commit}}")
            for side, rev in zip(SIDES, (args.parent, args.change))}
    seeds = list(range(args.first_seed, args.first_seed + args.pairs))
    # SIGTERM unwinds through the finally below like an error does
    prev_handler = signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    trees = {}
    try:
        for side in SIDES:
            tree = os.path.join(AB_DIR, f"{side}-{os.getpid()}")
            _git("worktree", "add", "--detach", tree, revs[side])
            trees[side] = tree
        pairs = []
        for k, seed in enumerate(seeds, start=1):
            result = {}
            for side in SIDES if k % 2 else SIDES[::-1]:
                result[side] = r = _run(command, trees[side], args, seed)
                log(f"[ab] seed {seed} {side}: {json.dumps(r)}")
            pairs.append((result["parent"], result["change"]))
        print(json.dumps({"workload": args.workload, "revs": revs, "seeds": seeds,
                          "seconds": args.seconds, "trace": args.trace,
                          **summarize(pairs, spec)}), flush=True)
        return 0
    finally:
        for tree in trees.values():
            _git("worktree", "remove", "--force", tree, check=False)
        signal.signal(signal.SIGTERM, prev_handler)


if __name__ == "__main__":
    raise SystemExit(main())

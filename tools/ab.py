"""Commit-vs-commit A/B of one perfbench workload.

    python3 tools/ab.py REV_A REV_B WORKLOAD [--pairs N] [--first-seed S]

REV_A is the parent, REV_B the change. Each revision is exported with
``git archive`` into a temporary directory (removed on exit) and runs its
own ``perfbench/run.py --workload WORKLOAD --seed S+i --seconds <run_seconds>``
for pair i, one run at a time: A first on even pairs, B first on odd ones,
so load drift on a shared machine falls on both sides alike.

For every end-to-end metric in BENCHMARK.json it prints each side's median
[Q1, Q3] (inclusive quartiles), the change in the median, the pairs the
change won (ties count for neither side) and a verdict: ``gain`` when the
change wins at least nine tenths of the pairs and its median moved the
better way by more than the parent's interquartile range, ``worse`` when
the change's median is worse than the parent's by more than the metric's
bound, else ``inside noise``. A run that exits non-zero, reports
``correct: false`` or ends without a JSON result line is listed and counted
as failed. The exit code is 0 only if no run failed and no metric is worse.

Two context lines per side, which carry no verdict, give the cold cost
that a set-up hides: the median [Q1, Q3] of the warm-up seconds and of
operation 1's wall seconds, read from perfbench's log on stderr
(``setup: X s, then warm-up Y s`` and ``op 1: wall Z s``).
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import statistics
import subprocess
import sys
import tarfile
import tempfile
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@dataclass
class Run:
    side: str
    seed: int
    code: int
    result: dict | None = None
    why: str = ""
    metrics: dict = field(default_factory=dict)
    cold: dict = field(default_factory=dict)


# Context read from perfbench's log: name -> pattern with the seconds as group 1.
COLD = {
    "warm-up": re.compile(r"\bsetup: [\d.]+ s, then warm-up ([\d.]+) s"),
    "op 1 wall": re.compile(r"\bop 1(?: traced)?: wall ([\d.]+) s"),
}


def export(rev: str, dest: str) -> None:
    """Extract the committed tree of ``rev`` into ``dest``."""
    tar = subprocess.run(["git", "archive", rev], cwd=ROOT, capture_output=True, check=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")


def run_one(tree: str, workload: str, seed: int, seconds: float) -> tuple[int, str, str]:
    """One perfbench run in ``tree``: (exit code, stdout, stderr)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", f"{seconds:g}"],
        cwd=tree, capture_output=True, text=True,
    )
    return p.returncode, p.stdout, p.stderr


def parse(side: str, seed: int, code: int, out: str, err: str) -> Run:
    run = Run(side, seed, code)
    lines = out.strip().splitlines()
    try:
        run.result = json.loads(lines[-1])
        run.metrics = {k: v["value"] for k, v in run.result["metrics"].items()}
    except (IndexError, ValueError, TypeError, KeyError, AttributeError):
        run.result, run.why = None, "no JSON result line"
    if run.result is not None and run.result.get("correct") is not True:
        run.why = f"correct: {json.dumps(run.result.get('correct'))}"
    elif code != 0 and not run.why:
        run.why = f"exit {code}"
    if run.why:
        run.metrics = {}
        tail = err.strip().splitlines()
        run.why += f" ({tail[-1][:160]})" if tail else ""
        return run
    for name, pattern in COLD.items():
        m = pattern.search(err)
        if m:
            run.cold[name] = float(m.group(1))
    return run


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3), inclusive method."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(v: float) -> str:
    return f"{v / 1000:.1f}k" if abs(v) >= 10_000 else f"{v:.4g}"


def compare(metric: dict, pairs: list[tuple[Run, Run]]) -> tuple[str, str]:
    """(report line, verdict) for one end-to-end metric over the pairs."""
    name, higher = metric["name"], metric["better"] == "higher"
    a = [ra.metrics[name] for ra, _ in pairs if name in ra.metrics]
    b = [rb.metrics[name] for _, rb in pairs if name in rb.metrics]
    if not a or not b:
        return f"`{name}`: no values (A {len(a)}, B {len(b)})", "no values"
    wins = sum(
        1 for ra, rb in pairs
        if name in ra.metrics and name in rb.metrics
        and (rb.metrics[name] > ra.metrics[name]) == higher
        and rb.metrics[name] != ra.metrics[name]
    )
    (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
    delta = (bm - am) / am if am else 0.0
    worse_by = -delta if higher else delta
    if wins >= 0.9 * len(pairs) and worse_by < 0 and abs(bm - am) > a3 - a1:
        verdict = "gain"
    elif worse_by > metric["bound"]:
        verdict = "worse"
    else:
        verdict = "inside noise"
    line = (
        f"`{name}` {fmt(am)} [{fmt(a1)}, {fmt(a3)}] → {fmt(bm)} [{fmt(b1)}, {fmt(b3)}] "
        f"{metric['unit']} ({delta * 100:+.1f}%, change wins {wins}/{len(pairs)}): {verdict}"
    )
    return line, verdict


def report(rev_a: str, rev_b: str, workload: str, seeds: list[int], seconds: float,
           metrics: list[dict], pairs: list[tuple[Run, Run]]) -> tuple[str, bool]:
    """The printed block, and whether the A/B is clean (no failed run, nothing worse)."""
    out = [
        f"tools/ab.py {rev_a} → {rev_b}, `{workload}`, {len(pairs)} pairs, "
        f"seeds {seeds[0]}-{seeds[-1]}, --seconds {seconds:g}, alternating order, "
        f"medians [Q1, Q3] (inclusive quartiles), change wins:"
    ]
    verdicts = []
    for m in metrics:
        line, verdict = compare(m, pairs)
        out.append(f"  {line}")
        verdicts.append(verdict)
    runs = [r for p in pairs for r in p]
    failed = [r for r in runs if r.why]
    for side in ("A", "B"):
        mine = [r for r in runs if r.side == side and r.result]
        ops = sum(r.result.get("attempted", 0) for r in mine)
        bad = sum(r.result.get("failed", 0) for r in mine)
        out.append(
            f"  {side}: {sum(1 for r in failed if r.side == side)}/{len(pairs)} runs failed, "
            f"{bad}/{ops} operations failed"
        )
    for side in ("A", "B"):
        for name in COLD:
            xs = [r.cold[name] for r in runs if r.side == side and name in r.cold]
            if xs:
                q1, q2, q3 = quartiles(xs)
                shown = f"{fmt(q2)} [{fmt(q1)}, {fmt(q3)}] s over {len(xs)} runs"
            else:
                shown = "no values"
            out.append(f"  context {side} {name}: {shown}")
    for r in failed:
        out.append(f"  FAILED {r.side} seed {r.seed} exit {r.code}: {r.why}")
    return "\n".join(out), not failed and "worse" not in verdicts


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    seeds = [args.first_seed + i for i in range(args.pairs)]
    pairs = []
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = {"A": os.path.join(tmp, "a"), "B": os.path.join(tmp, "b")}
        export(args.rev_a, trees["A"])
        export(args.rev_b, trees["B"])
        for i, seed in enumerate(seeds):
            runs = {}
            for side in ("AB" if i % 2 == 0 else "BA"):
                run = parse(side, seed, *run_one(trees[side], args.workload, seed, seconds))
                runs[side] = run
                shown = " ".join(f"{k}={v:.4g}" for k, v in sorted(run.metrics.items()))
                print(f"pair {i} {side} seed {seed}: {run.why or shown}", file=sys.stderr, flush=True)
            pairs.append((runs["A"], runs["B"]))
    text, clean = report(args.rev_a, args.rev_b, args.workload, seeds, seconds,
                         bench["end_to_end"], pairs)
    print(text)
    return 0 if clean else 1


if __name__ == "__main__":
    sys.exit(main())

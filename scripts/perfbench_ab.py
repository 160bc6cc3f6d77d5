"""Interleaved A/B of ``perfbench/run.py``: a parent commit against the
working tree, on the same seeds.

  python3 scripts/perfbench_ab.py --workload live --seeds 101-110 \\
      [--parent HEAD] [--seconds 15] [--trace 0] [--workdir DIR] [--out runs.jsonl]

The parent side runs from a ``git archive`` export of ``--parent`` in a
fresh temporary directory (under ``--workdir`` if given), the change side
from the working tree. Pair k runs parent first when k is even and change
first when k is odd. Every run is printed as it ends and, with ``--out``,
appended as one JSON line. A run that exits non-zero or prints no JSON
(``live`` does so when its backlog check trips) is recorded as failed with
the tail of its stderr, never re-run.

The summary gives each side's share of failed operations (``failed`` over
``attempted``, summed over the runs that printed a result) and, per
metric, each side's median and quartiles over its successful runs, the
pairs the change won (ties and pairs with a failed or incorrect run count
for neither side) and the verdict: a gain is shown when at least 10 pairs
ran, the change won at least 9 of every 10 and the medians differ, in the better direction, by more than the parent's interquartile
range. End-to-end metrics also show the change of the median against the
bound ``BENCHMARK.json`` fixes. Nothing under ``perfbench/`` is changed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export_commit(rev: str, dest: str) -> None:
    """Write the committed files of ``rev`` into ``dest``."""
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"git archive {rev} failed")


def run_once(root: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    try:
        proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=1800)
    except subprocess.TimeoutExpired:
        return {"ok": False, "error": "timed out after 1800 s"}
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        out = None
    if proc.returncode != 0 or not isinstance(out, dict):
        tail = [ln for ln in proc.stderr.splitlines() if ln.strip()][-3:]
        return {"ok": False, "returncode": proc.returncode, "error": " | ".join(tail)}
    return {"ok": bool(out["correct"]), "correct": out["correct"], "attempted": out["attempted"],
            "failed": out["failed"], "metrics": {n: m["value"] for n, m in out["metrics"].items()}}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], bench: dict) -> None:
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    pairs: dict[int, dict[str, dict]] = {}
    for r in runs:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    names = sorted({n for r in runs if r["ok"] for n in r["metrics"]})
    bad = ", ".join(f"{r['side']} {r['seed']}" for r in runs if not r["ok"])
    print(f"\n{len(pairs)} pairs; failed or incorrect runs: {bad or 'none'}")
    for side in SIDES:
        done = [r for r in runs if r["side"] == side and "attempted" in r]
        failed, attempted = sum(r["failed"] for r in done), sum(r["attempted"] for r in done)
        share = f"{100 * failed / attempted:.2f} %" if attempted else "-"
        print(f"{side}: failed/attempted operations {failed}/{attempted} ({share}) over {len(done)} runs "
              f"that printed a result, {sum(r['side'] == side for r in runs) - len(done)} that did not")
    print(f"{'metric':40} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} {'wins':>7}  verdict")
    for name in names:
        vals = {s: [r["metrics"][name] for r in runs if r["side"] == s and r["ok"]] for s in SIDES}
        if not all(vals.values()):
            continue
        q = {s: quartiles(vals[s]) for s in SIDES}
        sign = {"lower": -1, "higher": 1}.get(better.get(name, ""), 0)
        wins = sum(
            1 for p in pairs.values()
            if all(s in p and p[s]["ok"] for s in SIDES)
            and sign * (p["change"]["metrics"][name] - p["parent"]["metrics"][name]) > 0
        )
        diff = q["change"][1] - q["parent"][1]
        verdict = "-" if len(pairs) >= 10 else "too few pairs"
        if verdict == "-" and sign and wins >= math.ceil(0.9 * len(pairs)) \
                and sign * diff > q["parent"][2] - q["parent"][0]:
            verdict = "gain shown"
        if name in bounds and q["parent"][1]:
            worse = -sign * diff / abs(q["parent"][1])
            verdict += f"; median {100 * diff / q['parent'][1]:+.1f} % ({'OUTSIDE' if worse > bounds[name] else 'inside'} bound {bounds[name]:.0%})"
        cells = [f"{q[s][1]:.4g} [{q[s][0]:.4g}, {q[s][2]:.4g}] n={len(vals[s])}" for s in SIDES]
        print(f"{name:40} {cells[0]:>30} {cells[1]:>30} {wins:>3}/{len(pairs):<3}  {verdict}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 101-110 or 101,103")
    ap.add_argument("--parent", default="HEAD", help="commit to compare the working tree against")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workdir", default=None, help="where the parent export goes (default: a temp dir)")
    ap.add_argument("--out", default=None, help="append every run here as one JSON line")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tmp = tempfile.mkdtemp(prefix="perfbench-ab-", dir=args.workdir)
    try:
        roots = {"parent": os.path.join(tmp, "parent"), "change": ROOT}
        export_commit(args.parent, roots["parent"])
        runs = []
        for k, seed in enumerate(parse_seeds(args.seeds)):
            for side in SIDES if k % 2 == 0 else SIDES[::-1]:
                r = {"workload": args.workload, "seed": seed, "side": side, "trace": args.trace,
                     **run_once(roots[side], args.workload, seed, args.seconds, args.trace)}
                runs.append(r)
                shown = r.get("metrics") or r.get("error")
                print(f"{args.workload} seed={seed} {side}: ok={r['ok']} {json.dumps(shown)}", flush=True)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
        summarize(runs, bench)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

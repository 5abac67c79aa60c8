#!/usr/bin/env python
"""A/B the viewer-traffic benchmark: a parent commit against this checkout.

Usage (from the repository root):

    python tools/ab_perfbench.py --workload session --seed-start 81 [--pairs 10]
        [--parent HEAD]

The parent commit is exported with ``git archive`` into a temporary
directory; the change is the checkout this script lives in, as it stands.
Pair ``i`` runs ``perfbench/run.py --workload W --seed <seed-start + i>
--seconds S --trace 0`` on both sides, S being ``BENCHMARK.json``'s
``run_seconds``, one run at a time; even pairs run the
parent first, odd pairs the change first. Each run's end-to-end metrics
(those ``BENCHMARK.json`` lists under ``end_to_end``) are read from its JSON
result line.

Per metric the summary gives each side's median and quartiles, the pairs the
change won (ties count for neither side), the median gap against the
parent's quartile spread, the change in percent, and two verdicts:

- ``gain``: at least 10 pairs, the change won at least nine tenths of them,
  and the medians differ in its favour by more than the parent's quartile
  spread;
- ``in_bound``: ``"unresolved"`` when the parent's quartile spread is wider
  than the metric's bound (the runs cannot tell a move of that size) and not
  every change run beats every parent run; otherwise ``"yes"`` when the
  change's median is worse than the parent's by no more than the bound,
  else ``"no"``.

Readable lines go to stdout as the runs finish; the last line is the summary
as JSON.
"""

from __future__ import annotations

import argparse
import io
import json
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text())
#: fewest pairs a gain may be claimed on
MIN_PAIRS = 10


def export_commit(rev: str, dest: Path) -> None:
    """Write the files of commit ``rev`` into ``dest``."""
    blob = subprocess.run(
        ["git", "-C", str(ROOT), "archive", rev], check=True, capture_output=True
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(blob)) as tar:
        tar.extractall(dest, filter="data")


def run_bench(checkout: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``checkout``: its JSON result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          timeout=600 + 20 * seconds)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} in {checkout} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(values: list) -> tuple:
    q1, median, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, median, q3


def summarize(spec: dict, parent: list, change: list) -> dict:
    """The A/B verdict for one metric over paired runs (pair i is
    ``parent[i]`` against ``change[i]``)."""
    sign = 1.0 if spec["better"] == "lower" else -1.0
    p_q1, p_med, p_q3 = quartiles(parent)
    c_q1, c_med, c_q3 = quartiles(change)
    wins = sum(sign * (p - c) > 0 for p, c in zip(parent, change))
    gap = sign * (p_med - c_med)  # positive when the change is better
    spread = p_q3 - p_q1
    if spread > spec["bound"] * p_med and not all(
            sign * (p - c) > 0 for p in parent for c in change):
        in_bound = "unresolved"
    else:
        in_bound = "yes" if -gap <= spec["bound"] * p_med else "no"
    return {
        "parent": {"median": p_med, "q1": p_q1, "q3": p_q3, "runs": parent},
        "change": {"median": c_med, "q1": c_q1, "q3": c_q3, "runs": change},
        "pairs": len(parent),
        "wins": wins,
        "gap": gap,
        "parent_spread": spread,
        "change_pct": 100.0 * (c_med - p_med) / p_med,
        "gain": len(parent) >= MIN_PAIRS and wins >= 0.9 * len(parent) and gap > spread,
        "in_bound": in_bound,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed-start", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--parent", default="HEAD")
    args = ap.parse_args(argv)
    specs = BENCHMARK["end_to_end"]

    runs = {"parent": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="ab-perfbench-") as tmp:
        sides = {"parent": Path(tmp), "change": ROOT}
        export_commit(args.parent, sides["parent"])
        for i in range(args.pairs):
            seed = args.seed_start + i
            for side in ("parent", "change") if i % 2 == 0 else ("change", "parent"):
                out = run_bench(sides[side], args.workload, seed, BENCHMARK["run_seconds"])
                runs[side].append(out)
                values = " ".join(f"{s['name']}={out['metrics'][s['name']]['value']}"
                                  for s in specs)
                print(f"pair {i} seed {seed} {side}: {values} "
                      f"failed={out['failed']}/{out['attempted']}", flush=True)

    summary = {"workload": args.workload, "parent": args.parent,
               "seeds": [args.seed_start, args.seed_start + args.pairs - 1],
               "failed": {side: sum(r["failed"] for r in rs) for side, rs in runs.items()},
               "attempted": {side: sum(r["attempted"] for r in rs) for side, rs in runs.items()},
               "metrics": {}}
    for spec in specs:
        name = spec["name"]
        per_side = {side: [r["metrics"][name]["value"] for r in rs] for side, rs in runs.items()}
        s = summarize(spec, per_side["parent"], per_side["change"])
        summary["metrics"][name] = s
        print(f"{name} ({spec['unit']}, {spec['better']} is better): "
              f"parent {s['parent']['median']:.2f} [{s['parent']['q1']:.2f}-{s['parent']['q3']:.2f}] "
              f"change {s['change']['median']:.2f} [{s['change']['q1']:.2f}-{s['change']['q3']:.2f}] "
              f"{s['change_pct']:+.1f}%, change won {s['wins']}/{s['pairs']}, "
              f"gap {s['gap']:.2f} vs parent spread {s['parent_spread']:.2f}: "
              f"gain {'yes' if s['gain'] else 'no'}, "
              f"within bound {spec['bound']:.0%} {s['in_bound']}")
    print(f"failed parent {summary['failed']['parent']}/{summary['attempted']['parent']}, "
          f"change {summary['failed']['change']}/{summary['attempted']['change']}")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())

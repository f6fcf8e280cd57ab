"""Repeat the benchmark over seeds and summarise each metric's spread, or
A/B two checkouts with alternating runs.

    # ten seeds on one workload, spread of each end-to-end metric vs its bound
    python3 perfbench/spread.py --workload curation --seeds 1-10

    # A/B: alternate runs of two checkouts (parent first in the first pair)
    python3 perfbench/spread.py --workload curation --seeds 1-10 \\
        --root ../parent --root .

Each run is this directory's ``run.py`` started from the given checkout
root, so both sides of an A/B run the same benchmark code, with
``run_seconds`` from BENCHMARK.json. Results are printed as one table per
root and, with two roots, the change's median against the parent's with
the metric's bound, the pairs the change wins, and a verdict that reads
``unresolved`` when the runs are too noisy to judge (see ``ab_verdict``).
Each run's host steal is printed beside its metrics.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def summarize(runs: list[dict], specs: list[dict]) -> list[dict]:
    """Median, quartiles and spread of each metric over ``runs``; ``ok`` when
    the spread stays within the metric's bound (metrics without one pass),
    ``exact`` when every run read the same value."""
    rows = []
    for s in specs:
        vals = [r[s["name"]] for r in runs if s["name"] in r]
        if not vals:
            continue
        q1, q2, q3 = stats.quartiles(vals)
        share = stats.iqr_share(vals)
        bound = s.get("bound")
        rows.append({
            "name": s["name"], "n": len(vals), "q1": q1, "median": q2, "q3": q3,
            "spread": share, "bound": bound, "ok": bound is None or share <= bound,
            "exact": len(set(vals)) == 1,
        })
    return rows


def ab_verdict(base: list[float], new: list[float], bound: float, better: str) -> dict:
    """Judge the change's runs ``new`` against the parent's runs ``base``,
    paired by seed.

    ``unresolved`` when either side's own spread exceeds the bound, unless
    every run of one side beats every run of the other; otherwise
    ``worse`` when the change's median is worse than the parent's by more
    than the bound, and ``ok`` when it is not. ``wins`` counts the pairs the
    change wins."""
    worse = stats.worse_by(stats.median(base), stats.median(new), better)
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(sign * (n - b) < 0 for b, n in zip(base, new))
    separated = max(base) < min(new) or max(new) < min(base)
    noisy = stats.iqr_share(base) > bound or stats.iqr_share(new) > bound
    if noisy and not separated:
        verdict = "unresolved"
    else:
        verdict = "worse" if worse > bound else "ok"
    return {"verdict": verdict, "worse": worse, "wins": wins, "pairs": min(len(base), len(new))}


def _seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(root: Path, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"run failed: {root} {workload} seed {seed}")
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        sys.stderr.write(proc.stderr[-3000:])
    out = {k: m["value"] for k, m in res["metrics"].items()}
    out["_correct"], out["_failed"] = res["correct"], res["failed"]
    steal = re.search(r"^host\.steal_frac ([0-9.eE+-]+)$", proc.stderr, re.M)
    out["_steal"] = float(steal.group(1)) if steal else float("nan")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", action="append", type=Path,
                    help="checkout to run; give two for an A/B (parent, change)")
    ap.add_argument("--json", type=Path, help="write every run's metrics here")
    args = ap.parse_args()
    roots = args.root or [Path.cwd()]
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    specs = spec["end_to_end"] if not args.trace else spec["per_layer"]

    results: dict[int, list[dict]] = {i: [] for i in range(len(roots))}
    for k, seed in enumerate(_seeds(args.seeds)):
        order = list(range(len(roots)))
        if k % 2:
            order.reverse()
        for i in order:
            r = run_once(roots[i], args.workload, seed, spec["run_seconds"], args.trace)
            results[i].append(r)
            print(f"root {i} seed {seed}: steal={r['_steal']:.4f} " + " ".join(
                f"{s['name']}={r[s['name']]:.4g}" for s in specs[:8] if s["name"] in r
            ), file=sys.stderr, flush=True)

    tables = {i: summarize(rs, specs) for i, rs in results.items()}
    for i, rows in tables.items():
        print(f"== {roots[i]} ({args.workload}, {len(results[i])} runs)")
        for row in rows:
            flag = "" if row["ok"] else "  SPREAD > BOUND"
            if args.trace and row["exact"]:
                flag += "  (repeats exactly)"
            print(f"{row['name']:34s} median {row['median']:12.4f}  IQR/median "
                  f"{row['spread']:.4f}  (bound {row['bound']}){flag}")
        steal = [r["_steal"] for r in results[i]]
        print(f"{'host.steal_frac (per run)':34s} " + " ".join(f"{v:.4f}" for v in steal))
    if len(roots) == 2:
        print("== change vs parent (runs paired by seed)")
        for s in specs:
            base = [r[s["name"]] for r in results[0] if s["name"] in r]
            new = [r[s["name"]] for r in results[1] if s["name"] in r]
            if not base or not new or s.get("bound") is None:
                continue
            v = ab_verdict(base, new, s["bound"], s["better"])
            print(f"{s['name']:34s} {stats.median(base):12.4f} -> {stats.median(new):12.4f}  "
                  f"worse by {v['worse']:+.4f} (bound {s['bound']})  change wins "
                  f"{v['wins']}/{v['pairs']} pairs  {v['verdict'].upper()}")
    if args.json:
        args.json.write_text(json.dumps({str(roots[i]): rs for i, rs in results.items()}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

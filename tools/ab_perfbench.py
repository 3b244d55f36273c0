"""Interleaved A/B of ``perfbench/run.py`` between two source checkouts.

Runs N pairs of ``python3 perfbench/run.py --workload W --seconds S
--seed s`` (pair i takes seed ``--seed0 + i``), once in each checkout,
alternating which side runs first, so host drift lands on both sides
alike.  Each run builds what it runs from its own checkout, as the
benchmark does.  Prints, per end-to-end metric of ``BENCHMARK.json``,
each side's median [q1, q3], the change's ratio and in how many pairs
the change was better, then each side's median of every raw op median
and every run's correctness.

Usage:
  python tools/ab_perfbench.py --base ../parent --workload sql_durable --pairs 8
  python tools/ab_perfbench.py --base ../parent --change . --workload llm_heads \\
      --pairs 3 --seed0 300 --out ab.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_RAW_OPS = "raw op medians (s): "


def run_once(checkout: str, workload: str, seconds: float, seed: int) -> dict:
    """One perfbench run in `checkout`: its JSON result line plus
    ``raw_ops``, the run's raw op medians."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seconds", str(seconds),
           "--seed", str(seed)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{checkout}: {' '.join(cmd)} exited {p.returncode}")
    out = json.loads(lines[-1])
    raw = next((ln[len(_RAW_OPS):] for ln in lines if ln.startswith(_RAW_OPS)), "")
    out["raw_ops"] = {k: float(v) for k, v in (kv.split("=") for kv in raw.split(", ") if kv)}
    return out


def spread(vals: list[float]) -> str:
    """``median [q1, q3]`` of `vals`."""
    q = statistics.quantiles(vals, n=4, method="inclusive") if len(vals) > 1 else vals * 3
    return f"{statistics.median(vals):.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=ROOT, help="checkout of the change (default: this one)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=8)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", help="append every run's result to this JSONL file")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        better = {m["name"]: m["better"] for m in json.load(fh)["end_to_end"]}
    sides = {"base": args.base, "change": args.change}
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            r = run_once(sides[side], args.workload, args.seconds, seed)
            runs[side].append(r)
            m = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
            print(f"pair {i + 1} seed {seed} {side}: {m} correct={r['correct']}", flush=True)
            if args.out:
                with open(args.out, "a") as fh:
                    fh.write(json.dumps({"side": side, "seed": seed, **r}) + "\n")

    print(f"\n{args.workload}: {args.pairs} pairs, base {args.base} -> change {args.change}")
    for name, how in better.items():
        b = [r["metrics"][name]["value"] for r in runs["base"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        wins = sum((y > x) if how == "higher" else (y < x) for x, y in zip(b, c))
        ratio = statistics.median(c) / statistics.median(b)
        print(f"  {name}: {spread(b)} -> {spread(c)} (x{ratio:.3f}), change better in {wins}/{len(b)}")
    print("  raw op medians (s), median over runs:")
    for op in sorted(runs["base"][0]["raw_ops"]):
        b = statistics.median(r["raw_ops"][op] for r in runs["base"])
        c = statistics.median(r["raw_ops"][op] for r in runs["change"])
        print(f"    {op}: {b:.4f} -> {c:.4f}")
    for side, rs in runs.items():
        print(f"  {side}: correct {sum(r['correct'] for r in rs)}/{len(rs)}, "
              f"failed ops {sum(r['failed'] for r in rs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Alternating A/B pairs of the repository benchmark, and their verdict.

Runs `perfbench/run.py` in two checkouts, a parent and a change, one run
at a time: pair 0 runs the parent first, pair 1 the change first, and so
on, each pair on its own seed. Every result line is appended to a JSONL
log. Then it prints, per end-to-end metric of `BENCHMARK.json`, both
sides' median [q1, q3], the change/parent ratio of the medians, the
per-pair change/parent ratios as median [min, max] and the pairs the
change won (ties count for neither side).

    tools/ab_pairs.py --parent DIR --change DIR --workload cdc_uniform \\
        --seeds 501-510 [--seconds 12] [--log ab.jsonl] [--claim visible_p50_ms]
    tools/ab_pairs.py --summarize ab.jsonl [--claim visible_p50_ms]

Flags: any run that exited non-zero or has `correct: false` or
`failed > 0`; any metric whose
change median is worse than the parent's by more than its bound. With
`--claim`, the verdict: the change must win at least 9 of 10 pairs and
the medians must differ, in the better direction, by more than the
parent's q3 - q1. `BENCHMARK.json` is only read. Exit 0 when no run is
flagged, no bound is exceeded and any claim is met.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list:
    """`501-510` or `501,503,507` (or a mix) as a list of ints."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_one(side: str, root: str, workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "failed": None, "metrics": {},
                  "error": proc.stderr.strip().splitlines()[-1:]}
    return {"side": side, "workload": workload, "seed": seed,
            "rc": proc.returncode, "result": result}


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def spread(q: tuple) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def summarize(entries: list, bench: dict, claim) -> bool:
    """Print the table for every workload in `entries`; True if clean."""
    ok = True
    for e in entries:
        r = e["result"]
        if e["rc"] != 0 or not r.get("correct") or r.get("failed"):
            ok = False
            print(f"FLAG {e['workload']} seed {e['seed']} {e['side']}: "
                  f"correct={r.get('correct')} failed={r.get('failed')} rc={e['rc']}")
    for workload in sorted({e["workload"] for e in entries}):
        runs = {(e["side"], e["seed"]): e["result"].get("metrics", {})
                for e in entries if e["workload"] == workload}
        seeds = sorted({s for _, s in runs
                        if ("parent", s) in runs and ("change", s) in runs})
        print(f"\n{workload}: {len(seeds)} pairs, seeds {seeds[0] if seeds else '-'}"
              f"..{seeds[-1] if seeds else '-'}")
        print(f"{'metric':16s} {'parent median [q1, q3]':>30s} "
              f"{'change median [q1, q3]':>30s} {'ratio':>6s} "
              f"{'pair ratio [min, max]':>24s} {'wins':>6s}")
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            pairs = [(runs[("parent", s)].get(name, {}).get("value"),
                      runs[("change", s)].get(name, {}).get("value")) for s in seeds]
            pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
            if not pairs:
                continue
            pq, cq = quartiles([p for p, _ in pairs]), quartiles([c for _, c in pairs])
            wins = sum((c < p) if lower else (c > p) for p, c in pairs)
            ratio = cq[1] / pq[1] if pq[1] else float("inf")
            per_pair = sorted(c / p if p else float("inf") for p, c in pairs)
            pair_ratios = (f"{statistics.median(per_pair):.3f} "
                           f"[{per_pair[0]:.3f}, {per_pair[-1]:.3f}]")
            worse = ratio - 1 if lower else 1 - ratio
            flag = ""
            if worse > m["bound"]:
                ok, flag = False, f"  WORSE than bound {m['bound']}"
            print(f"{name:16s} {spread(pq):>30s} {spread(cq):>30s} "
                  f"{ratio:6.3f} {pair_ratios:>24s} {wins:>3d}/{len(pairs)}{flag}")
            if name == claim:
                gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
                met = wins >= 0.9 * len(pairs) and gap > pq[2] - pq[0]
                ok = ok and met
                print(f"CLAIM {name}: {'MET' if met else 'NOT MET'} — wins "
                      f"{wins}/{len(pairs)} (need >= {0.9 * len(pairs):g}), median gap "
                      f"{gap:.4g} vs parent q3-q1 {pq[2] - pq[0]:.4g}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 501-510")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--log", default="ab_pairs.jsonl")
    ap.add_argument("--claim", help="end-to-end metric the change claims")
    ap.add_argument("--summarize", metavar="LOG", help="only recompute from LOG")
    ap.add_argument("--benchmark", default=os.path.join(ROOT, "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.benchmark) as f:
        bench = json.load(f)
    if a.summarize:
        with open(a.summarize) as f:
            entries = [json.loads(line) for line in f if line.strip()]
    else:
        if not (a.parent and a.change and a.workload and a.seeds):
            ap.error("--parent, --change, --workload and --seeds are required")
        seconds = a.seconds or bench["run_seconds"]
        entries = []
        for i, seed in enumerate(parse_seeds(a.seeds)):
            order = [("parent", a.parent), ("change", a.change)]
            for side, root in (order if i % 2 == 0 else order[::-1]):
                e = run_one(side, root, a.workload, seed, seconds)
                e["pair"] = i
                entries.append(e)
                with open(a.log, "a") as f:
                    f.write(json.dumps(e) + "\n")
                v = e["result"].get("metrics", {}).get(a.claim or "", {}).get("value")
                print(f"pair {i} seed {seed} {side}: rc={e['rc']} correct="
                      f"{e['result'].get('correct')} failed={e['result'].get('failed')}"
                      + (f" {a.claim}={v:.4g}" if v is not None else ""), flush=True)
    return 0 if summarize(entries, bench, a.claim) else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Run each workload with several seeds and report each end-to-end
metric's spread: the distance between the first and third quartile of
its values (statistics.quantiles, n=4) over their median, beside the
metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py [--seeds 1-10] [--seconds N] [--trace 0|1]
                                    [--workloads a,b] [--out file.jsonl]

Runs are sequential; each result line is appended to --out as JSON
({"workload", "seed", "wall_s", "result"}), so an interrupted sweep keeps
what it measured. With --report-only the script only summarizes --out.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(text):
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=HERE.parent, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "wall_s": time.time() - t0,
            "rc": p.returncode, "result": result}


def report(rows):
    bounds = {m["name"]: m.get("bound") for m in SPEC["end_to_end"]}
    by = {}
    for r in rows:
        by.setdefault(r["workload"], []).append(r)
    for w, rs in by.items():
        ok = [r for r in rs if r["result"]]
        walls = [r["wall_s"] for r in rs]
        print(f"{w}: {len(rs)} runs, {sum(r['result']['correct'] for r in ok)} correct, "
              f"mean run wall {statistics.mean(walls):.1f} s")
        metrics = ok[0]["result"]["metrics"] if ok else {}
        for m in metrics:
            v = [r["result"]["metrics"][m]["value"] for r in ok]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) >= 2 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("nan")
            b = bounds.get(m)
            flag = "" if b is None or spread < b / 3 else "  (above a third of the bound)"
            print(f"  {m:16s} median {med:12.4f}  spread {spread:6.3f}  bound {b}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--out", default=str(HERE / ".out" / "steadiness.jsonl"))
    ap.add_argument("--report-only", action="store_true")
    args = ap.parse_args()
    out = Path(args.out)
    if not args.report_only:
        out.parent.mkdir(parents=True, exist_ok=True)
        for w in args.workloads.split(","):
            for s in seeds(args.seeds):
                r = run(w, s, args.seconds, args.trace)
                with open(out, "a") as f:
                    f.write(json.dumps(r) + "\n")
    report([json.loads(line) for line in out.read_text().splitlines() if line.strip()])


if __name__ == "__main__":
    main()

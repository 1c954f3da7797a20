"""Run the benchmark over many seeds and save the spread of every metric.

    python3 perfbench/spread.py run --seeds 1-10 [--workloads a,b] \
        [--traced-seeds 1-2] --out perfbench/results/spread.json
    python3 perfbench/spread.py compare BASE.json NEW.json

``run`` makes one untraced run per seed and workload (``--seconds``
from BENCHMARK.json) and writes, per workload and end-to-end metric,
the median, quartiles (``statistics.quantiles(n=4)``), min, max and
the quartile spread as a share of the median, plus every run's raw
``# run`` line. With ``--traced-seeds`` it also makes traced runs and
reports the tracing overhead per workload: the share by which the
traced runs' ``trace.ops_per_s`` falls below the untraced median.

``compare`` prints, per workload and metric, both medians, their
ratio and the metric's bound: the A/B of two commits, each measured in
its own checkout with the same seeds.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    run_line = next(l for l in lines if l.startswith("# run "))
    result["run"] = json.loads(run_line[len("# run "):])
    return result


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "min": min(values), "max": max(values),
            "spread": (q3 - q1) / med if med else None}


def cmd_run(args) -> None:
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in SPEC["workloads"]])
    out = {"run_seconds": SPEC["run_seconds"], "workloads": {}}
    for wl in workloads:
        runs = []
        for seed in _seeds(args.seeds):
            res = run_once(wl, seed, 0)
            runs.append(res)
            print(f"{wl} seed={seed} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        entry = {
            "metrics": {m["name"]: summary([r["metrics"][m["name"]]["value"] for r in runs])
                        for m in SPEC["end_to_end"]},
            "named": {k: summary([r["run"]["named"][k] for r in runs])
                      for k, v in runs[0]["run"]["named"].items()
                      if isinstance(v, (int, float))},
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "runs": [r["run"] for r in runs],
        }
        if args.traced_seeds:
            traced = [run_once(wl, s, 1) for s in _seeds(args.traced_seeds)]
            untraced = entry["metrics"]
            entry["tracing_overhead"] = {
                "ops_per_s": 1 - statistics.median(
                    r["metrics"]["trace.ops_per_s"]["value"] for r in traced)
                / untraced["ops_per_s"]["median"],
            }
            entry["traced"] = [{k: v["value"] for k, v in r["metrics"].items()}
                               for r in traced]
        out["workloads"][wl] = entry
        Path(args.out).parent.mkdir(parents=True, exist_ok=True)
        Path(args.out).write_text(json.dumps(out, indent=1) + "\n")


def cmd_compare(args) -> None:
    base = json.loads(Path(args.base).read_text())["workloads"]
    new = json.loads(Path(args.new).read_text())["workloads"]
    bounds = {m["name"]: (m["bound"], m["better"]) for m in SPEC["end_to_end"]}
    for wl in sorted(set(base) & set(new)):
        for name, (bound, better) in bounds.items():
            b = base[wl]["metrics"][name]["median"]
            n = new[wl]["metrics"][name]["median"]
            worse = (n - b) / b if better == "lower" else (b - n) / b
            flag = "WORSE" if worse > bound else "ok"
            print(f"{wl:22s} {name:10s} base={b:.4g} new={n:.4g} "
                  f"worse_by={worse:+.1%} bound={bound:.0%} {flag}")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    r.add_argument("--traced-seeds", default="")
    r.add_argument("--out", default=str(HERE / "results" / "spread.json"))
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    args = p.parse_args()
    cmd_run(args) if args.cmd == "run" else cmd_compare(args)


if __name__ == "__main__":
    main()

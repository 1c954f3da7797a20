"""Self-test of the benchmark's own guarantees.

    python3 perfbench/selftest.py            # determinism + bare directory
    python3 perfbench/selftest.py --plant    # also: planted wrong results fail

- The same seed gives the same query sample and order, and
  byte-identical ELT landing files; another seed gives others.
- In a directory holding only BENCHMARK.json and the benchmark's files
  (no package), ``run.py`` exits non-zero without printing a result.
- ``--plant``: with one output made wrong on purpose, every workload
  reports ``correct: false`` and at least one failed operation.
"""

from __future__ import annotations

import json
import random
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import elt  # noqa: E402
import queries  # noqa: E402

WORKLOADS = ("analytic_sf0.1", "interactive_sf0.001", "elt_daily_cycle")


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest failed: {msg}")


def check_queries_deterministic() -> None:
    for name in queries.SF:
        a = queries.select_queries(name, 7, random.Random(7))
        b = queries.select_queries(name, 7, random.Random(7))
        c = queries.select_queries(name, 8, random.Random(8))
        _expect(a == b, f"{name}: seed 7 gave two different samples")
        _expect(a != c, f"{name}: seeds 7 and 8 gave the same sample")
        shards = queries._load("shards.json")[name]
        flat = [q for shard in shards for q in shard]
        covered = {q for seed in range(len(shards))
                   for q in queries.select_queries(name, seed, random.Random(0))}
        _expect(len(flat) == len(set(flat)) == len(covered),
                f"{name}: shards overlap, or consecutive seeds miss queries")


def check_landing_deterministic(tmp: Path) -> None:
    days = [elt.make_landing(seed, tmp / str(i)) for i, seed in enumerate((7, 7, 8))]
    digests = [elt.files_digest([d[t] for d in ds for t in ("orders", "lineitem")])
               for ds in days]
    _expect(digests[0] == digests[1], "seed 7 gave two different landing sets")
    _expect(digests[0] != digests[2], "seeds 7 and 8 gave the same landing set")


def check_bare_directory(tmp: Path) -> None:
    bare = tmp / "bare"
    shutil.copytree(HERE, bare / HERE.name,
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(HERE.parent / "BENCHMARK.json", bare)
    proc = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    _expect(proc.returncode != 0, "run.py succeeded without the package")
    _expect('"correct"' not in proc.stdout, "run.py printed a result without the package")


def check_planted(workload: str) -> None:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0", "--plant", "1"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600)
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    _expect(res["failed"] > 0 and not res["correct"], f"{workload}: plant not caught: {res}")


def main() -> None:
    scratch = HERE.parent / ".bench_runs"
    scratch.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        check_queries_deterministic()
        check_landing_deterministic(Path(tmp))
        check_bare_directory(Path(tmp))
        print("determinism and bare-directory checks passed")
    if "--plant" in sys.argv[1:]:
        for wl in WORKLOADS:
            check_planted(wl)
            print(f"{wl}: planted wrong result counted as failed")


if __name__ == "__main__":
    main()

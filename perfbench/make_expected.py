"""Regenerate the benchmark's stored expectations.

    python3 perfbench/make_expected.py digests   # DuckDB oracle digests
    python3 perfbench/make_expected.py costs     # Spark reference costs
    python3 perfbench/make_expected.py shards    # the workloads' shards

``digests`` runs every registry oracle in DuckDB over the vendored
tables (all 342 at sf0.001, the 37 headline queries at sf0.1) and
writes ``expected/digests_<sf>.json``; the benchmark compares each
Spark result against these.

``costs`` runs the same queries twice in one ``local[4]`` session and
stores the second (warm) wall time per query in ``expected/costs.json``.

``shards`` cuts the analytic pool into shards of equal size whose
costs have near-equal mean and median, and picks the interactive
workload's one fixed panel: queries at evenly spaced ranks of the
pool's costs (``expected/shards.json``).
A query is left out of the pools when it cannot be checked: its Spark
run raises at that SF (null cost) or its oracle does not finish (null
digest). The costs only shape the shards; they are never compared
against.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from digest import digest  # noqa: E402

ORACLE_TIMEOUT_S = 60
SF_DIRS = {"sf0.1": HERE / "data" / "sf0.1", "sf0.001": HERE / "data" / "sf0.001"}


def _selection(registry, sf):
    return sorted(n for n, wl in registry.items() if sf != "sf0.1" or wl.headline)


def make_digests() -> None:
    """Oracle digests; an oracle DuckDB cannot finish within
    ``ORACLE_TIMEOUT_S`` is stored as null and its query is left out of
    the workload pools. Digests already in the file are kept."""
    import threading

    import duckdb

    from datanika_core_spark.session import TESTDATA_TABLES
    from datanika_core_spark.workloads import load_all

    registry = load_all()
    for sf, sf_dir in SF_DIRS.items():
        path = HERE / "expected" / f"digests_{sf}.json"
        out = json.loads(path.read_text()) if path.exists() else {}
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in _selection(registry, sf):
            if name in out:
                continue
            timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
            timer.start()
            try:
                res = con.sql(registry[name].oracle)
                out[name] = digest(list(res.columns), res.fetchall())
            except duckdb.InterruptException:
                out[name] = None
            finally:
                timer.cancel()
            print(f"{sf} {name} {out[name]}", file=sys.stderr, flush=True)
            path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


def make_costs() -> None:
    """Warm noop-sink wall time per query; a query that raises is stored
    as null and left out of the workload pools. Costs already in the
    file are kept."""
    import harness

    path = HERE / "expected" / "costs.json"
    costs = json.loads(path.read_text()) if path.exists() else {}
    with harness.Run(trace=False) as run:
        spark = run.start_session()
        from datanika_core_spark.blocks import release_blocks
        from datanika_core_spark.workloads import load_all

        registry = load_all()
        for sf, sf_dir in SF_DIRS.items():
            done = costs.setdefault(sf, {})
            for name in _selection(registry, sf):
                if name in done:
                    continue
                try:
                    for _ in range(2):
                        t0 = time.perf_counter()
                        registry[name].fn(spark, str(sf_dir)).write.format(
                            "noop").mode("overwrite").save()
                        dt = time.perf_counter() - t0
                        release_blocks(spark)
                    done[name] = round(dt, 3)
                except Exception as exc:  # noqa: BLE001 — recorded, then skipped
                    done[name] = None
                    print(f"{sf} {name} raised {exc!r}"[:300], file=sys.stderr)
                print(f"{sf} {name} {done[name]}", file=sys.stderr, flush=True)
                path.write_text(json.dumps(costs, indent=1, sort_keys=True) + "\n")


#: workload -> (SF, queries per shard); the interactive workload has one
#: shard, its panel
SHARDING = {"analytic_sf0.1": ("sf0.1", 6), "interactive_sf0.001": ("sf0.001", 6)}
#: queries slower than this (warm, sf0.001, 4 cores) are not editor-speed:
#: at sf0.001 the 105 slower ones spend their time in iterative graph,
#: dedup, selection and other kernels rather than in per-query fixed
#: costs, so the interactive pool leaves them out
INTERACTIVE_MAX_COST_S = 1.0
#: one warm run of this query takes 11 s on 4 cores, a seventh of all
#: 37 headline queries together: no shard holding it could match the
#: others, so the analytic pool leaves it out (it stays in the
#: interactive pool at sf0.001)
ANALYTIC_EXCLUDED = ("graph_triangle_count",)


def balanced_shards(costs: dict[str, float], size: int) -> list[list[str]]:
    """Cut the queries into shards of ``size`` (or ``size + 1``) whose
    throughput (queries per second of cost) and median cost are as
    equal as pairwise swaps can make them. Deterministic."""
    n = len(costs) // size
    order = sorted(costs, key=lambda q: (-costs[q], q))
    shards: list[list[str]] = [[] for _ in range(n)]
    for i, q in enumerate(order):  # snake: one query per cost band each
        lap, pos = divmod(i, n)
        shards[pos if lap % 2 == 0 else n - 1 - pos].append(q)

    def stats(shard):
        c = [costs[q] for q in shard]
        return len(c) / sum(c), statistics.median(c)

    cur = [stats(s) for s in shards]

    def spread(vals):  # squared relative deviations: smooth, unlike a range
        total = 0.0
        for i in range(2):
            mean = statistics.fmean(v[i] for v in vals)
            total += sum(((v[i] - mean) / mean) ** 2 for v in vals)
        return total

    best = spread(cur)
    improved = True
    while improved:
        improved = False
        for a in range(n):
            for b in range(a + 1, n):
                for i in range(len(shards[a])):
                    for j in range(len(shards[b])):
                        sa, sb = shards[a], shards[b]
                        sa[i], sb[j] = sb[j], sa[i]
                        trial = list(cur)
                        trial[a], trial[b] = stats(sa), stats(sb)
                        score = spread(trial)
                        if score < best - 1e-12:
                            best, cur, improved = score, trial, True
                        else:
                            sa[i], sb[j] = sb[j], sa[i]
    return [sorted(s) for s in shards]


def cost_panel(costs: dict[str, float], size: int) -> list[str]:
    """``size`` queries at evenly spaced ranks of the pool's costs: one
    per cost band, so the panel's costs follow the pool's. Deterministic."""
    order = sorted(costs, key=lambda q: (costs[q], q))
    return sorted(order[int((i + 0.5) * len(order) / size)] for i in range(size))


def make_shards() -> None:
    costs = json.loads((HERE / "expected" / "costs.json").read_text())
    out = {}
    for workload, (sf, size) in SHARDING.items():
        digests = json.loads((HERE / "expected" / f"digests_{sf}.json").read_text())
        pool = {q: c for q, c in costs[sf].items()
                if c is not None and digests.get(q) is not None}
        if workload == "analytic_sf0.1":
            pool = {q: c for q, c in pool.items() if q not in ANALYTIC_EXCLUDED}
        else:
            pool = {q: c for q, c in pool.items() if c <= INTERACTIVE_MAX_COST_S}
        out[workload] = ([cost_panel(pool, size)] if workload == "interactive_sf0.001"
                         else balanced_shards(pool, size))
        print(f"{workload}: {len(pool)} queries, {len(out[workload])} shards",
              file=sys.stderr)
    (HERE / "expected" / "shards.json").write_text(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    what = sys.argv[1] if len(sys.argv) > 1 else ""
    if what == "digests":
        make_digests()
    elif what == "costs":
        os.environ.setdefault("PYTHONHASHSEED", "0")
        make_costs()
    elif what == "shards":
        make_shards()
    else:
        raise SystemExit(__doc__)

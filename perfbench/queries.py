"""The two query workloads: ``analytic_sf0.1`` and ``interactive_sf0.001``.

Both run registry queries through ``wl.fn(spark, sf_dir)`` in one
closed loop (one client; the next query starts when the previous one
has finished) and check every result against the digest of its DuckDB
oracle in ``expected/``.

The queries come from ``expected/shards.json`` (built offline by
``make_expected.py shards``). ``interactive_sf0.001`` has one shard, a
fixed panel of queries at evenly spaced ranks of its pool's costs, so
every seed measures the same work and the seed sets only the order.
``analytic_sf0.1`` has shards of equal size whose reference costs have
near-equal mean and median; the seed picks shard
``seed % len(shards)``, so consecutive seeds cover the whole pool, and
orders its queries.

analytic_sf0.1
    The headline queries at sf0.1, executed through the noop sink with
    ``release_blocks`` after each, as ``bench.py`` does.

interactive_sf0.001
    Registry queries at sf0.001, each result collected to the driver,
    as the SQL editor does.

Set-up ends with one untimed pass over the queries that collects and
checks every result: a query's first runs in a young JVM take 2-4
times its warm time. The timed part then repeats whole passes,
each in a fresh seeded order, until ``--seconds`` have passed (at least
one pass). A run reports the median of its passes' throughputs.
Interactive results are checked again on every timed run; analytic
timed runs go to the noop sink, so their check is the set-up pass.
"""

from __future__ import annotations

import hashlib
import json
import random
import time
from contextlib import nullcontext

import harness
from digest import digest


def _load(name: str) -> dict:
    return json.loads((harness.HERE / "expected" / name).read_text())


SF = {"analytic_sf0.1": "sf0.1", "interactive_sf0.001": "sf0.001"}


def select_queries(name: str, seed: int, rng: random.Random) -> list[str]:
    """The run's shard (``seed`` modulo the shard count, so consecutive
    seeds cover the whole pool; the interactive panel is the only
    shard) in a seeded order."""
    shards = _load("shards.json")[name]
    shard = shards[seed % len(shards)]
    return rng.sample(shard, len(shard))


class QueryWorkload:
    """Closed-loop runner over a seeded list of registry queries."""

    def __init__(self, name: str, run: harness.Run, spark, seed: int,
                 tracer=None, plant: bool = False):
        from datanika_core_spark.workloads import load_all

        self.name = name
        self.spark = spark
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.analytic = name == "analytic_sf0.1"
        sf = SF[name]
        self.sf_dir = str(harness.DATA / sf)
        self.expected = _load(f"digests_{sf}.json")
        self.queries = select_queries(name, seed, self.rng)
        registry = load_all()
        self.fns = {q: registry[q].fn for q in self.queries}
        if plant:
            self._plant()
        self.ok: dict[str, bool] = {}
        self.collect_rows = 0
        self.passes: list[list[tuple[float, bool]]] = []
        self.pass_cpu: list[tuple[float, float]] = []

    def _plant(self) -> None:
        """Self-test hook: one query returns a duplicated row."""
        q = next(q for q in self.queries if not self.expected[q].startswith("0:"))
        fn = self.fns[q]
        self.fns[q] = lambda spark, sf_dir: (lambda df: df.union(df.limit(1)))(
            fn(spark, sf_dir))

    def inputs_digest(self) -> str:
        return hashlib.sha256(json.dumps(self.queries).encode()).hexdigest()[:16]

    def _check(self, q: str, cols, rows) -> bool:
        return digest(list(cols), [tuple(r) for r in rows]) == self.expected[q]

    def setup(self) -> None:
        """The warm-up: one untimed pass that collects and checks every
        result (a query's first runs in a young JVM take 2-4 times its
        warm time)."""
        from datanika_core_spark.blocks import release_blocks

        for q in self.queries:
            try:
                df = self.fns[q](self.spark, self.sf_dir)
                self.ok[q] = self._check(q, df.columns, df.collect())
            except Exception as exc:  # noqa: BLE001 — counted as a failure
                print(f"# warm {q} failed: {exc!r}"[:400])
                self.ok[q] = False
            release_blocks(self.spark)

    def _one(self, q: str):
        """Build, execute and release one query; returns the collected
        rows (None for the noop sink) and the DataFrame's columns."""
        from datanika_core_spark import blocks

        span = self.tracer.span if self.tracer else _nospan
        with span("workloads.build", query=q):
            df = self.fns[q](self.spark, self.sf_dir)
        with span("exec", query=q):
            if self.analytic:
                df.write.format("noop").mode("overwrite").save()
                rows = None
            else:
                rows = df.collect()
        blocks.release_blocks(self.spark)
        return rows, df.columns

    def measure(self, seconds: float) -> list[tuple[str, float, bool]]:
        """Whole passes over the queries, each in a fresh seeded order,
        until ``seconds`` have passed (at least one pass)."""
        ops: list[tuple[str, float, bool]] = []
        span = self.tracer.span if self.tracer else _nospan
        deadline = time.perf_counter() + seconds
        while not self.passes or time.perf_counter() < deadline:
            self.passes.append([])
            cpu0 = harness.cpu_times()
            for q in self.rng.sample(self.queries, len(self.queries)):
                if self.tracer:
                    self.tracer.op = len(ops)
                t0 = time.perf_counter()
                try:
                    with span("op.query", query=q):
                        rows, cols = self._one(q)
                    dt = time.perf_counter() - t0
                    if rows is None:
                        ok = self.ok[q]
                    else:
                        self.collect_rows += len(rows)
                        ok = self._check(q, cols, rows)
                except Exception as exc:  # noqa: BLE001 — counted as a failure
                    dt = time.perf_counter() - t0
                    print(f"# {q} failed: {exc!r}"[:400])
                    ok = False
                ops.append((q, dt, ok))
                self.passes[-1].append((dt, ok))
            self.pass_cpu.append(harness.cpu_since(cpu0))
        if self.tracer:
            self.tracer.op = None
        return ops

    def extra(self) -> dict:
        return {"queries": len(self.queries), "passes": len(self.passes),
                **harness.pass_telemetry(self.passes, self.pass_cpu)}


def _nospan(name, **attrs):
    return nullcontext()

"""The ``elt_daily_cycle`` workload: the platform's daily loop.

Landing batches are generated from the sf0.1 ``orders`` and
``lineitem`` rows whose order key is divisible by ``KEY_MODULUS``. Each
order key (with its line items) lands on one seed-chosen day; from day
1 on, a seeded ``RETURN_SHARE`` of the keys that landed earlier come
back with changed values and a newer ``updated_at`` cursor. Day 0 holds
``BOOT_SHARE`` of the keys and runs as a full, untimed cycle during
set-up (it creates every target and warms every code path); the
``TIMED_DAYS`` days after it are the timed cycles. One cycle:

1. ``RunLedger`` create/start and ``DependencyGraph.check_gate``;
2. ``IngestionJob.run`` from ``FilesystemSource``: ``orders``
   single-table with an incremental cursor and a merge on
   ``o_orderkey``; ``lineitem`` full-database with a ``merge_config``
   on ``[l_orderkey, l_linenumber]`` over the day's file;
3. ``ModelRunner.invoke("build")`` over the DAG in ``MODELS``;
4. ``invoke("snapshot")``: SCD2 over the landed orders;
5. ``CatalogStore.sync_from_database`` for both schemas;
6. ``plans.preview.preview`` of every model;
7. the ledger's complete step.

After each timed cycle (untimed) the state is checked against a DuckDB
replay of the landing files, last value by cursor winning per key: the
landed tables, the incremental model targets, the rollups, the
snapshot's version count and current rows, and ``tests_passed``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import harness
from digest import digest

#: the landing set keeps the orders (and their line items) whose key is
#: divisible by this: an eighth of sf0.1, so a run fits its time budget
KEY_MODULUS = 8
BOOT_SHARE = 0.6
RETURN_SHARE = 0.05
TIMED_DAYS = 2
DAYS = 1 + TIMED_DAYS
EPOCH = dt.datetime(2024, 1, 1)
DAY_US = 86_400_000_000
EPOCH_OFFSET_US = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000

LAND, ANALYTICS, SNAPSHOTS = "land", "analytics", "snapshots"

ORDERS_SPEC = {
    "mode": "single_table", "table": "orders", "write_disposition": "merge",
    "primary_key": "o_orderkey", "incremental": {"cursor_path": "updated_at"},
}
LINEITEM_SPEC = {
    "mode": "full_database", "write_disposition": "merge",
    "merge_config": {"lineitem": {"primary_key": ["l_orderkey", "l_linenumber"]}},
}

#: name -> (materialization, sql, incremental config kwargs, tests)
MODELS = {
    "stg_orders": ("view", """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority, updated_at
        FROM {{ source('land', 'orders') }}""", None, [
        ("o_orderkey", "unique", {}),
        ("o_orderstatus", "accepted_values", {"values": ["F", "O", "P"]})]),
    "stg_lineitem": ("ephemeral", """
        SELECT l_orderkey, l_linenumber, l_linestatus, l_discount, updated_at,
               cast(floor(l_extendedprice * (1 - l_discount) * 100) AS bigint)
                 AS revenue_cents
        FROM {{ source('land', 'lineitem') }}""", None, []),
    "orders_enriched": ("incremental", """
        SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderdate,
               o.updated_at, l.line_count, l.revenue_cents
        FROM {{ ref('stg_orders') }} o
        JOIN (SELECT l_orderkey, count(*) AS line_count,
                     sum(revenue_cents) AS revenue_cents
              FROM {{ ref('stg_lineitem') }} GROUP BY l_orderkey) l
          ON l.l_orderkey = o.o_orderkey
        {% if is_incremental() %}
        WHERE o.updated_at > (SELECT max(updated_at) FROM {{ this }})
        {% endif %}""",
        {"strategy": "merge", "unique_key": "o_orderkey", "updated_at": "updated_at"}, [
        ("revenue_cents", "accepted_range", {"min_value": 0})]),
    "lineitem_events": ("incremental", """
        SELECT l_orderkey, l_linenumber, l_linestatus, l_discount, revenue_cents,
               updated_at
        FROM {{ ref('stg_lineitem') }}
        {% if is_incremental() %}
        WHERE updated_at > (SELECT max(updated_at) FROM {{ this }})
        {% endif %}""",
        {"strategy": "delete+insert", "unique_key": ["l_orderkey", "l_linenumber"]}, [
        ("l_orderkey", "relationships", {"to": "land.orders", "field": "o_orderkey"})]),
    "daily_revenue": ("table", """
        SELECT cast(o.o_orderdate AS date) AS order_date, count(*) AS lines,
               sum(l.revenue_cents) AS revenue_cents
        FROM {{ ref('stg_lineitem') }} l
        JOIN {{ ref('stg_orders') }} o ON o.o_orderkey = l.l_orderkey
        GROUP BY cast(o.o_orderdate AS date)""", None, [
        ("order_date", "not_null", {})]),
}

SNAPSHOT_SQL = """SELECT o_orderkey, o_orderstatus, o_totalprice, updated_at
                  FROM {{ source('land', 'orders') }}"""


# -- landing data -------------------------------------------------------------


def make_landing(seed: int, out_dir) -> list[dict]:
    """Write one orders and one lineitem parquet file per day.

    The same seed gives byte-identical files. Returns, per day, the two
    paths and their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    orders = pq.read_table(harness.DATA / "sf0.1" / "orders.parquet")
    lineitem = pq.read_table(harness.DATA / "sf0.1" / "lineitem.parquet")
    orders = orders.replace_schema_metadata(None).sort_by("o_orderkey")
    orders = orders.filter(pa.array(orders["o_orderkey"].to_numpy() % KEY_MODULUS == 0))
    lineitem = lineitem.replace_schema_metadata(None)
    lineitem = lineitem.filter(
        pa.array(lineitem["l_orderkey"].to_numpy() % KEY_MODULUS == 0))
    # the source's line numbers repeat within an order; renumber them so
    # [l_orderkey, l_linenumber] is a key the merge can rely on
    li_keys = lineitem["l_orderkey"].to_numpy()
    by_order = np.argsort(li_keys, kind="stable")
    sorted_keys = li_keys[by_order]
    first = np.searchsorted(sorted_keys, sorted_keys, side="left")
    linenumber = np.empty(len(li_keys), dtype=np.int32)
    linenumber[by_order] = np.arange(len(li_keys)) - first + 1
    lineitem = lineitem.set_column(lineitem.schema.get_field_index("l_linenumber"),
                                   "l_linenumber", pa.array(linenumber))
    rng = np.random.default_rng(seed)

    keys = orders["o_orderkey"].to_numpy()
    day_of = rng.choice(DAYS, size=len(keys),
                        p=[BOOT_SHARE] + [(1 - BOOT_SHARE) / (DAYS - 1)] * (DAYS - 1))
    li_order = np.searchsorted(keys, li_keys)
    status = orders["o_orderstatus"].to_numpy(zero_copy_only=False).astype(object)
    price = orders["o_totalprice"].to_numpy().copy()
    linestatus = lineitem["l_linestatus"].to_numpy(zero_copy_only=False).astype(object)
    discount = lineitem["l_discount"].to_numpy().copy()
    days = []
    for d in range(DAYS):
        back = np.zeros(len(keys), dtype=bool)
        if d > 0:
            earlier = np.flatnonzero(day_of < d)
            back[rng.choice(earlier, size=round(RETURN_SHARE * len(earlier)),
                            replace=False)] = True
            status[back] = "F"
            price[back] = np.round(price[back] * 1.01, 2)
            li_back = back[li_order]
            linestatus[li_back] = "F"
            discount[li_back] = np.round(np.minimum(discount[li_back] + 0.01, 0.1), 2)
        sel = back | (day_of == d)
        updated = EPOCH_OFFSET_US + d * DAY_US + rng.integers(0, DAY_US, size=len(keys))
        ts = pa.array(updated, pa.int64()).cast(pa.timestamp("us"))

        o = orders.set_column(orders.schema.get_field_index("o_orderstatus"),
                              "o_orderstatus", pa.array(status, pa.string()))
        o = o.set_column(o.schema.get_field_index("o_totalprice"),
                         "o_totalprice", pa.array(price))
        o = o.append_column("updated_at", ts).filter(pa.array(sel))
        li_sel = sel[li_order]
        li = lineitem.set_column(lineitem.schema.get_field_index("l_linestatus"),
                                 "l_linestatus", pa.array(linestatus, pa.string()))
        li = li.set_column(li.schema.get_field_index("l_discount"),
                           "l_discount", pa.array(discount))
        li = li.append_column("updated_at", pc.take(ts, pa.array(li_order)))
        li = li.filter(pa.array(li_sel))

        day = {"orders": os.path.join(out_dir, f"orders_d{d:03d}.parquet"),
               "lineitem": os.path.join(out_dir, f"lineitem_d{d:03d}.parquet"),
               "rows": o.num_rows + li.num_rows}
        pq.write_table(o, day["orders"], compression="snappy")
        pq.write_table(li, day["lineitem"], compression="snappy")
        day["bytes"] = os.path.getsize(day["orders"]) + os.path.getsize(day["lineitem"])
        days.append(day)
    return days


def files_digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


# -- checks -------------------------------------------------------------------

#: cursor microseconds since EPOCH: small enough that sums fit a bigint
_EPOCH_US = {"spark": f"unix_micros(cast({{}} AS timestamp)) - {EPOCH_OFFSET_US}",
             "duckdb": f"epoch_us({{}}) - {EPOCH_OFFSET_US}"}

_ORDER_SUMS = ["count(*)", "sum(o_orderkey)", "sum(cast(floor(o_totalprice * 100) AS bigint))",
               "sum({updated})", "sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)"]
_LINE_SUMS = ["count(*)", "sum(l_orderkey * 8 + l_linenumber)",
              "sum(cast(round(l_discount * 100) AS bigint))", "sum({updated})",
              "sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END)"]

#: checked output -> (exact integer aggregates, what Spark reads)
FINGERPRINTS = {
    "land.orders": (_ORDER_SUMS, "land.orders"),
    "land.lineitem": (_LINE_SUMS, "land.lineitem"),
    "analytics.orders_enriched": (
        ["count(*)", "sum(o_orderkey)", "sum(line_count)", "sum(revenue_cents)",
         "sum({updated})"], "analytics.orders_enriched"),
    "analytics.lineitem_events": (
        ["count(*)", "sum(l_orderkey * 8 + l_linenumber)", "sum(revenue_cents)",
         "sum({updated})"], "analytics.lineitem_events"),
    "snapshots.orders_snap.current": (
        ["count(*)", "sum(o_orderkey)", "sum({updated})"],
        "snapshots.orders_snap WHERE dbt_valid_to IS NULL"),
    "snapshots.orders_snap.versions": (["count(*)"], "snapshots.orders_snap"),
}

_ROLLUPS = ("analytics.daily_revenue",)


def fingerprint_sql(engine: str, tables: dict[str, str]) -> str:
    """One UNION ALL query computing every fingerprint in ``tables``
    (checked output -> what to read, as a FROM clause)."""
    parts = []
    for name, (sums, _) in FINGERPRINTS.items():
        if name not in tables:
            continue
        cols = [c.format(updated=_EPOCH_US[engine].format("updated_at")) for c in sums]
        cols += ["0"] * (5 - len(cols))
        parts.append(f"SELECT '{name}' AS k, "
                     + ", ".join(f"cast({c} AS bigint) AS c{i}" for i, c in enumerate(cols))
                     + f" FROM {tables[name]}")
    return " UNION ALL ".join(parts)


def _rows(rows) -> dict[str, tuple]:
    return {r[0]: tuple(r[1:]) for r in rows}


class Replay:
    """DuckDB replay of the landing files up to a given day."""

    def __init__(self, days: list[dict]):
        import duckdb

        self.days = days
        self.con = duckdb.connect()

    def expected(self, upto: int) -> dict[str, object]:
        con = self.con
        for table, key in (("orders", "o_orderkey"),
                           ("lineitem", "l_orderkey, l_linenumber")):
            files = [d[table] for d in self.days[: upto + 1]]
            con.sql(f"""CREATE OR REPLACE VIEW {table} AS
                SELECT * EXCLUDE (rn) FROM (
                  SELECT *, row_number() OVER (PARTITION BY {key}
                                               ORDER BY updated_at DESC) rn
                  FROM read_parquet({files!r})) WHERE rn = 1""")
        con.sql("CREATE OR REPLACE VIEW stg_lineitem AS " + MODELS["stg_lineitem"][1]
                .replace("{{ source('land', 'lineitem') }}", "lineitem"))
        con.sql("CREATE OR REPLACE VIEW stg_orders AS SELECT * FROM orders")
        for name in ("orders_enriched", "lineitem_events", "daily_revenue"):
            sql = MODELS[name][1].split("{% if")[0]
            con.sql(f"CREATE OR REPLACE VIEW {name} AS {_plain(sql)}")
        out = _rows(con.sql(fingerprint_sql("duckdb", {
            "land.orders": "orders", "land.lineitem": "lineitem",
            "analytics.orders_enriched": "orders_enriched",
            "analytics.lineitem_events": "lineitem_events",
            # the snapshot's current rows are the landed orders
            "snapshots.orders_snap.current": "orders"})).fetchall())
        # and every landed orders row is one snapshot version
        out["snapshots.orders_snap.versions"] = (sum(
            pq.ParquetFile(d["orders"]).metadata.num_rows
            for d in self.days[: upto + 1]), 0, 0, 0, 0)
        for name in _ROLLUPS:
            res = con.sql(f"SELECT * FROM {name.split('.')[1]}")
            out[name] = digest(list(res.columns), res.fetchall())
        return out


def _plain(sql: str) -> str:
    return (sql.replace("{{ ref('stg_orders') }}", "stg_orders")
               .replace("{{ ref('stg_lineitem') }}", "stg_lineitem"))


def observed(spark) -> dict[str, object]:
    out = _rows(spark.sql(fingerprint_sql(
        "spark", {k: src for k, (_, src) in FINGERPRINTS.items()})).collect())
    for name in _ROLLUPS:
        df = spark.table(name)
        out[name] = digest(df.columns, [tuple(r) for r in df.collect()])
    return out


# -- workload -----------------------------------------------------------------


class EltWorkload:
    name = "elt_daily_cycle"

    def __init__(self, name: str, run: harness.Run, spark, seed: int,
                 tracer=None, plant: bool = False):
        self.run = run
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.plant = plant
        self.day = 0
        self.previews: list[float] = []
        self.passes: list[list[tuple[float, bool]]] = []
        self.pass_cpu: list[tuple[float, float]] = []
        self.load_rows = 0
        self.load_s = 0.0
        self.landed_bytes = 0
        self.timed_landed_bytes = 0

    # -- set-up ---------------------------------------------------------

    def setup(self) -> None:
        from datanika_core_spark.ingest import IngestionJob
        from datanika_core_spark.operators.incremental import CursorStateStore
        from datanika_core_spark.operators.scd2 import SnapshotConfig
        from datanika_core_spark.orchestration.catalog_meta import CatalogStore
        from datanika_core_spark.orchestration.dependencies import DependencyGraph, Edge
        from datanika_core_spark.orchestration.runs import RunLedger
        from datanika_core_spark.plans.models import (
            ColumnTest, IncrementalConfig, Model, ModelRegistry, SnapshotDef)
        from datanika_core_spark.plans.runner import ModelRunner
        from datanika_core_spark.session import EngineSession
        from datanika_core_spark.specs import UploadSpec

        self.days = make_landing(self.seed, self.run.path("staged"))
        self._inputs_digest = files_digest(
            [d[t] for d in self.days for t in ("orders", "lineitem")])
        self.landing = self.run.path("landing")
        for table in ("orders", "lineitem"):
            os.makedirs(self.landing / table)
        self.replay = Replay(self.days)

        engine = EngineSession(self.spark)
        self.job = IngestionJob(engine, CursorStateStore(str(self.run.path("cursors.json"))))
        self.orders_spec = UploadSpec.from_config("land", ORDERS_SPEC)
        self.lineitem_spec = UploadSpec.from_config("land", LINEITEM_SPEC)
        self.ledger = RunLedger()
        self.deps = DependencyGraph()
        self.deps.add(Edge("upload", LAND, "transformation", ANALYTICS,
                           timeframe_value=24, timeframe_unit="hours"))
        self.catalog = CatalogStore()

        reg = ModelRegistry()
        for table in ("orders", "lineitem"):
            reg.add_source("land", table, f"{LAND}.{table}")
        for name, (mat, sql, inc, tests) in MODELS.items():
            reg.add(Model(
                name, sql, materialization=mat, schema=ANALYTICS,
                incremental=IncrementalConfig(**inc) if inc else None,
                tests=[ColumnTest(c, t, p) for c, t, p in tests]))
        reg.add_snapshot(SnapshotDef(
            "orders_snap", SNAPSHOT_SQL, target_schema=SNAPSHOTS,
            config=SnapshotConfig(unique_key="o_orderkey", strategy="timestamp",
                                  updated_at="updated_at")))
        self.registry = reg
        self.runner = ModelRunner(self.spark, reg)
        if self.plant:
            self._plant()
        # day 0, untimed: creates every target and warms every code path
        self._land(self.day)
        self.cycle()

    def _plant(self) -> None:
        """Self-test hook: the orders load silently drops some keys."""
        from pyspark.sql import functions as F

        job_run = type(self.job).run

        def dropping_run(job, spec, source):
            if spec.table == "orders":
                read = source.read
                source.read = lambda: read().filter(F.col("o_orderkey") % 97 != 5)
            return job_run(job, spec, source)

        self.job.run = lambda spec, source: dropping_run(self.job, spec, source)

    def inputs_digest(self) -> str:
        return self._inputs_digest

    # -- one daily cycle --------------------------------------------------

    def _land(self, d: int) -> None:
        for table in ("orders", "lineitem"):
            shutil.copy(self.days[d][table], self.landing / table)
        self.landed_bytes += self.days[d]["bytes"]

    def cycle(self) -> tuple[bool, dict]:
        """Run steps 1-7 on day ``self.day`` (already landed); returns
        tests_passed and the per-step timings."""
        from datanika_core_spark.plans import preview as preview_mod
        from datanika_core_spark.plans.resolver import compile_model
        from datanika_core_spark.sources.filesystem import FilesystemSource

        d = self.day
        t = {}
        run = self.ledger.create("upload", LAND)
        self.ledger.start(run.run_id)
        gate = self.deps.check_gate(self.ledger, "transformation", ANALYTICS)
        if d > 0 and not gate.satisfied:
            raise RuntimeError(f"day {d}: dependency gate blocked")

        t1 = time.perf_counter()
        rows = self.job.run(self.orders_spec, FilesystemSource(
            self.spark, str(self.landing / "orders"), table_name="orders")).rows_loaded
        rows += self.job.run(self.lineitem_spec, FilesystemSource(
            self.spark, str(self.landing / "lineitem"), table_name="lineitem",
            file_glob=os.path.basename(self.days[d]["lineitem"]))).rows_loaded
        t["ingest_s"] = time.perf_counter() - t1
        t["rows"] = rows

        build = self.runner.invoke("build")
        self.runner.invoke("snapshot")
        self.catalog.sync_from_database(self.spark, LAND)
        self.catalog.sync_from_database(self.spark, ANALYTICS, entry_type="dbt_model")
        t["previews"] = []
        for model in self.registry.models():
            p0 = time.perf_counter()
            preview_mod.preview(self.spark, compile_model(self.registry, model).sql)
            t["previews"].append(time.perf_counter() - p0)
        self.ledger.complete(run.run_id, rows_loaded=rows)
        self.day += 1
        return build.tests_passed, t

    def check(self) -> list[str]:
        """Names of the checked outputs that differ from the replay."""
        want = self.replay.expected(self.day - 1)
        got = observed(self.spark)
        return [k for k in want if want[k] != got.get(k)]

    def measure(self, seconds: float) -> list[tuple[str, float, bool]]:
        """The ``TIMED_DAYS`` cycles, each checked after it ran.
        ``seconds`` is not used: the targets grow every day, so a time
        box would make a faster program measure bigger days."""
        ops = []
        for i in range(TIMED_DAYS):
            if self.tracer:
                self.tracer.op = i
            name = f"day{self.day}"
            self._land(self.day)
            cpu0 = harness.cpu_times()
            t0 = time.perf_counter()
            try:
                with (self.tracer.span("op.cycle", day=self.day) if self.tracer
                      else nullcontext()):
                    passed, t = self.cycle()
                latency = time.perf_counter() - t0
                self.pass_cpu.append(harness.cpu_since(cpu0))
                self.timed_landed_bytes += self.days[self.day - 1]["bytes"]
                if self.tracer:
                    self.tracer.op = None
                with self.tracer.span("check") if self.tracer else nullcontext():
                    bad = self.check()
                if not passed:
                    bad.append("tests_passed")
                if bad:
                    print(f"# {name} mismatches: {bad}")
                self.previews += t["previews"]
                self.load_rows += t["rows"]
                self.load_s += t["ingest_s"]
                ops.append((name, latency, not bad))
                self.passes.append([(latency, not bad)])
            except Exception as exc:  # noqa: BLE001 — counted as a failure
                print(f"# {name} failed: {exc!r}"[:400])
                ops.append((name, time.perf_counter() - t0, False))
                self.passes.append([(ops[-1][1], False)])
                break
        if self.tracer:
            self.tracer.op = None
        return ops

    def warehouse_bytes(self) -> int:
        root = self.run.path("warehouse")
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(root) for f in fs)

    def target_files(self) -> int:
        root = self.run.path("warehouse") / f"{LAND}.db"
        return sum(1 for dp, _, fs in os.walk(root) for f in fs
                   if f.endswith(".parquet"))

    def extra(self) -> dict:
        return {
            "load_rows_per_s": self.load_rows / self.load_s if self.load_s else 0.0,
            "preview_p50_s": statistics.median(self.previews) if self.previews else 0.0,
            "warehouse_bytes_per_landed_byte":
                self.warehouse_bytes() / self.landed_bytes,
            "previews": len(self.previews),
            **harness.pass_telemetry(self.passes, self.pass_cpu),
        }
